package graft

import java.io.{ByteArrayInputStream, FileInputStream}
import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CountingByteSource, PageRecordIterator, RevMetaFields, XmlFields}

class WikiXmlParserSpec extends AnyFunSuite {

  val fixturePath = "src/test/resources/fixtures/sample_dump.xml"
  def fixtureBytes: Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixturePath))

  def parseAll(bytes: Array[Byte], start: Long = 0, end: Long = Long.MaxValue,
               exclude: Option[Pattern] = None, keepRaw: Boolean = false,
               needText: Boolean = true): List[RevisionPair] = {
    val in = new ByteArrayInputStream(bytes)
    in.skip(start)
    val it = new PageRecordIterator(
      new CountingByteSource(in, start), start, end, exclusiveStart = false, exclude, keepRaw,
      needText = needText)
    try it.toList finally it.close()
  }

  test("parses all revisions in document order with prev pairing") {
    val recs = parseAll(fixtureBytes)
    assert(recs.map(_.curr.revId) == List(101L, 102L, 103L, 201L, 301L, 302L))
    assert(recs.map(_.page.pageId) == List(11L, 11L, 11L, 12L, 13L, 13L))
    assert(recs.map(_.revSeq) == List(0, 1, 2, 0, 0, 0 + 1))
    // prev pairing: None at each page start, then the prior revision
    assert(recs.map(_.prev.map(_.revId)) ==
      List(None, Some(101L), Some(102L), None, None, Some(301L)))
  }

  test("parses revision fields: contributor, minor, comment, text, entities") {
    val recs = parseAll(fixtureBytes)
    val r101 = recs(0).curr
    assert(r101.contributor == Some(Contributor(Some(7L), Some("EditorOne"), None, false)))
    assert(r101.comment == Some("create page"))
    assert(!r101.minor)
    assert(r101.text.get.contains("two protons & two neutrons")) // &amp; decoded
    assert(r101.bytes == Some(54L))
    assert(r101.sha1 == Some("aaa111"))
    assert(r101.timestampUs == Some(java.time.Instant.parse("2020-01-05T10:00:00Z").getEpochSecond * 1000000L))

    val r102 = recs(1).curr
    assert(r102.contributor == Some(Contributor(None, None, Some("192.0.2.55"), false)))
    assert(r102.minor)
    assert(r102.parentId == Some(101L))
    assert(r102.comment == Some("fix wording <test>")) // entities decoded

    val r103 = recs(2).curr // fully deleted revision
    assert(r103.contributor == Some(Contributor(None, None, None, true)))
    assert(r103.comment == None)
    assert(r103.text == None)
  }

  test("timestamp fast path ≡ DateTimeFormatter on valid, invalid, and edge inputs") {
    def reference(iso: String): Option[Long] =
      try Some(java.time.Instant.parse(iso))
        .map(t => t.getEpochSecond * 1000000L + t.getNano / 1000L)
      catch { case _: Exception => None }
    val rnd = new scala.util.Random(31)
    val cases = Seq(
      "2020-02-29T23:59:59Z", "2019-02-29T00:00:00Z", // leap / non-leap
      "2100-02-29T00:00:00Z", "2000-02-29T00:00:00Z", // century rules
      "1970-01-01T00:00:00Z", "1969-12-31T23:59:59Z", // epoch boundary
      "2020-13-01T00:00:00Z", "2020-00-10T00:00:00Z", // bad month
      "2020-04-31T00:00:00Z", "2020-01-00T00:00:00Z", // bad day
      "2020-01-01T24:00:00Z", "2020-01-01T00:60:00Z", // bad time
      "2020-01-01T00:00:0xZ", "garbage", "",          // malformed
      "2002-06-30T02:03:23.5Z",                        // fractional → formatter path
      "0999-01-01T00:00:00Z", "9999-12-31T23:59:59Z"
    ) ++ (1 to 300).map { _ =>
      f"${1800 + rnd.nextInt(400)}%04d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(31)}%02d" +
        f"T${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d" + "Z"
    }
    cases.foreach { iso =>
      assert(XmlFields.parseTimestampUs(iso) == reference(iso), s"diverges on '$iso'")
    }
  }

  test("meta field gating skips exactly the unrequested extractions") {
    val frag = "<revision><id>9</id><parentid>8</parentid>" +
      "<timestamp>2020-01-05T10:00:00Z</timestamp>" +
      "<contributor><username>U</username><id>3</id></contributor><minor/>" +
      "<comment>c</comment><model>wikitext</model><format>text/x-wiki</format>" +
      "<text bytes=\"5\" xml:space=\"preserve\">hello</text><sha1>abc</sha1></revision>"
    val full = XmlFields.parseRevision(frag)
    assert(full.contributor.isDefined && full.minor && full.comment.isDefined &&
      full.model.isDefined && full.format.isDefined && full.sha1.isDefined &&
      full.bytes.isDefined)
    val none = RevMetaFields(contributor = false, minor = false, comment = false,
      model = false, format = false, sha1 = false, bytes = false)
    val pruned = XmlFields.parseRevision(frag, none)
    assert(pruned.contributor.isEmpty && !pruned.minor && pruned.comment.isEmpty &&
      pruned.model.isEmpty && pruned.format.isEmpty && pruned.sha1.isEmpty &&
      pruned.bytes.isEmpty)
    // ungated fields are untouched by the mask
    assert(pruned.revId == full.revId && pruned.parentId == full.parentId &&
      pruned.timestampUs == full.timestampUs && pruned.text == full.text)
    // single-field masks extract just that field
    val onlyContrib = XmlFields.parseRevision(frag,
      none.copy(contributor = true))
    assert(onlyContrib.contributor == full.contributor && onlyContrib.model.isEmpty)
    val onlySha = XmlFields.parseRevision(frag, none.copy(sha1 = true))
    assert(onlySha.sha1 == full.sha1 && onlySha.contributor.isEmpty)
  }

  test("parses page header: title, ns, redirect") {
    val recs = parseAll(fixtureBytes)
    assert(recs(0).page.title == "Alpha Particle")
    assert(recs(0).page.ns == Some(0))
    assert(recs(0).page.redirect == None)
    assert(recs(3).page.title == "Talk:Beta Decay")
    assert(recs(3).page.ns == Some(1))
    assert(recs(4).page.redirect == Some("Gamma radiation"))
  }

  test("excludePagesWith drops whole pages before record assembly") {
    val recs = parseAll(fixtureBytes, exclude = Some(Pattern.compile("<title>Talk:")))
    assert(recs.map(_.curr.revId) == List(101L, 102L, 103L, 301L, 302L))
  }

  test("split ownership: pages partition exactly, no dups, no loss") {
    val bytes = fixtureBytes
    val n = bytes.length
    for (splitSize <- List(200, 500, 1000, 1500, n + 10)) {
      val splits = (0 until n by splitSize).map(s => (s.toLong, math.min(s + splitSize, n).toLong))
      val all = splits.flatMap { case (s, e) => parseAll(bytes, s, e).map(_.curr.revId) }
      assert(all.sorted == List(101L, 102L, 103L, 201L, 301L, 302L),
        s"splitSize=$splitSize got $all")
    }
  }

  test("garbage prefix and truncated tail page are tolerated") {
    val s = new String(fixtureBytes, StandardCharsets.UTF_8)
    val withGarbage = ("garbage bytes 123 " + s).getBytes(StandardCharsets.UTF_8)
    assert(parseAll(withGarbage).map(_.curr.revId) == List(101L, 102L, 103L, 201L, 301L, 302L))
    // truncate mid-way through the last page's first revision
    val cut = s.indexOf("<sha1>ccc111")
    val truncated = s.substring(0, cut).getBytes(StandardCharsets.UTF_8)
    val recs = parseAll(truncated)
    assert(recs.map(_.curr.revId) == List(101L, 102L, 103L, 201L)) // 301 incomplete → dropped
  }

  test("raw compat record: header + dummy/prev + curr + footer") {
    val recs = parseAll(fixtureBytes, keepRaw = true)
    val first = recs(0)
    assert(first.prev == None)
    // raw mode parses every field, text included, exactly as the default
    // mode does; it only adds the raw fragment
    val plain = parseAll(fixtureBytes)
    def noRaw(r: Revision) = r.copy(raw = None)
    assert(recs.map(r => (r.page, r.revSeq, r.prev.map(noRaw), noRaw(r.curr))) ==
      plain.map(r => (r.page, r.revSeq, r.prev, r.curr)))
    assert(plain.forall(_.curr.raw.isEmpty))
    // raw is the dump's own bytes from <revision through </revision>
    val xml = new String(fixtureBytes, StandardCharsets.UTF_8)
    val frags = "<revision[ >]".r.findAllMatchIn(xml).map { m =>
      xml.substring(m.start, xml.indexOf("</revision>", m.start) + "</revision>".length)
    }.toList
    assert(recs.map(_.curr.raw.get) == frags)
    assert(first.page.headerRaw.startsWith("<page>"))
    assert(first.page.headerRaw.contains("<title>Alpha Particle</title>"))
  }

  test("fuzz: arbitrary garbage never throws or hangs") {
    val rnd = new scala.util.Random(99)
    val pieces = Array("<page>", "</page>", "<revision>", "</revision>", "<revision ",
      "<title>", "</title>", "<id>", "</id>", "<text", ">", "/>", "<", ">", "&",
      "&amp;", "abc", "123", " ", "\n", "é", "<contributor>", "</contributor>",
      "<timestamp>", "</timestamp>", "bad<timestamp>xx</timestamp>", "<minor/>")
    for (trial <- 1 to 300) {
      val s = Seq.fill(rnd.nextInt(60))(pieces(rnd.nextInt(pieces.length))).mkString
      val b = s.getBytes(StandardCharsets.UTF_8)
      // never throws; every emitted record has a parsed page; the
      // capture mode never changes which revisions are emitted
      val byMode = for ((raw, text) <- List((false, false), (false, true), (true, true))) yield {
        val recs = parseAll(b, keepRaw = raw, needText = text)
        recs.foreach(r => assert(r.page != null))
        recs.map(_.curr.revId)
      }
      assert(byMode.distinct.size == 1, s"trial=$trial: $byMode")
    }
    // fuzz split boundaries over a valid dump too
    val bytes = fixtureBytes
    for (_ <- 1 to 50) {
      val cut = rnd.nextInt(bytes.length)
      val ids = parseAll(bytes, 0, cut).map(_.curr.revId) ++
        parseAll(bytes, cut, Long.MaxValue).map(_.curr.revId)
      assert(ids.sorted == List(101L, 102L, 103L, 201L, 301L, 302L),
        s"cut=$cut lost/duped: $ids")
    }
  }

  test("attr never matches a name embedded in a preceding attribute's value") {
    // values legally contain spaces, '=', and the other quote style —
    // a plain indexOf scan returned the embedded pseudo-value (ADVICE r13)
    assert(XmlFields.attr("""alt="use title = 'x'" title="real"""", "title") == Some("real"))
    assert(XmlFields.attr("""alt='t = "deleted" here' deleted="deleted"""", "deleted") == Some("deleted"))
    // embedded-only occurrence: absent, not the embedded value
    assert(XmlFields.attr("""alt="title = 'fake'"""", "title").isEmpty)
    // quote-style + whitespace tolerance unchanged
    assert(XmlFields.attr("title = 'Else Where'", "title") == Some("Else Where"))
    assert(XmlFields.attr("""bytes="5" xml:space="preserve"""", "bytes") == Some("5"))
    // prefix names never match (title vs xtitle) and malformed is absent
    assert(XmlFields.attr("""xtitle="no"""", "title").isEmpty)
    assert(XmlFields.attr("title=", "title").isEmpty)
    assert(XmlFields.attr("""title="unterminated""", "title").isEmpty)
    assert(XmlFields.attr("standalone title=\"t\"", "title") == Some("t"))
  }

  test("unescape handles named and numeric entities") {
    assert(XmlFields.unescape("a &amp; b &lt;c&gt; &quot;d&quot; &#65; &#x42;") == "a & b <c> \"d\" A B")
    assert(XmlFields.unescape("no entities") == "no entities")
    assert(XmlFields.unescape("dangling & amp") == "dangling & amp")
    // out-of-range numeric refs fall back to a literal '&', never throw
    assert(XmlFields.unescape("bad &#1114112; ref") == "bad &#1114112; ref")
    assert(XmlFields.unescape("bad &#x110000; ref") == "bad &#x110000; ref")
  }
}
