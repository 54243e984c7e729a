package graft

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CountingByteSource, PageRecordIterator, XmlFields}

/** The record reader against the JDK's StAX parser (`javax.xml.stream`)
  * as a reference: both read the same bytes into the same fields and
  * pair each revision with its predecessor, and every field must agree.
  *
  * The reference applies the reader's documented field rules on top of
  * a conforming XML parse: ids and `ns` are trimmed integers (absent or
  * unparseable ids read as -1 for page and revision), a deleted
  * contributor keeps no fields, a deleted comment or text is absent,
  * `<minor>` is a presence flag, and with text off a present,
  * undeleted `<text>` reads as the empty string. Inputs stay inside
  * what StAX accepts: no CR (StAX normalizes CR LF), no undefined
  * entities, no tab or newline inside attribute values (StAX
  * normalizes them to spaces). */
class StaxReferenceSpec extends AnyFunSuite {

  private def fileBytes(p: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

  private def engine(bytes: Array[Byte], needText: Boolean): Seq[RevisionPair] = {
    val it = new PageRecordIterator(new CountingByteSource(new ByteArrayInputStream(bytes), 0L),
      0L, Long.MaxValue, exclusiveStart = false, needText = needText)
    try it.toList finally it.close()
  }

  private def readLong(s: String): Option[Long] = s.trim.toLongOption

  private def timestampUs(s: String): Option[Long] =
    try {
      val t = java.time.Instant.parse(s)
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    } catch { case _: java.time.format.DateTimeParseException => None }

  private def deleted(r: XMLStreamReader): Boolean =
    r.getAttributeValue(null, "deleted") == "deleted"

  /** Skips to the matching end of the element `r` is positioned on. */
  private def skipElement(r: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0) r.next() match {
      case XMLStreamConstants.START_ELEMENT => depth += 1
      case XMLStreamConstants.END_ELEMENT => depth -= 1
      case _ =>
    }
  }

  /** Children of the element `r` is positioned on, by local name, until
    * its end tag. */
  private def children(r: XMLStreamReader)(onChild: String => Unit): Unit = {
    var open = true
    while (open) r.next() match {
      case XMLStreamConstants.START_ELEMENT => onChild(r.getLocalName)
      case XMLStreamConstants.END_ELEMENT => open = false
      case _ =>
    }
  }

  private def contributor(r: XMLStreamReader): Contributor =
    if (deleted(r)) { skipElement(r); Contributor(None, None, None, deleted = true) }
    else {
      var c = Contributor(None, None, None, deleted = false)
      children(r) {
        case "id" => c = c.copy(id = readLong(r.getElementText))
        case "username" => c = c.copy(username = Some(r.getElementText))
        case "ip" => c = c.copy(ip = Some(r.getElementText))
        case _ => skipElement(r)
      }
      c
    }

  private def revision(r: XMLStreamReader, needText: Boolean): Revision = {
    var rev = Revision(-1L, None, None, None, minor = false, None, None, None, null, None, None, None)
    children(r) {
      case "id" => rev = rev.copy(revId = readLong(r.getElementText).getOrElse(-1L))
      case "parentid" => rev = rev.copy(parentId = readLong(r.getElementText))
      case "timestamp" => rev = rev.copy(timestampUs = timestampUs(r.getElementText))
      case "contributor" => rev = rev.copy(contributor = Some(contributor(r)))
      case "minor" => skipElement(r); rev = rev.copy(minor = true)
      case "comment" =>
        val gone = deleted(r)
        val c = r.getElementText
        rev = rev.copy(comment = if (gone) None else Some(c))
      case "model" => rev = rev.copy(model = Some(r.getElementText))
      case "format" => rev = rev.copy(format = Some(r.getElementText))
      case "text" =>
        val gone = deleted(r)
        val bytes = Option(r.getAttributeValue(null, "bytes")).flatMap(_.toLongOption)
        val body = r.getElementText
        val u8 = if (gone) null else UTF8String.fromString(if (needText) body else "")
        rev = rev.copy(textU8 = u8, bytes = bytes)
      case "sha1" => rev = rev.copy(sha1 = Some(r.getElementText))
      case _ => skipElement(r)
    }
    rev
  }

  /** The reference records: pages in document order, each revision
    * paired with its predecessor in the page (none for the first). */
  private def reference(bytes: Array[Byte], needText: Boolean): Seq[RevisionPair] = {
    val f = XMLInputFactory.newFactory()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(bytes))
    val out = Seq.newBuilder[RevisionPair]
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "page") {
          var page = PageInfo(-1L, "", None, None, "")
          var prev: Option[Revision] = None
          var seq = 0
          children(r) {
            case "title" => page = page.copy(title = r.getElementText)
            case "ns" => page = page.copy(ns = r.getElementText.trim.toIntOption)
            case "id" => page = page.copy(pageId = readLong(r.getElementText).getOrElse(-1L))
            case "redirect" =>
              page = page.copy(redirect = Some(Option(r.getAttributeValue(null, "title")).getOrElse("")))
              skipElement(r)
            case "revision" =>
              val curr = revision(r, needText)
              out += RevisionPair(page, seq, prev, curr)
              prev = Some(curr)
              seq += 1
            case _ => skipElement(r)
          }
        }
      }
    } finally r.close()
    out.result()
  }

  /** Siteinfo namespaces (key → name) as StAX reads them. */
  private def referenceNamespaces(bytes: Array[Byte]): Map[Int, String] = {
    val r = XMLInputFactory.newFactory().createXMLStreamReader(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[Int, String]
    try {
      var inSiteinfo = true
      while (inSiteinfo && r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "namespace" =>
          out += r.getAttributeValue(null, "key").toInt -> r.getElementText
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "siteinfo" => inSiteinfo = false
        case _ =>
      }
    } finally r.close()
    out.result()
  }

  private def fields(r: Revision): Seq[(String, Any)] = Seq(
    "rev_id" -> r.revId, "parent_id" -> r.parentId, "timestamp" -> r.timestampUs,
    "contributor" -> r.contributor, "minor" -> r.minor, "comment" -> r.comment,
    "model" -> r.model, "format" -> r.format, "text" -> Option(r.textU8).map(_.toString),
    "sha1" -> r.sha1, "bytes" -> r.bytes, "raw" -> r.raw)

  private def pageFields(p: PageInfo): Seq[(String, Any)] = Seq(
    "page_id" -> p.pageId, "title" -> p.title, "ns" -> p.ns, "redirect" -> p.redirect)

  private def diff(what: String, a: Seq[(String, Any)], b: Seq[(String, Any)]): Seq[String] =
    a.zip(b).collect { case ((k, x), (_, y)) if x != y => s"$what.$k: engine=$x reference=$y" }

  /** Field-by-field agreement of the engine and the reference, text on
    * and off; returns the number of revisions compared. */
  private def agree(name: String, bytes: Array[Byte]): Int = {
    var n = 0
    for (needText <- Seq(true, false)) {
      val got = engine(bytes, needText)
      val want = reference(bytes, needText)
      assert(got.size == want.size, s"$name needText=$needText: revision count")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        val diffs = diff("page", pageFields(g.page), pageFields(w.page)) ++
          diff("curr", fields(g.curr), fields(w.curr)) ++
          (if (g.revSeq != w.revSeq) Seq(s"rev_seq: engine=${g.revSeq} reference=${w.revSeq}") else Nil) ++
          ((g.prev, w.prev) match {
            case (Some(a), Some(b)) => diff("prev", fields(a), fields(b))
            case (None, None) => Nil
            case (a, b) => Seq(s"prev: engine=${a.map(_.revId)} reference=${b.map(_.revId)}")
          })
        assert(diffs.isEmpty, s"$name needText=$needText record $i (rev ${w.curr.revId}):\n" +
          diffs.mkString("\n"))
      }
      n = got.size
    }
    n
  }

  private def siteinfoHead(bytes: Array[Byte]): String = {
    val s = new String(bytes, StandardCharsets.UTF_8)
    s.substring(0, s.indexOf("</siteinfo>") + "</siteinfo>".length)
  }

  test("agrees with StAX on both sample dumps, text on and off") {
    for (p <- Seq("src/test/resources/fixtures/sample_dump.xml",
        "src/main/resources/graft/sample_dump.xml")) {
      val bytes = fileBytes(p)
      assert(agree(p, bytes) == 6, p)
      assert(XmlFields.siteinfoNamespacesFromHead(siteinfoHead(bytes)) == referenceNamespaces(bytes))
    }
  }

  test("agrees with StAX on valid but unusual forms") {
    val bytes = fileBytes("src/test/resources/fixtures/unusual_forms.xml")
    assert(agree("unusual_forms", bytes) == 8)
    // the fixture pins each unusual form to a value, so a reference
    // that silently skipped a field could not pass on its own
    val recs = reference(bytes, needText = true)
    assert(recs.head.page.title == "Numeric ABC and astral 😀😀 refs")
    assert(recs.head.page.pageId == 21L && recs.head.page.ns == Some(0))
    assert(recs.head.curr.contributor.get.username == Some("Zürich 日本 <user>"))
    assert(recs(1).curr.revId == 2102L && recs(1).curr.minor && recs(1).curr.text == Some(""))
    assert(recs(1).curr.timestampUs == timestampUs("2020-01-06T11:30:00.500Z"))
    assert(recs(1).curr.timestampUs.get % 1000000L == 500000L)
    assert(recs(2).curr.contributor == Some(Contributor(None, None, None, deleted = true)))
    assert(recs(2).curr.text.isEmpty && recs(2).curr.comment.isEmpty && recs(2).curr.bytes == Some(12L))
    assert(recs(3).curr.timestampUs.isEmpty && recs(3).curr.text == Some(""))
    assert(recs(4).page.redirect == Some("Target & Co 😀"))
    assert(recs(4).curr.contributor.get.id == Some(3000000000L) && recs(4).curr.bytes == Some(5L))
    assert(recs(6).page.redirect == Some("Else 'Where'") && recs(6).page.ns.isEmpty)
    assert(recs(6).curr.text == Some("tab\tand\nnewline é"))
    assert(recs(7).curr.text.isEmpty && recs(7).page.redirect == Some(""))
    assert(XmlFields.siteinfoNamespacesFromHead(siteinfoHead(bytes)) == referenceNamespaces(bytes))
    assert(referenceNamespaces(bytes)(100) == "Portal 😀 été")
  }

  test("agrees with StAX on a synthesized dump of a few MB") {
    val n = Bench.withSynthDump(4L << 20) { f => agree("synth", fileBytes(f.getPath)) }
    assert(n > 1000)
  }

  test("inputs StAX rejects: a signed reference stays literal, invalid UTF-8 decodes as " +
      "if decoded before its entities") {
    def page(title: Array[Byte], comment: String): Array[Byte] =
      "<mediawiki><page><title>".getBytes(StandardCharsets.UTF_8) ++ title ++
        ("</title><id>1</id><revision><id>2</id><comment>" + comment +
          "</comment><text>t</text></revision></page></mediawiki>").getBytes(StandardCharsets.UTF_8)
    val signed = page("T".getBytes(StandardCharsets.UTF_8), "a &#+12; b")
    intercept[javax.xml.stream.XMLStreamException](reference(signed, needText = true))
    assert(engine(signed, needText = true).map(_.curr.comment) == Seq(Some("a &#+12; b")))
    val title = Array[Byte]('T', 0xc3.toByte, '&', 'a', 'm', 'p', ';', 0xff.toByte, 'x')
    val invalid = page(title, "c")
    intercept[javax.xml.stream.XMLStreamException](reference(invalid, needText = true))
    assert(engine(invalid, needText = true).map(_.page.title) ==
      Seq(new String(title, StandardCharsets.UTF_8).replace("&amp;", "&")))
  }
}
