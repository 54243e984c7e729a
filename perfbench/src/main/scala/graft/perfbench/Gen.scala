package graft.perfbench

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of a `pages-meta-history` full-history dump.
  *
  * The page layout (how many revisions each page has, its namespace,
  * its target text size and its position in the dump) and the
  * vocabulary are fixed for a given [[Shape]], so every seed produces
  * the same amount of work. The seed draws all content: texts, edits,
  * titles, contributors, comments and timestamps.
  *
  * Properties the engine's behaviour depends on:
  *  - revisions per page follow a Zipf law, the largest page holding
  *    thousands of revisions;
  *  - each revision is a small edit of a multi-KB text;
  *  - namespace 0 dominates; talk, user, user talk and project pages
  *    are present;
  *  - text carries XML entities and multibyte UTF-8, including
  *    characters outside the BMP;
  *  - some revisions have deleted text or a deleted contributor;
  *  - the token vocabulary has a Zipf head and a tail of unique tokens
  *    (numbers, dates, citation ids).
  *
  * While writing, the generator records everything the output checks
  * need: counts, the metadata aggregate, texts of sampled revisions
  * and the revisions of a few pages to read back. */
object Gen {

  /** Fixed layout parameters. `pages` pages; the page of Zipf rank r
    * holds `round(topRevs / (r + 1))` revisions (at least 1). */
  final case class Shape(pages: Int, topRevs: Int, meanTextBytes: Int,
      heavyTextBytes: Int, diffSamples: Int, readBackPages: Int)

  /** The benchmark's history: ~21,800 revisions, ~89 MB of XML, bz2
    * ratio ~27 (the paper's dumps: >700 GB of XML in >30 GB of bz2,
    * ratio >=23). The largest page holds 3,000 revisions, at the low
    * end of the 2,000-81,920 the reference's own randomized generator
    * uses; more would not fit a several-second pass on 4 cores. The
    * sources of every parameter are in perfbench/README.md. */
  val BenchShape = Shape(pages = 800, topRevs = 3000, meanTextBytes = 2400,
    heavyTextBytes = 3200, diffSamples = 240, readBackPages = 12)
  val TinyShape = Shape(pages = 120, topRevs = 60, meanTextBytes = 1500,
    heavyTextBytes = 2000, diffSamples = 40, readBackPages = 4)

  val Namespaces: Seq[(Int, String)] =
    Seq(0 -> "", 1 -> "Talk", 2 -> "User", 3 -> "User talk", 4 -> "Wikipedia")
  val NsByName: Map[String, Int] =
    Namespaces.collect { case (k, n) if n.nonEmpty => n.toLowerCase(java.util.Locale.ROOT) -> k }.toMap
  /** Titles the `history_xml_meta` read excludes (ns 1 and 3). */
  val ExcludePagesWith = "<title>(Talk|User talk):"
  val ExcludedNs: Set[Int] = Set(1, 3)

  /** Metadata aggregate key: (namespace, contributor name or ip or
    * `#deleted`). Value: (revisions, sum of inter-edit gaps in
    * seconds, sum of page ids). */
  type MetaAgg = Map[(Int, String), (Long, Long, Long)]

  final case class RevText(pageId: Long, revId: Long, prev: String, curr: String)

  final case class Expect(
      pages: Long, revisions: Long,
      nsPages: Map[Int, Long], nsRevisions: Map[Int, Long],
      xmlBytes: Long, distinctTokens: Long, maxPageRevisions: Long,
      deletedTexts: Long, deletedContributors: Long,
      meta: MetaAgg,
      diffSamples: Seq[RevText],
      /** page id -> (rev id, text or null when deleted) in dump order */
      readBack: Map[Long, Seq[(Long, String)]]) {
    def fingerprint: String = {
      val ns = nsRevisions.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val nsp = nsPages.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s""""pages":$pages,"revisions":$revisions,"decompressed_bytes":$xmlBytes,""" +
        s""""distinct_tokens":$distinctTokens,"max_page_revisions":$maxPageRevisions,""" +
        s""""deleted_texts":$deletedTexts,"deleted_contributors":$deletedContributors,""" +
        s""""ns_pages":$nsp,"ns_revisions":$ns"""
    }
  }

  private final case class PageLayout(pageId: Long, ns: Int, revs: Int, textBytes: Int, readBack: Boolean)

  /** The fixed layout: independent of the content seed. */
  private def layout(shape: Shape): Array[PageLayout] = {
    val r = new SplittableRandom(0x5eedL)
    val revsByRank = Array.tabulate(shape.pages)(k =>
      math.max(1, math.round(shape.topRevs.toDouble / (k + 1)).toInt))
    // rank -> position: a fixed shuffle, so heavy pages sit at spread,
    // fixed places in the dump
    val pos = Array.range(0, shape.pages)
    var i = pos.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = pos(i); pos(i) = pos(j); pos(j) = t; i -= 1 }
    val byPos = new Array[PageLayout](shape.pages)
    var id = 10L
    val ids = Array.fill(shape.pages) { id += 1 + r.nextInt(24); id }
    for (rank <- 0 until shape.pages) {
      val p = pos(rank)
      val ns =
        if (rank == 0) 0 else if (rank == 1) 1 else {
          val u = r.nextDouble()
          if (u < 0.70) 0 else if (u < 0.82) 1 else if (u < 0.89) 2 else if (u < 0.94) 3 else 4
        }
      val bytes =
        if (rank < 24) (shape.heavyTextBytes * (0.9 + 0.2 * r.nextDouble())).toInt
        else (shape.meanTextBytes * math.exp(r.nextGaussian() * 0.6 - 0.18)).toInt.max(300).min(24000)
      byPos(p) = PageLayout(ids(p), ns, revsByRank(rank), bytes, readBack = false)
    }
    // read-back pages: ns 0, mid-sized (rank 8..), at fixed positions
    val cands = (8 until shape.pages).map(pos(_)).filter(p => byPos(p).ns == 0)
    val step = math.max(1, cands.size / shape.readBackPages)
    for (k <- 0 until shape.readBackPages if k * step < cands.size) {
      val p = cands(k * step)
      byPos(p) = byPos(p).copy(readBack = true)
    }
    byPos
  }

  // ---- content --------------------------------------------------------

  /** One text piece: its raw form and its XML-escaped UTF-8 bytes. */
  private final class Piece(val raw: String) {
    val esc: Array[Byte] = {
      val e = if (raw.indexOf('&') < 0 && raw.indexOf('<') < 0 && raw.indexOf('>') < 0) raw
        else raw.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      e.getBytes(UTF_8)
    }
    val rawBytes: Int = if (esc.length == raw.length) esc.length else raw.getBytes(UTF_8).length
  }

  private val Syllables = Array("ka", "lo", "ri", "sen", "ta", "mo", "ne", "vi", "dor", "an",
    "el", "ur", "is", "pra", "the", "qu", "ost", "lin", "gar", "fe", "ba", "zu", "ch", "ny")
  private val Accented = Array("é", "ü", "ñ", "ø", "ç", "ß", "å", "ł")
  private val Cyrillic = Array("ж", "ы", "щ", "д", "л", "я")
  private val Cjk = Array("語", "東", "京", "学", "水")
  private val Astral = Array("𝔸", "😀", "𐌰", "🌍")
  private val Separators = Array(" ", " ", " ", " ", " ", " ", ", ", ". ", "\n", " - ")

  /** Vocabulary and Zipf sampler. Fixed: a seed-drawn vocabulary made
    * the cost of a pass (token lengths, bz2 block sorting) vary by seed
    * far more than the texts drawn from it do. */
  private object Vocab {
    private val r = new SplittableRandom(0x766f6361L)
    val size = 60000
    val words: Array[Piece] = Array.fill(size) {
      val sb = new java.lang.StringBuilder
      val n = 1 + r.nextInt(4)
      var i = 0
      while (i < n) { sb.append(Syllables(r.nextInt(Syllables.length))); i += 1 }
      val u = r.nextDouble()
      if (u < 0.08) sb.insert(r.nextInt(sb.length + 1), Accented(r.nextInt(Accented.length)))
      else if (u < 0.11) sb.append(Cyrillic(r.nextInt(Cyrillic.length)))
      else if (u < 0.12) sb.append(Cjk(r.nextInt(Cjk.length)))
      else if (u < 0.125) sb.append(Astral(r.nextInt(Astral.length)))
      if (r.nextInt(6) == 0) sb.setCharAt(0, Character.toUpperCase(sb.charAt(0)))
      new Piece(sb.toString)
    }
    private val cdf: Array[Double] = {
      val c = new Array[Double](size)
      var acc = 0.0
      var i = 0
      while (i < size) { acc += 1.0 / math.pow(i + 1, 1.05); c(i) = acc; i += 1 }
      i = 0
      while (i < size) { c(i) /= acc; i += 1 }
      c
    }
    def word(rng: SplittableRandom): Piece = {
      var idx = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      if (idx < 0) idx = -idx - 1
      words(math.min(idx, size - 1))
    }
  }

  private val SepPieces = Separators.map(new Piece(_))
  private val Markup = Array("[[", "]]", "'''", "''", "{{", "}}", "&nbsp;", "== ", " ==\n",
    "<ref>", "</ref>", "{| class=\"wikitable\"\n", "|-\n", "|}\n", "&mdash;", "<br />", "\"", " & ")
    .map(new Piece(_))

  private def b36(v: Long, n: Int): String = {
    val s = java.lang.Long.toString(v & Long.MaxValue, 36)
    if (s.length >= n) s.substring(0, n) else ("0" * (n - s.length)) + s
  }

  /** A unique-ish token: number, date, or citation with an id. */
  private def uniquePiece(rng: SplittableRandom): Piece = rng.nextInt(4) match {
    case 0 => new Piece((100000L + (rng.nextLong() & 0xffffffffL) % 900000000L).toString)
    case 1 => new Piece(f"${1900 + rng.nextInt(125)}%04d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d")
    case 2 => new Piece(s"<ref>{{cite web |url=https://news.example.org/a/${b36(rng.nextLong(), 9)} " +
      s"|title=${b36(rng.nextLong(), 6)} |access-date=${2005 + rng.nextInt(19)}}}</ref>")
    case _ => new Piece(s"ISBN ${978}-${rng.nextInt(10)}-${1000 + rng.nextInt(9000)}-${b36(rng.nextLong(), 5)}")
  }

  private def sentence(v: Vocab.type, rng: SplittableRandom, out: mutable.ArrayBuffer[Piece]): Unit = {
    val n = 6 + rng.nextInt(18)
    var i = 0
    while (i < n) {
      val u = rng.nextInt(100)
      if (u < 7) out += uniquePiece(rng)
      else if (u < 11) { out += Markup(0); out += v.word(rng); out += Markup(1) }
      else if (u < 13) out += Markup(2 + rng.nextInt(Markup.length - 2))
      else out += v.word(rng)
      out += (if (i == n - 1) SepPieces(7) else SepPieces(rng.nextInt(SepPieces.length)))
      i += 1
    }
    if (rng.nextInt(5) == 0) out += SepPieces(8)
  }

  // ---- distinct-token counting (open-addressing set of 64-bit hashes) ----

  private final class LongSet {
    private var keys = new Array[Long](1 << 16)
    private var used = new Array[Boolean](1 << 16)
    var size = 0
    def foreach(f: Long => Unit): Unit = {
      var i = 0
      while (i < keys.length) { if (used(i)) f(keys(i)); i += 1 }
    }
    def add(k: Long): Unit = {
      if (size * 2 > keys.length) grow()
      var i = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & Int.MaxValue) & (keys.length - 1)
      while (used(i)) { if (keys(i) == k) return; i = (i + 1) & (keys.length - 1) }
      used(i) = true; keys(i) = k; size += 1
    }
    private def grow(): Unit = {
      val ok = keys; val ou = used
      keys = new Array[Long](ok.length * 2); used = new Array[Boolean](ok.length * 2); size = 0
      var i = 0
      while (i < ok.length) { if (ou(i)) add(ok(i)); i += 1 }
    }
  }

  private def countTokens(p: Piece, set: LongSet): Unit = {
    val b = p.raw.getBytes(UTF_8)
    val bounds = graft.functions.DiffKernelU8.tokenBounds(b, 0, b.length)
    var k = 0
    while (k < bounds.length) {
      var h = 0xcbf29ce484222325L
      var i = bounds(k)
      while (i < bounds(k + 1)) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
      set.add(h)
      k += 2
    }
  }

  // ---- writing --------------------------------------------------------

  private val Epoch2004 = 1072915200L
  private val TsFmt = java.time.format.DateTimeFormatter.ISO_INSTANT

  def header: String = {
    val ns = Namespaces.map {
      case (0, _) => """      <namespace key="0" case="first-letter" />"""
      case (k, n) => s"""      <namespace key="$k" case="first-letter">$n</namespace>"""
    }.mkString("\n")
    s"""<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" version="0.10" xml:lang="en">
  <siteinfo>
    <sitename>Benchwiki</sitename>
    <dbname>benchwiki</dbname>
    <base>https://bench.example.org/wiki/Main_Page</base>
    <generator>MediaWiki 1.35.0</generator>
    <case>first-letter</case>
    <namespaces>
$ns
    </namespaces>
  </siteinfo>
"""
  }

  /** What one contiguous range of pages contributes to [[Expect]]. */
  private final class Part {
    val nsPages = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val nsRevs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val meta = mutable.HashMap.empty[(Int, String), Array[Long]]
    val samples = mutable.ArrayBuffer.empty[RevText]
    val readBack = mutable.Map.empty[Long, Seq[(Long, String)]]
    val tokens = new LongSet
    var revisions, deletedTexts, deletedContribs = 0L
  }

  /** Write the dump to `out` (which receives every byte in order) and
    * return what the checks expect. Pages are generated on `threads`
    * threads (each page draws from its own seeded stream, so the bytes
    * do not depend on the thread count). */
  def write(shape: Shape, seed: Long, out: OutputStream, threads: Int = 4): Expect = {
    val lay = layout(shape)
    val vocab = Vocab
    val totalRevs = lay.map(_.revs.toLong).sum
    val sampleEvery = math.max(1L, totalRevs / shape.diffSamples)
    // rev ids grow through the dump: each page starts above every id
    // the pages before it can use
    val revBase = lay.scanLeft(1000L)((b, pl) => b + 3L * pl.revs)
    // contiguous page ranges of similar size, generated in parallel and
    // written in dump order
    val weight = lay.map(pl => pl.revs.toLong * pl.textBytes)
    val per = math.max(1L, weight.sum / (threads * 6))
    val ranges = mutable.ArrayBuffer.empty[(Int, Int)]
    var from = 0
    var acc = 0L
    for (i <- lay.indices) {
      acc += weight(i)
      if (acc >= per || i == lay.length - 1) { ranges += ((from, i + 1)); from = i + 1; acc = 0L }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    var bytes = 0L
    val parts = mutable.ArrayBuffer.empty[Part]
    try {
      val futures = ranges.map { case (a, b) =>
        pool.submit(new java.util.concurrent.Callable[(Array[Byte], Part)] {
          def call(): (Array[Byte], Part) = {
            val buf = new java.io.ByteArrayOutputStream(1 << 20)
            val part = new Part
            var i = a
            while (i < b) { writePage(lay(i), revBase(i), seed, sampleEvery, shape, vocab, buf, part); i += 1 }
            (buf.toByteArray, part)
          }
        })
      }
      val head = header.getBytes(UTF_8)
      out.write(head); bytes += head.length
      for (f <- futures) {
        val (b, part) = f.get()
        out.write(b); bytes += b.length
        parts += part
      }
      val tail = "</mediawiki>\n".getBytes(UTF_8)
      out.write(tail); bytes += tail.length
    } finally pool.shutdownNow()

    val tokens = new LongSet
    parts.foreach(_.tokens.foreach(tokens.add))
    def sumMaps(f: Part => mutable.Map[Int, Long]) =
      parts.flatMap(f(_).toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val meta = mutable.HashMap.empty[(Int, String), (Long, Long, Long)]
    for (p <- parts; (k, a) <- p.meta) {
      val (c, g, ids) = meta.getOrElse(k, (0L, 0L, 0L))
      meta(k) = (c + a(0), g + a(1), ids + a(2))
    }
    Expect(lay.length.toLong, parts.map(_.revisions).sum, sumMaps(_.nsPages), sumMaps(_.nsRevs),
      bytes, tokens.size.toLong, lay.map(_.revs.toLong).max,
      parts.map(_.deletedTexts).sum, parts.map(_.deletedContribs).sum,
      meta.toMap, parts.flatMap(_.samples).toSeq, parts.flatMap(_.readBack).toMap)
  }

  private def writePage(pl: PageLayout, revBase: Long, seed: Long, sampleEvery: Long, shape: Shape,
      vocab: Vocab.type, out: OutputStream, part: Part): Unit = {
    def put(s: String): Unit = out.write(s.getBytes(UTF_8))
    val users = 20000
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + pl.pageId)
    val title = {
      val t = (0 until 1 + rng.nextInt(3)).map(_ => vocab.word(rng).raw.capitalize).mkString(" ") +
        (if (rng.nextInt(10) == 0) " & Co" else "") + s" ${pl.pageId}"
      val prefix = Namespaces.find(_._1 == pl.ns).get._2
      if (prefix.isEmpty) t else s"$prefix:$t"
    }
    part.nsPages(pl.ns) += 1
    val sb = new java.lang.StringBuilder(1024)
    sb.append("  <page>\n    <title>").append(xmlEsc(title)).append("</title>\n    <ns>")
      .append(pl.ns).append("</ns>\n    <id>").append(pl.pageId).append("</id>\n")
    put(sb.toString)
    // base text
    var text = mutable.ArrayBuffer.empty[Piece]
    var textBytes = 0
    while (textBytes < pl.textBytes) {
      val from = text.length
      if (rng.nextInt(8) == 0) {
        text += Markup(7); text += vocab.word(rng); text += Markup(8)
      }
      sentence(vocab, rng, text)
      var i = from
      while (i < text.length) { textBytes += text(i).rawBytes; countTokens(text(i), part.tokens); i += 1 }
    }
    var older = text
    var ts = Epoch2004 + (rng.nextLong() & Long.MaxValue) % (15L * 365 * 86400)
    var prevTs = -1L
    var prevText: String = null // raw text of the previous revision ("" if deleted)
    var prevRevId = -1L
    var revId = revBase
    val rb = if (pl.readBack) mutable.ArrayBuffer.empty[(Long, String)] else null
    var r = 0
    while (r < pl.revs) {
      // edit (the first revision is the base text)
      if (r > 0) {
        val (next, added) = edit(text, older, textBytes, pl.textBytes, vocab, rng)
        older = text
        text = next
        textBytes = 0
        var i = 0
        while (i < text.length) { textBytes += text(i).rawBytes; i += 1 }
        added.foreach(countTokens(_, part.tokens))
      }
      revId += 1 + rng.nextInt(3)
      ts += math.max(1L, math.exp(rng.nextDouble() * 14.0).toLong)
      val textDeleted = r > 0 && rng.nextInt(200) == 0
      val who = rng.nextInt(1000)
      val (contribXml, whoKey) =
        if (who < 5) { part.deletedContribs += 1; ("<contributor deleted=\"deleted\" />", "#deleted") }
        else if (who < 250) {
          val ip = if (rng.nextInt(8) == 0) s"2001:DB8:${Integer.toHexString(rng.nextInt(65536)).toUpperCase}::${Integer.toHexString(rng.nextInt(65536)).toUpperCase}"
            else s"${10 + rng.nextInt(200)}.${rng.nextInt(256)}.${rng.nextInt(256)}.${rng.nextInt(256)}"
          (s"<contributor>\n        <ip>$ip</ip>\n      </contributor>", ip)
        } else {
          val uid = zipfUser(rng, users)
          val name = vocab.words(uid % vocab.size).raw.capitalize + s" $uid"
          (s"<contributor>\n        <username>${xmlEsc(name)}</username>\n        <id>$uid</id>\n      </contributor>", name)
        }
      if (textDeleted) part.deletedTexts += 1
      sb.setLength(0)
      sb.append("    <revision>\n      <id>").append(revId).append("</id>\n")
      if (prevRevId >= 0) sb.append("      <parentid>").append(prevRevId).append("</parentid>\n")
      sb.append("      <timestamp>").append(TsFmt.format(java.time.Instant.ofEpochSecond(ts)))
        .append("</timestamp>\n      ").append(contribXml).append('\n')
      if (rng.nextInt(5) == 0) sb.append("      <minor />\n")
      if (rng.nextInt(10) < 6) {
        val c = s"/* ${vocab.word(rng).raw} */ ${vocab.word(rng).raw} & \"${vocab.word(rng).raw}\""
        sb.append("      <comment>").append(xmlEsc(c)).append("</comment>\n")
      }
      sb.append("      <model>wikitext</model>\n      <format>text/x-wiki</format>\n")
      sb.append("      <text bytes=\"").append(textBytes).append('"')
      if (textDeleted) sb.append(" deleted=\"deleted\" />\n")
      else sb.append(" xml:space=\"preserve\">")
      put(sb.toString)
      if (!textDeleted) {
        var i = 0
        while (i < text.length) { out.write(text(i).esc); i += 1 }
        put("</text>\n")
      }
      put(s"      <sha1>${b36(rng.nextLong(), 31)}</sha1>\n    </revision>\n")

      // expectations
      part.revisions += 1
      part.nsRevs(pl.ns) += 1
      if (!ExcludedNs(pl.ns)) {
        val a = part.meta.getOrElseUpdate((pl.ns, whoKey), new Array[Long](3))
        a(0) += 1
        if (prevTs >= 0) a(1) += ts - prevTs
        a(2) += pl.pageId
      }
      val currRaw = if (textDeleted) null else rawText(text)
      if (java.lang.Long.remainderUnsigned(mix(seed, revId), sampleEvery) == 0)
        part.samples += RevText(pl.pageId, revId,
          if (prevText == null) "" else prevText,
          if (currRaw == null) "" else currRaw)
      if (rb != null) rb += ((revId, currRaw))
      prevText = if (currRaw == null) "" else currRaw
      prevTs = ts
      prevRevId = revId
      r += 1
    }
    if (rb != null) part.readBack(pl.pageId) = rb.toSeq
    put("  </page>\n")
  }

  private def rawText(t: mutable.ArrayBuffer[Piece]): String = {
    val sb = new java.lang.StringBuilder(t.length * 6)
    var i = 0
    while (i < t.length) { sb.append(t(i).raw); i += 1 }
    sb.toString
  }

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def zipfUser(rng: SplittableRandom, n: Int): Int = {
    // inverse-CDF of a continuous 1/x law over [1, n]
    math.min(n - 1, math.exp(rng.nextDouble() * math.log(n.toDouble)).toInt)
  }

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One small edit. Returns the new text and the pieces it added. */
  private def edit(text: mutable.ArrayBuffer[Piece], older: mutable.ArrayBuffer[Piece],
      bytes: Int, target: Int, v: Vocab.type, rng: SplittableRandom)
      : (mutable.ArrayBuffer[Piece], Seq[Piece]) = {
    val n = text.length
    val u = rng.nextInt(100)
    val kind =
      if (bytes > target * 13 / 10) 2
      else if (bytes < target * 7 / 10) 1
      else if (u < 50) 0 else if (u < 75) 1 else if (u < 90) 2 else if (u < 97) 3 else 4
    kind match {
      case 0 => // replace a few pieces
        val at = rng.nextInt(math.max(1, n))
        val k = math.min(1 + rng.nextInt(6), n - at)
        val added = mutable.ArrayBuffer.empty[Piece]
        var i = 0
        while (i < math.max(1, k)) {
          added += (if (rng.nextInt(10) == 0) uniquePiece(rng) else v.word(rng))
          added += SepPieces(0)
          i += 1
        }
        val out = new mutable.ArrayBuffer[Piece](n + added.size)
        out ++= text.view.slice(0, at); out ++= added; out ++= text.view.slice(at + k, n)
        (out, added.toSeq)
      case 1 => // insert a sentence
        val at = rng.nextInt(n + 1)
        val added = mutable.ArrayBuffer.empty[Piece]
        sentence(v, rng, added)
        val out = new mutable.ArrayBuffer[Piece](n + added.size)
        out ++= text.view.slice(0, at); out ++= added; out ++= text.view.slice(at, n)
        (out, added.toSeq)
      case 2 => // delete a run
        val at = rng.nextInt(math.max(1, n))
        val k = math.min(1 + rng.nextInt(20), n - at)
        val out = new mutable.ArrayBuffer[Piece](n)
        out ++= text.view.slice(0, at); out ++= text.view.slice(at + k, n)
        (out, Nil)
      case 3 => // revert the previous edit
        (older.clone(), Nil)
      case _ => // null edit
        (text.clone(), Nil)
    }
  }
}
