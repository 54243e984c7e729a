package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

import graft.{Contributor, PageInfo, Revision, RevisionPair}

/** Byte source with an ownership coordinate per delivered byte.
  *
  * For plain files the coordinate is the exact byte offset; for
  * block-compressed splittable streams (bz2 BYBLOCK) it is the
  * compressed-stream position reported by the codec, which only moves at
  * block boundaries. Split ownership of a page is decided on this
  * coordinate (see [[PageRecordIterator]]).
  */
trait PosByteSource {
  /** Next byte (0-255) or -1 at EOF. */
  def read(): Int
  /** Ownership coordinate of the byte most recently returned. */
  def pos: Long
  def close(): Unit

  // Bulk-view fast path: a window of already-buffered bytes that the
  // scanner can search without per-byte calls. The window never spans a
  // refill, so per-byte ownership positions stay well-defined.
  /** Make bytes available in the window; false at EOF. */
  def bulkFill(): Boolean
  def bulkBuf: Array[Byte]
  def bulkStart: Int
  def bulkEnd: Int
  /** Ownership pos of the window byte at absolute index `idx`. */
  def bulkPosOf(idx: Int): Long
  /** Consume `n` bytes from the window start. */
  def bulkConsume(n: Int): Unit
}

/** Exact-offset source over an InputStream that begins at `startOffset`
  * in the underlying file. Buffered internally. */
final class CountingByteSource(in: InputStream, startOffset: Long) extends PosByteSource {
  private val buf = new Array[Byte](256 * 1024)
  private var bufLen = 0
  private var bufPos = 0
  /** file offset of buf(0) */
  private var bufBase = startOffset
  private var lastPos = startOffset - 1
  private var readTotal = 0L

  def read(): Int = {
    if (bufPos >= bufLen && !refill()) return -1
    val b = buf(bufPos) & 0xff
    lastPos = bufBase + bufPos
    bufPos += 1
    b
  }
  private def refill(): Boolean = {
    bufBase += bufLen
    bufLen = in.read(buf)
    bufPos = 0
    if (bufLen > 0) readTotal += bufLen
    bufLen > 0
  }
  def pos: Long = lastPos
  /** Bytes read from `in` so far. */
  def bytesRead: Long = readTotal
  def close(): Unit = in.close()

  def bulkFill(): Boolean = bufPos < bufLen || refill()
  def bulkBuf: Array[Byte] = buf
  def bulkStart: Int = bufPos
  def bulkEnd: Int = bufLen
  def bulkPosOf(idx: Int): Long = bufBase + idx
  def bulkConsume(n: Int): Unit = {
    bufPos += n
    if (n > 0) lastPos = bufBase + bufPos - 1
  }
}

/** Streaming scanner over a [[PosByteSource]]: finds literal byte
  * patterns with an ends-with check (correct under self-overlapping
  * patterns, unlike restart-at-zero matching — cf. the naive matcher the
  * reference acknowledges at wikihadoop `StreamWikiDumpInputFormat.java:570`),
  * optionally capturing the scanned bytes, and recording the ownership
  * position of each match's first byte.
  */
final class StreamScanner(src: PosByteSource) {
  private var eof = false
  /** ring of (byte, ownership-pos) for the last 32 bytes delivered */
  private val ring = new Array[Long](32)
  private val last = new Array[Byte](32)
  private var count = 0L // total bytes delivered

  var matchStartPos: Long = -1L
  var matchedPattern: Int = -1

  def atEof: Boolean = eof

  private def endsWith(pat: Array[Byte]): Boolean = {
    val n = pat.length
    if (count < n) return false
    var i = 0
    while (i < n) {
      if (last(((count - n + i) & 31).toInt) != pat(i)) return false
      i += 1
    }
    true
  }

  /** Scan until one of `pats` matches. Returns the index of the matched
    * pattern, or -1 at EOF. Bytes scanned (including the match itself)
    * are written to `capture` if non-null. Sets `matchStartPos` to the
    * ownership pos of the match's first byte.
    *
    * Fast path: every pattern starts with '<', so the hot loop is a
    * bulk scan for '<' over the source's buffer window with in-place
    * pattern comparison; only candidates too close to a buffer boundary
    * drop to the per-byte ends-with path (which reads across refills). */
  def readUntil(pats: Array[Array[Byte]], capture: java.io.ByteArrayOutputStream): Int = {
    if (eof) return -1
    val nPats = pats.length
    var maxLen = 0
    val lastBytes = new Array[Byte](nPats)
    var q = 0
    while (q < nPats) {
      lastBytes(q) = pats(q)(pats(q).length - 1)
      if (pats(q).length > maxLen) maxLen = pats(q).length
      q += 1
    }
    // distinct first bytes of the patterns (usually just '<')
    val f0 = pats(0)(0)
    var f1 = f0
    q = 1
    while (q < nPats) { if (pats(q)(0) != f0) f1 = pats(q)(0); q += 1 }
    var slowLeft = 0
    while (true) {
      if (slowLeft > 0) {
        // ---- slow path: per-byte with ring (handles buffer boundaries)
        val b = src.read()
        if (b == -1) { eof = true; matchedPattern = -1; return -1 }
        val bb = b.toByte
        val idx = (count & 31).toInt
        last(idx) = bb
        ring(idx) = src.pos
        count += 1
        if (capture != null) capture.write(b)
        var p = 0
        while (p < nPats) {
          if (lastBytes(p) == bb && endsWith(pats(p))) {
            matchedPattern = p
            matchStartPos = ring(((count - pats(p).length) & 31).toInt)
            return p
          }
          p += 1
        }
        slowLeft -= 1
        if (slowLeft == 0) {
          // stay slow while a recent pattern-start byte could still
          // begin a match spanning the window boundary
          var k = 1
          val lim = math.min(maxLen - 1, count).toInt
          while (k <= lim && slowLeft == 0) {
            val b0 = last(((count - k) & 31).toInt)
            if (b0 == f0 || b0 == f1) slowLeft = maxLen
            k += 1
          }
        }
      } else {
        // ---- fast path: bulk scan the buffered window for '<'
        if (!src.bulkFill()) { eof = true; matchedPattern = -1; return -1 }
        val buf = src.bulkBuf
        val s0 = src.bulkStart
        val end = src.bulkEnd
        var i = s0
        while (i < end && buf(i) != f0 && buf(i) != f1) i += 1
        if (i == end) {
          if (capture != null) capture.write(buf, s0, end - s0)
          src.bulkConsume(end - s0)
        } else if (end - i >= maxLen) {
          var matched = -1
          var p = 0
          while (p < nPats && matched < 0) {
            val pat = pats(p)
            var j = 0
            val pl = pat.length
            while (j < pl && buf(i + j) == pat(j)) j += 1
            if (j == pl) matched = p
            p += 1
          }
          if (matched >= 0) {
            val pl = pats(matched).length
            if (capture != null) capture.write(buf, s0, i + pl - s0)
            matchStartPos = src.bulkPosOf(i)
            src.bulkConsume(i + pl - s0)
            matchedPattern = matched
            return matched
          } else {
            if (capture != null) capture.write(buf, s0, i + 1 - s0)
            src.bulkConsume(i + 1 - s0)
          }
        } else {
          // candidate too close to the window edge: hand the next
          // stretch to the per-byte path (it reads across the refill)
          if (capture != null) capture.write(buf, s0, i - s0)
          src.bulkConsume(i - s0)
          count = 0 // reset ring; slow path starts exactly at '<'
          slowLeft = maxLen
        }
      }
    }
    -1
  }
}

/** Minimal XML field extraction for the regular, machine-generated
  * MediaWiki export format (schema per SURVEY §1.2; fields evidenced by
  * the reference's consumer `python/revision_differ.py:131-160`). */
object XmlFields {

  /** A dump's decompressed head through `</siteinfo>` (through the
    * file's codec, if any), at most 1 MiB, and whether the marker
    * appeared within it. The one head reader behind
    * [[graft.MediaWiki.siteinfoNamespaces]] (lenient parse) and
    * [[MultistreamIndex]]'s ns skip-planner (strict parse). */
  def siteinfoHead(fs: org.apache.hadoop.fs.FileSystem,
      codecs: org.apache.hadoop.io.compress.CompressionCodecFactory,
      dump: org.apache.hadoop.fs.Path): (String, Boolean) = {
    val raw = fs.open(dump)
    val in = Option(codecs.getCodec(dump))
      .map(c => c.createInputStream(raw): java.io.InputStream).getOrElse(raw)
    try readHeadUntil(in, "</siteinfo>", 1 << 20) finally in.close()
  }

  /** Read a dump's decompressed head through `in` until `marker`
    * appears (or `cap` bytes). Linear: only the tail window that could
    * complete the marker is re-scanned per chunk (the first cut decoded
    * and re-searched the WHOLE buffer per read — quadratic on a large
    * head). Returns (head-so-far, markerFound). The marker and the
    * scanned XML structure are ASCII, so byte search is exact. */
  private def readHeadUntil(in: java.io.InputStream, marker: String,
      cap: Int): (String, Boolean) = {
    val mb = marker.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val buf = new Array[Byte](cap)
    var len = 0
    var found = false
    var eof = false
    while (!found && !eof && len < buf.length) {
      val n = in.read(buf, len, buf.length - len)
      if (n < 0) eof = true
      else {
        // search only the window that can contain a NEW marker match
        val from = math.max(0, len - (mb.length - 1))
        len += n
        var i = from
        while (!found && i + mb.length <= len) {
          var j = 0
          while (j < mb.length && buf(i + j) == mb(j)) j += 1
          if (j == mb.length) { found = true; len = i + mb.length }
          else i += 1
        }
      }
    }
    (new String(buf, 0, len, "UTF-8"), found)
  }

  private val NamespaceElem = java.util.regex.Pattern.compile(
    "<namespace\\b([^>]*?)(?:/>|>([^<]*)</namespace>)")
  private val KeyAttr = java.util.regex.Pattern.compile(
    "\\bkey\\s*=\\s*(?:\"(-?\\d+)\"|'(-?\\d+)')")

  /** Parse `<namespace ... key="K" ...>Name</namespace>` entries from a
    * dump head (everything up to `</siteinfo>`): key → unescaped name
    * (the main namespace key 0 is the self-closing empty-name form).
    * Attribute ORDER and quote style are insignificant in XML, so the
    * key is extracted from anywhere in the attribute list (the first
    * cut required `key` to be the leading double-quoted attribute — a
    * legal reordering silently dropped entries; review r13). Shared by
    * [[graft.MediaWiki.siteinfoNamespaces]] and [[MultistreamIndex]]'s
    * ns skip-planner so the two can never disagree on what a namespace
    * prefix means. Lenient: elements without a parseable key are
    * skipped (use [[siteinfoNamespacesStrict]] when a skipped entry
    * must abort instead). */
  def siteinfoNamespacesFromHead(head: String): Map[Int, String] = {
    val m = NamespaceElem.matcher(head)
    val out = scala.collection.mutable.Map.empty[Int, String]
    while (m.find()) {
      val k = KeyAttr.matcher(m.group(1))
      if (k.find()) {
        val key = Option(k.group(1)).getOrElse(k.group(2)).toInt
        out(key) = Option(m.group(2)).map(unescape).getOrElse("")
      }
    }
    out.toMap
  }

  /** Strict variant for SKIP decisions: None if ANY `<namespace`
    * element lacks a parseable key — a partially-understood namespaces
    * block must not drive stream skipping (a missed entry would
    * misclassify its pages as main-ns and could drop a live stream). */
  def siteinfoNamespacesStrict(head: String): Option[Map[Int, String]] = {
    val m = NamespaceElem.matcher(head)
    val out = scala.collection.mutable.Map.empty[Int, String]
    while (m.find()) {
      val k = KeyAttr.matcher(m.group(1))
      if (!k.find()) return None
      val key = Option(k.group(1)).getOrElse(k.group(2)).toInt
      out(key) = Option(m.group(2)).map(unescape).getOrElse("")
    }
    Some(out.toMap)
  }

  /** Decode the five named XML entities plus numeric character refs. */
  def unescape(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val ent = s.substring(i + 1, semi)
          ent match {
            case "amp"  => out.append('&'); i = semi + 1
            case "lt"   => out.append('<'); i = semi + 1
            case "gt"   => out.append('>'); i = semi + 1
            case "quot" => out.append('"'); i = semi + 1
            case "apos" => out.append('\''); i = semi + 1
            // IllegalArgumentException also covers appendCodePoint on
            // out-of-range refs like &#1114112; (NumberFormatException
            // is its subclass) — fall back to a literal '&'
            case _ if ent.startsWith("#x") || ent.startsWith("#X") =>
              try { out.appendCodePoint(Integer.parseInt(ent.substring(2), 16)); i = semi + 1 }
              catch { case _: IllegalArgumentException => out.append(c); i += 1 }
            case _ if ent.startsWith("#") =>
              try { out.appendCodePoint(Integer.parseInt(ent.substring(1))); i = semi + 1 }
              catch { case _: IllegalArgumentException => out.append(c); i += 1 }
            case _ => out.append(c); i += 1
          }
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Byte-level entity unescape of [from, until) straight to a
    * `UTF8String` — the text-body twin of [[unescape]] with no char
    * decode. Entity-free regions (the overwhelming majority of bytes)
    * are a single `copyOfRange`. Semantics match the String form
    * byte-for-byte, including its fallbacks: an unmatched or malformed
    * entity keeps the literal `&` and continues; a numeric reference in
    * the surrogate range encodes as `?` (exactly what
    * `UTF8String.fromString` produces from the String path's
    * lone-surrogate output). */
  def unescapeToU8(b: Array[Byte], from: Int, until: Int): org.apache.spark.unsafe.types.UTF8String = {
    var amp = -1
    var i = from
    while (i < until && amp < 0) { if (b(i) == '&') amp = i else i += 1 }
    if (amp < 0)
      return org.apache.spark.unsafe.types.UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(b, from, until))
    val out = new java.io.ByteArrayOutputStream(until - from + 8)
    out.write(b, from, amp - from)
    i = amp
    while (i < until) {
      val c = b(i)
      if (c == '&') {
        // find ';' within 12 bytes (entity alphabet is ASCII, so byte
        // and char distances agree for every matchable entity)
        var semi = -1
        var k = i + 1
        val lim = math.min(until, i + 13)
        while (k < lim && semi < 0) { if (b(k) == ';') semi = k else k += 1 }
        var consumed = false
        if (semi > i) {
          val entLen = semi - i - 1
          @inline def is(s: String): Boolean = {
            if (entLen != s.length) false
            else {
              var j = 0
              var ok = true
              while (ok && j < entLen) { ok = b(i + 1 + j) == s.charAt(j); j += 1 }
              ok
            }
          }
          if (is("amp")) { out.write('&'); consumed = true }
          else if (is("lt")) { out.write('<'); consumed = true }
          else if (is("gt")) { out.write('>'); consumed = true }
          else if (is("quot")) { out.write('"'); consumed = true }
          else if (is("apos")) { out.write('\''); consumed = true }
          else if (entLen >= 1 && b(i + 1) == '#') {
            val hex = entLen >= 2 && (b(i + 2) == 'x' || b(i + 2) == 'X')
            val dFrom = i + (if (hex) 3 else 2)
            var cp = 0L
            var ok = dFrom < semi
            var j = dFrom
            while (ok && j < semi) {
              val d = b(j)
              val v =
                if (d >= '0' && d <= '9') d - '0'
                else if (hex && d >= 'a' && d <= 'f') d - 'a' + 10
                else if (hex && d >= 'A' && d <= 'F') d - 'A' + 10
                else -1
              if (v < 0) ok = false
              else { cp = cp * (if (hex) 16 else 10) + v; if (cp > 0x7fffffffL) ok = false }
              j += 1
            }
            if (ok && cp <= 0x10ffffL) { writeCodePoint(out, cp.toInt); consumed = true }
          }
          if (consumed) i = semi + 1
        }
        if (!consumed) { out.write('&'); i += 1 }
      } else { out.write(c); i += 1 }
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out.toByteArray)
  }

  private def writeCodePoint(out: java.io.ByteArrayOutputStream, cp: Int): Unit = {
    if (cp < 0x80) out.write(cp)
    else if (cp < 0x800) {
      out.write(0xc0 | (cp >> 6)); out.write(0x80 | (cp & 0x3f))
    } else if (cp >= 0xd800 && cp <= 0xdfff) {
      out.write('?') // lone surrogate: what fromString yields from the String path
    } else if (cp < 0x10000) {
      out.write(0xe0 | (cp >> 12)); out.write(0x80 | ((cp >> 6) & 0x3f)); out.write(0x80 | (cp & 0x3f))
    } else {
      out.write(0xf0 | (cp >> 18)); out.write(0x80 | ((cp >> 12) & 0x3f))
      out.write(0x80 | ((cp >> 6) & 0x3f)); out.write(0x80 | (cp & 0x3f))
    }
  }

  /** Find element `<tag ...>content</tag>` or `<tag ... />` at/after
    * `from`. Returns (attrs, content, indexAfterElement). */
  def element(s: String, tag: String, from: Int): Option[(String, String, Int)] = {
    var i = from
    val open = "<" + tag
    while (true) {
      val start = s.indexOf(open, i)
      if (start < 0) return None
      val afterName = start + open.length
      if (afterName >= s.length) return None
      val nc = s.charAt(afterName)
      if (nc == '>' || nc == ' ' || nc == '/' || nc == '\t' || nc == '\n') {
        val gt = s.indexOf('>', afterName)
        if (gt < 0) return None
        val attrs = s.substring(afterName, gt).trim
        if (attrs.endsWith("/")) {
          return Some((attrs.dropRight(1).trim, "", gt + 1))
        }
        val close = "</" + tag + ">"
        val end = s.indexOf(close, gt + 1)
        if (end < 0) return None
        return Some((attrs, s.substring(gt + 1, end), end + close.length))
      }
      i = afterName
    }
    None
  }

  /** Attribute lookup tolerant of either quote style and whitespace
    * around `=` — both legal XML (the r13 namespace-key parse was
    * generalized for the same reason; a single-quoted
    * `<text deleted='deleted'/>` previously read as NOT deleted, a
    * silent semantic skew). Scans attribute-by-attribute with quote
    * state, so the name can never match INSIDE a preceding attribute's
    * quoted value (values legally contain spaces, `=`, and the other
    * quote style, e.g. `alt="use title = 'x'" title="real"` —
    * ADVICE r13). */
  def attr(attrs: String, name: String): Option[String] = {
    val n = attrs.length
    var i = 0
    while (i < n) {
      while (i < n && Character.isWhitespace(attrs.charAt(i))) i += 1
      if (i >= n) return None
      val nameStart = i
      while (i < n && !Character.isWhitespace(attrs.charAt(i)) && attrs.charAt(i) != '=') i += 1
      val isTarget = i - nameStart == name.length &&
        attrs.regionMatches(nameStart, name, 0, name.length)
      while (i < n && Character.isWhitespace(attrs.charAt(i))) i += 1
      if (i < n && attrs.charAt(i) == '=') {
        i += 1
        while (i < n && Character.isWhitespace(attrs.charAt(i))) i += 1
        if (i < n && (attrs.charAt(i) == '"' || attrs.charAt(i) == '\'')) {
          val q = attrs.charAt(i)
          val end = attrs.indexOf(q, i + 1)
          if (end < 0) return None // unterminated quote: malformed, absent
          if (isTarget) return Some(unescape(attrs.substring(i + 1, end)))
          i = end + 1
        } else {
          if (isTarget) return None // name= without a quoted value: malformed
          // skip the unquoted token so scanning stays aligned
          while (i < n && !Character.isWhitespace(attrs.charAt(i))) i += 1
        }
      } else if (isTarget) {
        return None // bare name, no value: malformed, absent
      }
    }
    None
  }

  def tagText(s: String, tag: String, from: Int = 0): Option[String] =
    element(s, tag, from).map { case (_, c, _) => unescape(c) }

  private val isoFmt = java.time.format.DateTimeFormatter.ISO_INSTANT

  private val daysInMonth = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  /** Epoch micros from an ISO-8601 UTC timestamp. Fast path for the
    * dump format's fixed-width `YYYY-MM-DDTHH:MM:SSZ` (stack sampling
    * put `DateTimeFormatter.ISO_INSTANT` at ~4% of the whole 32-thread
    * ingest; this is a few digit reads + the standard days-from-civil
    * arithmetic, same proleptic-Gregorian result as `Instant.parse`
    * including full date validation). Anything else — fractional
    * seconds, offsets, malformed — falls through to the formatter. */
  def parseTimestampUs(iso: String): Option[Long] = {
    if (iso.length == 20 && iso.charAt(4) == '-' && iso.charAt(7) == '-' &&
        iso.charAt(10) == 'T' && iso.charAt(13) == ':' && iso.charAt(16) == ':' &&
        iso.charAt(19) == 'Z') {
      var ok = true
      def d(i: Int): Int = {
        val c = iso.charAt(i)
        if (c < '0' || c > '9') { ok = false; 0 } else c - '0'
      }
      val y = d(0) * 1000 + d(1) * 100 + d(2) * 10 + d(3)
      val mo = d(5) * 10 + d(6); val da = d(8) * 10 + d(9)
      val h = d(11) * 10 + d(12); val mi = d(14) * 10 + d(15); val se = d(17) * 10 + d(18)
      if (ok && mo >= 1 && mo <= 12 && h <= 23 && mi <= 59 && se <= 59) {
        val leap = (y % 4 == 0 && y % 100 != 0) || y % 400 == 0
        val dim = if (mo == 2 && leap) 29 else daysInMonth(mo - 1)
        if (da >= 1 && da <= dim) {
          // days-from-civil (proleptic Gregorian; the public-domain
          // era/yoe/doy form) — exact match for Instant.parse
          val yy = if (mo <= 2) y - 1 else y
          val era = (if (yy >= 0) yy else yy - 399) / 400
          val yoe = yy - era * 400
          val doy = (153 * (if (mo > 2) mo - 3 else mo + 9) + 2) / 5 + da - 1
          val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
          val days = era * 146097L + doe - 719468L
          return Some((days * 86400L + h * 3600L + mi * 60L + se) * 1000000L)
        }
      }
      // shape-matched but not fully validated here (e.g. ISO's 24:00
      // end-of-day, which Instant.parse ACCEPTS): defer to the
      // formatter rather than guess
    }
    try Some(java.time.Instant.from(isoFmt.parse(iso))).map(t => t.getEpochSecond * 1000000L + t.getNano / 1000L)
    catch { case _: Exception => None }
  }

  /** Parse a page header fragment: bytes from `<page>` up to (not
    * including) the first `<revision` (reference record layout,
    * `StreamWikiDumpInputFormat.java:42-121`). */
  def parsePageHeader(header: String): PageInfo = {
    val title = tagText(header, "title").getOrElse("")
    val ns = tagText(header, "ns").flatMap(v => v.trim.toIntOption)
    // page id: first <id> AFTER </title> (titles can't contain tags —
    // entity-escaped — so the first <id> in the header is the page id).
    val pageId = tagText(header, "id").flatMap(_.trim.toLongOption).getOrElse(-1L)
    val redirect = element(header, "redirect", 0).map { case (attrs, _, _) =>
      attr(attrs, "title").getOrElse("")
    }
    PageInfo(pageId, title, ns, redirect, header)
  }

  /** Parse one `<revision ...>...</revision>` fragment. `meta` gates
    * the optional metadata extractions: every disabled field skips its
    * substring search and per-field allocation — the nested-pruning
    * analog of the reference's F3 header/body projection
    * (`StreamWikiDumpInputFormat.java:412-420`), but at single-field
    * granularity.
    *
    * Metadata fields are searched in the fragment HEAD only (bytes
    * before `<text`): the export format is an XSD `sequence` placing
    * id/parentid/timestamp/contributor/minor/comment/model/format
    * before the text element (evidenced throughout the reference's
    * fixtures, e.g. `fileformat.rst` examples), and the body is
    * entity-escaped so a literal `<text` cannot occur inside it.
    * Without the bound, every ABSENT field (comment/model/format on
    * most revisions, `<minor/>` three ways) costs a full scan of the
    * text body — ~10KB of dead scanning per 2KB revision. Only `sha1`
    * (which follows the text element) is searched after it. */
  def parseRevision(rev: String, meta: RevMetaFields = RevMetaFields.All): Revision = {
    val textStart = rev.indexOf("<text")
    val head = if (textStart < 0) rev else rev.substring(0, textStart)
    val revId = tagText(head, "id").flatMap(_.trim.toLongOption).getOrElse(-1L)
    val parentId = tagText(head, "parentid").flatMap(_.trim.toLongOption)
    val ts = tagText(head, "timestamp").flatMap(parseTimestampUs)
    val contributor = if (!meta.contributor) None
    else element(head, "contributor", 0).map { case (attrs, content, _) =>
      if (attr(attrs, "deleted").contains("deleted"))
        Contributor(None, None, None, deleted = true)
      else Contributor(
        tagText(content, "id").flatMap(_.trim.toLongOption),
        tagText(content, "username"),
        tagText(content, "ip"),
        deleted = false)
    }
    val minor = meta.minor &&
      (head.contains("<minor/>") || head.contains("<minor />") || head.contains("<minor></minor>"))
    val comment = if (!meta.comment) None
    else element(head, "comment", 0).flatMap { case (attrs, content, _) =>
      if (attr(attrs, "deleted").contains("deleted")) None else Some(unescape(content))
    }
    val model = if (meta.model) tagText(head, "model") else None
    val format = if (meta.format) tagText(head, "format") else None
    val textEl = if (textStart < 0) None else element(rev, "text", textStart)
    val text = textEl.flatMap { case (attrs, content, _) =>
      if (attr(attrs, "deleted").contains("deleted")) None else Some(unescape(content))
    }
    val bytes = if (!meta.bytes) None
    else textEl.flatMap { case (attrs, _, _) => attr(attrs, "bytes").flatMap(_.toLongOption) }
    val sha1 = if (!meta.sha1) None
    else textEl match {
      case Some((_, _, after)) => tagText(rev, "sha1", after)
      case None => tagText(rev, "sha1", 0)
    }
    Revision(revId, parentId, ts, contributor, minor, comment, model, format,
      text.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
      sha1, bytes, None)
  }
}

/** Which optional revision-metadata fields a scan actually needs —
  * derived from the nested-pruned `prev`/`curr` struct schemas, so a
  * `curr.text`-only query pays zero metadata extraction. Identity,
  * ordering, and text fields (`rev_id`, `parent_id`, `timestamp`,
  * `text`) are not gated here: the first three are cheap scans of the
  * fragment head, and the text body is captured only when the reader's
  * `needText` (or raw mode) asks for it. Every field here, `sha1`
  * included, is read from the always-captured head and tail, so none
  * of them forces body capture. */
final case class RevMetaFields(contributor: Boolean, minor: Boolean,
    comment: Boolean, model: Boolean, format: Boolean,
    sha1: Boolean, bytes: Boolean)

object RevMetaFields {
  val All: RevMetaFields =
    RevMetaFields(contributor = true, minor = true, comment = true,
      model = true, format = true, sha1 = true, bytes = true)

  /** The fields any of the requested revision structs mention. */
  def fromStructs(structs: Seq[Set[String]]): RevMetaFields = {
    val want = structs.foldLeft(Set.empty[String])(_ ++ _)
    RevMetaFields(want("contributor"), want("minor"), want("comment"),
      want("model"), want("format"), want("sha1"), want("bytes"))
  }
}

object PageRecordIterator {
  private val PAGE_BEGIN = "<page>".getBytes(StandardCharsets.UTF_8)
  private val PAGE_END = "</page>".getBytes(StandardCharsets.UTF_8)
  private val REV_BEGIN = "<revision".getBytes(StandardCharsets.UTF_8)
  private val REV_END = "</revision>".getBytes(StandardCharsets.UTF_8)
  private val TEXT_BEGIN = "<text".getBytes(StandardCharsets.UTF_8)
  private val TEXT_END = "</text>".getBytes(StandardCharsets.UTF_8)
  private val GT = ">".getBytes(StandardCharsets.UTF_8)

  /** Growable capture buffer with zero-copy access to its backing
    * array — the byte path slices text bodies straight out of it. */
  private[sources] final class ExposedBuf(cap: Int) extends java.io.ByteArrayOutputStream(cap) {
    def buffer: Array[Byte] = buf
    def length: Int = count
  }

  /** The reference's dummy previous revision marking page starts
    * (`StreamWikiDumpInputFormat.java:301`) — compat-mode raw form. */
  val DummyPrevRaw = "<revision beginningofpage=\"true\"><text xml:space=\"preserve\"></text></revision>\n"
}

/** Iterator of [[RevisionPair]]s over one split of a dump stream.
  *
  * Ownership rule (fixes the reference's duplicate emission, Issue #1
  * per `README.rst:277-280`): a page belongs to this split iff the
  * ownership position of its `<page>` tag's first byte is in
  * [ownStart, ownEnd) when `exclusiveStart=false` (exact-offset mode) or
  * (ownStart, ownEnd] when `exclusiveStart=true` (block-compressed mode,
  * where positions only advance at compression-block boundaries and the
  * codec reports the same adjusted boundary to both neighboring splits).
  *
  * Memory bound: one revision's bytes at a time (plus the page header) —
  * the reference's key property for GB-scale pages (`README.rst:18-26`).
  */
final class PageRecordIterator(
    src: PosByteSource,
    ownStart: Long,
    ownEnd: Long,
    exclusiveStart: Boolean,
    excludePagesWith: Option[Pattern] = None,
    keepRaw: Boolean = false,
    titleFilter: Option[String => Boolean] = None,
    pageIdFilter: Option[Long => Boolean] = None,
    nsFilter: Option[Int => Boolean] = None,
    needText: Boolean = true,
    meta: RevMetaFields = RevMetaFields.All)
  extends Iterator[RevisionPair] with AutoCloseable {

  import PageRecordIterator._

  /** Task counters (the reference's FOUND_PAGES / WRITTEN_REVISIONS /
    * SKIPPED_PAGES, `StreamWikiDumpInputFormat.java:589-591`). */
  var pagesRead: Long = 0L
  var revisionsRead: Long = 0L
  var pagesSkipped: Long = 0L

  private val scanner = new StreamScanner(src)
  /** Reused capture buffer: one per iterator, `reset()` between
    * records (keeps the grown backing array), instead of a fresh
    * growing ByteArrayOutputStream per revision — the parse path is
    * allocation-bound at 32 threads, and the per-revision
    * 1KB→fragment-size growth copies were pure garbage. Safe to share
    * between header and revision capture: calls are strictly
    * sequential and only immutable Strings escape. */
  private val capBuf = new PageRecordIterator.ExposedBuf(1 << 16)
  private var page: PageInfo = _
  private var prev: Option[Revision] = None
  private var revSeqNo = 0
  private var inPage = false
  private var nextRec: RevisionPair = _
  private var done = false

  private def owned(p: Long): Boolean =
    if (exclusiveStart) p > ownStart && p <= ownEnd
    else p >= ownStart && p < ownEnd

  /** Advance to the next owned page; parse its header. Returns false at
    * end of this split's pages. */
  private def nextPage(): Boolean = {
    while (true) {
      if (scanner.readUntil(Array(PAGE_BEGIN), null) < 0) return false
      val pStart = scanner.matchStartPos
      if (!exclusiveStart && pStart >= ownEnd) return false
      if (owned(pStart)) {
        // capture header up to first <revision> or </page>
        val cap = capBuf
        cap.reset()
        val m = scanner.readUntil(Array(REV_BEGIN, PAGE_END), cap)
        if (m < 0) return false // truncated page: drop
        if (m == 1) {
          // revision-less page: emit nothing (reference emits per revision)
        } else {
          val header = "<page>" + new String(cap.buffer, 0, cap.length - REV_BEGIN.length, StandardCharsets.UTF_8)
          val excluded = excludePagesWith.exists(p => p.matcher(header).find())
          val parsed = if (excluded) null else XmlFields.parsePageHeader(header)
          val titleDrop = parsed != null && titleFilter.exists(f => !f(parsed.title))
          val idDrop = parsed != null && pageIdFilter.exists(f => !f(parsed.pageId))
          // absent <ns> = NULL ns: fails every pushed predicate
          val nsDrop = parsed != null && nsFilter.exists(f => !parsed.ns.exists(f))
          if (!excluded && !titleDrop && !idDrop && !nsDrop) {
            page = parsed
            prev = None
            revSeqNo = 0
            inPage = true
            pagesRead += 1
            return true
          } else {
            pagesSkipped += 1
            // skip the rest of this page (text is entity-escaped, so a
            // literal </page> cannot occur inside revision content)
            if (scanner.readUntil(Array(PAGE_END), null) < 0) return false
          }
        }
      } else if (exclusiveStart && pStart > ownEnd) {
        return false
      } else {
        // unowned page (before our start): skip it entirely
        if (scanner.readUntil(Array(PAGE_END), null) < 0) return false
      }
    }
    false
  }

  /** Read one revision; scanner is positioned just after `<revision`.
    *
    * One capture path for every mode: the head (`<revision` through the
    * `<text ...>` tag) and the tail (`</text>` through `</revision>`)
    * are always captured; the body between them only when `keepRaw` or
    * `needText` asks for it — otherwise it is scanned uncaptured (it is
    * typically >90% of the bytes) and a literal `</text>` stands in for
    * it. Field extraction parses head + tail as one empty-text fragment
    * (~200B of metadata, `sha1` included); a captured body is attached
    * by byte-level entity decode straight from the buffer (entity-free
    * bodies are one copyOfRange). Revisions with no `<text>` element or
    * a self-closing one are parsed whole. `raw` is the whole capture. */
  private def readRevision(): Option[Revision] = {
    val cap = capBuf
    cap.reset()
    // seed the buffer with the already-consumed "<revision" so the
    // fragment decodes without a concat
    cap.write(REV_BEGIN)
    val m = scanner.readUntil(Array(REV_END, TEXT_BEGIN), cap)
    if (m < 0) return None // truncated
    var gtEnd = -1 // end of an open (not self-closing) <text ...> tag
    var bodyEnd = -1
    if (m == 1) {
      if (scanner.readUntil(Array(GT), cap) < 0) return None
      if (cap.buffer(cap.length - 2) != '/') {
        gtEnd = cap.length
        val keepBody = keepRaw || needText
        if (scanner.readUntil(Array(TEXT_END), if (keepBody) cap else null) < 0) return None
        if (!keepBody) cap.write(TEXT_END)
        bodyEnd = cap.length - TEXT_END.length
      }
      if (scanner.readUntil(Array(REV_END), cap) < 0) return None
    }
    val buf = cap.buffer
    val size = cap.length
    val frag =
      if (gtEnd < 0) new String(buf, 0, size, StandardCharsets.UTF_8)
      else new String(buf, 0, gtEnd, StandardCharsets.UTF_8) +
        new String(buf, bodyEnd, size - bodyEnd, StandardCharsets.UTF_8)
    val parsed = XmlFields.parseRevision(frag, meta)
    // deleted text (textU8 null) and empty bodies keep the parsed value
    val withText =
      if (parsed.textU8 == null || bodyEnd <= gtEnd) parsed
      else parsed.copy(textU8 = XmlFields.unescapeToU8(buf, gtEnd, bodyEnd))
    Some(if (keepRaw) withText.copy(raw = Some(new String(buf, 0, size, StandardCharsets.UTF_8)))
      else withText)
  }

  private def advance(): Unit = {
    nextRec = null
    while (nextRec == null && !done) {
      if (!inPage) {
        if (!nextPage()) { done = true; return }
      }
      // positioned just after a matched <revision
      readRevision() match {
        case None => done = true; return
        case Some(curr) =>
          revisionsRead += 1
          nextRec = RevisionPair(page, revSeqNo, prev, curr)
          prev = Some(curr)
          revSeqNo += 1
          // find next revision or end of page
          val m = scanner.readUntil(Array(REV_BEGIN, PAGE_END), null)
          if (m == 1 || m < 0) inPage = false
      }
    }
  }

  advance()

  override def hasNext: Boolean = nextRec != null
  override def next(): RevisionPair = {
    val r = nextRec
    advance()
    r
  }
  override def close(): Unit = src.close()
}
