package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String

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

/** Field extraction for the regular, machine-generated MediaWiki
  * export format (schema per SURVEY §1.2; fields evidenced by the
  * reference's consumer `python/revision_differ.py:131-160`), straight
  * from a byte range of the reader's capture buffer. Tags, attribute
  * names and entities are ASCII, so byte search on UTF-8 is exact.
  * Numbers, timestamps and flags are read in place; only the string
  * fields a record emits go through the one entity decoder
  * [[unescapeToU8]]. */
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
  def siteinfoNamespacesFromHead(head: String): Map[Int, String] =
    namespaces(head, strict = false).get

  /** Strict variant for SKIP decisions: None if ANY `<namespace`
    * element lacks a parseable key — a partially-understood namespaces
    * block must not drive stream skipping (a missed entry would
    * misclassify its pages as main-ns and could drop a live stream). */
  def siteinfoNamespacesStrict(head: String): Option[Map[Int, String]] =
    namespaces(head, strict = true)

  private def namespaces(head: String, strict: Boolean): Option[Map[Int, String]] = {
    val m = NamespaceElem.matcher(head)
    val out = scala.collection.mutable.Map.empty[Int, String]
    while (m.find()) {
      val k = KeyAttr.matcher(m.group(1))
      if (k.find()) {
        val key = Option(k.group(1)).getOrElse(k.group(2)).toInt
        out(key) = Option(m.group(2)).fold("") { name =>
          val b = name.getBytes(StandardCharsets.UTF_8)
          unescapeToU8(b, 0, b.length).toString
        }
      } else if (strict) return None
    }
    Some(out.toMap)
  }

  /** Decode the five named XML entities and numeric character
    * references in b[from, until): the one entity decoder, for text
    * bodies, metadata fields, attribute values and siteinfo namespace
    * names (a String field is its output's `toString`). Each
    * entity-free run is one `System.arraycopy` into one output array
    * the size of the input: no entity's UTF-8 is longer than the entity
    * (`&#128;` is 6 B → 2 B, `&#65536;` 8 B → 4 B). An `&` that starts
    * no entity stays literal: an unknown name, no `;` within 12 bytes,
    * an empty or signed number (`&#+12;`, which StAX rejects too), or a
    * code point above U+10FFFF. A surrogate code point decodes as `?`,
    * what `UTF8String.fromString` makes of a lone surrogate. Entities
    * are ASCII, so on invalid UTF-8 decoding the output gives the same
    * String as decoding the input first. */
  def unescapeToU8(b: Array[Byte], from: Int, until: Int): UTF8String = {
    var amp = indexOf(b, from, until, '&')
    if (amp < 0) return UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, from, until))
    val out = new Array[Byte](until - from)
    var o = 0
    var run = from // start of the entity-free run not yet copied
    while (amp >= 0) {
      var semi = -1
      var k = amp + 1
      val lim = math.min(until, amp + 13)
      while (k < lim && semi < 0) { if (b(k) == ';') semi = k else k += 1 }
      val cp = if (semi < 0) -1 else entityCodePoint(b, amp + 1, semi)
      if (cp >= 0) {
        System.arraycopy(b, run, out, o, amp - run)
        o = putUtf8(out, o + amp - run, cp)
        run = semi + 1
        amp = indexOf(b, run, until, '&')
      } else amp = indexOf(b, amp + 1, until, '&') // literal '&': stays in the run
    }
    System.arraycopy(b, run, out, o, until - run)
    UTF8String.fromBytes(out, 0, o + until - run)
  }

  /** Code point of the entity named by b[from, until) (between `&` and
    * `;`), or -1 when it is none of the five names and no unsigned
    * decimal or `x`-hex reference up to U+10FFFF. */
  private def entityCodePoint(b: Array[Byte], from: Int, until: Int): Int = {
    val n = until - from
    if (n >= 1 && b(from) == '#') {
      val hex = n >= 2 && (b(from + 1) == 'x' || b(from + 1) == 'X')
      var i = from + (if (hex) 2 else 1)
      if (i == until) return -1
      var cp = 0
      val radix = if (hex) 16 else 10
      while (i < until) {
        val v = Character.digit((b(i) & 0xff).toChar, radix) // no non-ASCII Latin-1 digit
        if (v < 0) return -1
        cp = cp * radix + v
        if (cp > 0x10ffff) return -1
        i += 1
      }
      cp
    } else if (n == 3 && at(b, from, until, "amp")) '&'
    else if (n == 2 && at(b, from, until, "lt")) '<'
    else if (n == 2 && at(b, from, until, "gt")) '>'
    else if (n == 4 && at(b, from, until, "quot")) '"'
    else if (n == 4 && at(b, from, until, "apos")) '\''
    else -1
  }

  /** Write `cp` as UTF-8 at out(o) (a surrogate as `?`); returns the
    * index after it. */
  private def putUtf8(out: Array[Byte], o: Int, cp: Int): Int = {
    if (cp < 0x80 || (cp >= 0xd800 && cp <= 0xdfff)) { out(o) = (if (cp < 0x80) cp else '?').toByte; return o + 1 }
    val n = if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
    var c = cp
    var k = n - 1
    while (k > 0) { out(o + k) = (0x80 | (c & 0x3f)).toByte; c >>= 6; k -= 1 }
    out(o) = ((0xff00 >> n) | c).toByte // lead byte: n one-bits, a zero, the top bits
    o + n
  }

  private def decode(b: Array[Byte], from: Int, until: Int): String =
    unescapeToU8(b, from, until).toString

  /** Whether b[i, until) starts with the ASCII string `s`. */
  private def at(b: Array[Byte], i: Int, until: Int, s: String): Boolean = {
    if (until - i < s.length) return false
    var j = 0
    while (j < s.length && b(i + j) == s.charAt(j)) j += 1
    j == s.length
  }

  private def indexOf(b: Array[Byte], from: Int, until: Int, c: Char): Int = {
    var i = from
    while (i < until && b(i) != c) i += 1
    if (i < until) i else -1
  }

  private def indexOf(b: Array[Byte], from: Int, until: Int, s: String): Int = {
    var i = indexOf(b, from, until, s.charAt(0))
    while (i >= 0 && !at(b, i, until, s)) i = indexOf(b, i + 1, until, s.charAt(0))
    i
  }

  /** `String.trim`'s whitespace, U+0000 to U+0020 (no byte of a
    * multibyte sequence is below 0x80); also the attribute separator,
    * a superset of XML's space, tab, CR and LF. */
  private def blank(c: Byte): Boolean = (c & 0xff) <= ' '

  /** One element's byte ranges: the attribute list [attrFrom,
    * attrUntil), without a self-closing `/`; the raw content
    * [contentFrom, contentUntil), empty when self-closing; and `after`,
    * the index just past the element. */
  private final class Elem(val attrFrom: Int, val attrUntil: Int,
      val contentFrom: Int, val contentUntil: Int, val after: Int)

  /** The first element `<tag ...>content</tag>` or `<tag .../>` in
    * b[from, until), or null. The name must end at `>`, `/`, a space, a
    * tab or a newline, so `<id` never matches `<idx>`; the open tag
    * ends at its first `>` and the content at the first `</tag>`. */
  private def element(b: Array[Byte], from: Int, until: Int, tag: String): Elem = {
    var i = indexOf(b, from, until, '<')
    while (i >= 0) {
      if (at(b, i + 1, until, tag)) {
        val afterName = i + 1 + tag.length
        if (afterName >= until) return null
        val nc = b(afterName)
        if (nc == '>' || nc == ' ' || nc == '/' || nc == '\t' || nc == '\n') {
          val gt = indexOf(b, afterName, until, '>')
          if (gt < 0) return null
          var last = gt - 1
          while (last >= afterName && blank(b(last))) last -= 1
          if (last >= afterName && b(last) == '/') return new Elem(afterName, last, gt + 1, gt + 1, gt + 1)
          var end = indexOf(b, gt + 1, until, "</")
          while (end >= 0 && !(at(b, end + 2, until, tag) && at(b, end + 2 + tag.length, until, ">")))
            end = indexOf(b, end + 1, until, "</")
          if (end < 0) return null
          return new Elem(afterName, gt, gt + 1, end, end + tag.length + 3)
        }
      }
      i = indexOf(b, i + 1, until, '<')
    }
    null
  }

  /** Raw value range of attribute `name` in the attribute list
    * b[from, until) as `start << 32 | end`; -1 when absent or malformed
    * (no `=`, no quoted value, an unterminated quote). Both quote
    * styles and whitespace around `=` are legal XML and accepted (a
    * single-quoted `<text deleted='deleted'/>` once read as NOT
    * deleted). The scan keeps quote state attribute by attribute, so
    * the name never matches INSIDE a preceding quoted value, e.g.
    * `alt="use title = 'x'" title="real"` (ADVICE r13). */
  private def attrRange(b: Array[Byte], from: Int, until: Int, name: String): Long = {
    var i = from
    while (i < until) {
      while (i < until && blank(b(i))) i += 1
      if (i >= until) return -1L
      val nameStart = i
      while (i < until && !blank(b(i)) && b(i) != '=') i += 1
      val isTarget = i - nameStart == name.length && at(b, nameStart, until, name)
      while (i < until && blank(b(i))) i += 1
      if (i < until && b(i) == '=') {
        i += 1
        while (i < until && blank(b(i))) i += 1
        if (i < until && (b(i) == '"' || b(i) == '\'')) {
          val end = indexOf(b, i + 1, until, b(i).toChar)
          if (end < 0) return -1L
          if (isTarget) return (i + 1).toLong << 32 | end
          i = end + 1
        } else {
          if (isTarget) return -1L
          // skip the unquoted token so scanning stays aligned
          while (i < until && !blank(b(i))) i += 1
        }
      } else if (isTarget) return -1L
    }
    -1L
  }

  /** Decoded value of attribute `name` in the attribute list
    * b[from, until) (see [[attrRange]] for what counts as present). */
  def attr(b: Array[Byte], from: Int, until: Int, name: String): Option[String] = {
    val r = attrRange(b, from, until, name)
    if (r < 0) None else Some(decode(b, (r >>> 32).toInt, r.toInt))
  }

  private val Deleted = UTF8String.fromString("deleted")

  /** Whether the element carries `deleted="deleted"`, compared as bytes. */
  private def deleted(b: Array[Byte], e: Elem): Boolean = {
    val r = attrRange(b, e.attrFrom, e.attrUntil, "deleted")
    r >= 0 && unescapeToU8(b, (r >>> 32).toInt, r.toInt) == Deleted
  }

  /** Decoded content of the first `tag` element in b[from, until). */
  private def text(b: Array[Byte], from: Int, until: Int, tag: String): Option[String] = {
    val e = element(b, from, until, tag)
    if (e == null) None else Some(decode(b, e.contentFrom, e.contentUntil))
  }

  /** A decimal integer as `toLongOption` reads the decoded text
    * (trimmed first when `trim`). An optional sign and up to 18 ASCII
    * digits, every id in a dump, are read in place; anything else
    * (an entity, more digits, not a number) is decoded for
    * `toLongOption`. */
  private def long(b: Array[Byte], from: Int, until: Int, trim: Boolean): Option[Long] = {
    var i = from
    var end = until
    if (trim) {
      while (i < end && blank(b(i))) i += 1
      while (end > i && blank(b(end - 1))) end -= 1
    }
    val digits = if (i < end && (b(i) == '-' || b(i) == '+')) i + 1 else i
    var j = digits
    var v = 0L
    while (j < end && j - digits < 18 && b(j) >= '0' && b(j) <= '9') { v = v * 10 + (b(j) - '0'); j += 1 }
    if (j == end && j > digits) Some(if (b(i) == '-') -v else v)
    else { val s = decode(b, i, end); (if (trim) s.trim else s).toLongOption }
  }

  /** Trimmed integer content of the first `tag` element in b[from, until). */
  private def longElem(b: Array[Byte], from: Int, until: Int, tag: String): Option[Long] = {
    val e = element(b, from, until, tag)
    if (e == null) None else long(b, e.contentFrom, e.contentUntil, trim = true)
  }

  private val isoFmt = java.time.format.DateTimeFormatter.ISO_INSTANT

  private val daysInMonth = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  /** Epoch micros from the ISO-8601 UTC timestamp in b[from, until).
    * Fast path for the dump format's fixed-width `YYYY-MM-DDTHH:MM:SSZ`
    * in place (stack sampling put `DateTimeFormatter.ISO_INSTANT` at
    * ~4% of the whole 32-thread ingest; this is a few digit reads + the
    * standard days-from-civil arithmetic, same proleptic-Gregorian
    * result as `Instant.parse` including full date validation).
    * Anything else — fractional seconds, offsets, entities, malformed —
    * is decoded to a String for the formatter. */
  def parseTimestampUs(b: Array[Byte], from: Int, until: Int): Option[Long] = {
    if (until - from == 20 && b(from + 4) == '-' && b(from + 7) == '-' &&
        b(from + 10) == 'T' && b(from + 13) == ':' && b(from + 16) == ':' &&
        b(from + 19) == 'Z') {
      var ok = true
      def d(i: Int): Int = {
        val c = b(from + i)
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
    try Some(java.time.Instant.from(isoFmt.parse(decode(b, from, until))))
      .map(t => t.getEpochSecond * 1000000L + t.getNano / 1000L)
    catch { case _: Exception => None }
  }

  /** Parse a page header: b[from, until) runs from `<page>` up to (not
    * including) the first `<revision` (reference record layout,
    * `StreamWikiDumpInputFormat.java:42-121`). `headerRaw` is that
    * range decoded. */
  def parsePageHeader(b: Array[Byte], from: Int, until: Int): PageInfo = {
    val title = text(b, from, until, "title").getOrElse("")
    val ns = longElem(b, from, until, "ns").filter(v => v.toInt == v).map(_.toInt)
    // page id: first <id> AFTER </title> (titles can't contain tags —
    // entity-escaped — so the first <id> in the header is the page id).
    val pageId = longElem(b, from, until, "id").getOrElse(-1L)
    val re = element(b, from, until, "redirect")
    val redirect = if (re == null) None
      else Some(attr(b, re.attrFrom, re.attrUntil, "title").getOrElse(""))
    PageInfo(pageId, title, ns, redirect, new String(b, from, until - from, StandardCharsets.UTF_8))
  }

  /** Parse one revision from b[from, until), `<revision` through
    * `</revision>`; its `<text>` body is empty when the reader did not
    * capture it. `meta` gates the optional metadata fields: a disabled
    * one skips its search and decode — the nested-pruning analog of
    * the reference's F3 header/body projection
    * (`StreamWikiDumpInputFormat.java:412-420`), per field.
    *
    * Metadata is searched in the HEAD only (bytes before `<text`): the
    * export format's XSD `sequence` puts id, parentid, timestamp,
    * contributor, minor, comment, model and format before the text
    * element (e.g. the reference's `fileformat.rst` examples), and the
    * entity-escaped body cannot hold a literal `<text`. So an ABSENT
    * field never scans the body; only `sha1`, which follows the text
    * element, is searched after it. A deleted text is a null `textU8`. */
  def parseRevision(b: Array[Byte], from: Int, until: Int,
      meta: RevMetaFields = RevMetaFields.All): Revision = {
    val textStart = indexOf(b, from, until, "<text")
    val head = if (textStart < 0) until else textStart
    val revId = longElem(b, from, head, "id").getOrElse(-1L)
    val parentId = longElem(b, from, head, "parentid")
    val tsEl = element(b, from, head, "timestamp")
    val ts = if (tsEl == null) None else parseTimestampUs(b, tsEl.contentFrom, tsEl.contentUntil)
    val contributor = if (!meta.contributor) None else {
      val c = element(b, from, head, "contributor")
      if (c == null) None
      else if (deleted(b, c)) Some(Contributor(None, None, None, deleted = true))
      else Some(Contributor(
        longElem(b, c.contentFrom, c.contentUntil, "id"),
        text(b, c.contentFrom, c.contentUntil, "username"),
        text(b, c.contentFrom, c.contentUntil, "ip"),
        deleted = false))
    }
    val minor = meta.minor && (indexOf(b, from, head, "<minor/>") >= 0 ||
      indexOf(b, from, head, "<minor />") >= 0 || indexOf(b, from, head, "<minor></minor>") >= 0)
    val comment = if (!meta.comment) None else {
      val c = element(b, from, head, "comment")
      if (c == null || deleted(b, c)) None else Some(decode(b, c.contentFrom, c.contentUntil))
    }
    val model = if (meta.model) text(b, from, head, "model") else None
    val format = if (meta.format) text(b, from, head, "format") else None
    val t = if (textStart < 0) null else element(b, textStart, until, "text")
    val textU8 =
      if (t == null || deleted(b, t)) null else unescapeToU8(b, t.contentFrom, t.contentUntil)
    val bytes = if (!meta.bytes || t == null) None else {
      val r = attrRange(b, t.attrFrom, t.attrUntil, "bytes")
      if (r < 0) None else long(b, (r >>> 32).toInt, r.toInt, trim = false)
    }
    val sha1 = if (!meta.sha1) None
      else text(b, if (t == null) from else t.after, until, "sha1")
    Revision(revId, parentId, ts, contributor, minor, comment, model, format,
      textU8, sha1, bytes, None)
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
    * array — every field is parsed straight out of it. */
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
    * sequential and only decoded copies escape. */
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
        // capture "<page>" and the header up to the first <revision> or </page>
        val cap = capBuf
        cap.reset()
        cap.write(PAGE_BEGIN)
        val m = scanner.readUntil(Array(REV_BEGIN, PAGE_END), cap)
        if (m < 0) return false // truncated page: drop
        if (m == 0) { // a revision-less page (m == 1) emits nothing, as in the reference
          val parsed = XmlFields.parsePageHeader(cap.buffer, 0, cap.length - REV_BEGIN.length)
          // absent <ns> = NULL ns: fails every pushed predicate
          val keep = !excludePagesWith.exists(_.matcher(parsed.headerRaw).find()) &&
            titleFilter.forall(_(parsed.title)) && pageIdFilter.forall(_(parsed.pageId)) &&
            nsFilter.forall(f => parsed.ns.exists(f))
          if (keep) {
            page = parsed
            prev = None
            revSeqNo = 0
            inPage = true
            pagesRead += 1
            return true
          }
          pagesSkipped += 1
          // skip the rest of this page (text is entity-escaped, so a
          // literal </page> cannot occur inside revision content)
          if (scanner.readUntil(Array(PAGE_END), null) < 0) return false
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
    * it, so the text reads as empty. Every field is then parsed from
    * the capture buffer in place ([[XmlFields.parseRevision]]); the
    * body, when captured, is decoded straight from it. `raw` is the
    * whole capture. */
  private def readRevision(): Option[Revision] = {
    val cap = capBuf
    cap.reset()
    // seed the buffer with the already-consumed "<revision" so the
    // capture is the whole element
    cap.write(REV_BEGIN)
    val m = scanner.readUntil(Array(REV_END, TEXT_BEGIN), cap)
    if (m < 0) return None // truncated
    if (m == 1) {
      if (scanner.readUntil(Array(GT), cap) < 0) return None
      if (cap.buffer(cap.length - 2) != '/') { // an open, not self-closing, <text ...>
        val keepBody = keepRaw || needText
        if (scanner.readUntil(Array(TEXT_END), if (keepBody) cap else null) < 0) return None
        if (!keepBody) cap.write(TEXT_END)
      }
      if (scanner.readUntil(Array(REV_END), cap) < 0) return None
    }
    val parsed = XmlFields.parseRevision(cap.buffer, 0, cap.length, meta)
    Some(if (keepRaw) parsed.copy(raw = Some(new String(cap.buffer, 0, cap.length, StandardCharsets.UTF_8)))
      else parsed)
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
