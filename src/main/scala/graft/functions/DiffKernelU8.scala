package graft.functions

import scala.collection.mutable

import org.apache.spark.unsafe.types.UTF8String

/** One diff operation: `action` ∈ {-1 remove, +1 add}; `position` is the
  * running offset that advances by `content.length` (UTF-16 units) for
  * equal and add ops (reference semantics: `python/revision_differ.py:78-84`).
  * The row shape of the typed diffdb facade (`MediaWiki.DiffRow`). */
case class DiffOp(position: Int, action: Int, content: String)

/** One diff operation over UTF-8 byte content. `position` counts
  * UTF-16 units, exactly [[DiffOp]]'s `content.length` accounting. */
case class DiffOpU8(position: Int, action: Int, content: UTF8String)

/** The token-level text diff kernel — the Spark-native re-expression of
  * the reference's differ (`python/revision_differ.py:30-84`): wikitext
  * tokenization, token interning, and a Myers O(ND) diff ([[Myers]]),
  * all directly over UTF-8 bytes (`UTF8String`) with no intermediate
  * `java.lang.String`. Every diff in the engine runs here:
  * `wiki_diff_safe` (the diffdb column), `wiki_diff`, `wiki_tokenize`
  * and `wiki_edit_distance`.
  *
  * Token classes and their leftmost-first alternation order are the
  * reference's (`python/revision_differ.py:30-50`), including its quirks
  * (the `{{{`/`}}}` branches are dead because `{{`/`}}` precede them);
  * all class-defining characters are ASCII, so byte comparison is exact.
  * A differential spec (DiffKernelU8Spec) pins tokens, op content and
  * positions to a String kernel that runs the reference's regex. One
  * deliberate divergence from a UTF-16 scanner: a supplementary
  * character (4-byte UTF-8 sequence) is ONE token here, not two
  * surrogate-half tokens, so op content is always whole code points.
  * Positions count UTF-16 units either way.
  *
  * The diff runs over `Int` token ids, not hashed UTF-16 chars, removing
  * the reference's 65,535-distinct-token cap (`unichr` in
  * `revision_differ.py:52-63`) with no behavior change below the cap.
  */
object DiffKernelU8 {

  @inline private def isWordByte(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  // byte-class table for the scanner's hot loop: 1 = ASCII word byte,
  // 2 = special with lookahead (handled by the branch chain), 0 = plain
  // single-byte token, 3 = multibyte lead/continuation. One load+compare
  // replaces the 4-comparison isWordByte in the word-run inner loop —
  // word runs dominate wikitext.
  private val CLS: Array[Byte] = {
    val t = new Array[Byte](256)
    var i = 0
    while (i < 128) {
      val c = i.toChar
      t(i) =
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_') 1
        else if (c == '[' || c == ']' || c == '{' || c == '}' || c == '\n' || c == ' ' ||
                 c == '&' || c == '\'' || c == '=' || c == '|') 2
        else 0
      i += 1
    }
    while (i < 256) { t(i) = 3; i += 1 }
    t
  }

  /** Token boundary scanner over UTF-8 bytes [from, until): flat
    * (start, end) pairs, every token a contiguous region. (Allocating
    * wrapper over [[tokenBoundsInto]] — the hot path reuses per-thread
    * buffers.) */
  private[graft] def tokenBounds(b: Array[Byte], from: Int, until: Int): Array[Int] = {
    val (buf, n) = tokenBoundsInto(b, from, until, new Array[Int](16))
    java.util.Arrays.copyOf(buf, n)
  }

  /** Fill (start, end) pairs into `buf0` (grown as needed); returns
    * (buffer, filled length). No final copy — the stack-sampled
    * `ArrayBuilder.mkArray` tax was ~7% of the diff loop. */
  private def tokenBoundsInto(b: Array[Byte], from: Int, until: Int,
                              buf0: Array[Int]): (Array[Int], Int) = {
    var out = buf0
    var n = 0
    @inline def push(v: Int): Unit = {
      if (n == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
      out(n) = v; n += 1
    }
    val cls = CLS
    var i = from
    while (i < until) {
      val c = b(i)
      var j = i + 1
      val cl = cls(c & 0xff)
      if (cl == 1) {
        while (j < until && cls(b(j) & 0xff) == 1) j += 1
      } else if (cl == 0) {
        // plain single-byte token: no lookahead
      } else if (c == '[') {
        if (j < until && b(j) == '[') j += 1
      } else if (c == ']') {
        if (j < until && b(j) == ']') j += 1
      } else if (c == '{') {
        if (j < until && (b(j) == '{' || b(j) == '|')) j += 1
      } else if (c == '}') {
        if (j < until && b(j) == '}') j += 1
      } else if (c == '\n') {
        while (j < until && b(j) == '\n') j += 1
      } else if (c == ' ') {
        while (j < until && b(j) == ' ') j += 1
      } else if (c == '&') {
        var k = j
        while (k < until && isWordByte(b(k))) k += 1
        if (k > j && k < until && b(k) == ';') j = k + 1
      } else if (c == '\'') {
        if (j + 1 < until && b(j) == '\'' && b(j + 1) == '\'') j += 2
        else if (j < until && b(j) == '\'') j += 1
      } else if (c == '=') {
        while (j < until && b(j) == '=') j += 1
      } else if (c == '|') {
        if (j < until && (b(j) == '}' || b(j) == '-')) j += 1
      } else if ((c & 0x80) != 0) {
        // multibyte UTF-8 sequence: one token per code point (group the
        // continuation bytes; see the astral-plane note in the Scaladoc)
        while (j < until && (b(j) & 0xc0) == 0x80) j += 1
      }
      push(i); push(j)
      i = j
    }
    (out, n)
  }

  /** Tokens of `text` as owned `UTF8String`s; NULL tokenizes as "". */
  def tokenize(text: UTF8String): Array[UTF8String] = {
    if (text == null) return Array.empty
    val b = text.getBytes
    val bounds = tokenBounds(b, 0, b.length)
    Array.tabulate(bounds.length / 2)(k =>
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, bounds(2 * k), bounds(2 * k + 1))))
  }

  /** UTF-16 length of a UTF-8 byte region: one unit per non-continuation
    * byte, plus one extra unit per 4-byte lead (surrogate pair). */
  private def utf16Len(b: Array[Byte], from: Int, until: Int): Int = {
    var n = 0
    var i = from
    while (i < until) {
      val c = b(i) & 0xff
      if ((c & 0xc0) != 0x80) n += (if (c >= 0xf0) 2 else 1)
      i += 1
    }
    n
  }

  /** Open-addressing byte-region interner shared by both texts (the
    * reference shares its dict the same way, `revision_differ.py:68-70`),
    * keyed by a region hash so lookups compare in place: a token
    * allocates its byte copy only the first time it is seen. Full hashes
    * sit beside the slot ids so a probe chain skips mismatched entries
    * without a byte compare; UTF-16 lengths are cached per token for the
    * position accounting. */
  private[graft] final class InternerU8 {
    val tokens = mutable.ArrayBuffer.empty[Array[Byte]]
    private var lens16 = new Array[Int](256)
    private var mask = (1 << 12) - 1
    private var ids = Array.fill(mask + 1)(-1)
    private var hashes = new Array[Int](mask + 1)

    def len16(id: Int): Int = lens16(id)
    def size: Int = tokens.length

    private def regionHash(b: Array[Byte], from: Int, until: Int): Int = {
      var h = 0
      var i = from
      while (i < until) { h = h * 31 + b(i); i += 1 }
      h
    }

    private def eqRegion(tok: Array[Byte], b: Array[Byte], from: Int, until: Int): Boolean = {
      if (tok.length != until - from) return false
      var i = 0
      while (i < tok.length) {
        if (tok(i) != b(from + i)) return false
        i += 1
      }
      true
    }

    private def grow(): Unit = {
      val old = ids
      val oldHashes = hashes
      mask = mask * 2 + 1
      ids = Array.fill(mask + 1)(-1)
      hashes = new Array[Int](mask + 1)
      var slot = 0
      while (slot < old.length) {
        val id = old(slot)
        if (id >= 0) {
          val h = oldHashes(slot)
          var idx = (h & 0x7fffffff) & mask
          while (ids(idx) >= 0) idx = (idx + 1) & mask
          ids(idx) = id
          hashes(idx) = h
        }
        slot += 1
      }
    }

    def internRegion(b: Array[Byte], from: Int, until: Int): Int = {
      val h = regionHash(b, from, until)
      var idx = (h & 0x7fffffff) & mask
      while (true) {
        val id = ids(idx)
        if (id < 0) {
          val t = java.util.Arrays.copyOfRange(b, from, until)
          val newId = tokens.length
          tokens += t
          if (newId >= lens16.length) lens16 = java.util.Arrays.copyOf(lens16, lens16.length * 2)
          lens16(newId) = utf16Len(b, from, until)
          ids(idx) = newId
          hashes(idx) = h
          if (tokens.length * 10 >= (mask + 1) * 7) grow()
          return newId
        }
        if (hashes(idx) == h && eqRegion(tokens(id), b, from, until)) return id
        idx = (idx + 1) & mask
      }
      -1 // unreachable
    }
  }

  /** Per-thread context: persistent interner + one-entry memo of the
    * last tokenized text. In the ingest pipeline each revision text
    * arrives twice — as `curr` of one row, then `prev` of the next — and
    * the reader shares ONE `UTF8String` object between the two rows, so
    * the memo usually hits on reference identity; an UnsafeRow copy
    * downstream still hits via `UTF8String.equals` (memcmp). Sharing the
    * interner across calls is behavior-neutral — diff output depends
    * only on id-equality ⇔ token-byte equality, which any interner
    * preserves — and the context resets once the dictionary tops
    * `MaxDictTokens`, bounding memory on long-lived executor threads. */
  private final class Ctx {
    var interner = new InternerU8
    // The memo key is ALWAYS the owned copy `lastStr`: a foreign
    // UTF8String (UnsafeRow, column vector) points into a REUSED
    // buffer, so neither content-comparing a retained caller reference
    // nor trusting its object identity is sound — once the next row
    // overwrites the buffer with same-length fields, a retained-ref
    // equals() compares the new text against ITSELF, and a recycled
    // wrapper object would make even `eq` lie (the r8 bug class,
    // caught by q143's planted pairs through a broadcast join).
    // Identity (`eq`) is trusted only against `lastStr` itself — an
    // object this kernel created and never mutates; every other hit
    // must pay the memcmp against the owned bytes (~0.3% of a
    // revision's tokenize cost; measured irrelevant to ingest).
    private var lastStr: UTF8String = null
    private var lastBytes: Array[Byte] = null
    private var lastBounds: Array[Int] = new Array[Int](256)
    private var lastIds: Array[Int] = null
    // ping-pong spare: tokenBoundsInto fills the buffer NOT referenced
    // by lastBounds, so the memo keeps the previous text's bounds alive
    // with zero per-text bounds allocation
    private var spare: Array[Int] = new Array[Int](256)

    def reset(): Unit = {
      interner = new InternerU8
      lastStr = null; lastBytes = null; lastIds = null
    }

    def ids(u: UTF8String): Array[Int] = {
      if (lastIds != null && ((u eq lastStr) || u.equals(lastStr))) return lastIds
      val g = u.getBytes
      // getBytes returns the BACKING array (not a copy) when the
      // string exactly spans it — own the bytes unconditionally so
      // lastBytes/lastStr can never alias caller-reused memory
      val b = if (g.asInstanceOf[AnyRef] eq u.getBaseObject) java.util.Arrays.copyOf(g, g.length) else g
      val (buf, bn) = tokenBoundsInto(b, 0, b.length, spare)
      val out =
        if (lastBytes == null || lastIds == null) internRange(b, buf, 0, bn / 2, null, 0)
        else sharedIntern(b, buf, bn / 2)
      spare = if (buf eq lastBounds) new Array[Int](buf.length) else lastBounds
      lastStr = UTF8String.fromBytes(b); lastBytes = b
      lastBounds = buf; lastIds = out
      out
    }

    /** Reuse the previous text's ids for the common token
      * prefix/suffix; only the edit region touches the dictionary. */
    private def sharedIntern(b: Array[Byte], bounds: Array[Int], n: Int): Array[Int] = {
      val pB = lastBytes
      val pBounds = lastBounds
      val pIds = lastIds
      val pn = pIds.length
      val maxCommon = math.min(n, pn)
      var k = 0
      while (k < maxCommon && regionEq(pB, pBounds(2 * k), pBounds(2 * k + 1),
          b, bounds(2 * k), bounds(2 * k + 1))) k += 1
      var s = 0
      val maxS = maxCommon - k
      while (s < maxS && regionEq(
          pB, pBounds(2 * (pn - 1 - s)), pBounds(2 * (pn - 1 - s) + 1),
          b, bounds(2 * (n - 1 - s)), bounds(2 * (n - 1 - s) + 1))) s += 1
      val out = new Array[Int](n)
      System.arraycopy(pIds, 0, out, 0, k)
      var j = 0
      while (j < s) { out(n - 1 - j) = pIds(pn - 1 - j); j += 1 }
      internRange(b, bounds, k, n - s, out, k)
      out
    }

    private def regionEq(a: Array[Byte], aFrom: Int, aUntil: Int,
                         b: Array[Byte], bFrom: Int, bUntil: Int): Boolean = {
      val len = aUntil - aFrom
      if (len != bUntil - bFrom) return false
      var i = 0
      while (i < len) {
        if (a(aFrom + i) != b(bFrom + i)) return false
        i += 1
      }
      true
    }

    private def internRange(b: Array[Byte], bounds: Array[Int], from: Int, until: Int,
                            out0: Array[Int], outAt: Int): Array[Int] = {
      val out = if (out0 != null) out0 else new Array[Int](until - from)
      var k = from
      var o = outAt
      while (k < until) {
        out(o) = interner.internRegion(b, bounds(2 * k), bounds(2 * k + 1))
        k += 1; o += 1
      }
      out
    }
  }

  private val MaxDictTokens = 1 << 20

  private val contexts = new ThreadLocal[Ctx] {
    override def initialValue(): Ctx = new Ctx
  }

  private val EMPTY = UTF8String.EMPTY_UTF8

  /** Full byte-native pipeline: tokenize, intern, diff, emit ops with
    * the reference's position accounting (`revision_differ.py:78-84`).
    * Content is built by concatenating token byte regions — no charset
    * transcoding anywhere. */
  def diffOps(oldText: UTF8String, newText: UTF8String,
              reportRemove: Boolean = true, reportAdd: Boolean = true,
              reportEqual: Boolean = false): Array[DiffOpU8] = {
    val ctx = contexts.get()
    if (ctx.interner.size > MaxDictTokens) ctx.reset()
    val interner = ctx.interner
    val aIds = ctx.ids(if (oldText == null) EMPTY else oldText)
    val bIds = ctx.ids(if (newText == null) EMPTY else newText)
    val runs = Myers.computeRuns(aIds, bIds)
    val acts = runs.acts
    val los = runs.los
    val his = runs.his
    val out = mutable.ArrayBuffer.empty[DiffOpU8]
    var position = 0

    // pending run indices per kind as raw int vectors: a generic
    // ArrayBuffer[Int] boxes every element and its foreach is a
    // megamorphic closure dispatch — both showed in stack samples
    var del = new Array[Int](8); var delN = 0
    var ins = new Array[Int](8); var insN = 0
    var eqs = new Array[Int](8); var eqsN = 0
    @inline def pushRun(v: Array[Int], n: Int, r: Int): Array[Int] = {
      val a = if (n == v.length) java.util.Arrays.copyOf(v, n * 2) else v
      a(n) = r; a
    }
    // byte length of the pending runs, then one exact-size array fill
    def build(rs: Array[Int], rn: Int, src: Array[Int]): UTF8String = {
      var total = 0
      var q = 0
      while (q < rn) {
        val r = rs(q)
        var k = los(r)
        while (k < his(r)) { total += interner.tokens(src(k)).length; k += 1 }
        q += 1
      }
      val buf = new Array[Byte](total)
      var at = 0
      q = 0
      while (q < rn) {
        val r = rs(q)
        var k = los(r)
        while (k < his(r)) {
          val t = interner.tokens(src(k))
          System.arraycopy(t, 0, buf, at, t.length)
          at += t.length
          k += 1
        }
        q += 1
      }
      UTF8String.fromBytes(buf)
    }
    def len16Of(rs: Array[Int], rn: Int, src: Array[Int]): Int = {
      var len = 0
      var q = 0
      while (q < rn) {
        val r = rs(q)
        var k = los(r)
        while (k < his(r)) { len += interner.len16(src(k)); k += 1 }
        q += 1
      }
      len
    }
    def flushDelIns(): Unit = {
      if (delN > 0) {
        if (reportRemove) out += DiffOpU8(position, -1, build(del, delN, aIds))
        delN = 0
      }
      if (insN > 0) {
        // UTF-16-unit accounting (NOT numChars, which counts code
        // points): the reference's content.length
        if (reportAdd) out += DiffOpU8(position, 1, build(ins, insN, bIds))
        position += len16Of(ins, insN, bIds)
        insN = 0
      }
    }
    def flushEq(): Unit = {
      if (eqsN > 0) {
        if (reportEqual) out += DiffOpU8(position, 0, build(eqs, eqsN, aIds))
        position += len16Of(eqs, eqsN, aIds)
        eqsN = 0
      }
    }
    var i = 0
    while (i < runs.size) {
      if (acts(i) == 0) { flushDelIns(); eqs = pushRun(eqs, eqsN, i); eqsN += 1 }
      else {
        flushEq()
        if (acts(i) == -1) { del = pushRun(del, delN, i); delN += 1 }
        else { ins = pushRun(ins, insN, i); insN += 1 }
      }
      i += 1
    }
    flushDelIns()
    flushEq()
    out.toArray
  }

  /** Token-level edit distance: the UTF-16 length of the removed plus
    * the added content (NULL reads as ""). */
  def editDistance(oldText: UTF8String, newText: UTF8String): Long = {
    val ops = diffOps(oldText, newText)
    var d = 0L
    var i = 0
    while (i < ops.length) {
      val b = ops(i).content.getBytes
      d += utf16Len(b, 0, b.length)
      i += 1
    }
    d
  }
}

/** Myers O(ND) diff over int token ids with linear-space middle-snake
  * bisection (Myers 1986, "An O(ND) Difference Algorithm" — the
  * published algorithm the reference's bundled diff library also
  * implements, `python/diff_match_patch.py:254-355`). Produces region
  * runs; [[DiffKernelU8.diffOps]] canonicalizes them into ops. */
private[functions] object Myers {

  /** Diff runs as parallel (act, lo, hi) region arrays — equal and
    * delete runs index into `a`, insert runs into `b`. The bisection
    * recursion appends regions in output order; nothing is sliced or
    * boxed on the hot path. */
  final class Runs {
    var acts = new Array[Int](16)
    var los = new Array[Int](16)
    var his = new Array[Int](16)
    var size = 0
    def add(act: Int, lo: Int, hi: Int): Unit = {
      if (hi <= lo) return
      if (size == acts.length) {
        acts = java.util.Arrays.copyOf(acts, size * 2)
        los = java.util.Arrays.copyOf(los, size * 2)
        his = java.util.Arrays.copyOf(his, size * 2)
      }
      acts(size) = act; los(size) = lo; his(size) = hi
      size += 1
    }
  }

  def computeRuns(a: Array[Int], b: Array[Int]): Runs = {
    val out = new Runs
    compute(a, 0, a.length, b, 0, b.length, out)
    out
  }

  /** Trim common prefix/suffix, then bisect on the middle of an optimal
    * edit path and recurse on the halves — all on index ranges of the
    * two original arrays (no sub-array copies). */
  private def compute(a: Array[Int], aLo: Int, aHi: Int,
                      b: Array[Int], bLo: Int, bHi: Int, out: Runs): Unit = {
    // trim common prefix/suffix
    var p = 0
    val maxP = math.min(aHi - aLo, bHi - bLo)
    while (p < maxP && a(aLo + p) == b(bLo + p)) p += 1
    var s = 0
    val maxS = maxP - p
    while (s < maxS && a(aHi - 1 - s) == b(bHi - 1 - s)) s += 1
    if (p > 0) out.add(0, aLo, aLo + p)
    val amLo = aLo + p; val amHi = aHi - s
    val bmLo = bLo + p; val bmHi = bHi - s
    if (amLo >= amHi && bmLo >= bmHi) ()
    else if (amLo >= amHi) out.add(1, bmLo, bmHi)
    else if (bmLo >= bmHi) out.add(-1, amLo, amHi)
    else {
      val xy = middleSnake(a, amLo, amHi, b, bmLo, bmHi)
      val x = (xy >> 32).toInt
      val y = xy.toInt
      val n = amHi - amLo
      val m = bmHi - bmLo
      val degenerate = (x <= 0 && y <= 0) || (x >= n && y >= m)
      if (x < 0 || degenerate) { out.add(-1, amLo, amHi); out.add(1, bmLo, bmHi) }
      else {
        compute(a, amLo, amLo + x, b, bmLo, bmLo + y, out)
        compute(a, amLo + x, amHi, b, bmLo + y, bmHi, out)
      }
    }
    if (s > 0) out.add(0, aHi - s, aHi)
  }

  /** Find a split point (x, y) on an optimal edit path: forward and
    * reverse D-paths are advanced in lockstep until they overlap
    * (Myers 1986, "An O(ND) Difference Algorithm", linear-space
    * refinement — the same published algorithm behind the reference's
    * bundled diff library). Coordinates are relative to (aLo, bLo),
    * packed as (x << 32 | y); returns (-1, -1) only for degenerate
    * input. */
  private def middleSnake(a: Array[Int], aLo: Int, aHi: Int,
                          b: Array[Int], bLo: Int, bHi: Int): Long = {
    val n = aHi - aLo
    val m = bHi - bLo
    val maxD = (n + m + 1) / 2
    val vOff = maxD
    val vSize = 2 * maxD + 2
    val v1 = Array.fill(vSize)(-1)
    val v2 = Array.fill(vSize)(-1)
    v1(vOff + 1) = 0
    v2(vOff + 1) = 0
    val delta = n - m
    val front = delta % 2 != 0
    var d = 0
    while (d <= maxD) {
      // forward pass
      var k = -d
      while (k <= d) {
        val ki = vOff + k
        var x =
          if (k == -d || (k != d && v1(ki - 1) < v1(ki + 1))) v1(ki + 1)
          else v1(ki - 1) + 1
        var y = x - k
        while (x < n && y < m && a(aLo + x) == b(bLo + y)) { x += 1; y += 1 }
        v1(ki) = x
        if (front) {
          val k2i = vOff + delta - k
          if (k2i >= 0 && k2i < vSize && v2(k2i) != -1) {
            if (x >= n - v2(k2i)) return pack(x, y) // paths overlap
          }
        }
        k += 2
      }
      // reverse pass
      k = -d
      while (k <= d) {
        val ki = vOff + k
        var x =
          if (k == -d || (k != d && v2(ki - 1) < v2(ki + 1))) v2(ki + 1)
          else v2(ki - 1) + 1
        var y = x - k
        while (x < n && y < m && a(aLo + n - x - 1) == b(bLo + m - y - 1)) { x += 1; y += 1 }
        v2(ki) = x
        if (!front) {
          val k1i = vOff + delta - k
          if (k1i >= 0 && k1i < vSize && v1(k1i) != -1) {
            val x1 = v1(k1i)
            val y1 = x1 - (delta - k)
            if (x1 >= n - x) return pack(x1, y1) // paths overlap
          }
        }
        k += 2
      }
      d += 1
    }
    pack(-1, -1)
  }

  @inline private def pack(x: Int, y: Int): Long =
    (x.toLong << 32) | (y.toLong & 0xffffffffL)
}
