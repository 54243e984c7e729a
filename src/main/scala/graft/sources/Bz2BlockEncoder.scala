package graft.sources

object Bz2BlockEncoder {
  /** Bytes one block holds after RLE1 at block size `level` (1-9), as
    * bzip2 bounds them. */
  def capacity(level: Int): Int = level * 100000 - 19

  private val local = ThreadLocal.withInitial[Bz2BlockEncoder](() => new Bz2BlockEncoder)

  /** This thread's encoder: its scratch arrays (~8 MB at level 9: the
    * rotated block's bytes and two ints per byte) are reused by every
    * block the thread encodes. */
  def forThread: Bz2BlockEncoder = local.get()

  private val MaxGroups = 6
  private val GroupSize = 50
  private val MaxCodeLen = 17
  private val Iterations = 4
  private val MaxSelectors = 18002
}

/** Encodes one bz2 block from its RLE1 bytes: block CRC, BWT, MTF/RLE2,
  * bzip2's multi-table Huffman coding and the block's bits, the mirror
  * of [[Bz2BlockDecoder]]. Not thread-safe; see
  * [[Bz2BlockEncoder.forThread]].
  *
  * The BWT sorts the rotations of the block's least rotation `w`
  * (found in linear time). `w` is `u^m` for a Lyndon word `u`, and the
  * suffix order of a Lyndon word is its rotation order, so one SA-IS
  * suffix sort of `u` ([[Sais]], straight from the bytes of `w`, with no
  * type bits) orders every rotation: near-linear on any input,
  * repetitive text included, and never randomised. */
final class Bz2BlockEncoder {
  import Bz2BlockEncoder._

  /** CRC of the block's original (pre-RLE1) bytes, set by [[encode]]. */
  var blockCrc: Int = 0
  /** Bits of the last encoded block. */
  var nBits: Long = 0L

  private var out: Array[Byte] = _
  private var pos = 0
  private var acc = 0L
  private var live = 0

  private var rot = new Array[Byte](0) // w, the block's least rotation
  private var sa = new Array[Int](0)
  private var text = new Array[Int](0) // the MTF values (≤ n + 1)
  private val buckets = new Array[Int](512)
  private val inUse = new Array[Boolean](256)
  private val seqOf = new Array[Int](256)
  private val yy = new Array[Int](256)
  private val mtfFreq = new Array[Int](258)
  private val len = Array.ofDim[Int](MaxGroups, 258)
  private val code = Array.ofDim[Int](MaxGroups, 258)
  private val rfreq = Array.ofDim[Int](MaxGroups, 258)
  private val cost = new Array[Int](MaxGroups)
  private val selectors = new Array[Byte](MaxSelectors)
  private val heap = new Array[Int](260)
  private val weight = new Array[Int](516)
  private val parent = new Array[Int](516)

  /** Encode `block(0 until n)`, RLE1 bytes (`n` ≥ 1, at most the
    * [[Bz2BlockEncoder.capacity]] of the stream's level), overwriting
    * them with their BWT. Returns the block's bits, magic to last
    * symbol ([[nBits]] of them): in `dst` when it is large enough, else
    * in a new array. */
  def encode(block: Array[Byte], n: Int, dst: Array[Byte]): Array[Byte] = {
    require(n > 0, "a bz2 block holds at least one byte")
    if (sa.length < n) {
      rot = new Array[Byte](n)
      sa = new Array[Int](n)
      text = new Array[Int](n + 1)
    }
    blockCrc = crcOf(block, n)
    val origPtr = sortRotations(block, n)
    val nInUse = mapUsed(block, n)
    val nMtf = mtf(block, n, nInUse)
    out = if (dst == null) new Array[Byte](1 << 16) else dst
    pos = 0
    acc = 0L
    live = 0
    put(24, (Bz2BlockDecoder.BlockMagic >>> 24).toInt)
    put(24, Bz2BlockDecoder.BlockMagic.toInt)
    put(32, blockCrc)
    put(1, 0) // never randomised
    put(24, origPtr)
    putUsedMap()
    sendMtfValues(nMtf, nInUse + 2)
    nBits = pos * 8L + live
    if (live > 0) { ensure(1); out(pos) = (acc << (8 - live)).toByte }
    val o = out
    out = null
    o
  }

  // ---- bits ----

  private def ensure(bytes: Int): Unit =
    if (pos + bytes > out.length) out = java.util.Arrays.copyOf(out, math.max(out.length * 2, pos + bytes))

  /** Append the low `n` (≤ 32) bits of `v`, most significant first. */
  private def put(n: Int, v: Int): Unit = {
    acc = (acc << n) | (v & ((1L << n) - 1))
    live += n
    if (live >= 8) {
      ensure(4)
      while (live >= 8) { live -= 8; out(pos) = (acc >>> live).toByte; pos += 1 }
    }
  }

  // ---- CRC, BWT ----

  /** CRC of the bytes `block` expands to: after four equal bytes the
    * next byte counts further copies. */
  private def crcOf(b: Array[Byte], n: Int): Int = {
    val t = Bz2BlockDecoder.CrcTable
    var crc = -1
    var last = -1
    var same = 0
    var i = 0
    while (i < n) {
      val c = b(i) & 0xff
      if (same == 4) {
        var k = 0
        while (k < c) { crc = (crc << 8) ^ t((crc >>> 24) ^ last); k += 1 }
        same = 0
        last = -1
      } else {
        if (c == last) same += 1 else { same = 1; last = c }
        crc = (crc << 8) ^ t((crc >>> 24) ^ c)
      }
      i += 1
    }
    ~crc
  }

  /** Sorted rotations' last column over `b`; returns the row of the
    * block itself (bzip2's `origPtr`). */
  private def sortRotations(b: Array[Byte], n: Int): Int = {
    val k0 = leastRotation(b, n)
    val w = rot
    System.arraycopy(b, k0, w, 0, n - k0)
    System.arraycopy(b, 0, w, n - k0, k0)
    // Duval: the first Lyndon factor of w = u^m is u
    var j = 1
    var k = 0
    while (j < n && (w(k) & 0xff) <= (w(j) & 0xff)) { if (w(k) == w(j)) k += 1 else k = 0; j += 1 }
    val p = j - k
    val m = n / p
    if (m * p != n) throw new IllegalStateException(s"least rotation of period $p does not tile $n bytes")
    Sais.sort(w, p, sa, buckets)
    // rows s + q*p (q < m) of w are equal rotations; each ends in u(s - 1)
    val self = (n - k0) % n % p
    val rows = sa
    val last = b
    var orig = -1
    var o = 0
    var r = 0
    while (r < p) {
      val s = rows(r)
      if (s == self) orig = r * m
      val c = w(if (s == 0) p - 1 else s - 1)
      if (m == 1) { last(o) = c; o += 1 }
      else { java.util.Arrays.fill(last, o, o + m, c); o += m }
      r += 1
    }
    orig
  }

  /** Start of the lexicographically least rotation of `b(0 until n)`. */
  private def leastRotation(b: Array[Byte], n: Int): Int = {
    var i = 0
    var j = 1
    var k = 0
    while (i < n && j < n && k < n) {
      var x = i + k
      if (x >= n) x -= n
      var y = j + k
      if (y >= n) y -= n
      val a = b(x) & 0xff
      val c = b(y) & 0xff
      if (a == c) k += 1
      else {
        if (a > c) i += k + 1 else j += k + 1
        if (i == j) j += 1
        k = 0
      }
    }
    math.min(i, j)
  }

  // ---- MTF/RLE2 ----

  /** Mark the bytes the block uses; returns their count. */
  private def mapUsed(bwt: Array[Byte], n: Int): Int = {
    java.util.Arrays.fill(inUse, false)
    var i = 0
    while (i < n) { inUse(bwt(i) & 0xff) = true; i += 1 }
    var nInUse = 0
    i = 0
    while (i < 256) { if (inUse(i)) { seqOf(i) = nInUse; nInUse += 1 }; i += 1 }
    nInUse
  }

  /** MTF values with zero runs in bijective base 2 (RUNA 0, RUNB 1),
    * then end-of-block, into [[text]]; returns their count. */
  private def mtf(bwt: Array[Byte], n: Int, nInUse: Int): Int = {
    val eob = nInUse + 1
    java.util.Arrays.fill(mtfFreq, 0)
    var i = 0
    while (i < nInUse) { yy(i) = i; i += 1 }
    val v = text
    var wr = 0
    var zPend = 0
    i = 0
    while (i < n) {
      val ll = seqOf(bwt(i) & 0xff)
      if (yy(0) == ll) zPend += 1
      else {
        if (zPend > 0) { wr = putRun(v, wr, zPend); zPend = 0 }
        var tmp = yy(1)
        yy(1) = yy(0)
        var j = 1
        while (ll != tmp) { j += 1; val t2 = tmp; tmp = yy(j); yy(j) = t2 }
        yy(0) = tmp
        v(wr) = j + 1
        wr += 1
        mtfFreq(j + 1) += 1
      }
      i += 1
    }
    if (zPend > 0) wr = putRun(v, wr, zPend)
    v(wr) = eob
    mtfFreq(eob) += 1
    wr + 1
  }

  private def putRun(v: Array[Int], at: Int, run: Int): Int = {
    var wr = at
    var z = run - 1
    var more = true
    while (more) {
      val s = z & 1
      v(wr) = s
      wr += 1
      mtfFreq(s) += 1
      if (z < 2) more = false else z = (z - 2) >>> 1
    }
    wr
  }

  private def putUsedMap(): Unit = {
    var used16 = 0
    var i = 0
    while (i < 16) {
      var j = 0
      while (j < 16) { if (inUse(i * 16 + j)) used16 |= 0x8000 >>> i; j += 1 }
      i += 1
    }
    put(16, used16)
    i = 0
    while (i < 16) {
      if ((used16 & (0x8000 >>> i)) != 0) {
        var bits = 0
        var j = 0
        while (j < 16) { if (inUse(i * 16 + j)) bits |= 0x8000 >>> j; j += 1 }
        put(16, bits)
      }
      i += 1
    }
  }

  // ---- Huffman ----

  /** bzip2's coding of the MTF values: 2-6 tables refined over four
    * passes, one table chosen per 50 symbols. */
  private def sendMtfValues(nMtf: Int, alphaSize: Int): Unit = {
    val v = text
    val nGroups =
      if (nMtf < 200) 2 else if (nMtf < 600) 3 else if (nMtf < 1200) 4 else if (nMtf < 2400) 5 else 6
    // initial tables: each cheap on a band of symbols of equal total frequency
    var nPart = nGroups
    var remF = nMtf
    var gs = 0
    while (nPart > 0) {
      val tFreq = remF / nPart
      var ge = gs - 1
      var aFreq = 0
      while (aFreq < tFreq && ge < alphaSize - 1) { ge += 1; aFreq += mtfFreq(ge) }
      if (ge > gs && nPart != nGroups && nPart != 1 && (nGroups - nPart) % 2 == 1) {
        aFreq -= mtfFreq(ge)
        ge -= 1
      }
      val l = len(nPart - 1)
      var s = 0
      while (s < alphaSize) { l(s) = if (s >= gs && s <= ge) 0 else 15; s += 1 }
      nPart -= 1
      gs = ge + 1
      remF -= aFreq
    }

    var nSelectors = 0
    var iter = 0
    while (iter < Iterations) {
      var t = 0
      while (t < nGroups) { java.util.Arrays.fill(rfreq(t), 0); t += 1 }
      nSelectors = 0
      gs = 0
      while (gs < nMtf) {
        val ge = math.min(gs + GroupSize, nMtf)
        t = 0
        while (t < nGroups) { cost(t) = 0; t += 1 }
        var i = gs
        while (i < ge) {
          val s = v(i)
          t = 0
          while (t < nGroups) { cost(t) += len(t)(s); t += 1 }
          i += 1
        }
        var bt = 0
        t = 1
        while (t < nGroups) { if (cost(t) < cost(bt)) bt = t; t += 1 }
        selectors(nSelectors) = bt.toByte
        nSelectors += 1
        val rf = rfreq(bt)
        i = gs
        while (i < ge) { rf(v(i)) += 1; i += 1 }
        gs = ge
      }
      t = 0
      while (t < nGroups) { codeLengths(len(t), rfreq(t), alphaSize); t += 1 }
      iter += 1
    }

    // canonical codes: by length, then by symbol
    var t = 0
    while (t < nGroups) {
      val l = len(t)
      val c = code(t)
      var next = 0
      var n = 1
      while (n <= MaxCodeLen) {
        var s = 0
        while (s < alphaSize) { if (l(s) == n) { c(s) = next; next += 1 }; s += 1 }
        next <<= 1
        n += 1
      }
      t += 1
    }

    put(3, nGroups)
    put(15, nSelectors)
    // selectors, MTF-coded in unary
    var order = 0x543210 // group ids, front in the low nibble
    var i = 0
    while (i < nSelectors) {
      val sel = selectors(i)
      var j = 0
      while (((order >>> (4 * j)) & 0xf) != sel) j += 1
      val low = order & ((1 << (4 * j)) - 1)
      order = (order & ~((1 << (4 * j + 4)) - 1)) | (low << 4) | sel
      put(j + 1, ((1 << j) - 1) << 1)
      i += 1
    }
    // code lengths, delta-coded
    t = 0
    while (t < nGroups) {
      val l = len(t)
      var curr = l(0)
      put(5, curr)
      var s = 0
      while (s < alphaSize) {
        while (curr < l(s)) { put(2, 2); curr += 1 }
        while (curr > l(s)) { put(2, 3); curr -= 1 }
        put(1, 0)
        s += 1
      }
      t += 1
    }
    // the symbols
    var sel = 0
    gs = 0
    while (gs < nMtf) {
      val ge = math.min(gs + GroupSize, nMtf)
      val l = len(selectors(sel))
      val c = code(selectors(sel))
      ensure(GroupSize * MaxCodeLen / 8 + 8)
      var a = acc
      var lv = live
      var p = pos
      val o = out
      var i = gs
      while (i < ge) {
        val s = v(i)
        a = (a << l(s)) | c(s)
        lv += l(s)
        while (lv >= 8) { lv -= 8; o(p) = (a >>> lv).toByte; p += 1 }
        i += 1
      }
      acc = a
      live = lv
      pos = p
      sel += 1
      gs = ge
    }
  }

  /** Huffman code lengths of at most [[MaxCodeLen]] bits for `freq`,
    * as bzip2 builds them: ties go to the shallower subtree, and when a
    * code runs too long the frequencies are halved and the tree rebuilt. */
  private def codeLengths(l: Array[Int], freq: Array[Int], alphaSize: Int): Unit = {
    var i = 0
    while (i < alphaSize) { weight(i + 1) = (if (freq(i) == 0) 1 else freq(i)) << 8; i += 1 }
    var tooLong = true
    while (tooLong) {
      var nNodes = alphaSize
      var nHeap = 0
      heap(0) = 0
      weight(0) = 0
      parent(0) = -2
      i = 1
      while (i <= alphaSize) { parent(i) = -1; nHeap += 1; heap(nHeap) = i; upHeap(nHeap); i += 1 }
      while (nHeap > 1) {
        val n1 = heap(1); heap(1) = heap(nHeap); nHeap -= 1; downHeap(nHeap)
        val n2 = heap(1); heap(1) = heap(nHeap); nHeap -= 1; downHeap(nHeap)
        nNodes += 1
        parent(n1) = nNodes
        parent(n2) = nNodes
        val w1 = weight(n1)
        val w2 = weight(n2)
        weight(nNodes) = ((w1 & 0xffffff00) + (w2 & 0xffffff00)) | (1 + math.max(w1 & 0xff, w2 & 0xff))
        parent(nNodes) = -1
        nHeap += 1
        heap(nHeap) = nNodes
        upHeap(nHeap)
      }
      tooLong = false
      i = 1
      while (i <= alphaSize) {
        var j = 0
        var k = i
        while (parent(k) >= 0) { k = parent(k); j += 1 }
        l(i - 1) = j
        if (j > MaxCodeLen) tooLong = true
        i += 1
      }
      if (tooLong) {
        i = 1
        while (i <= alphaSize) { weight(i) = (1 + (weight(i) >> 8) / 2) << 8; i += 1 }
      }
    }
  }

  private def upHeap(at: Int): Unit = {
    var z = at
    val tmp = heap(z)
    while (weight(tmp) < weight(heap(z >> 1))) { heap(z) = heap(z >> 1); z >>= 1 }
    heap(z) = tmp
  }

  private def downHeap(nHeap: Int): Unit = {
    var z = 1
    val tmp = heap(z)
    var more = true
    while (more) {
      var y = z << 1
      if (y > nHeap) more = false
      else {
        if (y < nHeap && weight(heap(y + 1)) < weight(heap(y))) y += 1
        if (weight(tmp) < weight(heap(y))) more = false
        else { heap(z) = heap(y); z = y }
      }
    }
    heap(z) = tmp
  }
}

/** Suffix sorting by induced sorting (SA-IS, Nong, Zhang and Chan
  * 2009) with a virtual sentinel smaller than every symbol, in the form
  * of Yuta Mori's sais-lite: no S/L type is stored. A suffix's type is
  * read off its neighbours' symbols as the induce passes place it, and
  * each entry goes into `sa` as `j` when its predecessor still has to
  * be induced in this pass, else as `~j`. The pointer into the current
  * bucket stays in a local until the symbol changes.
  *
  * Level 0 reads byte text; the reduced levels read int text held in
  * `sa` itself. The two are the same algorithm, written once per text
  * type so the byte level's loops stay free of a text-type branch. */
private[sources] object Sais {
  /** Suffix array of the unsigned bytes `t(0 until n)` (`n` ≥ 1) into
    * `sa(0 until n)`; the rest of `sa` is scratch for the reduced
    * levels, and `bk` holds the 512 bucket counters. */
  def sort(t: Array[Byte], n: Int, sa: Array[Int], bk: Array[Int]): Unit = {
    val k = 256
    counts(t, n, bk)
    ends(bk, 0, k, k)
    java.util.Arrays.fill(sa, 0, n, 0)
    // seed the LMS suffixes at their bucket ends; s is 1 while i + 1 is S-type
    var i = n - 2
    var s = 0
    var c1 = t(n - 1) & 0xff
    while (i >= 0) {
      val c0 = t(i) & 0xff
      if (c0 < c1 + s) s = 1
      else if (s != 0) { bk(k + c1) -= 1; sa(bk(k + c1)) = i + 1; s = 0 }
      c1 = c0
      i -= 1
    }
    induce(t, n, sa, bk)

    // the LMS substrings in sorted order into sa(0 until m): p is LMS
    // when p - 1 is L and the first symbol after p's run is larger
    var m = 0
    i = 0
    while (i < n) {
      val p = sa(i)
      if (p > 0) {
        val c0 = t(p) & 0xff
        if ((t(p - 1) & 0xff) > c0) {
          var j = p + 1
          while (j < n && (t(j) & 0xff) == c0) j += 1
          if (j < n && (t(j) & 0xff) > c0) { sa(m) = p; m += 1 }
        }
      }
      i += 1
    }
    // each LMS substring's length, to the next LMS symbol inclusive, at sa(m + p/2)
    java.util.Arrays.fill(sa, m, m + (n >> 1), 0)
    i = n - 2
    s = 0
    c1 = t(n - 1) & 0xff
    var next = n - 1
    while (i >= 0) {
      val c0 = t(i) & 0xff
      if (c0 < c1 + s) s = 1
      else if (s != 0) { sa(m + ((i + 1) >> 1)) = next - i; next = i + 1; s = 0 }
      c1 = c0
      i -= 1
    }
    // name them: equal length and symbols give equal types, so one name.
    // The last substring, cut by the sentinel, may share a name with
    // others of equal symbols: its reduced suffix is then a prefix of
    // theirs and still sorts first, as the sentinel does.
    val names = {
      var name = 0
      var q = n
      var qlen = 0
      i = 0
      while (i < m) {
        val p = sa(i)
        val plen = sa(m + (p >> 1))
        var diff = true
        if (plen == qlen) {
          var j = 0
          while (j < plen && t(p + j) == t(q + j)) j += 1
          if (j == plen) diff = false
        }
        if (diff) { name += 1; q = p; qlen = plen }
        sa(m + (p >> 1)) = name
        i += 1
      }
      name
    }
    if (names < m) {
      val r = reduce(sa, n, m, sa.length)
      sort(sa, r, m, names)
      // the LMS positions in text order replace the reduced text
      i = n - 2
      var j = r + m - 1
      s = 0
      c1 = t(n - 1) & 0xff
      while (i >= 0) {
        val c0 = t(i) & 0xff
        if (c0 < c1 + s) s = 1
        else if (s != 0) { sa(j) = i + 1; j -= 1; s = 0 }
        c1 = c0
        i -= 1
      }
      i = 0
      while (i < m) { sa(i) = sa(r + sa(i)); i += 1 }
    }

    // induce every suffix from the sorted LMS suffixes
    counts(t, n, bk)
    ends(bk, 0, k, k)
    java.util.Arrays.fill(sa, m, n, 0)
    i = m - 1
    while (i >= 0) {
      val j = sa(i)
      sa(i) = 0
      val c = k + (t(j) & 0xff)
      bk(c) -= 1
      sa(bk(c)) = j
      i -= 1
    }
    induce(t, n, sa, bk)
  }

  /** Suffix array of the `n` ints `sa(t until t + n)` (`n` ≥ 1), each in
    * `[0, k)`, into `sa(0 until n)`; `sa(n until t)` is scratch. */
  def sort(sa: Array[Int], t: Int, n: Int, k: Int): Unit = {
    // counters and bucket pointers in the free space when they fit
    val (bk, co, bo) = if (t - n >= 2 * k) (sa, n, n + k) else (new Array[Int](2 * k), 0, k)
    counts(sa, t, n, bk, co, k)
    ends(bk, co, bo, k)
    java.util.Arrays.fill(sa, 0, n, 0)
    var i = n - 2
    var s = 0
    var c1 = sa(t + n - 1)
    while (i >= 0) {
      val c0 = sa(t + i)
      if (c0 < c1 + s) s = 1
      else if (s != 0) { bk(bo + c1) -= 1; sa(bk(bo + c1)) = i + 1; s = 0 }
      c1 = c0
      i -= 1
    }
    induce(sa, t, n, bk, co, bo, k)

    var m = 0
    i = 0
    while (i < n) {
      val p = sa(i)
      if (p > 0) {
        val c0 = sa(t + p)
        if (sa(t + p - 1) > c0) {
          var j = p + 1
          while (j < n && sa(t + j) == c0) j += 1
          if (j < n && sa(t + j) > c0) { sa(m) = p; m += 1 }
        }
      }
      i += 1
    }
    java.util.Arrays.fill(sa, m, m + (n >> 1), 0)
    i = n - 2
    s = 0
    c1 = sa(t + n - 1)
    var next = n - 1
    while (i >= 0) {
      val c0 = sa(t + i)
      if (c0 < c1 + s) s = 1
      else if (s != 0) { sa(m + ((i + 1) >> 1)) = next - i; next = i + 1; s = 0 }
      c1 = c0
      i -= 1
    }
    val names = {
      var name = 0
      var q = n
      var qlen = 0
      i = 0
      while (i < m) {
        val p = sa(i)
        val plen = sa(m + (p >> 1))
        var diff = true
        if (plen == qlen) {
          var j = 0
          while (j < plen && sa(t + p + j) == sa(t + q + j)) j += 1
          if (j == plen) diff = false
        }
        if (diff) { name += 1; q = p; qlen = plen }
        sa(m + (p >> 1)) = name
        i += 1
      }
      name
    }
    if (names < m) {
      val r = reduce(sa, n, m, t)
      sort(sa, r, m, names)
      i = n - 2
      var j = r + m - 1
      s = 0
      c1 = sa(t + n - 1)
      while (i >= 0) {
        val c0 = sa(t + i)
        if (c0 < c1 + s) s = 1
        else if (s != 0) { sa(j) = i + 1; j -= 1; s = 0 }
        c1 = c0
        i -= 1
      }
      i = 0
      while (i < m) { sa(i) = sa(r + sa(i)); i += 1 }
    }

    counts(sa, t, n, bk, co, k)
    ends(bk, co, bo, k)
    java.util.Arrays.fill(sa, m, n, 0)
    i = m - 1
    while (i >= 0) {
      val j = sa(i)
      sa(i) = 0
      val c = bo + sa(t + j)
      bk(c) -= 1
      sa(bk(c)) = j
      i -= 1
    }
    induce(sa, t, n, bk, co, bo, k)
  }

  /** The names at `sa(m until m + n/2)`, less one, in text order into
    * `sa(end - m until end)`; returns that offset. */
  private def reduce(sa: Array[Int], n: Int, m: Int, end: Int): Int = {
    val r = end - m
    var j = r + m - 1
    var i = m + (n >> 1) - 1
    while (i >= m) { if (sa(i) != 0) { sa(j) = sa(i) - 1; j -= 1 }; i -= 1 }
    r
  }

  private def counts(t: Array[Byte], n: Int, bk: Array[Int]): Unit = {
    java.util.Arrays.fill(bk, 0, 256, 0)
    var i = 0
    while (i < n) { bk(t(i) & 0xff) += 1; i += 1 }
  }

  private def counts(sa: Array[Int], t: Int, n: Int, bk: Array[Int], co: Int, k: Int): Unit = {
    java.util.Arrays.fill(bk, co, co + k, 0)
    var i = 0
    while (i < n) { bk(co + sa(t + i)) += 1; i += 1 }
  }

  /** Bucket ends into `bk(bo until bo + k)` from the counts at `bk(co until co + k)`. */
  private def ends(bk: Array[Int], co: Int, bo: Int, k: Int): Unit = {
    var sum = 0
    var c = 0
    while (c < k) { sum += bk(co + c); bk(bo + c) = sum; c += 1 }
  }

  private def starts(bk: Array[Int], co: Int, bo: Int, k: Int): Unit = {
    var sum = 0
    var c = 0
    while (c < k) { bk(bo + c) = sum; sum += bk(co + c); c += 1 }
  }

  /** L-type suffixes left to right from bucket starts (the sentinel
    * first induces `n - 1`), then S-type right to left from bucket ends.
    * A placed L suffix `j`'s predecessor is L iff its symbol is not
    * smaller; a placed S suffix's is S iff its symbol is not larger. */
  private def induce(t: Array[Byte], n: Int, sa: Array[Int], bk: Array[Int]): Unit = {
    val k = 256
    starts(bk, 0, k, k)
    var j = n - 1
    var c1 = t(j) & 0xff
    var b = bk(k + c1)
    sa(b) = if (j > 0 && (t(j - 1) & 0xff) < c1) ~j else j
    b += 1
    var i = 0
    while (i < n) {
      j = sa(i)
      sa(i) = ~j
      if (j > 0) {
        j -= 1
        val c0 = t(j) & 0xff
        if (c0 != c1) { bk(k + c1) = b; c1 = c0; b = bk(k + c1) }
        sa(b) = if (j > 0 && (t(j - 1) & 0xff) < c1) ~j else j
        b += 1
      }
      i += 1
    }
    ends(bk, 0, k, k)
    c1 = 0
    b = bk(k)
    i = n - 1
    while (i >= 0) {
      j = sa(i)
      if (j > 0) {
        j -= 1
        val c0 = t(j) & 0xff
        if (c0 != c1) { bk(k + c1) = b; c1 = c0; b = bk(k + c1) }
        b -= 1
        sa(b) = if (j == 0 || (t(j - 1) & 0xff) > c1) ~j else j
      } else sa(i) = ~j
      i -= 1
    }
  }

  private def induce(sa: Array[Int], t: Int, n: Int, bk: Array[Int], co: Int, bo: Int, k: Int): Unit = {
    starts(bk, co, bo, k)
    var j = n - 1
    var c1 = sa(t + j)
    var b = bk(bo + c1)
    sa(b) = if (j > 0 && sa(t + j - 1) < c1) ~j else j
    b += 1
    var i = 0
    while (i < n) {
      j = sa(i)
      sa(i) = ~j
      if (j > 0) {
        j -= 1
        val c0 = sa(t + j)
        if (c0 != c1) { bk(bo + c1) = b; c1 = c0; b = bk(bo + c1) }
        sa(b) = if (j > 0 && sa(t + j - 1) < c1) ~j else j
        b += 1
      }
      i += 1
    }
    ends(bk, co, bo, k)
    c1 = 0
    b = bk(bo)
    i = n - 1
    while (i >= 0) {
      j = sa(i)
      if (j > 0) {
        j -= 1
        val c0 = sa(t + j)
        if (c0 != c1) { bk(bo + c1) = b; c1 = c0; b = bk(bo + c1) }
        b -= 1
        sa(b) = if (j == 0 || sa(t + j - 1) > c1) ~j else j
      } else sa(i) = ~j
      i -= 1
    }
  }
}
