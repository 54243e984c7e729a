package graft.sources

import java.io.IOException

/** Corrupt bz2 data: a bad magic, table, symbol or CRC. */
class Bz2DataException(msg: String) extends IOException(msg)

/** A block's bits run past the bytes handed to the decoder. */
final class Bz2TruncatedException(msg: String) extends Bz2DataException(msg)

object Bz2BlockDecoder {
  val BlockMagic = 0x314159265359L
  val EosMagic = 0x177245385090L

  /** bzip2's CRC-32: polynomial 0x04c11db7, most significant bit first. */
  val CrcTable: Array[Int] = Array.tabulate(256) { i =>
    var c = i << 24
    var k = 0
    while (k < 8) { c = if (c < 0) (c << 1) ^ 0x04c11db7 else c << 1; k += 1 }
    c
  }

  /** Stream CRC after one more block: rotate left by one, xor the block's CRC. */
  def combineCrc(stream: Int, block: Int): Int = ((stream << 1) | (stream >>> 31)) ^ block

  /** `n` (≤ 56) bits of `buf` starting at bit `bit`, most significant
    * first; bits at or past `len` bytes read as 0. */
  def bitsAt(buf: Array[Byte], len: Int, bit: Long, n: Int): Long = {
    var v = 0L
    var byte = (bit >>> 3).toInt
    val skip = (bit & 7).toInt
    var have = -skip
    while (have < n) {
      v = (v << 8) | (if (byte < len) buf(byte) & 0xff else 0)
      byte += 1
      have += 8
    }
    (v >>> (have - n)) & ((1L << n) - 1)
  }

  private val NoBytes = new Array[Byte](0)

  private val local = ThreadLocal.withInitial[Bz2BlockDecoder](() => new Bz2BlockDecoder)

  /** This thread's decoder: its scratch arrays (~4 MB at level 9) are
    * reused by every block the thread decodes. */
  def forThread: Bz2BlockDecoder = local.get()

  private val LookupBits = 10
  private val MaxCodeLen = 20
  private val MaxGroups = 6
  private val GroupSize = 50
  private val MaxSelectors = 18002
  private val MaxBlock = 900000
}

/** Decodes one bz2 block from a bit offset: Huffman/MTF/RLE2 symbols
  * into a fused inverse-BWT array, then inverse BWT, RLE1 and the block
  * CRC in one loop. Not thread-safe; see [[Bz2BlockDecoder.forThread]].
  *
  * Bits come from a 64-bit buffer; Huffman codes up to 10 bits decode
  * with one table lookup, longer ones by canonical limits. */
final class Bz2BlockDecoder {
  import Bz2BlockDecoder._

  /** Output length of the last [[decode]]. */
  var outLen: Int = 0
  /** The block CRC stored in the header (verified against the output). */
  var blockCrc: Int = 0
  /** Bit offset in the input just past the block's last symbol: where
    * the next block magic or the end-of-stream marker starts. */
  var endBit: Long = 0L

  private var out: Array[Byte] = _
  private var in: Array[Byte] = _
  private var inLen = 0
  private var inPos = 0 // next byte to load; may run past inLen (zeros)
  private var bits = 0L
  private var live = 0

  private var tt = new Array[Int](0)
  private var seq = new Array[Int](0) // a randomised block in output order
  private val unzftab = new Array[Int](256)
  private val cftab = new Array[Int](257)
  private val seqToUnseq = new Array[Byte](256)
  private val mtf = new Array[Byte](256)
  private val selectors = new Array[Byte](MaxSelectors)
  private val lens = Array.ofDim[Int](MaxGroups, 258)
  private val lookup = Array.ofDim[Int](MaxGroups, 1 << LookupBits)
  private val limit = Array.ofDim[Int](MaxGroups, MaxCodeLen + 1)
  private val firstCode = Array.ofDim[Int](MaxGroups, MaxCodeLen + 1)
  private val firstIdx = Array.ofDim[Int](MaxGroups, MaxCodeLen + 1)
  private val perm = Array.ofDim[Int](MaxGroups, 258)
  private val maxLen = new Array[Int](MaxGroups)

  private def fill(): Unit =
    while (live <= 56) {
      bits = (bits << 8) | (if (inPos < inLen) in(inPos) & 0xff else 0)
      inPos += 1
      live += 8
    }

  private def getBits(n: Int): Int = {
    if (live < n) fill()
    live -= n
    ((bits >>> live) & ((1L << n) - 1)).toInt
  }

  private def consumed: Long = inPos.toLong * 8 - live

  /** Decode the block whose magic starts at bit `startBit` of
    * `buf(0 until len)`, at most 900,000 bytes (level 9) before RLE1;
    * a split may start inside a stream whose level it has not read, so
    * every block gets the largest bound. Returns the output, `outLen` bytes of it: `outBuf` when
    * that is large enough (or null), else a new array. Throws
    * [[Bz2TruncatedException]] when the block needs bits past `len`,
    * and [[Bz2DataException]] on corrupt data or a CRC mismatch. */
  def decode(buf: Array[Byte], len: Int, startBit: Long, outBuf: Array[Byte]): Array[Byte] = {
    in = buf
    inLen = len
    inPos = (startBit >>> 3).toInt
    bits = 0L
    live = 0
    out = if (outBuf == null) Bz2BlockDecoder.NoBytes else outBuf
    try {
      fill()
      live -= (startBit & 7).toInt
      decodeBlock(MaxBlock)
    } catch {
      case e: Bz2DataException if !e.isInstanceOf[Bz2TruncatedException] && consumed > len.toLong * 8 =>
        throw new Bz2TruncatedException("block runs past the end of the input")
    } finally in = null
    val o = out
    out = null
    o
  }

  private def fail(msg: String): Nothing = throw new Bz2DataException(msg)

  private def decodeBlock(maxBlock: Int): Unit = {
    val magic = (getBits(24).toLong << 24) | getBits(24)
    if (magic != BlockMagic) fail(f"no block magic (found 0x$magic%012x)")
    blockCrc = getBits(32)
    val randomised = getBits(1) != 0
    val origPtr = getBits(24)

    // symbol map
    val used16 = getBits(16)
    var nInUse = 0
    var i = 0
    while (i < 16) {
      if ((used16 & (0x8000 >>> i)) != 0) {
        val used = getBits(16)
        var j = 0
        while (j < 16) {
          if ((used & (0x8000 >>> j)) != 0) { seqToUnseq(nInUse) = (i * 16 + j).toByte; nInUse += 1 }
          j += 1
        }
      }
      i += 1
    }
    if (nInUse == 0) fail("block uses no symbols")
    val alphaSize = nInUse + 2

    // selectors (MTF-coded group numbers)
    val nGroups = getBits(3)
    if (nGroups < 2 || nGroups > MaxGroups) fail(s"bad Huffman group count $nGroups")
    val nSelRead = getBits(15)
    if (nSelRead < 1) fail("no selectors")
    val groupPos = Array.tabulate[Byte](MaxGroups)(_.toByte)
    i = 0
    while (i < nSelRead) {
      var j = 0
      while (getBits(1) != 0) { j += 1; if (j >= nGroups) fail("bad selector") }
      val v = groupPos(j)
      while (j > 0) { groupPos(j) = groupPos(j - 1); j -= 1 }
      groupPos(0) = v
      if (i < MaxSelectors) selectors(i) = v
      i += 1
    }
    val nSelectors = math.min(nSelRead, MaxSelectors)

    // code lengths, delta-coded, then decode tables
    var t = 0
    while (t < nGroups) {
      var curr = getBits(5)
      val l = lens(t)
      i = 0
      while (i < alphaSize) {
        while ({
          if (curr < 1 || curr > MaxCodeLen) fail(s"bad Huffman code length $curr")
          getBits(1) != 0
        }) { if (getBits(1) == 0) curr += 1 else curr -= 1 }
        l(i) = curr
        i += 1
      }
      buildTable(t, alphaSize)
      t += 1
    }
    if (consumed > inLen.toLong * 8)
      throw new Bz2TruncatedException("block header runs past the end of the input")

    decodeSymbols(nInUse, alphaSize, nSelectors, maxBlock, origPtr, randomised)
  }

  /** Canonical code assignment (shorter codes first, then by symbol):
    * codes of up to [[LookupBits]] bits fill `lookup` with
    * `symbol << 8 | length`, longer ones leave -1 there and decode by
    * `limit`/`firstCode`/`firstIdx`/`perm`. */
  private def buildTable(t: Int, alphaSize: Int): Unit = {
    val l = lens(t)
    val lk = lookup(t)
    java.util.Arrays.fill(lk, -1)
    var maxL = 0
    var i = 0
    while (i < alphaSize) { if (l(i) > maxL) maxL = l(i); i += 1 }
    maxLen(t) = maxL
    val pm = perm(t)
    var code = 0
    var idx = 0
    var len = 1
    while (len <= maxL) {
      firstCode(t)(len) = code
      firstIdx(t)(len) = idx
      var s = 0
      while (s < alphaSize) {
        if (l(s) == len) {
          if (code >= (1 << len)) fail("oversubscribed Huffman code")
          pm(idx) = s
          if (len <= LookupBits) {
            val shift = LookupBits - len
            java.util.Arrays.fill(lk, code << shift, (code + 1) << shift, (s << 8) | len)
          }
          code += 1
          idx += 1
        }
        s += 1
      }
      limit(t)(len) = code - 1
      code <<= 1
      len += 1
    }
  }

  private def decodeSymbols(nInUse: Int, alphaSize: Int, nSelectors: Int,
      maxBlock: Int, origPtr: Int, randomised: Boolean): Unit = {
    if (this.tt.length < maxBlock) this.tt = new Array[Int](maxBlock)
    val tt = this.tt
    val unz = unzftab
    java.util.Arrays.fill(unz, 0)
    val mtf = this.mtf
    System.arraycopy(seqToUnseq, 0, mtf, 0, nInUse)
    val eob = alphaSize - 1
    val lbMask = (1 << LookupBits) - 1

    val in = this.in
    val inLen = this.inLen
    var inPos = this.inPos
    var bits = this.bits
    var live = this.live

    var n = 0
    var run = 0
    var runShift = 0
    var selIdx = 0
    var groupLeft = 0
    var lk: Array[Int] = null
    var t = 0
    var done = false
    // on a data error, record how far the block got: past the input
    // end it is a truncation (see decode), not corrupt data
    try {
      while (!done) {
        if (groupLeft == 0) {
          if (selIdx >= nSelectors) fail("block runs out of selectors")
          if (inPos.toLong * 8 - live > inLen.toLong * 8)
            throw new Bz2TruncatedException("block runs past the end of the input")
          t = selectors(selIdx)
          lk = lookup(t)
          selIdx += 1
          groupLeft = GroupSize
        }
        groupLeft -= 1
        if (live < MaxCodeLen) {
          while (live <= 56) {
            bits = (bits << 8) | (if (inPos < inLen) in(inPos) & 0xff else 0)
            inPos += 1
            live += 8
          }
        }
        val e = lk(((bits >>> (live - LookupBits)) & lbMask).toInt)
        var sym = 0
        if (e >= 0) {
          live -= e & 0xff
          sym = e >>> 8
        } else {
          var len = LookupBits + 1
          val maxL = maxLen(t)
          val lim = limit(t)
          sym = -1
          while (sym < 0) {
            if (len > maxL) fail("bad Huffman code")
            val c = ((bits >>> (live - len)) & ((1L << len) - 1)).toInt
            if (c <= lim(len)) {
              sym = perm(t)(firstIdx(t)(len) + c - firstCode(t)(len))
              live -= len
            }
            len += 1
          }
        }
        if (sym <= 1) {
          // RUNA/RUNB: a run of the front symbol, bijective base 2
          run += (sym + 1) << runShift
          runShift += 1
          if (runShift > 21) fail("run too long")
        } else {
          if (run > 0) {
            if (n + run > maxBlock) fail("block larger than its declared size")
            val b = mtf(0) & 0xff
            unz(b) += run
            java.util.Arrays.fill(tt, n, n + run, b)
            n += run
            run = 0
            runShift = 0
          }
          if (sym == eob) done = true
          else {
            if (n >= maxBlock) fail("block larger than its declared size")
            var k = sym - 1
            if (k >= nInUse) fail("bad MTF index")
            val v = mtf(k)
            if (k < 16) {
              while (k > 0) { mtf(k) = mtf(k - 1); k -= 1 }
            } else System.arraycopy(mtf, 0, mtf, 1, k)
            mtf(0) = v
            val b = v & 0xff
            unz(b) += 1
            tt(n) = b
            n += 1
          }
        }
      }
    } catch {
      case e: Bz2DataException => this.inPos = inPos; this.live = live; throw e
    }
    this.inPos = inPos
    this.bits = bits
    this.live = live
    endBit = consumed
    if (endBit > inLen.toLong * 8)
      throw new Bz2TruncatedException("block runs past the end of the input")
    if (origPtr >= n) fail(s"origin pointer $origPtr outside block of $n bytes")
    inverseBwt(n, origPtr, randomised)
  }

  /** Inverse BWT through the fused array (byte in the low 8 bits, next
    * index above), undoing RLE1 and computing the CRC as bytes come out.
    * A randomised block is first put in output order (see
    * [[derandomise]]), which the same loop then reads front to back. */
  private def inverseBwt(n: Int, origPtr: Int, randomised: Boolean): Unit = {
    val tt = this.tt
    val cf = cftab
    cf(0) = 0
    var i = 0
    while (i < 256) { cf(i + 1) = cf(i) + unzftab(i); i += 1 }
    i = 0
    while (i < n) {
      val b = tt(i) & 0xff
      val at = cf(b)
      tt(at) |= i << 8
      cf(b) = at + 1
      i += 1
    }
    var o = out
    if (o.length < n) o = new Array[Byte](n)
    val crcT = CrcTable
    var crc = -1
    var pos = if (randomised) derandomise(n, origPtr) else tt(origPtr) >>> 8
    var last = -1
    var same = 0
    var w = 0
    i = 0
    while (i < n) {
      val e = tt(pos)
      pos = e >>> 8
      val ch = e & 0xff
      i += 1
      if (same == 4) {
        // ch counts further copies of the byte just repeated four times
        if (w + ch + (n - i) > o.length)
          o = java.util.Arrays.copyOf(o, math.max(o.length * 2, w + ch + (n - i)))
        val b = last.toByte
        var k = 0
        while (k < ch) { o(w) = b; crc = (crc << 8) ^ crcT((crc >>> 24) ^ last); w += 1; k += 1 }
        same = 0
        last = -1
      } else {
        if (ch == last) same += 1 else { same = 1; last = ch }
        o(w) = ch.toByte
        w += 1
        crc = (crc << 8) ^ crcT((crc >>> 24) ^ ch)
      }
    }
    out = o
    outLen = w
    if (~crc != blockCrc) fail(f"block CRC mismatch: stored 0x$blockCrc%08x, computed 0x${~crc}%08x")
  }

  /** Rewrite the linked array of a randomised block (bzip2 before 0.9.5
    * and Hadoop's pure-Java `CBZip2OutputStream` write them) as its
    * output sequence, each entry linking to the next, with bzip2's
    * pseudo-random bit flips (`rNums`) undone; returns the start, 0. */
  private def derandomise(n: Int, origPtr: Int): Int = {
    if (seq.length < n) seq = new Array[Int](tt.length)
    val rNums = org.apache.hadoop.io.compress.bzip2.BZip2Constants.rNums
    var pos = tt(origPtr) >>> 8
    var toGo = 0
    var at = 0
    var i = 0
    while (i < n) {
      val e = tt(pos)
      pos = e >>> 8
      if (toGo == 0) { toGo = rNums(at); at = (at + 1) & 511 }
      toGo -= 1
      seq(i) = ((i + 1) << 8) | ((e & 0xff) ^ (if (toGo == 1) 1 else 0))
      i += 1
    }
    System.arraycopy(seq, 0, tt, 0, n)
    0
  }
}
