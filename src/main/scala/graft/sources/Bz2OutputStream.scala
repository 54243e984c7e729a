package graft.sources

import java.io.{IOException, OutputStream}

/** bz2 output to `out`: a sequence of complete bz2 streams at block
  * size `level` (1-9), each block compressed by [[Bz2BlockEncoder]] on
  * the JVM-wide [[Bz2Pool]], so one writer uses every core.
  *
  * Bytes are run-length coded (bzip2's RLE1) as they arrive, and a
  * block is cut when its RLE1 bytes reach the level's capacity, so the
  * blocks, and with them the output, depend only on the bytes and the
  * stream cuts, never on how `write` calls slice them. Cut blocks are
  * queued in order with the stream starts and ends around them; the
  * writer splices finished ones onto `out`, runs a queued block itself
  * when no pool thread has started it yet, and waits on the head once
  * the queued blocks hold [[Bz2OutputStream.LookaheadBytes]]. Streams
  * are pipelined: a stream's start offset is known only when everything
  * before it is spliced, and [[startStream]]'s callback gets it then.
  *
  * Not thread-safe. [[finish]] or [[close]] writes everything queued;
  * [[discard]] drops it. */
final class Bz2OutputStream(out: OutputStream, level: Int) extends OutputStream {
  import Bz2OutputStream._
  require(level >= 1 && level <= 9, s"bz2 block size must be 1-9, got $level")

  private val cap = Bz2BlockEncoder.capacity(level)

  /** Uncompressed bytes written. */
  var bytesIn: Long = 0L
  /** Blocks spliced onto `out`. */
  var blocksOut: Long = 0L
  /** Nanoseconds spent encoding those blocks, on whichever threads ran
    * them. */
  var encodeNanos: Long = 0L
  /** Compressed bytes spliced onto `out` (its offset from the start of
    * this writer's output). */
  def bytesOut: Long = sink.count

  private var open = false
  private var blk = new Array[Byte](cap)
  private var blkLen = 0
  private var runByte = -1
  private var runLen = 0
  private val one = new Array[Byte](1)

  private val queue = new java.util.ArrayDeque[Item]()
  private var queuedBytes = 0L
  private val spare = new java.util.ArrayDeque[Array[Byte]]() // block buffers
  private val spareBits = new java.util.ArrayDeque[Array[Byte]]() // encoded-block buffers
  private val sink = new BitSink(out)
  private var streamCrc = 0

  /** Start a new stream (ending the open one); `onStart` gets its byte
    * offset in this writer's output once that is known. A write with
    * no stream open starts one. */
  def startStream(onStart: Long => Unit = null): Unit = {
    endStream()
    queue.addLast(new Start(onStart))
    open = true
  }

  /** End the open stream, if any. */
  def endStream(): Unit = if (open) {
    flushRun()
    cutBlock()
    queue.addLast(End)
    open = false
    spliceReady()
  }

  override def write(b: Int): Unit = {
    one(0) = b.toByte
    write(one, 0, 1)
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    if (!open) startStream()
    var rb = runByte
    var rl = runLen
    var i = off
    val end = off + len
    while (i < end) {
      val c = b(i) & 0xff
      if (c == rb && rl < 255) rl += 1
      else {
        if (rl == 1 && blkLen < cap) { blk(blkLen) = rb.toByte; blkLen += 1 }
        else if (rl > 0) putRun(rb, rl)
        rb = c
        rl = 1
      }
      i += 1
    }
    runByte = rb
    runLen = rl
    bytesIn += len
  }

  /** End the open stream and splice everything queued onto `out`. */
  def finish(): Unit = {
    endStream()
    while (!queue.isEmpty) spliceHead()
    sink.flush()
  }

  override def close(): Unit =
    try finish() finally out.close()

  /** Drop everything not yet spliced (the output is being abandoned). */
  def discard(): Unit = {
    while (!queue.isEmpty) queue.pollFirst() match {
      case t: EncodeTask => t.cancel()
      case _ =>
    }
    queuedBytes = 0L
    open = false
    runLen = 0
    blkLen = 0
  }

  // ---- RLE1 and block cuts ----

  private def flushRun(): Unit = if (runLen > 0) {
    putRun(runByte, runLen)
    runByte = -1
    runLen = 0
  }

  /** A run of 1-255 copies of `c`: up to four bytes as they are, then
    * a count of the further copies. */
  private def putRun(c: Int, n: Int): Unit = {
    if (blkLen + math.min(n, 5) > cap) cutBlock()
    val b = c.toByte
    if (n < 4) {
      var k = 0
      while (k < n) { blk(blkLen) = b; blkLen += 1; k += 1 }
    } else {
      blk(blkLen) = b; blk(blkLen + 1) = b; blk(blkLen + 2) = b; blk(blkLen + 3) = b
      blk(blkLen + 4) = (n - 4).toByte
      blkLen += 5
    }
  }

  private def cutBlock(): Unit = if (blkLen > 0) {
    val data =
      if (blkLen < cap / 2) java.util.Arrays.copyOf(blk, blkLen)
      else {
        val full = blk
        blk = if (spare.isEmpty) new Array[Byte](cap) else spare.pollFirst()
        full
      }
    val t = new EncodeTask(data, blkLen, spareBits.pollFirst())
    blkLen = 0
    while (queuedBytes + data.length > LookaheadBytes && !queue.isEmpty) spliceHead()
    queue.addLast(t)
    queuedBytes += data.length
    Bz2Pool.pool.execute(t)
    spliceReady()
  }

  // ---- splicing ----

  private def spliceReady(): Unit =
    while (!queue.isEmpty && (queue.peekFirst() match {
      case t: EncodeTask => t.isDone
      case _ => true
    })) spliceHead()

  private def spliceHead(): Unit = queue.pollFirst() match {
    case s: Start =>
      if (s.onStart != null) s.onStart(sink.count)
      sink.put(24, 0x425a68) // "BZh"
      sink.put(8, '0' + level)
      streamCrc = 0
    case t: EncodeTask =>
      t.await()
      queuedBytes -= t.data.length
      if (t.data.length == cap && spare.size * cap < LookaheadBytes) spare.addLast(t.data)
      if (t.error != null) throw new IOException("bz2 block encoding failed", t.error)
      sink.putBits(t.bits, t.nBits)
      if (spareBits.size * cap < LookaheadBytes) spareBits.addLast(t.bits)
      streamCrc = Bz2BlockDecoder.combineCrc(streamCrc, t.crc)
      blocksOut += 1
      encodeNanos += t.nanos
    case End =>
      sink.put(24, (Bz2BlockDecoder.EosMagic >>> 24).toInt)
      sink.put(24, Bz2BlockDecoder.EosMagic.toInt)
      sink.put(32, streamCrc)
      sink.align()
  }
}

object Bz2OutputStream {
  /** RLE1 bytes queued or in flight per writer. */
  private val LookaheadBytes = 6 * 900 * 1000

  private sealed trait Item
  private final class Start(val onStart: Long => Unit) extends Item
  private case object End extends Item

  /** One block's encoding (into `dst` when it is large enough); the
    * result is kept for the in-order splice. */
  private final class EncodeTask(val data: Array[Byte], len: Int, dst: Array[Byte])
      extends Bz2Pool.Task with Item {
    var bits: Array[Byte] = _
    var nBits = 0L
    var crc = 0
    var nanos = 0L

    protected def compute(): Unit = {
      val t0 = System.nanoTime()
      val e = Bz2BlockEncoder.forThread
      bits = e.encode(data, len, dst)
      nBits = e.nBits
      crc = e.blockCrc
      nanos = System.nanoTime() - t0
    }
  }

  /** Bits onto a byte stream through a 64 KB buffer. */
  private final class BitSink(out: OutputStream) {
    private val buf = new Array[Byte](1 << 16)
    private var n = 0
    private var flushed = 0L
    private var acc = 0L
    private var live = 0

    /** Whole bytes put so far. */
    def count: Long = flushed + n

    /** The low `bits` (≤ 32) bits of `v`, most significant first. */
    def put(bits: Int, v: Int): Unit = {
      acc = (acc << bits) | (v & ((1L << bits) - 1))
      live += bits
      while (live >= 8) {
        live -= 8
        if (n == buf.length) flush()
        buf(n) = (acc >>> live).toByte
        n += 1
      }
    }

    /** The first `nBits` bits of `b`. */
    def putBits(b: Array[Byte], nBits: Long): Unit = {
      val whole = (nBits >>> 3).toInt
      if (live == 0) {
        var i = 0
        while (i < whole) {
          if (n == buf.length) flush()
          val k = math.min(whole - i, buf.length - n)
          System.arraycopy(b, i, buf, n, k)
          n += k
          i += k
        }
      } else {
        var i = 0
        while (i < whole) { put(8, b(i) & 0xff); i += 1 }
      }
      val rest = (nBits & 7).toInt
      if (rest > 0) put(rest, (b(whole) & 0xff) >>> (8 - rest))
    }

    /** Zero bits up to the next byte boundary. */
    def align(): Unit = if (live > 0) put(8 - live, 0)

    def flush(): Unit = {
      out.write(buf, 0, n)
      flushed += n
      n = 0
    }
  }
}
