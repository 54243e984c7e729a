package graft.perfbench

import java.io.{ByteArrayOutputStream, OutputStream}
import java.util.concurrent.{Callable, ExecutorService, Future}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

/** Writes ONE bz2 stream of many blocks (the `pages-meta-history`
  * layout: no stream boundaries inside, no index), compressing blocks
  * in parallel.
  *
  * Input is cut into the largest chunks that surely compress to exactly
  * one block at level 9 (bzip2's first run-length stage grows a chunk
  * by at most 5/4, and a level-9 block holds 899,981 bytes). Each chunk
  * becomes a one-block stream on a worker thread; the blocks are then
  * spliced bit by bit into a single stream whose trailer carries the
  * combined CRC, the framing `bzip2 -9` writes.
  *
  * This exists for generation time only. A plain
  * `BZip2CompressorOutputStream` writes the same layout on one thread
  * at ~3.6 MB/s, ~25 s for the benchmark's ~90 MB history, in every
  * run of `history_bz2_diffdb`; on 4 threads this takes ~8 s. */
final class Bz2SingleStream(out: OutputStream, pool: ExecutorService) extends OutputStream {
  private val ChunkBytes = 719 * 1000
  private var chunk = new ByteArrayOutputStream(ChunkBytes)
  private val pending = new java.util.ArrayDeque[Future[Array[Byte]]]()
  private val bits = new BitWriter(out)
  private var combinedCrc = 0
  private var closed = false
  bits.writeBytes("BZh9".getBytes("US-ASCII"))

  override def write(b: Int): Unit = { chunk.write(b); if (chunk.size >= ChunkBytes) submit() }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    val end = off + len
    while (o < end) {
      val n = math.min(end - o, ChunkBytes - chunk.size)
      chunk.write(b, o, n)
      o += n
      if (chunk.size >= ChunkBytes) submit()
    }
  }

  private def submit(): Unit = {
    val data = chunk.toByteArray
    chunk = new ByteArrayOutputStream(ChunkBytes)
    pending.add(pool.submit(new Callable[Array[Byte]] {
      def call(): Array[Byte] = {
        val bo = new ByteArrayOutputStream(data.length / 3)
        val z = new BZip2CompressorOutputStream(bo, 9)
        z.write(data)
        z.close()
        bo.toByteArray
      }
    }))
    // bound memory: splice finished blocks as soon as the head is done
    while (pending.size > 8 || (!pending.isEmpty && pending.peek().isDone)) splice(pending.poll().get())
  }

  /** Append the single block of a one-block stream. */
  private def splice(s: Array[Byte]): Unit = {
    val total = s.length.toLong * 8
    val blockCrc = readBits(s, 80, 32).toInt
    // trailer: 48-bit end-of-stream magic + 32-bit combined CRC, then
    // 0-7 pad bits
    val pad = (0 to 7).find { p =>
      val end = total - p
      readBits(s, end - 80, 48) == 0x177245385090L && readBits(s, end - 32, 32).toInt == blockCrc
    }.getOrElse(throw new IllegalStateException("bz2 chunk is not a one-block stream"))
    bits.copyBits(s, 32, total - pad - 80 - 32)
    combinedCrc = ((combinedCrc << 1) | (combinedCrc >>> 31)) ^ blockCrc
  }

  private def readBits(s: Array[Byte], from: Long, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) {
      val bit = from + i
      v = (v << 1) | ((s((bit >>> 3).toInt) >>> (7 - (bit & 7).toInt)) & 1)
      i += 1
    }
    v
  }

  override def close(): Unit = if (!closed) {
    closed = true
    if (chunk.size > 0) submit()
    while (!pending.isEmpty) splice(pending.poll().get())
    bits.writeBits(0x177245385090L, 48)
    bits.writeBits(combinedCrc.toLong & 0xffffffffL, 32)
    bits.flush()
    out.close()
  }
}

/** MSB-first bit writer. */
private final class BitWriter(out: OutputStream) {
  private var cur = 0
  private var n = 0 // bits held in cur
  def writeBits(v: Long, count: Int): Unit = {
    var i = count - 1
    while (i >= 0) {
      cur = (cur << 1) | ((v >>> i) & 1).toInt
      n += 1
      if (n == 8) { out.write(cur); cur = 0; n = 0 }
      i -= 1
    }
  }
  def writeBytes(b: Array[Byte]): Unit = b.foreach(x => writeBits(x & 0xff, 8))
  /** Copy `count` bits of `src` starting at bit `from` (byte aligned). */
  def copyBits(src: Array[Byte], from: Long, count: Long): Unit = {
    require((from & 7) == 0)
    val start = (from >>> 3).toInt
    val whole = (count >>> 3).toInt
    if (n == 0) out.write(src, start, whole)
    else {
      val buf = new Array[Byte](whole)
      var i = 0
      while (i < whole) {
        val b = src(start + i) & 0xff
        buf(i) = ((cur << (8 - n)) | (b >>> n)).toByte
        cur = b & ((1 << n) - 1)
        i += 1
      }
      out.write(buf)
    }
    val rest = (count & 7).toInt
    if (rest > 0) writeBits((src(start + whole) & 0xff) >>> (8 - rest), rest)
  }
  def flush(): Unit = {
    if (n > 0) { out.write(cur << (8 - n)); cur = 0; n = 0 }
    out.flush()
  }
}
