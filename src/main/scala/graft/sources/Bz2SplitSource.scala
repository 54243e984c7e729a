package graft.sources

import java.util.concurrent.{CountDownLatch, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.FSDataInputStream

/** Byte source over one split of a bz2 file (or all of it), decoding
  * blocks a few ahead of the consumer on a JVM-wide daemon pool.
  *
  * Ownership matches Hadoop's `BZip2Codec` BYBLOCK split stream, so
  * every split owns the same pages as on that path: a block belongs to
  * the split whose byte range `[start, end)` holds the first byte of its
  * 48-bit magic, and its bytes carry that byte's offset + 1 as their
  * position, except the first block of a split starting at 0, which
  * carries 0. Read with [[ownStart]], [[ownEnd]] in `exclusiveStart`
  * mode.
  *
  * Block magics are found by a byte-wise scan, and any of them may be a
  * false one inside compressed data, so a found boundary is used only
  * once the previous block's decode ends exactly on it. The split's
  * first block is the exception: the first candidate whose decode
  * passes its CRC check. Every block CRC is checked, and so is every
  * stream CRC whose stream was read from its header. Corrupt or
  * truncated input throws, naming the file and the block's bit offset.
  *
  * Look-ahead is bounded in decoded bytes ([[LookaheadBytes]]); at most
  * one block past the split end is decoded before the consumer needs
  * it. The consumer runs a queued block itself when no pool thread has
  * started it yet, so a busy pool never stalls it.
  *
  * `planted`: bit offsets taken as found magics on top of the scan's;
  * specs plant false ones there, which the chain must reject. */
final class Bz2SplitSource(in: FSDataInputStream, file: String, fileLen: Long,
    start: Long, end: Long, planted: Seq[Long] = Nil) extends PosByteSource {
  import Bz2SplitSource._
  import Bz2BlockDecoder.{BlockMagic, EosMagic}

  /** Ownership bounds for [[PageRecordIterator]] (`exclusiveStart`). */
  val ownStart: Long = if (start == 0) -1L else start
  val ownEnd: Long = end

  /** Bytes decoded from the blocks this source delivered. */
  var bytesDecoded: Long = 0L
  /** Blocks this source delivered. */
  var blocksDecoded: Long = 0L

  // compressed input window: file bytes [winBase, winBase + winLen)
  private var win = new Array[Byte](ReadBytes)
  private var winBase = 0L
  private var winLen = 0
  private var inputDone = false
  /** Next bit at which a block magic may start. */
  private var scanBit = 0L
  /** Found magic whose task waits for the next magic to bound its bytes. */
  private var pendingCand = -1L
  private var candidatesDone = false
  private var plantedLeft = planted.sorted.toList
  private var scanned = -2L // the scan's next magic when read ahead of a planted one

  private val tasks = new java.util.ArrayDeque[BlockTask]()
  private val spare = new java.util.ArrayDeque[Array[Byte]]()

  // chain state: the next block must start at `expectBit` (-1: search
  // for the split's first block)
  private var expectBit = -1L
  private var streamCrc = 0
  private var streamWhole = false
  private var finished = false
  private var firstBlock = true
  private var cur: BlockTask = _

  // the block being read
  private var buf: Array[Byte] = NoBytes
  private var bufLen = 0
  private var bufPos = 0
  private var blockPos = 0L

  private def blockError(bit: Long, msg: String, cause: Throwable = null): Bz2DataException = {
    val e = new Bz2DataException(s"bz2 $file: block at bit $bit (byte ${bit >>> 3}): $msg")
    if (cause != null) e.initCause(cause)
    e
  }

  if (fileLen == 0) finished = true
  else if (start == 0) {
    fillTo(4)
    val ok = winLen >= 4 && win(0) == 'B' && win(1) == 'Z' && win(2) == 'h' &&
      win(3) >= '1' && win(3) <= '9'
    if (!ok) throw new Bz2DataException(s"bz2 $file: no bz2 stream header at byte 0")
    scanBit = 32
    streamWhole = true
    settle(32)
  } else {
    // as Hadoop: a split starting inside the 4-byte stream header begins
    // its search at byte 5, past the first magic's first byte
    val from = if (start <= 4) 5L else math.min(start, fileLen)
    in.seek(from)
    winBase = from
    scanBit = from * 8
  }

  // ---- compressed input and magic scan ----

  /** Read until the window holds file bytes up to `upTo` (or EOF). */
  private def fillTo(upTo: Long): Unit =
    while (!inputDone && winBase + winLen < upTo) {
      // drop bytes before the pending magic (or the scan position)
      val drop = math.max(0L, (if (pendingCand >= 0) pendingCand else scanBit) / 8 - 1 - winBase).toInt
      if (drop > 0) {
        System.arraycopy(win, drop, win, 0, winLen - drop)
        winLen -= drop
        winBase += drop
      }
      if (winLen + ReadBytes > win.length)
        win = java.util.Arrays.copyOf(win, math.max(win.length * 2, winLen + ReadBytes))
      val n = in.read(win, winLen, ReadBytes)
      if (n < 0) inputDone = true else winLen += n
    }

  /** Next bit offset ≥ [[scanBit]] holding the 48-bit block magic, or
    * -1 past the last. Bytes J+1 and J+2 of a magic starting in byte J
    * lie inside it for every bit shift, so one table lookup per byte
    * filters positions before the 8 shifts are compared. */
  private def nextCandidate(): Long = {
    var j = scanBit >>> 3
    var minShift = (scanBit & 7).toInt
    while (true) {
      fillTo(j + 8 + ReadBytes)
      val avail = winBase + winLen
      if (j + 6 > avail) { scanBit = avail * 8; return -1L }
      val lim = avail - 8 // last byte with a whole 8-byte word in the window
      if (j <= lim) {
        val w = win
        var i = (j - winBase).toInt
        val iEnd = (lim - winBase).toInt
        while (i <= iEnd) {
          if (MagicFilter(((w(i + 1) & 0xff) << 8) | (w(i + 2) & 0xff))) {
            val word = wordAt(i)
            var s = minShift
            while (s < 8) {
              if (((word >>> (16 - s)) & 0xffffffffffffL) == BlockMagic) {
                val bit = (winBase + i) * 8 + s
                scanBit = bit + 1
                return bit
              }
              s += 1
            }
          }
          minShift = 0
          i += 1
        }
        j = lim + 1
      } else {
        // the file's last bytes: the word is zero-padded
        val word = wordAt((j - winBase).toInt)
        var s = minShift
        while (s < 8) {
          val bit = j * 8 + s
          if (bit + 48 <= avail * 8 && ((word >>> (16 - s)) & 0xffffffffffffL) == BlockMagic) {
            scanBit = bit + 1
            return bit
          }
          s += 1
        }
        j += 1
      }
      minShift = 0
      scanBit = j * 8
    }
    -1L
  }

  /** Bytes i..i+7 of the window as a big-endian word, zeros past its end. */
  private def wordAt(i: Int): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (if (i + k < winLen) win(i + k) & 0xff else 0); k += 1 }
    v
  }

  /** The next magic, scanned or planted, in bit order; -1 past the last. */
  private def nextMagic(): Long = {
    if (scanned == -2L) {
      if (plantedLeft.isEmpty) return nextCandidate()
      scanned = nextCandidate()
    }
    plantedLeft match {
      case p :: rest if scanned < 0 || p < scanned => plantedLeft = rest; p
      case _ => val c = scanned; scanned = -2L; c
    }
  }

  /** Turn the pending candidate into a submitted task once the next
    * candidate bounds its bytes. False when no candidate is left. */
  private def addTask(): Boolean = {
    while (!candidatesDone) {
      val c = nextMagic()
      if (c < 0) candidatesDone = true
      if (pendingCand >= 0) {
        val from = pendingCand >>> 3
        val to = if (c < 0) winBase + winLen else math.min((c >>> 3) + 1 + Margin, fileLen)
        fillTo(to)
        val upTo = math.min(to, winBase + winLen)
        val data = java.util.Arrays.copyOfRange(win, (from - winBase).toInt, (upTo - winBase).toInt)
        val t = new BlockTask(pendingCand, data, from,
          atEof = inputDone && upTo == winBase + winLen, spare.pollFirst())
        pendingCand = c
        tasks.addLast(t)
        Bz2Pool.pool.execute(t)
        return true
      }
      pendingCand = c
    }
    false
  }

  /** Queue blocks while the look-ahead allows: decoded bytes in flight
    * under [[LookaheadBytes]], and at most one block past the split end. */
  private def topUp(): Unit =
    while (tasks.size * MaxBlockBytes < LookaheadBytes &&
        (tasks.isEmpty || tasks.peekLast().dataBase < end) && addTask()) {}

  // ---- block chain ----

  /** Settle what starts at `bit`: a block (sets [[expectBit]]) or an
    * end-of-stream marker, its CRC and the next stream's header. */
  private def settle(bit0: Long): Unit = {
    var bit = bit0
    while (true) {
      val m = bitsAt(bit, 48)
      if (m == BlockMagic) { expectBit = bit; return }
      if (m != EosMagic) throw blockError(bit, "no block magic or end-of-stream marker")
      val crc = bitsAt(bit + 48, 32).toInt
      if (streamWhole && crc != streamCrc)
        throw blockError(bit, f"stream CRC mismatch: stored 0x$crc%08x, computed 0x$streamCrc%08x")
      val next = (bit + 80 + 7) >>> 3
      if (next >= fileLen) { finished = true; return }
      val hdr = bitsAt(next * 8, 32)
      val level = (hdr & 0xff).toInt - '0'
      if ((hdr >>> 8) != 0x425a68L || level < 1 || level > 9)
        throw new Bz2DataException(s"bz2 $file: no stream header after the end of stream at byte $next")
      streamWhole = true
      streamCrc = 0
      bit = (next + 4) * 8
    }
  }

  /** `n` bits at absolute bit `bit`, from the input window or the
    * current or queued blocks' bytes. */
  private def bitsAt(bit: Long, n: Int): Long = {
    if (bit + n > fileLen * 8)
      throw blockError(bit, "truncated input: the stream ends before its end-of-stream marker")
    if (bit >= winBase * 8 && bit + n <= (winBase + winLen) * 8)
      return Bz2BlockDecoder.bitsAt(win, winLen, bit - winBase * 8, n)
    val it = tasks.iterator()
    var t = cur
    while (t == null || !t.covers(bit, n)) {
      if (it.hasNext) t = it.next()
      else if (addTask()) t = tasks.peekLast()
      else throw blockError(bit, "truncated input")
    }
    Bz2BlockDecoder.bitsAt(t.data, t.data.length, bit - t.dataBase * 8, n)
  }

  /** Make the next block current; false at the end of the input. */
  private def nextBlock(): Boolean = {
    if (cur != null) {
      if (spare.size < 2) spare.addLast(cur.out)
      settle(cur.endBit)
      cur = null
    }
    while (!finished) {
      topUp()
      if (expectBit < 0) {
        // the split's first block: the first candidate that decodes
        val t = tasks.peekFirst()
        if (t == null || t.dataBase >= end) { finished = true; return false }
        t.await()
        t.error match {
          case null => tasks.pollFirst(); accept(t); return true
          case _: Bz2TruncatedException => merge(t)
          case _: Bz2DataException => tasks.pollFirst() // a false magic
          case e => throw e
        }
      } else {
        // candidates before the expected block were false magics
        while (!tasks.isEmpty && tasks.peekFirst().startBit < expectBit) tasks.pollFirst().cancel()
        if (tasks.isEmpty) {
          if (!addTask()) throw blockError(expectBit, "truncated input")
        } else {
          val h = tasks.peekFirst()
          if (h.startBit != expectBit) throw blockError(expectBit, "block magic missed by the scan")
          h.await()
          h.error match {
            case null => tasks.pollFirst(); accept(h); return true
            case _: Bz2TruncatedException => merge(h)
            case e: Bz2DataException => throw blockError(h.startBit, e.getMessage, e)
            case e => throw e
          }
        }
      }
    }
    false
  }

  /** The head task ran past its bytes: a false magic inside its block
    * cut them short. Replace it by a task over its bytes joined with the
    * next queued task's, which stays queued in case it is a real block,
    * and decode that here. */
  private def merge(t: BlockTask): Unit = {
    if (t.atEof) throw blockError(t.startBit, "truncated input", t.error)
    val tEnd = t.dataBase + t.data.length
    var u: BlockTask = null
    while (u == null) {
      val it = tasks.iterator()
      while (u == null && it.hasNext) {
        val x = it.next()
        if (x.dataBase + x.data.length > tEnd) u = x
      }
      if (u == null && !addTask()) throw blockError(t.startBit, "truncated input", t.error)
    }
    val keep = (u.dataBase - t.dataBase).toInt
    val data = java.util.Arrays.copyOf(t.data, keep + u.data.length)
    System.arraycopy(u.data, 0, data, keep, u.data.length)
    val joined = new BlockTask(t.startBit, data, t.dataBase, u.atEof, t.out)
    tasks.pollFirst()
    tasks.addFirst(joined)
    joined.await()
  }

  private def accept(t: BlockTask): Unit = {
    cur = t
    streamCrc = Bz2BlockDecoder.combineCrc(streamCrc, t.blockCrc)
    blockPos = if (firstBlock && start == 0) 0L else (t.startBit >>> 3) + 1
    firstBlock = false
    buf = t.out
    bufLen = t.outLen
    bufPos = 0
    bytesDecoded += bufLen
    blocksDecoded += 1
  }

  // ---- PosByteSource ----

  def read(): Int = {
    while (bufPos >= bufLen) if (!nextBlock()) return -1
    val b = buf(bufPos) & 0xff
    bufPos += 1
    b
  }
  def pos: Long = blockPos
  def close(): Unit = {
    finished = true
    while (!tasks.isEmpty) tasks.pollFirst().cancel()
    in.close()
  }
  def bulkFill(): Boolean = {
    while (bufPos >= bufLen) if (!nextBlock()) return false
    true
  }
  def bulkBuf: Array[Byte] = buf
  def bulkStart: Int = bufPos
  def bulkEnd: Int = bufLen
  def bulkPosOf(idx: Int): Long = blockPos
  def bulkConsume(n: Int): Unit = bufPos += n
}

object Bz2SplitSource {
  /** Decoded bytes queued or in flight per source, counted at the
    * level-9 block size. */
  private val LookaheadBytes = 6 * 900 * 1000
  private val MaxBlockBytes = 900 * 1000
  private val ReadBytes = 256 * 1024
  /** Bytes past the next magic copied with a block: its end-of-stream
    * trailer and the next stream's header. */
  private val Margin = 16
  private val NoBytes = new Array[Byte](0)

  /** For each value of a magic's bytes J+1, J+2 (magic starting in byte
    * J at any of the 8 bit shifts): may a magic start in byte J? */
  private val MagicFilter: Array[Boolean] = {
    val f = new Array[Boolean](1 << 16)
    for (s <- 0 until 8) f(((Bz2BlockDecoder.BlockMagic >>> (24 + s)) & 0xffff).toInt) = true
    f
  }

  /** One block decode: `data` holds file bytes from `dataBase`, the
    * magic at absolute bit `startBit`. */
  private final class BlockTask(val startBit: Long, val data: Array[Byte], val dataBase: Long,
      val atEof: Boolean, outBuf: Array[Byte]) extends Bz2Pool.Task {
    var out: Array[Byte] = outBuf
    var outLen = 0
    var blockCrc = 0
    var endBit = 0L

    def covers(bit: Long, n: Int): Boolean =
      bit >= dataBase * 8 && bit + n <= (dataBase + data.length) * 8

    protected def compute(): Unit = {
      val d = Bz2BlockDecoder.forThread
      out = d.decode(data, data.length, startBit - dataBase * 8, out)
      outLen = d.outLen
      blockCrc = d.blockCrc
      endBit = d.endBit + dataBase * 8
    }
  }
}

/** The JVM-wide daemon pool that decodes and encodes bz2 blocks: one
  * thread per available core, shared by every reader and writer. */
private[sources] object Bz2Pool {
  private val threads = new AtomicInteger()
  lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors, (r: Runnable) => {
      val t = new Thread(r, s"graft-bz2-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })

  /** Work that runs once, on a pool thread or inline in [[await]],
    * whichever claims it first, so a caller waiting on a busy pool
    * never stalls. A failure is kept in [[error]]. */
  abstract class Task extends Runnable {
    private val state = new AtomicInteger(0) // 0 queued, 1 claimed, 2 cancelled
    private val done = new CountDownLatch(1)
    var error: Throwable = _

    protected def compute(): Unit

    final def run(): Unit = if (state.compareAndSet(0, 1)) {
      try compute()
      catch { case e: Throwable => error = e }
      finally done.countDown()
    }

    final def cancel(): Unit = state.compareAndSet(0, 2)

    final def isDone: Boolean = done.getCount == 0

    final def await(): Unit = {
      run()
      done.await()
    }
  }
}
