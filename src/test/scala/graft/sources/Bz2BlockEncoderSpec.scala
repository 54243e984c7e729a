package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}
import java.nio.file.Files

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.BZip2Codec
import org.scalatest.funsuite.AnyFunSuite

object Bz2Fixtures {
  /** `n` revisions of one ~20 KB text of random words, each rewriting
    * one word of the last: the near-identical input that drives Hadoop's
    * `CBZip2OutputStream` past its sort work limit into randomised
    * blocks. */
  def revisions(n: Int, seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val words = Array.fill(3000)(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString)
    (0 until n).map { i =>
      words(rnd.nextInt(words.length)) = s"edit$i"
      words.mkString(" ")
    }
  }

  /** A dump of `pages` pages (ids 1..pages), each of `revs`
    * [[revisions]]. */
  def historyXml(pages: Int, revs: Int): String = {
    val sb = new StringBuilder("<mediawiki>\n")
    for (p <- 1 to pages) {
      sb.append(s"  <page>\n    <title>P$p</title>\n    <ns>0</ns>\n    <id>$p</id>\n")
      for ((text, r) <- revisions(revs, p).zipWithIndex)
        sb.append(s"    <revision>\n      <id>${p * 1000 + r}</id>\n" +
          s"      <text xml:space=\"preserve\">$text</text>\n    </revision>\n")
      sb.append("  </page>\n")
    }
    sb.append("</mediawiki>\n").toString
  }

  /** Bit offsets of every block magic in `bytes`. */
  def magics(bytes: Array[Byte]): Seq[Long] = {
    val b = Seq.newBuilder[Long]
    var w = 0L
    var bit = 0L
    for (x <- bytes; k <- 7 to 0 by -1) {
      w = ((w << 1) | ((x >>> k) & 1)) & 0xffffffffffffL
      bit += 1
      if (bit >= 48 && w == Bz2BlockDecoder.BlockMagic) b += bit - 48
    }
    b.result()
  }

  /** Offsets of the blocks whose randomised bit (bit 32 after the
    * magic) is set. */
  def randomised(bytes: Array[Byte]): Seq[Long] =
    magics(bytes).filter(m => Bz2BlockDecoder.bitsAt(bytes, bytes.length, m + 48 + 32, 1) == 1)
}

/** The in-repo encoder and its pipelined stream: output that the
  * engine's decoder, commons-compress and Hadoop all read back
  * byte-identical, never randomised, independent of write slicing. */
class Bz2BlockEncoderSpec extends AnyFunSuite {
  import Bz2Fixtures._

  private val conf = new Configuration()
  private val fs = FileSystem.getLocal(conf)
  private lazy val dir = Files.createTempDirectory("bz2enc").toFile

  private def encode(data: Array[Byte], level: Int): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val z = new Bz2OutputStream(bo, level)
    z.startStream()
    z.write(data)
    z.close()
    bo.toByteArray
  }

  private def ours(bz: Array[Byte]): Array[Byte] = {
    val f = new File(dir, "x.bz2")
    Files.write(f.toPath, bz)
    val src = new Bz2SplitSource(fs.open(new Path(f.getAbsolutePath)), f.getAbsolutePath, f.length(),
      0, Long.MaxValue)
    val bo = new ByteArrayOutputStream()
    try while (src.bulkFill()) {
      bo.write(src.bulkBuf, src.bulkStart, src.bulkEnd - src.bulkStart)
      src.bulkConsume(src.bulkEnd - src.bulkStart)
    } finally src.close()
    bo.toByteArray
  }

  private def commons(bz: Array[Byte]): Array[Byte] = {
    val in = new BZip2CompressorInputStream(new ByteArrayInputStream(bz), true)
    try in.readAllBytes() finally in.close()
  }

  private def hadoop(bz: Array[Byte]): Array[Byte] = {
    val codec = new BZip2Codec()
    codec.setConf(conf)
    val in = codec.createInputStream(new ByteArrayInputStream(bz))
    try in.readAllBytes() finally in.close()
  }

  private def roundTrip(name: String, data: Array[Byte], levels: Seq[Int] = Seq(1, 9)): Unit =
    for (level <- levels) {
      val bz = encode(data, level)
      assert(bz.take(4).sameElements(s"BZh$level".getBytes("US-ASCII")), s"$name@$level: header")
      assert(randomised(bz).isEmpty, s"$name@$level: randomised block")
      for ((dec, f) <- Seq("engine" -> ours _, "commons" -> commons _, "hadoop" -> hadoop _)) {
        val got = f(bz)
        assert(got.length == data.length, s"$name@$level via $dec: length ${got.length} != ${data.length}")
        assert(java.util.Arrays.equals(got, data), s"$name@$level via $dec: bytes differ")
      }
    }

  private def random(n: Int, seed: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(b)
    b
  }

  test("empty, one byte, and one block's capacity ±1 at levels 1 and 9") {
    roundTrip("empty", Array.emptyByteArray)
    roundTrip("one", Array[Byte](42))
    for (level <- Seq(1, 9); d <- Seq(-1, 0, 1)) {
      val n = Bz2BlockEncoder.capacity(level) + d
      // random bytes with no two equal neighbours: RLE1 keeps their length
      val data = random(n, level * 10 + d + 1)
      for (i <- 1 until n) if (data(i) == data(i - 1)) data(i) = (data(i) + 1).toByte
      roundTrip(s"cap$level$d", data, Seq(level))
      assert(magics(encode(data, level)).size == (if (d <= 0) 1 else 2), s"cap$level$d: block count")
    }
    // a run of four copies codes as five RLE1 bytes: with 3-5 bytes of
    // room left it must still fit or open the next block
    for (level <- Seq(1, 9); room <- 3 to 5) {
      val head = random(Bz2BlockEncoder.capacity(level) - room, level * 10 + room)
      for (i <- 1 until head.length) if (head(i) == head(i - 1)) head(i) = (head(i) + 1).toByte
      val x = (head.last + 1).toByte
      roundTrip(s"run4cap$level-$room", head ++ Array.fill[Byte](4)(x) :+ (x + 1).toByte, Seq(level))
    }
  }

  test("runs of 1 to 300 bytes around lengths 4, 255 and 256") {
    val runs = new ByteArrayOutputStream()
    for (n <- 1 to 300) { runs.write(Array.fill[Byte](n)((n % 251).toByte)); runs.write('|') }
    for (n <- Seq(3, 4, 5, 254, 255, 256, 257, 259, 260, 510, 511)) runs.write(Array.fill[Byte](n)('a'.toByte))
    for (n <- 4 to 300) runs.write(Array.fill[Byte](n)('b'.toByte)) // adjacent runs of one byte
    roundTrip("runs", runs.toByteArray)
  }

  private def all256 = Array.tabulate[Byte](256 * 3)(i => (i * 7).toByte)

  /** ~4 MB: revisions, a repeated line and random bytes. */
  private def multiMB = revisions(12, 1).mkString("\n").getBytes("UTF-8") ++
    Array.tabulate[Byte](3 << 20)(i => "the quick brown fox jumps over the lazy dog\n".charAt(i % 44).toByte) ++
    random(500000, 8)

  private def nearIdentical = revisions(60, 2).mkString("\n").getBytes("UTF-8")

  test("all 256 byte values, random bytes and a multi-MB text") {
    roundTrip("all256", all256)
    roundTrip("random", random(300000, 7))
    roundTrip("multiMB", multiMB)
  }

  test("golden bits: archives are byte-identical to recorded SHA-256s") {
    val golden = Map(
      "multiMB@1" -> "d9f657b959890e65dec6f4b509e24db0810f322167b1d54e6fa3614cef8ea073",
      "multiMB@9" -> "03de9312b787b7b6c09c6e45034270ec549eede903cf42dce7c2cbaf542579ce",
      "revisions@1" -> "6d47ae627394a0780532ccd582eb9c8de8912e0e4eafc014f002409bc88247c8",
      "revisions@9" -> "9adda9a888df4d7aa8b0b7d15f7e7d4b3700f7735195bd8fed130f3cdcab65d8",
      "all256@1" -> "7f284255413c4b6a5749caaaf8c7fff9abf5c41a60ff8aa6518af08256230615",
      "all256@9" -> "e0bf9e06cc59b3ef5a023cfd50b14be3ab8a4a46df77d8b528a75367e0f0b06c",
      "random1MB@1" -> "4d93056dcef88867847e57fd4c5aecf30ebadaad39f0ca697cbbc7dc4e753d00",
      "random1MB@9" -> "c36687b4424e9c4d3af00d46a25380f91f5971f757b6efea8a66191fa86f7481")
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString
    val got = for {
      (name, data) <- Seq("multiMB" -> multiMB, "revisions" -> nearIdentical, "all256" -> all256,
        "random1MB" -> random(1 << 20, 9))
      level <- Seq(1, 9)
    } yield s"$name@$level" -> sha(encode(data, level))
    val differ = got.filterNot { case (k, h) => golden.get(k).contains(h) }
    assert(differ.isEmpty, differ.map { case (k, h) => s"$k now hashes to $h" }.mkString("; "))
  }

  test("periodic blocks and near-identical 20 KB revisions") {
    roundTrip("abab", Array.tabulate[Byte](2000000)(i => if (i % 2 == 0) 'a' else 'b'))
    roundTrip("abc", Array.tabulate[Byte](1000000)(i => "abcabd".charAt(i % 6).toByte))
    roundTrip("aaaa", Array.fill[Byte](3000000)('a'.toByte))
    roundTrip("a+b", Array.fill[Byte](1000)('a'.toByte) :+ 'b'.toByte)
    roundTrip("revisions", nearIdentical)
  }

  test("output depends only on the bytes and stream cuts, not on write slicing") {
    val data = revisions(50, 3).mkString("\n").getBytes("UTF-8") ++ Array.fill[Byte](1000)('z'.toByte)
    val cuts = Seq(0, 12345, 700000, 700001, data.length)
    def write(slice: Int): (Array[Byte], Seq[Long]) = {
      val bo = new ByteArrayOutputStream()
      val z = new Bz2OutputStream(bo, 3)
      val offsets = Seq.newBuilder[Long]
      for ((a, b) <- cuts.zip(cuts.tail)) {
        z.startStream(offsets += _)
        var i = a
        while (i < b) { val n = math.min(slice, b - i); z.write(data, i, n); i += n }
        z.endStream()
      }
      z.close()
      (bo.toByteArray, offsets.result())
    }
    val (whole, offsets) = write(Int.MaxValue)
    for (slice <- Seq(1, 7, 4096)) {
      val (bz, off) = write(slice)
      assert(java.util.Arrays.equals(bz, whole), s"slice $slice")
      assert(off == offsets)
    }
    assert(offsets.size == 4 && offsets.head == 0L)
    for (o <- offsets) assert(new String(whole, o.toInt, 4, "US-ASCII") == "BZh3")
    assert(java.util.Arrays.equals(commons(whole), data))
    assert(java.util.Arrays.equals(ours(whole), data))
  }
}
