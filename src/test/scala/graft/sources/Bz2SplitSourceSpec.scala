package graft.sources

import java.io.{ByteArrayOutputStream, File, FileInputStream}
import java.nio.file.Files

import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.{BZip2Codec, SplittableCompressionCodec}
import org.apache.hadoop.io.compress.bzip2.CBZip2OutputStream
import org.scalatest.funsuite.AnyFunSuite

/** The in-repo bz2 block decoder and its split source: byte-identical
  * to commons-compress, page ownership identical to Hadoop's BYBLOCK
  * split stream, loud on corrupt or truncated input. */
class Bz2SplitSourceSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private val fs = FileSystem.getLocal(conf)
  private lazy val dir = Files.createTempDirectory("bz2src").toFile

  private def file(name: String, bytes: Array[Byte]): File = {
    val f = new File(dir, name)
    Files.write(f.toPath, bytes)
    f
  }

  /** Hadoop's writer: the caller writes "BZ", the codec the rest. */
  private def hadoopBz2(data: Array[Byte], blockSize: Int): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    bo.write('B'); bo.write('Z')
    val out = new CBZip2OutputStream(bo, blockSize)
    out.write(data)
    out.close()
    bo.toByteArray
  }

  private def commonsBz2(data: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val out = new BZip2CompressorOutputStream(bo, 9)
    out.write(data)
    out.close()
    bo.toByteArray
  }

  private def commonsDecode(f: File): Array[Byte] = {
    val in = new BZip2CompressorInputStream(new FileInputStream(f), true)
    try in.readAllBytes() finally in.close()
  }

  private def source(f: File, start: Long, end: Long, planted: Seq[Long] = Nil): Bz2SplitSource =
    new Bz2SplitSource(fs.open(new Path(f.getAbsolutePath)), f.getAbsolutePath, f.length(),
      start, end, planted)

  /** Every byte the whole-file source delivers. */
  private def decodeAll(f: File, planted: Seq[Long] = Nil): Array[Byte] = {
    val src = source(f, 0, Long.MaxValue, planted)
    val bo = new ByteArrayOutputStream()
    try while (src.bulkFill()) {
      bo.write(src.bulkBuf, src.bulkStart, src.bulkEnd - src.bulkStart)
      src.bulkConsume(src.bulkEnd - src.bulkStart)
    } finally src.close()
    bo.toByteArray
  }

  private def assertSameAsCommons(f: File): Unit = {
    val want = commonsDecode(f)
    val got = decodeAll(f)
    assert(got.length == want.length, s"${f.getName}: length ${got.length} != ${want.length}")
    assert(java.util.Arrays.equals(got, want), s"${f.getName}: bytes differ")
  }

  /** Pages-only dump with text that bz2 compresses poorly. */
  private def dump(nPages: Int, filler: Int, seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val sb = new StringBuilder("<mediawiki>\n")
    for (p <- 1 to nPages) {
      sb.append(s"  <page>\n    <title>P$p</title>\n    <ns>0</ns>\n    <id>$p</id>\n")
      for (r <- 1 to 1 + p % 3) {
        val text = Array.fill(filler + rnd.nextInt(filler))(rnd.nextPrintableChar()).mkString
          .replace("<", "x").replace(">", "y").replace("&", "z")
        sb.append(s"    <revision>\n      <id>${p * 10 + r}</id>\n")
        sb.append(s"      <text xml:space=\"preserve\">$text</text>\n    </revision>\n")
      }
      sb.append("  </page>\n")
    }
    sb.append("</mediawiki>\n").toString
  }

  test("decodes Hadoop-written files at block sizes 1, 5 and 9 like commons-compress") {
    val data = dump(400, 900, 1).getBytes("UTF-8")
    for (bs <- Seq(1, 5, 9)) assertSameAsCommons(file(s"h$bs.bz2", hadoopBz2(data, bs)))
  }

  test("decodes a multistream archive written by the mediawiki sink") {
    val spark = graft.SparkTestSession.spark
    val out = Files.createTempDirectory("bz2sink").toFile
    spark.read.format("mediawiki").option("previousRevision", "false")
      .load("src/test/resources/fixtures/sample_dump.xml")
      .write.format("mediawiki").option("assumeGrouped", "true")
      .option("multistreamPagesPerStream", "1")
      .mode("append").save(out.getAbsolutePath)
    val dumps = out.listFiles().filter(_.getName.endsWith(".xml.bz2"))
    assert(dumps.nonEmpty)
    dumps.foreach(assertSameAsCommons)
  }

  test("edge blocks: empty stream, all 256 byte values, runs of 4 to 300 (RLE1)") {
    assertSameAsCommons(file("empty.bz2", commonsBz2(Array.emptyByteArray)))
    assert(decodeAll(file("empty2.bz2", commonsBz2(Array.emptyByteArray))).isEmpty)
    val all = Array.tabulate[Byte](256 * 3)(i => (i * 7).toByte)
    assertSameAsCommons(file("all256.bz2", commonsBz2(all)))
    assertSameAsCommons(file("all256h.bz2", hadoopBz2(all, 1)))
    val runs = new ByteArrayOutputStream()
    for (n <- 1 to 300) { runs.write(Array.fill[Byte](n)((n % 251).toByte)); runs.write('|') }
    for (n <- 4 to 300) runs.write(Array.fill[Byte](n)('a'.toByte)) // adjacent runs of one byte
    assertSameAsCommons(file("runs.bz2", commonsBz2(runs.toByteArray)))
    assertSameAsCommons(file("runsh.bz2", hadoopBz2(runs.toByteArray, 1)))
    assertSameAsCommons(file("one.bz2", commonsBz2(Array[Byte](42))))
    // streams back to back, one of them empty
    assertSameAsCommons(file("cat.bz2",
      commonsBz2(all) ++ commonsBz2(Array.emptyByteArray) ++ hadoopBz2(runs.toByteArray, 1)))
  }

  /** Page ids each split owns, in order. */
  private def pagesOf(src: PosByteSource, ownStart: Long, ownEnd: Long): Seq[Long] = {
    val it = new PageRecordIterator(src, ownStart, ownEnd, exclusiveStart = true, needText = false)
    try it.map(_.page.pageId).toSeq.distinct finally it.close()
  }

  private def hadoopSplit(f: File, start: Long, end: Long): Seq[Long] = {
    val codec = new BZip2Codec()
    codec.setConf(conf)
    val s = codec.createInputStream(fs.open(new Path(f.getAbsolutePath)), codec.createDecompressor(),
      start, end, SplittableCompressionCodec.READ_MODE.BYBLOCK)
    pagesOf(new BlockPosByteSource(s), if (start == 0) -1L else s.getAdjustedStart, s.getAdjustedEnd)
  }

  private def ourSplit(f: File, start: Long, end: Long): Seq[Long] = {
    val src = source(f, start, end)
    pagesOf(src, src.ownStart, src.ownEnd)
  }

  private def assertSplitParity(f: File, rnd: scala.util.Random, expectedPages: Int): Unit = {
    val len = f.length()
    // 60 random cuts plus cuts inside the stream header
    val cuts = (Seq(0L, 2L, 4L, 5L, 9L, len) ++ Seq.fill(60)(1L + (rnd.nextDouble() * (len - 1)).toLong))
      .distinct.sorted
    val ours = cuts.zip(cuts.tail).map { case (s, e) =>
      val h = hadoopSplit(f, s, e)
      val o = ourSplit(f, s, e)
      assert(o == h, s"${f.getName} split [$s, $e): ours ${o.take(5)}… (${o.size}) vs Hadoop ${h.take(5)}… (${h.size})")
      o
    }
    assert(ours.flatten == (1L to expectedPages), s"${f.getName}: pages lost or repeated across splits")
  }

  test("per-split page ids equal Hadoop BYBLOCK at random cut points (single stream)") {
    val rnd = new scala.util.Random(11)
    val data = dump(1500, 200, 2).getBytes("UTF-8")
    for (bs <- Seq(1, 9)) assertSplitParity(file(s"split$bs.bz2", hadoopBz2(data, bs)), rnd, 1500)
    assertSplitParity(file("splitc.bz2", commonsBz2(data)), rnd, 1500)
  }

  test("per-split page ids equal Hadoop BYBLOCK at random cut points (multistream)") {
    val rnd = new scala.util.Random(12)
    val xml = dump(1500, 200, 3)
    val f = new File(dir, "ms.xml.bz2")
    MultistreamWriter.writeGrouped(xml, f, new File(dir, "ms-index.txt"), 40,
      pageIdOf = i => i + 1L, titleOf = i => s"P${i + 1}")
    assertSplitParity(f, rnd, 1500)
    assertSameAsCommons(f)
  }

  test("decodes randomised blocks (Hadoop's CBZip2OutputStream on near-identical revisions)") {
    // pages of near-identical ~20 KB revisions push Hadoop's block sort
    // past its work limit, and it randomises the block
    val bytes = hadoopBz2(Bz2Fixtures.historyXml(12, 20).getBytes("UTF-8"), 9)
    val randomised = Bz2Fixtures.randomised(bytes)
    assert(randomised.nonEmpty, "the fixture holds no randomised block")
    val f = file("randomised.bz2", bytes)
    assertSameAsCommons(f)
    assertSplitParity(f, new scala.util.Random(13), 12)
  }

  /** Bit offsets of the real block magics, from a whole-file read. */
  private def magics(bytes: Array[Byte]): Seq[Long] =
    (0L until bytes.length * 8L - 48).filter(b =>
      Bz2BlockDecoder.bitsAt(bytes, bytes.length, b, 48) == Bz2BlockDecoder.BlockMagic)

  test("a flipped bit mid-file fails naming the file and the block offset") {
    val bytes = hadoopBz2(dump(300, 900, 4).getBytes("UTF-8"), 1)
    val m = magics(bytes)
    assert(m.size > 3)
    val hit = m(m.size / 2)
    for (flipAt <- Seq(hit / 8 + 6000, hit / 8 + 20)) {
      val bad = bytes.clone()
      bad(flipAt.toInt) = (bad(flipAt.toInt) ^ 0x10).toByte
      val f = file(s"flip$flipAt.bz2", bad)
      val e = intercept[java.io.IOException](decodeAll(f))
      assert(e.getMessage.contains(f.getAbsolutePath), e.getMessage)
      assert(e.getMessage.contains(s"block at bit $hit"), e.getMessage)
    }
  }

  test("a truncated file or trailing garbage fails naming the file and the offset") {
    val bytes = hadoopBz2(dump(300, 900, 5).getBytes("UTF-8"), 1)
    val m = magics(bytes)
    val last = m.last
    for (cut <- Seq(last / 8 + 100, bytes.length - 3L)) {
      val f = file(s"cut$cut.bz2", bytes.take(cut.toInt))
      val e = intercept[java.io.IOException](decodeAll(f))
      assert(e.getMessage.contains(f.getAbsolutePath), e.getMessage)
      assert(e.getMessage.contains("truncated"), e.getMessage)
    }
    // bytes after the last stream that are no stream header fail too,
    // where Hadoop's stream ignored them (and any stream behind them)
    val f = file("trailing.bz2", bytes ++ "trailing".getBytes("US-ASCII"))
    val e = intercept[java.io.IOException](decodeAll(f))
    assert(e.getMessage.contains(f.getAbsolutePath) && e.getMessage.contains("no stream header"), e.getMessage)
  }

  test("a planted bogus boundary candidate is rejected") {
    val data = dump(300, 900, 6).getBytes("UTF-8")
    val bytes = hadoopBz2(data, 1)
    val f = file("planted.bz2", bytes)
    val m = magics(bytes)
    val want = commonsDecode(f)
    // inside a block, just after a real magic, and in the last block
    val bogus = Seq(m(1) + 777, m(2) + 49, m.last + 1001)
    assert(java.util.Arrays.equals(decodeAll(f, bogus), want))
    // many at random: blocks cut short run on into zero bits
    val rnd = new scala.util.Random(3)
    val many = Seq.fill(40)(m.head + 48 + (rnd.nextDouble() * (bytes.length * 8L - m.head - 200)).toLong)
      .filterNot(m.contains).distinct
    assert(java.util.Arrays.equals(decodeAll(f, many), want))
    // the split's first candidate is bogus: the next real block is first
    val at = m(3) / 8
    val src = source(f, at - 100, Long.MaxValue, Seq((at - 100) * 8 + 3))
    val firstPage = pagesOf(src, src.ownStart, src.ownEnd).headOption
    assert(firstPage == hadoopSplit(f, at - 100, bytes.length).headOption)
  }
}
