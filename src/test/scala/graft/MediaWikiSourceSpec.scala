package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.BZip2Codec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

class MediaWikiSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val fixture = "src/test/resources/fixtures/sample_dump.xml"

  /** Deterministic synthetic dump: `nPages` pages, 1-5 revisions each,
    * with poorly-compressible filler so bz2 yields multiple blocks. */
  def genDump(nPages: Int, fillerLen: Int): String = {
    val sb = new StringBuilder
    sb.append("<mediawiki>\n")
    val rnd = new scala.util.Random(42)
    var revId = 1000
    for (p <- 1 to nPages) {
      sb.append(s"  <page>\n    <title>Page $p</title>\n    <ns>0</ns>\n    <id>$p</id>\n")
      val nRevs = 1 + (p % 5)
      for (r <- 1 to nRevs) {
        revId += 1
        val filler = Array.fill(fillerLen)(rnd.nextPrintableChar()).mkString
          .replace("<", "x").replace(">", "y").replace("&", "z")
        sb.append(s"    <revision>\n      <id>$revId</id>\n")
        sb.append(s"      <timestamp>2021-0${1 + p % 9}-0${1 + r % 9}T00:00:0${r % 10}Z</timestamp>\n")
        sb.append(s"      <contributor><username>u$r</username><id>$r</id></contributor>\n")
        sb.append(s"      <text xml:space=\"preserve\">rev $r of page $p: $filler</text>\n")
        sb.append("    </revision>\n")
      }
      sb.append("  </page>\n")
    }
    sb.append("</mediawiki>\n")
    sb.toString
  }

  def expectedRevCount(nPages: Int): Long = (1 to nPages).map(p => 1 + (p % 5)).sum

  test("SQL DDL route: CREATE TABLE ... USING mediawiki") {
    spark.sql("DROP TABLE IF EXISTS wiki_revs")
    val abs = new File(fixture).getAbsolutePath
    spark.sql(
      s"CREATE TABLE wiki_revs USING mediawiki OPTIONS (path '$abs')")
    try {
      val n = spark.sql("SELECT count(*) FROM wiki_revs").as[Long].head()
      assert(n == spark.read.format("mediawiki").load(fixture).count())
      val titles = spark.sql(
        "SELECT DISTINCT title FROM wiki_revs ORDER BY title").as[String].collect()
      assert(titles.nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS wiki_revs")
  }

  test("reads fixture end-to-end with prev pairing") {
    val df = spark.read.format("mediawiki").load(fixture)
    val rows = df.orderBy($"curr.rev_id").collect()
    assert(rows.map(_.getAs[Long]("page_id")).toList == List(11L, 11L, 11L, 12L, 13L, 13L))
    val prevIds = rows.map { r =>
      Option(r.getAs[org.apache.spark.sql.Row]("prev")).map(_.getAs[Long]("rev_id"))
    }.toList
    assert(prevIds == List(None, Some(101L), Some(102L), None, None, Some(301L)))
    // field spot checks through the Spark row
    val r102 = rows(1)
    val curr = r102.getAs[org.apache.spark.sql.Row]("curr")
    assert(curr.getAs[org.apache.spark.sql.Row]("contributor").getAs[String]("ip") == "192.0.2.55")
    assert(curr.getAs[Boolean]("minor"))
    assert(curr.getAs[String]("comment") == "fix wording <test>")
  }

  test("in-source prev pairing equals the lag-window formulation (SURVEY W1)") {
    val df = spark.read.format("mediawiki").load(fixture)
    val w = Window.partitionBy($"page_id").orderBy($"rev_seq")
    val mismatches = df
      .withColumn("lag_rev_id", lag($"curr.rev_id", 1).over(w))
      .filter(coalesce($"prev.rev_id", lit(-1L)) =!= coalesce($"lag_rev_id", lit(-1L)))
      .count()
    assert(mismatches == 0)
  }

  test("options: previousRevision=false drops prev; excludePagesWith filters; raw compat") {
    val noPrev = spark.read.format("mediawiki")
      .option("previousRevision", "false").load(fixture)
    assert(!noPrev.columns.contains("prev"))
    assert(noPrev.count() == 6)

    val excl = spark.read.format("mediawiki")
      .option("excludePagesWith", "<title>Talk:").load(fixture)
    assert(excl.select($"curr.rev_id").as[Long].collect().sorted.toList ==
      List(101L, 102L, 103L, 301L, 302L))

    val raw = spark.read.format("mediawiki").option("raw", "true").load(fixture)
    val first = raw.orderBy($"curr.rev_id").select($"raw_xml").as[String].head()
    assert(first.startsWith("<page>"))
    assert(first.contains("<revision beginningofpage=\"true\">")) // dummy prev
    assert(first.endsWith("\n</page>\n"))
  }

  test("uncompressed multi-split read: exact partition of revisions") {
    val dump = genDump(nPages = 120, fillerLen = 400)
    val dir = Files.createTempDirectory("mwsplit").toFile
    val f = new File(dir, "dump.xml")
    Files.write(f.toPath, dump.getBytes("UTF-8"))
    val expected = expectedRevCount(120)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "20000")
    try {
      val df = spark.read.format("mediawiki").load(f.getAbsolutePath)
      assert(df.rdd.getNumPartitions > 3, "expected multiple splits")
      assert(df.count() == expected)
      assert(df.select($"curr.rev_id").distinct().count() == expected) // no dups
      // pairing survives splitting
      val w = Window.partitionBy($"page_id").orderBy($"rev_seq")
      val bad = df.withColumn("lag_id", lag($"curr.rev_id", 1).over(w))
        .filter(coalesce($"prev.rev_id", lit(-1L)) =!= coalesce($"lag_id", lit(-1L))).count()
      assert(bad == 0)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
  }

  test("bz2 splittable read: exact partition of revisions across blocks") {
    val nPages = 60
    val dump = genDump(nPages, fillerLen = 40000) // ~2.5MB raw, poorly compressible
    val dir = Files.createTempDirectory("mwbz2").toFile
    val f = new File(dir, "dump.xml.bz2")
    // 100KB compression blocks so modest split sizes cross many block
    // boundaries (the scale-interesting case)
    val fos = new java.io.FileOutputStream(f)
    fos.write('B'); fos.write('Z')
    val out = new org.apache.hadoop.io.compress.bzip2.CBZip2OutputStream(fos, 1)
    out.write(dump.getBytes("UTF-8"))
    out.close()
    val expected = expectedRevCount(nPages)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "200000")
    try {
      val df = spark.read.format("mediawiki")
        .option("minSplitBytes", "200000").load(f.getAbsolutePath)
      assert(df.rdd.getNumPartitions > 2, s"expected multiple bz2 splits, file=${f.length()}")
      val ids = df.select($"curr.rev_id").as[Long].collect().toList
      assert(ids.length == expected, s"count: got ${ids.length} expected $expected")
      assert(ids.distinct.length == expected, "duplicates across bz2 splits")
      // strict determinism: full records (incl. pairing) identical for
      // different split sizes (the reference only asserts >= counts,
      // tolerating dup emission — TestStreamWikiDumpInputFormat golden)
      def fingerprint(minSplit: String): List[(Long, Long, Any)] =
        spark.read.format("mediawiki").option("minSplitBytes", minSplit)
          .load(f.getAbsolutePath)
          .selectExpr("page_id", "curr.rev_id", "prev.rev_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toList.sortBy(t => (t._1, t._2))
      val a = fingerprint("200000")
      val b = fingerprint("400000")
      val c = fingerprint("100000000")
      assert(a == b && b == c, "split-size-dependent output")
      // decode metrics: a whole-file read decodes every byte once; split
      // reads also decode the boundary blocks their last pages run into
      val raw = dump.getBytes("UTF-8").length.toLong
      val (wholeBytes, wholeBlocks) = decodeMetrics(spark.read.format("mediawiki")
        .option("minSplitBytes", "100000000").load(f.getAbsolutePath))
      assert(wholeBytes == raw, s"whole-file bytesDecompressed $wholeBytes != $raw")
      assert(wholeBlocks > 10, s"whole-file bz2Blocks $wholeBlocks")
      val (splitBytes, splitBlocks) = decodeMetrics(df)
      assert(splitBytes > raw && splitBytes < 2 * raw, s"split bytesDecompressed $splitBytes vs $raw")
      assert(splitBlocks > wholeBlocks && splitBlocks <= wholeBlocks + 3 * df.rdd.getNumPartitions,
        s"split bz2Blocks $splitBlocks vs $wholeBlocks whole")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
  }

  /** (bytesDecompressed, bz2Blocks) of the scan after counting `df`. */
  def decodeMetrics(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case other => other.children.flatMap(scans)
    }
    val q = df.select($"curr.rev_id")
    q.collect()
    val scan = scans(q.queryExecution.executedPlan).head
    (scan.metrics("bytesDecompressed").value, scan.metrics("bz2Blocks").value)
  }

  test("gzip (non-splittable codec): single-partition plan, whole-file fallback") {
    // the reference's gzip path: no split, one reader decompresses the
    // whole file (StreamWikiDumpInputFormat.java:265-266,
    // SeekableInputStream.java:58-66). Planning must yield exactly ONE
    // partition no matter how small maxPartitionBytes is.
    val nPages = 40
    val dump = genDump(nPages, fillerLen = 4000)
    val dir = Files.createTempDirectory("mwgz").toFile
    val f = new File(dir, "dump.xml.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    out.write(dump.getBytes("UTF-8")); out.finish(); out.close()
    val expected = expectedRevCount(nPages)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "20000")
    try {
      val df = spark.read.format("mediawiki").load(f.getAbsolutePath)
      assert(df.rdd.getNumPartitions == 1,
        s"non-splittable codec must plan ONE whole-file partition, got ${df.rdd.getNumPartitions}")
      val ids = df.select($"curr.rev_id").as[Long].collect().toList
      assert(ids.length == expected, s"count: got ${ids.length} expected $expected")
      assert(ids.distinct.length == expected)
      // pairing is identical to the uncompressed read of the same dump
      val plain = new File(dir, "dump.xml")
      Files.write(plain.toPath, dump.getBytes("UTF-8"))
      def fp(p: String): List[(Long, Long, Any)] =
        spark.read.format("mediawiki").load(p)
          .selectExpr("page_id", "curr.rev_id", "prev.rev_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toList.sortBy(t => (t._1, t._2))
      assert(fp(f.getAbsolutePath) == fp(plain.getAbsolutePath),
        "gzip whole-file read must equal the uncompressed read")
      assert(decodeMetrics(spark.read.format("mediawiki").load(f.getAbsolutePath)) ==
        (dump.getBytes("UTF-8").length.toLong, 0L))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
  }

  test("multistream bz2 (concatenated streams — the -multistream dump layout)") {
    // Wikipedia's pages-articles-multistream dumps are MANY complete
    // bz2 streams back-to-back in one file (index file points at
    // stream offsets). The raw concatenation equals the plain dump, so
    // the reader must produce identical records whole or split, with
    // stream headers treated like any other compressed-block boundary.
    val nPages = 40
    val bytes = genDump(nPages, fillerLen = 40000).getBytes("UTF-8")
    val cuts = Seq(0, bytes.length / 3, 2 * bytes.length / 3, bytes.length)
    val dir = Files.createTempDirectory("mwbz2multi").toFile
    val f = new File(dir, "dump.xml.bz2")
    val fos = new java.io.FileOutputStream(f)
    try {
      for ((from, to) <- cuts.init.zip(cuts.tail)) {
        // each stream is a complete bz2 file: own BZ magic + own EOS
        fos.write('B'); fos.write('Z')
        val out = new org.apache.hadoop.io.compress.bzip2.CBZip2OutputStream(fos, 1)
        out.write(bytes, from, to - from)
        out.finish()
      }
    } finally fos.close()
    val expected = expectedRevCount(nPages)
    def fingerprint(minSplit: String): List[(Long, Long, Any)] =
      spark.read.format("mediawiki").option("minSplitBytes", minSplit)
        .load(f.getAbsolutePath)
        .selectExpr("page_id", "curr.rev_id", "prev.rev_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toList
        .sortBy(t => (t._1, t._2))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "200000")
    try {
      val split = fingerprint("200000")
      val whole = fingerprint("100000000")
      assert(whole.length == expected,
        s"multistream whole read: got ${whole.length} expected $expected")
      assert(split == whole, "multistream split-dependent output")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
  }

  /** Real -multistream layout: header stream (siteinfo, no pages),
    * page streams of `pagesPerStream` complete pages, footer stream
    * (`</mediawiki>`), plus the published index (`offset:page_id:title`
    * per page). Returns (dump, index, expected stream count). */
  def writeMultistreamWithIndex(dir: File, nPages: Int, fillerLen: Int,
      pagesPerStream: Int): (File, File, Int) = {
    val xml = genDump(nPages, fillerLen)
    val f = new File(dir, "dump-multistream.xml.bz2")
    val idx = new File(dir, "dump-multistream-index.txt")
    graft.sources.MultistreamWriter.writeGrouped(xml, f, idx, pagesPerStream,
      pageIdOf = i => i + 1L, titleOf = i => s"Page ${i + 1}")
    val nStreams = graft.sources.MultistreamWriter.pageStarts(xml)
      .indices.grouped(pagesPerStream).size + 2 // + header + footer
    (f, idx, nStreams)
  }

  test("multistream index: stream-aligned planning equals indexless read") {
    val dir = Files.createTempDirectory("mwmsidx").toFile
    val (f, _, _) = writeMultistreamWithIndex(dir, nPages = 40,
      fillerLen = 4000, pagesPerStream = 5)
    val expected = expectedRevCount(40)
    def fp(opts: Map[String, String]): List[(Long, Long, Any)] = {
      var r = spark.read.format("mediawiki")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(f.getAbsolutePath)
        .selectExpr("page_id", "curr.rev_id", "prev.rev_id")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.get(2))).toList
        .sortBy(t => (t._1, t._2))
    }
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val indexed = spark.read.format("mediawiki")
        .option("minSplitBytes", "2000").load(f.getAbsolutePath)
      // one partition per page stream (header merges into the first,
      // the footer rides the last page stream's range)
      assert(indexed.rdd.getNumPartitions == 8,
        s"expected 8 stream partitions, got ${indexed.rdd.getNumPartitions}")
      val viaIndex = fp(Map("minSplitBytes" -> "2000"))
      assert(viaIndex.length == expected,
        s"indexed read: got ${viaIndex.length} expected $expected")
      assert(viaIndex == fp(Map("minSplitBytes" -> "200000", "multistreamIndex" -> "off")),
        "index-aligned boundaries changed the result")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
  }

  test("multistream index: pushed title filter skips dead streams before decompression") {
    val dir = Files.createTempDirectory("mwmsskip").toFile
    val (f, _, _) = writeMultistreamWithIndex(dir, nPages = 40,
      fillerLen = 4000, pagesPerStream = 5)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      // Page 6 sits at the HEAD of the second page stream, and its
      // predecessor stream (pages 1-5) is dead under this filter — the
      // sharp case: a gap-following partition must own its first page.
      for (probe <- Seq("Page 6", "Page 7", "Page 23", "Page 40")) {
        val df = spark.read.format("mediawiki").option("minSplitBytes", "2000")
          .load(f.getAbsolutePath).where($"title" === probe)
        assert(df.rdd.getNumPartitions == 1,
          s"$probe: filter must leave ONE live stream, got ${df.rdd.getNumPartitions}")
        val got = df.selectExpr("page_id", "curr.rev_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
        val want = spark.read.format("mediawiki")
          .option("minSplitBytes", "200000").option("multistreamIndex", "off")
          .load(f.getAbsolutePath).where($"title" === probe)
          .selectExpr("page_id", "curr.rev_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
        assert(got.nonEmpty && got == want, s"$probe: skip-planned read diverged")
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
  }

  test("page_id filter pushdown: reader-exact on a plain dump") {
    // no index involved: the pushed predicate must be fully honored by
    // the reader (pushFilters returns it as handled — Spark does not
    // re-evaluate)
    val dump = genDump(nPages = 30, fillerLen = 500)
    val dir = Files.createTempDirectory("mwpid").toFile
    val f = new File(dir, "dump.xml")
    Files.write(f.toPath, dump.getBytes("UTF-8"))
    val df = spark.read.format("mediawiki").load(f.getAbsolutePath)
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.selectExpr("page_id", "curr.rev_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    assert(ids(df.where($"page_id" === 7L)) ==
      ids(df).filter(_._1 == 7L))
    assert(ids(df.where($"page_id".isin(3L, 19L, 28L))) ==
      ids(df).filter(t => Set(3L, 19L, 28L)(t._1)))
    assert(ids(df.where($"page_id" >= 10L && $"page_id" < 13L)) ==
      ids(df).filter(t => t._1 >= 10L && t._1 < 13L))
    assert(ids(df.where($"page_id" === 7L)).nonEmpty)
  }

  test("ns filter pushdown: eq and IN; absent <ns> is NULL and never matches") {
    val xml =
      """<mediawiki>
        |  <page><title>A</title><ns>0</ns><id>1</id>
        |    <revision><id>11</id><timestamp>2021-01-01T00:00:00Z</timestamp>
        |    <contributor><username>u</username><id>1</id></contributor>
        |    <text xml:space="preserve">a</text></revision></page>
        |  <page><title>Talk:A</title><ns>1</ns><id>2</id>
        |    <revision><id>22</id><timestamp>2021-01-01T00:00:00Z</timestamp>
        |    <contributor><username>u</username><id>1</id></contributor>
        |    <text xml:space="preserve">b</text></revision></page>
        |  <page><title>Category:A</title><ns>14</ns><id>3</id>
        |    <revision><id>33</id><timestamp>2021-01-01T00:00:00Z</timestamp>
        |    <contributor><username>u</username><id>1</id></contributor>
        |    <text xml:space="preserve">c</text></revision></page>
        |  <page><title>NoNs</title><id>4</id>
        |    <revision><id>44</id><timestamp>2021-01-01T00:00:00Z</timestamp>
        |    <contributor><username>u</username><id>1</id></contributor>
        |    <text xml:space="preserve">d</text></revision></page>
        |</mediawiki>
        |""".stripMargin
    val dir = Files.createTempDirectory("mwns").toFile
    val f = new File(dir, "ns.xml")
    Files.write(f.toPath, xml.getBytes("UTF-8"))
    val df = spark.read.format("mediawiki").load(f.getAbsolutePath)
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select($"page_id").as[Long].collect().toList.sorted
    assert(ids(df) == List(1L, 2L, 3L, 4L))
    assert(ids(df.where($"ns" === 0)) == List(1L))
    assert(ids(df.where($"ns".isin(0, 14))) == List(1L, 3L))
    // the NULL-ns page never matches a pushed equality…
    assert(ids(df.where($"ns" === 0 || $"ns" === 1)) == List(1L, 2L))
    // …and IsNull (not pushed) still sees it post-scan
    assert(ids(df.where($"ns".isNull)) == List(4L))
  }

  test("multistream index: page_id filter skips streams before decompression") {
    val dir = Files.createTempDirectory("mwmspid").toFile
    val (f, _, _) = writeMultistreamWithIndex(dir, nPages = 40,
      fillerLen = 4000, pagesPerStream = 5)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      // page 23 lives in the 5th stream alone → one live partition
      val one = spark.read.format("mediawiki").option("minSplitBytes", "2000")
        .load(f.getAbsolutePath).where($"page_id" === 23L)
      assert(one.rdd.getNumPartitions == 1,
        s"eq filter must leave ONE live stream, got ${one.rdd.getNumPartitions}")
      assert(one.select($"curr.rev_id").count() == (1 + 23 % 5))
      // an IN spanning two streams → two live partitions
      val two = spark.read.format("mediawiki").option("minSplitBytes", "2000")
        .load(f.getAbsolutePath).where($"page_id".isin(3L, 37L))
      assert(two.rdd.getNumPartitions == 2,
        s"IN(3,37) must leave TWO live streams, got ${two.rdd.getNumPartitions}")
      val got = two.selectExpr("page_id", "curr.rev_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      val want = spark.read.format("mediawiki").option("minSplitBytes", "200000")
        .option("multistreamIndex", "off").load(f.getAbsolutePath)
        .where($"page_id".isin(3L, 37L))
        .selectExpr("page_id", "curr.rev_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(got.nonEmpty && got == want)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
  }

  test("multistream index: excludePagesWith <title>prefix skips all-excluded streams (opt-in)") {
    val dir = Files.createTempDirectory("mwmsexcl").toFile
    val (f, _, _) = writeMultistreamWithIndex(dir, nPages = 40,
      fillerLen = 4000, pagesPerStream = 5)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      // "<title>Page 1" excludes pages 1 and 10-19: stream 11-15 is
      // ALL-excluded → skipped UNDER THE OPT-IN; every other stream
      // keeps a survivor (incl. 16-20 via Page 20)
      def read(opts: Map[String, String]) = {
        var r = spark.read.format("mediawiki").option("minSplitBytes", "2000")
          .option("excludePagesWith", "<title>Page 1")
        opts.foreach { case (k, v) => r = r.option(k, v) }
        r.load(f.getAbsolutePath).selectExpr("page_id", "curr.rev_id")
          .collect().map(x => (x.getLong(0), x.getLong(1))).toList.sorted
      }
      val indexed = spark.read.format("mediawiki").option("minSplitBytes", "2000")
        .option("excludePagesWith", "<title>Page 1")
        .option("multistreamSkipExcluded", "true").load(f.getAbsolutePath)
      assert(indexed.rdd.getNumPartitions == 7,
        s"the all-excluded stream must be skipped, got ${indexed.rdd.getNumPartitions}")
      // DEFAULT (no opt-in): exclusions never skip streams — the
      // raw-regex / decoded-index equivalence needs the standard-escaper
      // contract (ADVICE r12) — but the reader still applies the regex,
      // so the result set is identical
      val conservative = spark.read.format("mediawiki").option("minSplitBytes", "2000")
        .option("excludePagesWith", "<title>Page 1").load(f.getAbsolutePath)
      assert(conservative.rdd.getNumPartitions == 8,
        s"default must NOT skip on exclusions, got ${conservative.rdd.getNumPartitions}")
      val got = read(Map("multistreamSkipExcluded" -> "true"))
      assert(got == read(Map("multistreamIndex" -> "off")),
        "exclusion skip-planning diverged from the reader-only path")
      assert(got == read(Map.empty),
        "default (no skip) diverged from the reader-only path")
      assert(!got.exists { case (pid, _) => pid == 1L || (pid >= 10L && pid <= 19L) })
      assert(got.map(_._1).distinct.length == 29)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
  }

  test("multistream index: char-ref titles — default exclusion planning stays reader-exact") {
    // Legal XML the standard escaper never emits: '<title>&#80;age 3'
    // decodes to 'Page 3'. The reader's exclude regex runs on the RAW
    // header (no match → page kept); the index's decoded title IS
    // prefix-excluded. The DEFAULT must therefore not skip on
    // exclusions (ADVICE r12); the opt-in documents the contract
    // boundary by diverging exactly here.
    val nPages = 12
    val xml = genDump(nPages, fillerLen = 1500)
      .replace("<title>Page 3</title>", "<title>&#80;age 3</title>")
    val dir = Files.createTempDirectory("mwmscref").toFile
    val f = new File(dir, "cref-multistream.xml.bz2")
    val idx = new File(dir, "cref-multistream-index.txt")
    graft.sources.MultistreamWriter.writeGrouped(xml, f, idx, 1,
      pageIdOf = i => i + 1L, titleOf = i => s"Page ${i + 1}")
    def pids(opts: Map[String, String]): List[Long] = {
      var r = spark.read.format("mediawiki")
        .option("multistreamTargetBytes", "1")
        .option("excludePagesWith", "<title>Page 3")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(f.getAbsolutePath).select($"page_id").as[Long]
        .collect().toList.distinct.sorted
    }
    val indexless = pids(Map("multistreamIndex" -> "off", "minSplitBytes" -> "100000"))
    assert(indexless.contains(3L),
      "raw-regex exclude must keep the char-ref page (no raw match)")
    assert(pids(Map.empty) == indexless,
      "default index planning must equal the reader-only read on char-ref titles")
    // the opt-in asserts the standard-escaper contract this dump breaks:
    // the decoded-title prefix test drops the stream the reader would keep
    assert(pids(Map("multistreamSkipExcluded" -> "true")) ==
      indexless.filterNot(_ == 3L),
      "opt-in skip must follow the decoded index titles (the documented contract)")
  }

  /** Mixed-namespace multistream construction: `nMain` main pages
    * (`Page i`, `<ns>0</ns>`), `nTalk` talk pages (`Talk:Page i`,
    * `<ns>1</ns>`), one `Category:NoNs` page with the `<ns>` element
    * ABSENT. One bz2 stream per page + index sibling. */
  def writeNsMultistream(dir: File, nMain: Int, nTalk: Int): (File, Seq[String]) = {
    val sb = new StringBuilder
    sb.append("<mediawiki>\n  <siteinfo>\n    <namespaces>\n")
    sb.append("      <namespace key=\"0\" />\n")
    sb.append("      <namespace key=\"1\">Talk</namespace>\n")
    sb.append("      <namespace key=\"14\">Category</namespace>\n")
    sb.append("    </namespaces>\n  </siteinfo>\n")
    val titles = scala.collection.mutable.ArrayBuffer[String]()
    var id = 0
    def page(title: String, ns: Option[Int]): Unit = {
      id += 1
      titles += title
      sb.append(s"  <page>\n    <title>$title</title>\n")
      ns.foreach(n => sb.append(s"    <ns>$n</ns>\n"))
      sb.append(s"    <id>$id</id>\n")
      sb.append(s"    <revision>\n      <id>${1000 + id}</id>\n")
      sb.append("      <timestamp>2021-01-01T00:00:00Z</timestamp>\n")
      sb.append("      <contributor><username>u</username><id>1</id></contributor>\n")
      sb.append(s"      <text xml:space=\"preserve\">text of $title</text>\n")
      sb.append("    </revision>\n  </page>\n")
    }
    (1 to nMain).foreach(i => page(s"Page $i", Some(0)))
    (1 to nTalk).foreach(i => page(s"Talk:Page $i", Some(1)))
    page("Category:NoNs", None)
    sb.append("</mediawiki>\n")
    val xml = sb.toString
    val f = new File(dir, "ns-multistream.xml.bz2")
    val idx = new File(dir, "ns-multistream-index.txt")
    val ts = titles.toVector
    graft.sources.MultistreamWriter.writeGrouped(xml, f, idx, 1,
      pageIdOf = i => i + 1L, titleOf = i => ts(i))
    (f, ts)
  }

  test("multistream index: pushed ns filter skips non-main streams before decompression") {
    val dir = Files.createTempDirectory("mwmsns").toFile
    val (f, _) = writeNsMultistream(dir, nMain = 4, nTalk = 3)
    def read(flt: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        off: Boolean): (Int, List[Long]) = {
      var r = spark.read.format("mediawiki").option("multistreamTargetBytes", "1")
      if (off) r = r.option("multistreamIndex", "off").option("minSplitBytes", "100000")
      val df = flt(r.load(f.getAbsolutePath))
      (df.rdd.getNumPartitions,
        df.select($"page_id").as[Long].collect().toList.sorted)
    }
    // articles-only: Talk and Category streams are never decompressed
    val (pMain, mainIds) = read(_.where($"ns" === 0), off = false)
    assert(pMain == 4, s"ns=0 must leave the 4 main streams, got $pMain")
    assert(mainIds == read(_.where($"ns" === 0), off = true)._2 &&
      mainIds == List(1L, 2L, 3L, 4L))
    // IN over two namespaces
    val (pIn, inIds) = read(_.where($"ns".isin(0, 1)), off = false)
    assert(pIn == 7, s"ns IN (0,1) must leave 7 streams, got $pIn")
    assert(inIds == read(_.where($"ns".isin(0, 1)), off = true)._2)
    // the absent-<ns> Category page: the planner classifies it ns 14 by
    // title and keeps its stream for ns=14, but the reader drops it
    // (NULL matches nothing) — exactly the indexless semantics
    val (pCat, catIds) = read(_.where($"ns" === 14), off = false)
    assert(pCat == 1, s"ns=14 must keep the one Category-titled stream, got $pCat")
    assert(catIds.isEmpty && catIds == read(_.where($"ns" === 14), off = true)._2)
  }

  test("directory read skips the -index.txt sibling of a present dump") {
    val dir = Files.createTempDirectory("mwmsdir").toFile
    val (f, _, _) = writeMultistreamWithIndex(dir, nPages = 10,
      fillerLen = 1000, pagesPerStream = 5)
    val viaDir = spark.read.format("mediawiki")
      .option("multistreamTargetBytes", "1").load(dir.getAbsolutePath)
    val viaFile = spark.read.format("mediawiki")
      .option("multistreamTargetBytes", "1").load(f.getAbsolutePath)
    // the index sibling must contribute ZERO partitions (it used to be
    // planned and decompressed as a dump, ADVICE r12)
    assert(viaDir.rdd.getNumPartitions == viaFile.rdd.getNumPartitions,
      s"index sibling planned as a dump: ${viaDir.rdd.getNumPartitions} vs ${viaFile.rdd.getNumPartitions}")
    assert(viaDir.count() == viaFile.count())
    // …but an index WITHOUT its dump sibling is still read as a file
    // (no guessing about intent)
    val lonely = Files.createTempDirectory("mwmslonely").toFile
    val li = new File(lonely, "orphan-index.txt")
    Files.write(li.toPath, "<mediawiki></mediawiki>\n".getBytes("UTF-8"))
    assert(spark.read.format("mediawiki").load(lonely.getAbsolutePath).count() == 0)
    // sibling-ness recognizes every bz2 extension the source accepts —
    // a dump named `dump.bz2` (no .xml) still claims dump-index.txt
    // (ADVICE r13); unrelated names never do
    import graft.sources.MultistreamIndex.isIndexSibling
    assert(isIndexSibling("dump-index.txt", Set("dump.bz2")))
    assert(isIndexSibling("dump-index.txt.bz2", Set("dump.xml.bz2")))
    assert(!isIndexSibling("dump-index.txt", Set("dump.xml")))
    assert(!isIndexSibling("other-index.txt", Set("dump.bz2")))
    assert(!isIndexSibling("-index.txt", Set(".bz2", ".xml.bz2")))
  }

  test("multistream index: plan() is memoized per file state and filter props") {
    val dir = Files.createTempDirectory("mwmsmemo").toFile
    val (f, idx, _) = writeMultistreamWithIndex(dir, nPages = 10,
      fillerLen = 1000, pagesPerStream = 5)
    // the settle guard refuses to CACHE plans for files modified within
    // the modTime tick window (a same-length in-place rewrite inside
    // one tick would otherwise serve stale skip decisions) — age the
    // files so this test exercises the memoized path production sees
    val past = System.currentTimeMillis() - 60000
    assert(f.setLastModified(past) && idx.setLastModified(past))
    val conf = new Configuration()
    val fs = new Path(f.getAbsolutePath).getFileSystem(conf)
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    def plan(props: Map[String, String]) = graft.sources.MultistreamIndex.plan(
      fs, codecs, new Path(f.getAbsolutePath), f.length(), 1L, props)
    val a = plan(Map.empty)
    val b = plan(Map.empty)
    assert(a.nonEmpty && (a eq b),
      "identical (file state, props) must return the memoized instance")
    // different filter props must not share a memo entry
    val filtered = plan(Map("__pageIdFilter0" -> "eq:7"))
    assert(filtered.nonEmpty && filtered.get.length < a.get.length)
    // ...and a filter VALUE crafted to render like two props must not
    // collide with the two-prop key (structural Seq key, review r13)
    val sneaky = plan(Map("__titleFilter0" -> "eq:x), (__titleFilter1,eq:Page 2"))
    val twoProps = plan(Map("__titleFilter0" -> "eq:x",
      "__titleFilter1" -> "eq:Page 2"))
    assert(!(sneaky eq twoProps),
      "distinct filter sets must not share a memo entry")
    assert(sneaky.get.isEmpty && twoProps.get.isEmpty)
    // a FRESH (just-written) file must not be served from the memo even
    // when (mtime, length) collide: rewrite in place with same-length
    // different content — liveness for page 7 flips stream
    val lines0 = scala.io.Source.fromFile(idx).getLines().toList
    // rewriting the index invalidates (length changes)
    val pw = new java.io.PrintWriter(idx, "UTF-8")
    try lines0.take(5).foreach(pw.println) finally pw.close()
    val c = plan(Map.empty)
    assert(!(a eq c), "rewritten index must miss the memo")
    // the fresh rewrite above was NOT cached (settle guard): a second
    // plan recomputes rather than returning the same instance
    val c2 = plan(Map.empty)
    assert(!(c eq c2), "files inside the settle window must not be cached")
  }

  test("multistream index: memo evicts LRU, never clears (and bounded parallel planning ≡ serial)") {
    val dir = Files.createTempDirectory("mwmslru").toFile
    val (f, idx, _) = writeMultistreamWithIndex(dir, nPages = 10,
      fillerLen = 1000, pagesPerStream = 5)
    val past = System.currentTimeMillis() - 60000
    assert(f.setLastModified(past) && idx.setLastModified(past))
    val conf = new Configuration()
    val fs = new Path(f.getAbsolutePath).getFileSystem(conf)
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    def plan(props: Map[String, String]) = graft.sources.MultistreamIndex.plan(
      fs, codecs, new Path(f.getAbsolutePath), f.length(), 1L, props)
    val base = plan(Map.empty) // warm the entry under observation
    // churn PAST the memo capacity with distinct filter sets — the old
    // clear-on-overflow map dropped EVERYTHING at the 65th plan, so the
    // base entry (touched throughout, most-recently-used) would re-read
    // its index; access-ordered LRU must keep it live
    for (i <- 1 to 300) {
      plan(Map("__pageIdFilter0" -> s"eq:${1000 + i}"))
      if (i % 50 == 0) assert(plan(Map.empty) eq base,
        s"recently-used entry evicted after $i churn inserts (memoSize=" +
          s"${graft.sources.MultistreamIndex.memoSize})")
    }
    assert(graft.sources.MultistreamIndex.memoSize <= 256,
      "memo must stay bounded under churn")
    assert(plan(Map.empty) eq base)
    // bounded-pool multi-file planning concatenates per-file plans in
    // input order, identical to the serial loop
    val dir2 = Files.createTempDirectory("mwmspar").toFile
    val dumps = (1 to 5).map { i =>
      val sub = new File(dir2, s"d$i"); sub.mkdirs()
      val (fi, ii, _) = writeMultistreamWithIndex(sub, nPages = 6,
        fillerLen = 500, pagesPerStream = 3)
      assert(fi.setLastModified(past) && ii.setLastModified(past))
      (new Path(fi.getAbsolutePath).getFileSystem(conf), new Path(fi.getAbsolutePath))
    }
    val par = graft.sources.MediaWikiScan.partitionsForFiles(codecs, dumps, 1L, Map.empty)
    val ser = dumps.flatMap { case (dfs, p) =>
      graft.sources.MediaWikiScan.partitionsForFile(dfs, codecs, p, 1L, Map.empty) }
    assert(par == ser, "parallel planning must equal the serial loop, in order")
    // the loud-failure contract survives the pool (original exception type)
    intercept[IllegalArgumentException] {
      graft.sources.MediaWikiScan.partitionsForFiles(codecs, dumps, 1L,
        Map("multistreamTargetBytes" -> "not-a-long"))
    }
  }

  test("multistream index: bz2-compressed index sibling (the published Wikipedia form)") {
    // wikipedia publishes X-multistream-index.txt.bz2 next to the dump;
    // locate() must find it and plan() must read it through the codec
    val dir = Files.createTempDirectory("mwmsidxbz2").toFile
    val (f, idx, _) = writeMultistreamWithIndex(dir, nPages = 20,
      fillerLen = 1500, pagesPerStream = 4)
    val idxBz2 = new File(dir, idx.getName + ".bz2")
    val fos = new java.io.FileOutputStream(idxBz2)
    try {
      fos.write('B'); fos.write('Z')
      val out = new org.apache.hadoop.io.compress.bzip2.CBZip2OutputStream(fos, 1)
      out.write(java.nio.file.Files.readAllBytes(idx.toPath))
      out.finish()
    } finally fos.close()
    assert(idx.delete()) // only the compressed form remains
    val indexed = spark.read.format("mediawiki")
      .option("multistreamTargetBytes", "1").load(f.getAbsolutePath)
    assert(indexed.rdd.getNumPartitions == 5, // 20 pages / 4 per stream
      s"bz2 index must drive stream-aligned planning, got ${indexed.rdd.getNumPartitions}")
    val got = indexed.selectExpr("page_id", "curr.rev_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    val want = spark.read.format("mediawiki").option("multistreamIndex", "off")
      .option("minSplitBytes", "100000").load(f.getAbsolutePath)
      .selectExpr("page_id", "curr.rev_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    assert(got == want && got.nonEmpty)
    // skip-planning through the compressed index too
    val one = spark.read.format("mediawiki").option("multistreamTargetBytes", "1")
      .load(f.getAbsolutePath).where($"page_id" === 10L)
    assert(one.rdd.getNumPartitions == 1,
      s"page_id skip through the bz2 index, got ${one.rdd.getNumPartitions}")
    assert(one.select($"curr.rev_id").count() == (1 + 10 % 5))
  }

  test("siteinfo namespace parse: attribute order/quotes; strict None on unparseable") {
    import graft.sources.XmlFields
    // attribute order and quote style are insignificant in XML
    val head =
      """<siteinfo><namespaces>
        |  <namespace case="first-letter" key="0" />
        |  <namespace case='first-letter' key='1'>Talk</namespace>
        |  <namespace key = "14">Category</namespace>
        |</namespaces></siteinfo>""".stripMargin
    val m = XmlFields.siteinfoNamespacesFromHead(head)
    assert(m == Map(0 -> "", 1 -> "Talk", 14 -> "Category"))
    assert(XmlFields.siteinfoNamespacesStrict(head).contains(m))
    // an element whose key cannot be parsed: lenient skips it, strict
    // refuses the whole map (skip decisions must not run on a
    // partially-understood namespaces block)
    val bad = head.replace("key = \"14\"", "kee=\"14\"")
    assert(XmlFields.siteinfoNamespacesFromHead(bad) == Map(0 -> "", 1 -> "Talk"))
    assert(XmlFields.siteinfoNamespacesStrict(bad).isEmpty)
  }

  test("ns skip-planning disengages (keeps all streams) when siteinfo is unparseable") {
    // a namespace element whose key the parser cannot read: the planner
    // must keep every stream for an ns predicate (the reader still
    // filters exactly), never misclassify-and-drop
    val dir = Files.createTempDirectory("mwmsnsbad").toFile
    val sb = new StringBuilder
    sb.append("<mediawiki>\n  <siteinfo>\n    <namespaces>\n")
    sb.append("      <namespace key=\"0\" />\n")
    sb.append("      <namespace kee=\"1\">Talk</namespace>\n")
    sb.append("    </namespaces>\n  </siteinfo>\n")
    var id = 0
    def page(title: String, ns: Int): Unit = {
      id += 1
      sb.append(s"  <page>\n    <title>$title</title>\n    <ns>$ns</ns>\n    <id>$id</id>\n")
      sb.append(s"    <revision>\n      <id>${1000 + id}</id>\n")
      sb.append("      <timestamp>2021-01-01T00:00:00Z</timestamp>\n")
      sb.append("      <contributor><username>u</username><id>1</id></contributor>\n")
      sb.append(s"      <text xml:space=\"preserve\">text of $title</text>\n    </revision>\n  </page>\n")
    }
    (1 to 3).foreach(i => page(s"Page $i", 0))
    (1 to 2).foreach(i => page(s"Talk:Page $i", 1))
    sb.append("</mediawiki>\n")
    val f2 = new File(dir, "badns-multistream.xml.bz2")
    val idx2 = new File(dir, "badns-multistream-index.txt")
    val ts = Vector("Page 1", "Page 2", "Page 3", "Talk:Page 1", "Talk:Page 2")
    graft.sources.MultistreamWriter.writeGrouped(sb.toString, f2, idx2, 1,
      pageIdOf = i => i + 1L, titleOf = i => ts(i))
    val df = spark.read.format("mediawiki").option("multistreamTargetBytes", "1")
      .load(f2.getAbsolutePath).where($"ns" === 1)
    // unparseable siteinfo → ns contributes nothing to skip-planning:
    // ALL 5 page streams stay live…
    assert(df.rdd.getNumPartitions == 5,
      s"ns skip must disengage on a bad siteinfo, got ${df.rdd.getNumPartitions}")
    // …and the reader still filters exactly
    assert(df.select($"page_id").as[Long].collect().toList.sorted == List(4L, 5L))
  }

  test("single-quoted attributes: deleted/bytes/redirect parse like double-quoted") {
    // both quote styles are legal XML; a single-quoted deleted attr
    // previously read as NOT deleted (silent skew, review r13)
    val xml =
      """<mediawiki>
        |  <page><title>A</title><ns>0</ns><id>1</id>
        |    <redirect title='Else Where' />
        |    <revision><id>11</id><timestamp>2021-01-01T00:00:00Z</timestamp>
        |    <contributor deleted='deleted' />
        |    <comment deleted='deleted' />
        |    <text deleted='deleted' /></revision>
        |    <revision><id>12</id><timestamp>2021-01-01T01:00:00Z</timestamp>
        |    <contributor><username>u</username><id>1</id></contributor>
        |    <text xml:space='preserve' bytes='5'>hello</text></revision>
        |  </page>
        |</mediawiki>
        |""".stripMargin
    val dir = Files.createTempDirectory("mwsq").toFile
    val f = new File(dir, "sq.xml")
    Files.write(f.toPath, xml.getBytes("UTF-8"))
    val rows = spark.read.format("mediawiki").load(f.getAbsolutePath)
      .orderBy($"curr.rev_id").collect()
    assert(rows.length == 2)
    val r11 = rows(0).getAs[org.apache.spark.sql.Row]("curr")
    assert(r11.getAs[String]("text") == null, "single-quoted deleted text must be NULL")
    assert(r11.getAs[String]("comment") == null)
    assert(r11.getAs[org.apache.spark.sql.Row]("contributor").getAs[Boolean]("deleted"))
    assert(rows(0).getAs[String]("redirect") == "Else Where")
    val r12 = rows(1).getAs[org.apache.spark.sql.Row]("curr")
    assert(r12.getAs[String]("text") == "hello")
    assert(r12.getAs[Long]("bytes") == 5L)
  }

  test("directory listings skip hidden/temp/marker files and the explicit index path") {
    val dir = Files.createTempDirectory("mwhidden").toFile
    val (f, idx, _) = writeMultistreamWithIndex(dir, nPages = 10,
      fillerLen = 800, pagesPerStream = 5)
    // in-flight copies and job markers must never be read as dumps
    Files.write(new File(dir, ".part.xml.tmp").toPath,
      "<mediawiki><page><title>T</title><ns>0</ns><id>99</id>".getBytes("UTF-8"))
    Files.write(new File(dir, "_SUCCESS").toPath, Array.empty[Byte])
    val viaDir = spark.read.format("mediawiki").load(dir.getAbsolutePath)
      .select($"page_id").as[Long].collect().toList.sorted
    val viaFile = spark.read.format("mediawiki").load(f.getAbsolutePath)
      .select($"page_id").as[Long].collect().toList.sorted
    assert(viaDir == viaFile, "hidden/marker files must not contribute rows")
    // an explicitly-optioned index with a NON-convention name inside the
    // directory is planning metadata, not a dump
    val oddIdx = new File(dir, "lookup.txt")
    Files.copy(idx.toPath, oddIdx.toPath)
    val viaOpt = spark.read.format("mediawiki")
      .option("multistreamIndex", oddIdx.getAbsolutePath)
      .option("multistreamTargetBytes", "1")
      .load(dir.getAbsolutePath)
    // 10 pages / 5 per stream = 2 partitions; the oddly-named index and
    // the convention sibling contribute none
    assert(viaOpt.rdd.getNumPartitions == 2,
      s"explicit index must not be scanned as a dump, got ${viaOpt.rdd.getNumPartitions}")
    assert(viaOpt.select($"page_id").as[Long].collect().toList.sorted == viaFile)
  }

  test("ns skip disengages when a queried ns key is not declared in siteinfo") {
    // out-of-contract dump: pages carry <ns>14</ns> but siteinfo never
    // declares ns 14 — the classifier can never produce 14, so engaging
    // would mark EVERY stream dead; the guard must disengage and leave
    // the rows to the reader (indexless equality)
    val dir = Files.createTempDirectory("mwnskey").toFile
    val sb = new StringBuilder
    sb.append("<mediawiki>\n  <siteinfo>\n    <namespaces>\n")
    sb.append("      <namespace key=\"0\" />\n")
    sb.append("    </namespaces>\n  </siteinfo>\n")
    var id = 0
    def page(title: String, ns: Int): Unit = {
      id += 1
      sb.append(s"  <page>\n    <title>$title</title>\n    <ns>$ns</ns>\n    <id>$id</id>\n")
      sb.append(s"    <revision>\n      <id>${1000 + id}</id>\n")
      sb.append("      <timestamp>2021-01-01T00:00:00Z</timestamp>\n")
      sb.append("      <contributor><username>u</username><id>1</id></contributor>\n")
      sb.append(s"      <text xml:space=\"preserve\">text of $title</text>\n    </revision>\n  </page>\n")
    }
    (1 to 3).foreach(i => page(s"Page $i", 0))
    (1 to 2).foreach(i => page(s"Category:Page $i", 14))
    sb.append("</mediawiki>\n")
    val f = new File(dir, "nskey-multistream.xml.bz2")
    val idx = new File(dir, "nskey-multistream-index.txt")
    val ts = Vector("Page 1", "Page 2", "Page 3", "Category:Page 1", "Category:Page 2")
    graft.sources.MultistreamWriter.writeGrouped(sb.toString, f, idx, 1,
      pageIdOf = i => i + 1L, titleOf = i => ts(i))
    val df = spark.read.format("mediawiki").option("multistreamTargetBytes", "1")
      .load(f.getAbsolutePath).where($"ns" === 14)
    assert(df.rdd.getNumPartitions == 5,
      s"undeclared queried ns must disengage skip, got ${df.rdd.getNumPartitions}")
    assert(df.select($"page_id").as[Long].collect().toList.sorted == List(4L, 5L))
    // ns=0 (declared) engages — but with ns 14 undeclared, "Category:"
    // is not a namespace per THIS siteinfo, so those titles classify as
    // main and their streams stay live (the safe direction: the reader
    // drops the out-of-contract <ns>14</ns> pages post-decompression)
    val main = spark.read.format("mediawiki").option("multistreamTargetBytes", "1")
      .load(f.getAbsolutePath).where($"ns" === 0)
    assert(main.rdd.getNumPartitions == 5,
      s"undeclared-prefix titles classify main and stay live, got ${main.rdd.getNumPartitions}")
    assert(main.select($"page_id").as[Long].collect().toList.sorted == List(1L, 2L, 3L))
  }

  test("options are case-insensitive: NSIN / pageidin reach the source") {
    val dir = Files.createTempDirectory("mwoptci").toFile
    val (f, _) = writeNsMultistream(dir, nMain = 3, nTalk = 2)
    val viaUpper = spark.read.format("mediawiki").option("NSIN", "0")
      .load(f.getAbsolutePath).select($"page_id").as[Long].collect().toList.sorted
    assert(viaUpper == List(1L, 2L, 3L),
      s"mis-cased nsIn must still filter, got $viaUpper")
    val viaLower = spark.read.format("mediawiki").option("pageidin", "2,4")
      .load(f.getAbsolutePath).select($"page_id").as[Long].collect().toList.sorted
    assert(viaLower == List(2L, 4L),
      s"mis-cased pageIdIn must still filter, got $viaLower")
  }

  test("multistream index randomized cross-check: random stream cuts × filters") {
    // random page-aligned stream groupings × several filter shapes must
    // always equal the indexless read — pins skip-planning and boundary
    // ownership beyond the fixed constructions above. A third of the
    // pages carry <ns>1</ns> + a Talk: title (declared in siteinfo) so
    // the ns-filter shapes exercise the ns skip-planner too.
    val nPages = 30
    val xml = {
      val base = genDump(nPages, fillerLen = 2000)
      val talked = (1 to nPages).filter(_ % 3 == 0).foldLeft(base) { (x, p) =>
        x.replace(s"<title>Page $p</title>\n    <ns>0</ns>",
          s"<title>Talk:Page $p</title>\n    <ns>1</ns>")
      }
      talked.replaceFirst("<mediawiki>",
        "<mediawiki>\n  <siteinfo>\n    <namespaces>\n" +
          "      <namespace key=\"0\" />\n" +
          "      <namespace key=\"1\">Talk</namespace>\n" +
          "    </namespaces>\n  </siteinfo>")
    }
    def titleOf(i: Int): String =
      if ((i + 1) % 3 == 0) s"Talk:Page ${i + 1}" else s"Page ${i + 1}"
    val starts = graft.sources.MultistreamWriter.pageStarts(xml)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      // each page boundary starts a new stream with prob 0.4
      val groupHeads = starts.indices.filter(i => i == 0 || rnd.nextDouble() < 0.4)
      val dir = Files.createTempDirectory(s"mwmsfuzz$seed").toFile
      val f = new File(dir, "fuzz-multistream.xml.bz2")
      val idx = new File(dir, "fuzz-multistream-index.txt")
      graft.sources.MultistreamWriter.write(xml, f, idx, groupHeads,
        pageIdOf = i => i + 1L, titleOf = titleOf)
      val eqTitle = titleOf(rnd.nextInt(nPages))
      val eqId = (1 + rnd.nextInt(nPages)).toLong
      val loId = (1 + rnd.nextInt(nPages)).toLong
      val filters: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
        df => df,
        df => df.where($"title" === eqTitle),
        df => df.where($"title".contains("Page 1")),
        df => df.where($"title".startsWith("Page 2")),
        df => df.where($"page_id" === eqId),
        df => df.where($"page_id" >= loId && $"page_id" < loId + 4L),
        df => df.where($"ns" === 0),
        df => df.where($"ns" === 1),
        df => df.where($"ns".isin(0, 1)))
      for ((flt, fi) <- filters.zipWithIndex) {
        def fp(off: Boolean): List[(Long, Long, Any)] = {
          var r = spark.read.format("mediawiki").option("multistreamTargetBytes", "1")
          if (off) r = r.option("multistreamIndex", "off").option("minSplitBytes", "100000")
          flt(r.load(f.getAbsolutePath))
            .selectExpr("page_id", "curr.rev_id", "prev.rev_id")
            .collect().map(x => (x.getLong(0), x.getLong(1), x.get(2))).toList
            .sortBy(t => (t._1, t._2))
        }
        val a = fp(off = false); val b = fp(off = true)
        assert(a == b, s"seed=$seed filter=$fi: indexed read diverged (${a.length} vs ${b.length})")
      }
    }
  }

  test("multistream index: malformed or mismatched index falls back to size planning") {
    val dir = Files.createTempDirectory("mwmsbad").toFile
    val (f, idx, _) = writeMultistreamWithIndex(dir, nPages = 20,
      fillerLen = 4000, pagesPerStream = 5)
    val expected = expectedRevCount(20)
    // malformed line
    val pw = new java.io.PrintWriter(new java.io.FileWriter(idx, true))
    try pw.println("not-an-offset-line") finally pw.close()
    val n = spark.read.format("mediawiki").load(f.getAbsolutePath).count()
    assert(n == expected, "malformed index must not change the result")
    // offsets that don't point at bz2 magic (index for a different dump)
    val pw2 = new java.io.PrintWriter(idx, "UTF-8")
    try { pw2.println("7:1:Page 1"); pw2.println("9999:2:Page 2") } finally pw2.close()
    val n2 = spark.read.format("mediawiki").load(f.getAbsolutePath).count()
    assert(n2 == expected, "mismatched index must not change the result")
    // an EXPLICIT index path that doesn't exist must fail loudly — a
    // silent fallback would mask a typo'd option
    val ex = intercept[Exception] {
      spark.read.format("mediawiki")
        .option("multistreamIndex", "/nonexistent/idx.txt")
        .load(f.getAbsolutePath).count()
    }
    assert(ex.getMessage != null)
  }

  test("bz2 randomized small-block split property: block sizes 1/5/9, random splits") {
    // the reference's testSplitCompressed fuzz (block sizes 1/5/9 ×
    // randomized splits over ~90k revisions, asserting only >= counts);
    // here: tens of thousands of revisions, strict equality — every
    // (page, rev, prev) triple identical across split sizes, no dup, no
    // loss. Block size 1 = 100 KB compression blocks, so random splits
    // land INSIDE blocks and exercise sub-block BYBLOCK ownership.
    val nPages = 6000
    val dump = genDump(nPages, fillerLen = 60).getBytes("UTF-8")
    val expected = expectedRevCount(nPages)
    val dir = Files.createTempDirectory("mwbz2fuzz").toFile
    val rnd = new scala.util.Random(7)
    for (blockSize <- Seq(1, 5, 9)) {
      val f = new File(dir, s"dump_b$blockSize.xml.bz2")
      val fos = new java.io.FileOutputStream(f)
      fos.write('B'); fos.write('Z')
      val out = new org.apache.hadoop.io.compress.bzip2.CBZip2OutputStream(fos, blockSize)
      out.write(dump)
      out.close()
      def fingerprint(minSplit: Long): List[(Long, Long, Any)] =
        spark.read.format("mediawiki").option("minSplitBytes", minSplit.toString)
          .load(f.getAbsolutePath)
          .selectExpr("page_id", "curr.rev_id", "prev.rev_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2)))
          .toList.sortBy(t => (t._1, t._2))
      val whole = fingerprint(1L << 30) // single split = ground truth
      assert(whole.length.toLong == expected,
        s"block=$blockSize whole-file count ${whole.length} != $expected")
      for (_ <- 1 to 3) {
        val minSplit = 30000L + rnd.nextInt(250000)
        val split = fingerprint(minSplit)
        assert(split == whole,
          s"block=$blockSize minSplit=$minSplit: split output differs from whole-file read")
      }
    }
  }

  test("title filter pushdown reaches the scan (no post-filter duplicates)") {
    val df = spark.read.format("mediawiki").load(fixture)
      .filter($"title".startsWith("Talk:"))
    assert(df.select($"curr.rev_id").as[Long].collect().toList == List(201L))
    // the predicate shows as pushed in the scan description
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("mediawiki"), plan)
    // equality pushdown
    val eq = spark.read.format("mediawiki").load(fixture)
      .filter($"title" === "Gamma Ray")
    assert(eq.count() == 2)
    // non-title filters still work (evaluated by Spark post-scan)
    val other = spark.read.format("mediawiki").load(fixture)
      .filter($"curr.minor" === true)
    assert(other.count() == 1)
  }

  test("nested pruning: metadata-only scan skips text capture") {
    val df = spark.read.format("mediawiki").load(fixture)
      .select($"page_id", $"curr.rev_id".as("rid"), $"curr.timestamp".as("ts"))
    val rows = df.orderBy($"rid").collect()
    assert(rows.map(_.getAs[Long]("rid")).toList == List(101L, 102L, 103L, 201L, 301L, 302L))
    val leaf = df.queryExecution.executedPlan.collectLeaves().head.schema
    val curr = leaf.fields.find(_.name == "curr")
    // nested struct reaching the scan should be pruned below full width
    curr.foreach { f =>
      val width = f.dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fields.length
      assert(width < 11, s"curr not nested-pruned: width=$width in $leaf")
    }
    // bytes attr still available without text capture
    val b = spark.read.format("mediawiki").load(fixture)
      .select($"curr.rev_id".as("rid"), $"curr.bytes".as("nb"))
      .orderBy($"rid").collect()
    assert(b.head.getAs[Long]("nb") == 54L)
  }

  test("text-only nested prune returns the same text as a full-width read") {
    // the reader derives a metadata mask from the pruned curr/prev
    // structs (skipping contributor/comment/model/format/sha1 capture
    // per revision); the surviving columns must be byte-identical to
    // an unpruned read's
    val full = spark.read.format("mediawiki").load(fixture)
      .select($"curr.rev_id".as("rid"), $"curr.text".as("t"),
        $"curr.comment".as("c"), $"curr.contributor.username".as("u"))
      .orderBy($"rid").collect()
    val textOnly = spark.read.format("mediawiki").load(fixture)
      .select($"curr.rev_id".as("rid"), $"curr.text".as("t"))
      .orderBy($"rid").collect()
    assert(textOnly.map(r => (r.getLong(0), r.getAs[String]("t"))).toSeq ==
      full.map(r => (r.getAs[Long]("rid"), r.getAs[String]("t"))).toSeq)
    // sanity: the full read does surface the gated fields
    assert(full.exists(r => r.getAs[String]("c") != null) &&
      full.exists(r => r.getAs[String]("u") != null))
  }

  test("column pruning reaches the reader") {
    val df = spark.read.format("mediawiki").load(fixture).select($"page_id", $"title")
    assert(df.distinct().count() == 3)
    val scanSchema = df.queryExecution.executedPlan.collectLeaves().head.schema
    assert(!scanSchema.fieldNames.contains("curr"), s"pruning failed: $scanSchema")
  }
}
