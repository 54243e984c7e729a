package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The write side (`df.write.format("mediawiki")`): multistream layout
  * + index sibling, round-trip exactness against the source's own
  * reader, skip-plannability of the written archive, and the grouping
  * invariant's loud failure. */
class MediaWikiWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val fixture = "src/test/resources/fixtures/sample_dump.xml"

  private def noPrev(path: String): DataFrame =
    spark.read.format("mediawiki").option("previousRevision", "false").load(path)

  /** Order-free canonical view of a no-prev frame for equality. */
  private def canon(df: DataFrame): Set[String] =
    df.selectExpr("page_id", "title", "ns", "redirect", "rev_seq",
      "to_json(curr) AS c").collect()
      .map(_.mkString("")).toSet

  test("round-trip: read → write multistream → read back is exact (incl. NULL semantics)") {
    // the fixture carries the interesting cases: deleted contributor/
    // comment/text (RevisionDelete), redirect, minor, absent ns
    val src = noPrev(fixture)
    val out = Files.createTempDirectory("mwwrt").toFile
    src.write.format("mediawiki")
      .option("assumeGrouped", "true") // straight out of the reader
      .option("multistreamPagesPerStream", "2")
      .mode("append").save(out.getAbsolutePath)
    val files = out.listFiles().map(_.getName).sorted
    assert(files.exists(_.endsWith(".xml.bz2")), files.mkString(","))
    assert(files.exists(_.endsWith("-index.txt")), files.mkString(","))
    // dot-names must be gone except ChecksumFileSystem's own .crc siblings
    assert(!files.exists(f => f.startsWith(".") && !f.endsWith(".crc")),
      s"temp files left behind: ${files.mkString(",")}")
    val back = noPrev(out.getAbsolutePath)
    assert(canon(back) == canon(src))
  }

  test("written archive is skip-plannable by its own index (q183's partition pattern)") {
    val out = Files.createTempDirectory("mwwsp").toFile
    noPrev(fixture).write.format("mediawiki")
      .option("assumeGrouped", "true")
      .option("multistreamPagesPerStream", "1") // one stream per page
      .mode("append").save(out.getAbsolutePath)
    // age past the planner's settle window so the plan memoizes/engages
    val past = System.currentTimeMillis() - 60000
    out.listFiles().foreach(f => f.setLastModified(past))
    val nPages = noPrev(fixture).select("page_id").distinct().count()
    // per-stream planning: targetBytes=1 → one partition per live stream
    val all = spark.read.format("mediawiki")
      .option("previousRevision", "false")
      .option("multistreamTargetBytes", "1").load(out.getAbsolutePath)
    assert(all.rdd.getNumPartitions >= nPages,
      s"expected ≥$nPages per-stream partitions, got ${all.rdd.getNumPartitions}")
    // a pushed page_id filter must skip dead streams BEFORE decompression
    val wantPid = noPrev(fixture).agg(min($"page_id")).as[Long].head()
    val one = spark.read.format("mediawiki")
      .option("previousRevision", "false")
      .option("multistreamTargetBytes", "1").load(out.getAbsolutePath)
      .where($"page_id" === wantPid)
    assert(one.rdd.getNumPartitions < all.rdd.getNumPartitions,
      "pushed page_id filter did not shrink the partition count — index skip not engaged")
    assert(one.select("page_id").as[Long].collect().toSet == Set(wantPid))
  }

  test("default distribution groups an ungrouped frame; assumeGrouped fails loudly on violation") {
    // interleave two pages' revisions: (p1,r1),(p2,r1),(p1,r2),(p2,r2)
    val src = noPrev(fixture)
    val shuffled = src.orderBy($"rev_seq", $"page_id") // pages interleave
    val ok = Files.createTempDirectory("mwwg1").toFile
    // the declared clustered distribution + (page_id, rev_seq) ordering
    // lets Spark regroup — the write must succeed and round-trip
    shuffled.write.format("mediawiki")
      .mode("append").save(ok.getAbsolutePath)
    assert(canon(noPrev(ok.getAbsolutePath)) == canon(src))
    // with assumeGrouped the caller lied — the writer must throw, not
    // silently split the page across streams
    val bad = Files.createTempDirectory("mwwg2").toFile
    val e = intercept[Exception] {
      shuffled.coalesce(1).write.format("mediawiki")
        .option("assumeGrouped", "true")
        .mode("append").save(bad.getAbsolutePath)
    }
    assert(e.getMessage != null)
    assert(bad.listFiles().forall(f => !f.getName.endsWith(".xml.bz2")),
      "aborted write left committed files")
  }

  test("STREAMING write: epoch archives, replayed epoch overwrites itself exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    // two source parts → two epochs, each committing a deterministic
    // part-e<epoch>-p<partition> archive + index
    val srcDir = Files.createTempDirectory("mwwst-src").toFile
    val all = noPrev(fixture)
    val pids = all.select("page_id").distinct().as[Long].collect().sorted
    assert(pids.length >= 2, "fixture must have at least 2 pages")
    val firstHalf = pids.take(pids.length / 2).toSet
    def dumpOf(keep: Long => Boolean, name: String): Unit = {
      // re-render through the BATCH writer: one plain-dir archive per half
      val d = new File(srcDir, name + ".d")
      all.filter(udf(keep).apply($"page_id")).write.format("mediawiki")
        .option("assumeGrouped", "true").mode("append").save(d.getAbsolutePath)
      val bz2 = d.listFiles().find(_.getName.endsWith(".xml.bz2")).get
      java.nio.file.Files.move(bz2.toPath, new File(srcDir, name).toPath)
      d.listFiles().foreach(_.delete()); d.delete()
    }
    dumpOf(firstHalf.contains, "a_first.xml.bz2")
    dumpOf(p => !firstHalf.contains(p), "b_second.xml.bz2")
    val t0 = System.currentTimeMillis()
    assert(new File(srcDir, "a_first.xml.bz2").setLastModified(t0 - 120000))
    assert(new File(srcDir, "b_second.xml.bz2").setLastModified(t0 - 60000))
    val ckpt = Files.createTempDirectory("mwwst-ck").toString
    val outDir = Files.createTempDirectory("mwwst-out").toFile
    def runOnce(): Unit = {
      val q = spark.readStream.format("mediawiki")
        .option("previousRevision", "false")
        .option("maxFilesPerTrigger", "1")
        .load(srcDir.getAbsolutePath)
        .writeStream.format("mediawiki")
        .option("assumeGrouped", "true")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start(outDir.getAbsolutePath)
      val finished = try q.awaitTermination(120000) finally q.stop()
      assert(finished, "stream did not finish")
    }
    runOnce()
    def dumps = outDir.listFiles().map(_.getName)
      .filter(_.endsWith(".xml.bz2")).sorted.toSeq
    val first = dumps
    assert(first.size == 2 && first.forall(_.startsWith("part-e")), first)
    assert(canon(noPrev(outDir.getAbsolutePath)) == canon(all))
    // REPLAY epoch 1 through Spark's own recovery: drop its commit-log
    // entry (crash between sink commit and commit-log write) and rerun —
    // the deterministic names must overwrite, never duplicate
    val commit1 = new File(ckpt, "commits/1")
    assert(commit1.isFile, "expected commits/1 in the checkpoint")
    assert(commit1.delete())
    // the local ChecksumFileSystem keeps a .crc sibling; stale, it fails
    // the metadata log's atomic re-create as a phantom concurrent writer
    new File(ckpt, "commits/.1.crc").delete()
    runOnce()
    assert(dumps == first, s"replayed epoch must overwrite itself: $dumps")
    assert(canon(noPrev(outDir.getAbsolutePath)) == canon(all))
  }

  test("STREAMING write: non-contiguous pages in a partition fail loudly") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = Files.createTempDirectory("mwwst-bad").toFile
    // one parquet file, one partition, page 1 split around page 2
    val rows = Seq((1L, "A", 10L, "t1"), (2L, "B", 20L, "t2"), (1L, "A", 11L, "t3"))
      .toDF("page_id", "title", "rev_id", "text")
      .selectExpr("page_id", "title",
        "named_struct('rev_id', rev_id, 'text', text) AS curr")
    rows.coalesce(1).write.parquet(new File(srcDir, "in.parquet").getAbsolutePath)
    val q = spark.readStream.schema(rows.schema)
      .parquet(new File(srcDir, "in.parquet").getAbsolutePath)
      .writeStream.format("mediawiki")
      .option("assumeGrouped", "true") // lie: the frame is NOT grouped
      .option("checkpointLocation", Files.createTempDirectory("mwwst-bck").toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start(Files.createTempDirectory("mwwst-bout").toString)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .flatMap(c => Option(c.getMessage)).toSeq
    assert(chain(ex).exists(_.contains("not contiguous")), chain(ex).mkString(" | "))
  }

  test("no rev_seq: default distribution orders by curr.rev_id; mistyped column fails at planning") {
    // shuffled revisions, NO rev_seq column — the ordering fallback
    // must pin within-page revision order to curr.rev_id (a page_id-only
    // sort would write shuffle-fetch order: silently garbled pairing)
    val rows = Seq((1L, "A", 12L, "t3"), (2L, "B", 20L, "u1"),
        (1L, "A", 10L, "t1"), (2L, "B", 21L, "u2"), (1L, "A", 11L, "t2"))
      .toDF("page_id", "title", "rev_id", "text")
      .selectExpr("page_id", "title",
        "named_struct('rev_id', rev_id, 'text', text) AS curr")
    val out = Files.createTempDirectory("mwwseq").toFile
    rows.write.format("mediawiki").mode("append").save(out.getAbsolutePath)
    val back = noPrev(out.getAbsolutePath)
      .selectExpr("page_id", "rev_seq", "curr.rev_id AS rev_id")
      .as[(Long, Int, Long)].collect().toSeq
    for ((pid, revs) <- back.groupBy(_._1)) {
      val inFileOrder = revs.sortBy(_._2).map(_._3)
      assert(inFileOrder == inFileOrder.sorted,
        s"page $pid revisions written out of rev_id order: $inFileOrder")
    }
    // a mistyped consumed column must fail at PLANNING time, loudly —
    // getLong on an int slot would otherwise corrupt rev_ids silently
    val bad = rows.selectExpr("page_id", "title",
      "named_struct('rev_id', CAST(curr.rev_id AS INT), 'text', curr.text) AS curr")
    val ex = intercept[Exception] {
      bad.write.format("mediawiki").mode("append")
        .save(Files.createTempDirectory("mwwbad").toFile.getAbsolutePath)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .flatMap(c => Option(c.getMessage)).toSeq
    assert(chain(ex).exists(_.contains("`curr.rev_id` must be bigint")),
      chain(ex).mkString(" | "))
  }

  test("escaping round-trips hostile titles/text/comments") {
    val hostile = Seq(
      (1L, "A&B <title> \"q\" 'a'", Some(0), None, 0, "text with </text> & <page> markers", Some("c&c <x>")),
      (2L, "Plain", None, Some("A&B <title> \"q\" 'a'"), 0, "", None)
    ).toDF("page_id", "title", "ns", "redirect", "rev_seq", "txt", "comment")
      .select($"page_id", $"title", $"ns", $"redirect", $"rev_seq",
        struct($"rev_seq".cast("long").as("rev_id"),
          lit(null).cast("long").as("parent_id"),
          lit("2021-01-01 00:00:00").cast("timestamp").as("timestamp"),
          struct(lit(5L).as("id"), lit("u<&>").as("username"),
            lit(null).cast("string").as("ip"), lit(false).as("deleted")).as("contributor"),
          lit(true).as("minor"), $"comment",
          lit("wikitext").as("model"), lit(null).cast("string").as("format"),
          $"txt".as("text"), lit(null).cast("string").as("sha1"),
          length($"txt").cast("long").as("bytes")).as("curr"))
    val out = Files.createTempDirectory("mwwesc").toFile
    hostile.write.format("mediawiki").mode("append").save(out.getAbsolutePath)
    val back = noPrev(out.getAbsolutePath)
    assert(canon(back) == canon(hostile))
    // and the written index carries the RAW (unescaped) title, so the
    // planner's predicates see what the reader's unescape produces
    val idx = out.listFiles().find(_.getName.endsWith("-index.txt")).get
    val lines = scala.io.Source.fromFile(idx, "UTF-8").getLines().toList
    assert(lines.exists(_.endsWith(":A&B <title> \"q\" 'a'")), lines.mkString("|"))
  }

  test("escaped text streams byte-exact for multi-byte UTF-8 (incremental writer)") {
    // the giant-page path escapes revision text at the BYTE level,
    // straight into the open bz2 stream (no String materialization) —
    // pin parity with the char-level escaper on CJK / surrogate-pair /
    // marker-dense text, where a byte-scan bug would corrupt silently
    val nasty = "漢字&テスト <text xml:space=\"p\"> 🎉&amp; </text> ↔ &lt;done&gt;"
    val rows = Seq((1L, "T漢&<x>", nasty), (2L, "U", "🎉" * 100 + "&<>" * 50))
      .toDF("page_id", "title", "txt")
      .selectExpr("page_id", "title",
        "named_struct('rev_id', page_id * 10, 'text', txt) AS curr")
    val out = Files.createTempDirectory("mwwutf").toFile
    rows.write.format("mediawiki").mode("append").save(out.getAbsolutePath)
    val back = noPrev(out.getAbsolutePath)
      .selectExpr("page_id", "curr.text AS t").as[(Long, String)].collect().toMap
    assert(back(1L) == nasty)
    assert(back(2L) == "🎉" * 100 + "&<>" * 50)
  }

  test("multistreamIndexBz2 writes the published compressed-index layout") {
    val src = noPrev(fixture)
    val out = Files.createTempDirectory("mwwibz").toFile
    src.write.format("mediawiki")
      .option("assumeGrouped", "true")
      .option("multistreamPagesPerStream", "1")
      .option("multistreamIndexBz2", "true")
      .mode("append").save(out.getAbsolutePath)
    val files = out.listFiles().map(_.getName)
    assert(files.exists(_.endsWith("-index.txt.bz2")), files.mkString(","))
    assert(!files.exists(_.endsWith("-index.txt")), files.mkString(","))
    // the compressed index must be a STANDARD bz2 file the planner's
    // codec path can open — prove it by making the planner USE it:
    // a pushed page_id filter must shrink per-stream planning
    val past = System.currentTimeMillis() - 60000
    out.listFiles().foreach(f => f.setLastModified(past))
    def rd = spark.read.format("mediawiki")
      .option("previousRevision", "false")
      .option("multistreamTargetBytes", "1").load(out.getAbsolutePath)
    val allParts = rd.rdd.getNumPartitions
    val wantPid = src.agg(min($"page_id")).as[Long].head()
    val one = rd.where($"page_id" === wantPid)
    assert(one.rdd.getNumPartitions < allParts,
      s"compressed index did not engage skip planning " +
        s"(${one.rdd.getNumPartitions} of $allParts)")
    assert(canon(noPrev(out.getAbsolutePath)) == canon(src))
  }

  test("random-unicode round-trip fuzz through the byte-escape write path (seeded)") {
    // the incremental writer escapes text at the BYTE level and titles/
    // comments at the char level; drive both through the reader's parse
    // + unescape with adversarial codepoint soup: markers, entities,
    // CJK, surrogate pairs, control-adjacent chars, lone BMP edges
    val rnd = new scala.util.Random(42)
    val pool: IndexedSeq[String] = IndexedSeq(
      "&", "<", ">", "\"", "'", "&amp;", "&lt;", "&#65;", "</text>",
      "<page>", "漢", "字", "🎉", "𝔘", " ", " ", "e", " ", "\n",
      "\t", "x", "ß", "→")
    def soup(n: Int): String =
      (0 until n).map(_ => pool(rnd.nextInt(pool.size))).mkString
    val docs = (1L to 20L).map { i =>
      // titles: line terminators and (by the index contract) raw colons
      // are caller constraints; everything else must survive
      val title = s"T$i " + soup(8).replaceAll("[\\n\\r:]", "_")
      (i, title, soup(200), soup(12).replaceAll("[\\n\\r]", " "))
    }
    val src = docs.toDF("page_id", "title", "txt", "cmt")
      .selectExpr("page_id", "title",
        "named_struct('rev_id', page_id * 10, 'comment', cmt, 'text', txt) AS curr")
    val out = Files.createTempDirectory("mwwfuzz").toFile
    src.write.format("mediawiki").mode("append").save(out.getAbsolutePath)
    val back = noPrev(out.getAbsolutePath)
      .selectExpr("page_id", "title", "curr.text AS t", "curr.comment AS c")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    for ((i, title, txt, cmt) <- docs) {
      assert(back(i)._1 == title, s"title of page $i garbled")
      assert(back(i)._2 == txt, s"text of page $i garbled")
      assert(back(i)._3 == cmt, s"comment of page $i garbled")
    }
  }

  test("malformed writer options fail at PLANNING time; CR titles rejected") {
    val rows = Seq((1L, "A", "t")).toDF("page_id", "title", "txt")
      .selectExpr("page_id", "title",
        "named_struct('rev_id', 10L, 'text', txt) AS curr")
    // bad option: must fail BEFORE any task runs — the shuffle/sort and
    // the target dir's creation both come after planning (ADVICE r14)
    val out = new File(Files.createTempDirectory("mwwopt").toFile, "sub")
    val ex = intercept[Exception] {
      rows.write.format("mediawiki").option("bz2BlockSize", "17")
        .mode("append").save(out.getAbsolutePath)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .flatMap(c => Option(c.getMessage)).toSeq
    assert(chain(ex).exists(_.contains("bz2BlockSize must be 1-9")),
      chain(ex).mkString(" | "))
    assert(!out.exists(), "planning-time failure must precede dir creation")
    // a '\r' title breaks the index exactly like '\n' (readLine treats a
    // bare CR as a terminator → malformed line → whole index abandoned)
    val cr = Seq((1L, "bad\rtitle", "t")).toDF("page_id", "title", "txt")
      .selectExpr("page_id", "title",
        "named_struct('rev_id', 10L, 'text', txt) AS curr")
    val ex2 = intercept[Exception] {
      cr.write.format("mediawiki").mode("append")
        .save(Files.createTempDirectory("mwwcr").toFile.getAbsolutePath)
    }
    assert(chain(ex2).exists(_.contains("line terminator")),
      chain(ex2).mkString(" | "))
  }

  test("stream byte budget cuts early; header option is honored") {
    val src = noPrev(fixture)
    val out = Files.createTempDirectory("mwwbytes").toFile
    src.write.format("mediawiki")
      .option("assumeGrouped", "true")
      .option("multistreamPagesPerStream", "1000000")
      .option("multistreamStreamBytes", "1") // every page its own stream
      .option("multistreamHeader", "<mediawiki>\n  <siteinfo><namespaces>" +
        "<namespace key=\"0\" /></namespaces></siteinfo>\n")
      .mode("append").save(out.getAbsolutePath)
    val idx = out.listFiles().find(_.getName.endsWith("-index.txt")).get
    val offsets = scala.io.Source.fromFile(idx, "UTF-8").getLines()
      .map(_.split(":", 3)(0).toLong).toList
    assert(offsets.distinct.size == offsets.size,
      s"byte budget of 1 must cut per page, got offsets $offsets")
    assert(offsets.head > 0, "header stream must precede the first page stream")
    assert(canon(noPrev(out.getAbsolutePath)) == canon(src))
  }

  /** A dump of near-identical ~20 KB revisions, the text Hadoop's
    * encoder wrote randomised blocks for. */
  private def historyDump(pages: Int, revs: Int): String = {
    val f = Files.createTempFile("mwwhist", ".xml")
    Files.write(f, graft.sources.Bz2Fixtures.historyXml(pages, revs).getBytes("UTF-8"))
    f.toString
  }

  private def files(dir: File, suffix: String): Seq[File] =
    dir.listFiles().filter(_.getName.endsWith(suffix)).sortBy(_.getName).toSeq

  test("near-identical 20 KB revisions write without randomised blocks and read back exactly") {
    val src = noPrev(historyDump(1, 44))
    val out = Files.createTempDirectory("mwwrand").toFile
    src.write.format("mediawiki").option("assumeGrouped", "true")
      .mode("append").save(out.getAbsolutePath)
    val dumps = files(out, ".xml.bz2")
    assert(dumps.nonEmpty)
    for (d <- dumps) {
      val bytes = Files.readAllBytes(d.toPath)
      assert(graft.sources.Bz2Fixtures.magics(bytes).size > 1, s"${d.getName}: one block only")
      assert(graft.sources.Bz2Fixtures.randomised(bytes).isEmpty, s"${d.getName}: randomised block")
    }
    assert(canon(noPrev(out.getAbsolutePath)) == canon(src))
  }

  /** The executed plan of the one command `run` executes. */
  private def executed(run: => Unit): org.apache.spark.sql.execution.SparkPlan = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[org.apache.spark.sql.execution.SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      run
      val p = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(p != null, "no executed plan reported")
      p
    } finally spark.listenerManager.unregister(l)
  }

  test("the write node reports XML bytes, bz2 bytes and bz2 blocks written") {
    val src = noPrev(historyDump(3, 12)).union(noPrev(fixture))
    val out = Files.createTempDirectory("mwwmetrics").toFile
    val plan = executed(src.write.format("mediawiki").option("assumeGrouped", "true")
      .option("bz2BlockSize", "1").mode("append").save(out.getAbsolutePath))
    val node = plan.collectFirst { case p if p.metrics.contains("bz2BytesWritten") => p }
      .getOrElse(fail(s"no write metrics in\n$plan"))
    def metric(n: String) = node.metrics(n).value
    val dumps = files(out, ".xml.bz2").map(f => Files.readAllBytes(f.toPath))
    assert(dumps.size == 2)
    val xml = dumps.map { b =>
      val in = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(b), true)
      try in.readAllBytes().length.toLong finally in.close()
    }.sum
    assert(metric("xmlBytesWritten") == xml)
    assert(metric("bz2BytesWritten") == dumps.map(_.length.toLong).sum)
    val blocks = dumps.map(b => graft.sources.Bz2Fixtures.magics(b).size.toLong).sum
    assert(blocks > dumps.size * 3L, s"$blocks blocks")
    assert(metric("bz2BlocksWritten") == blocks)
    assert(metric("bz2EncodeTime") > 0, "bz2EncodeTime")
  }

  test("the same frame writes byte-identical archives; every index offset is its page's stream") {
    val src = noPrev(historyDump(4, 30)).union(noPrev(fixture))
    def write(): File = {
      val out = Files.createTempDirectory("mwwdet").toFile
      src.write.format("mediawiki").option("assumeGrouped", "true")
        .option("bz2BlockSize", "1").option("multistreamPagesPerStream", "2")
        .mode("append").save(out.getAbsolutePath)
      out
    }
    val (a, b) = (write(), write())
    for (suffix <- Seq(".xml.bz2", "-index.txt")) {
      val (fa, fb) = (files(a, suffix), files(b, suffix))
      assert(fa.size == 2 && fb.size == fa.size)
      for ((x, y) <- fa.zip(fb))
        assert(java.util.Arrays.equals(Files.readAllBytes(x.toPath), Files.readAllBytes(y.toPath)),
          s"${x.getName} and ${y.getName} differ")
    }
    for ((dump, idx) <- files(a, ".xml.bz2").zip(files(a, "-index.txt"))) {
      val bytes = Files.readAllBytes(dump.toPath)
      val lines = scala.io.Source.fromFile(idx, "UTF-8").getLines().map(_.split(":", 3)).toList
      val starts = (lines.map(_(0).toLong) :+ bytes.length.toLong).distinct
      for (l <- lines) {
        val off = l(0).toInt
        assert(new String(bytes, off, 3, "US-ASCII") == "BZh", s"${idx.getName}: offset $off")
        val end = starts(starts.indexOf(off.toLong) + 1).toInt
        val in = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
          new java.io.ByteArrayInputStream(bytes, off, end - off), false)
        val stream = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        assert(stream.contains(s"<id>${l(1)}</id>"), s"${idx.getName}: page ${l(1)} not in the stream at $off")
      }
    }
  }
}
