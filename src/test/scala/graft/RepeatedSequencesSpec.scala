package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverFinish, RepeatedSequences}

class RepeatedSequencesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Brute-force reference: sort all suffix windows, neighbor LCP,
    * distinct (lcp, prefix), top-k by (lcp desc, seq asc). */
  private def brute(docs: Seq[(Long, String)], w: Int, k: Int): Seq[(Long, String)] = {
    val windows = docs.flatMap { case (id, text) =>
      val ts = text.split(" ", -1)
      ts.indices.map(i => (ts.slice(i, math.min(i + w, ts.length)), id, i + 1))
    }.sortBy { case (wt, id, p) => (wt.mkString(" "), id, p) }
    windows.sliding(2).collect {
      case Seq((a, _, _), (b, _, _)) =>
        val l = RepeatedSequences.lcpLen(a, b)
        (l.toLong, b.take(l).mkString(" "))
    }.filter(_._1 >= 1).toSeq.distinct
      .sortBy { case (l, seq) => (-l, seq) }.take(k)
  }

  private val corpus: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "a quick brown fox leaps over the lazy dog today",
    3L -> "the quick brown fox jumps over the lazy dog", // exact dup of 1
    4L -> "completely unrelated words here nothing shared",
    5L -> "over the lazy dog is a common tail phrase",
    6L -> "the the the the repeated token run run run")

  test("matches the brute-force suffix-window neighbor-LCP reference") {
    val df = corpus.toDF("doc_id", "text")
    val got = RepeatedSequences.topRepeats(df, "doc_id", "text", window = 8, topK = 25)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy { case (l, seq) => (-l, seq) }
    assert(got == brute(corpus, 8, 25))
    // the exact 8-token dup (docs 1 and 3) must surface at full horizon
    assert(got.head._1 == 8L)
  }

  test("output is invariant to bucket count (distributed path forced)") {
    val df = corpus.toDF("doc_id", "text")
    // forceDistributed keeps this on the two-phase bucketed sort — the
    // machinery this test exists to pin (the r16 driver-finish would
    // otherwise absorb a corpus this small)
    def run(parts: Int) = DriverFinish.forceDistributed(RepeatedSequences
      .topRepeats(df, "doc_id", "text", window = 5, topK = 50, numParts = parts)
      .collect()).map(r => (r.getLong(0), r.getString(1))).toSet
    val r1 = run(1)
    assert(run(3) == r1 && run(7) == r1)
    // and the driver-finish agrees with the distributed set
    val drv = RepeatedSequences
      .topRepeats(df, "doc_id", "text", window = 5, topK = 50)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(drv == r1)
  }

  test("driver-finish ≡ distributed on the sf0.001 corpus") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows() = RepeatedSequences
      .topRepeats(df, "doc_id", "text", window = 8, topK = 25)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .sortBy { case (l, seq) => (-l, seq) }
    val driver = rows()
    val dist = DriverFinish.forceDistributed(rows())
    assert(driver == dist)
    assert(driver.nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("the driver-finish probe counts UTF-8 bytes, not characters") {
    // CJK: 3 bytes per character, so a budget of `window` B per
    // CHARACTER fits the characters and not the bytes the windows hold
    val vocab = Seq("数据", "去重", "语言", "模型", "训练", "文本",
      "重复", "序列", "后缀", "数组", "分布", "计算")
    val docs = (0 until 30).map(i =>
      i.toLong -> (0 until 10).map(j => vocab((i / 3 + j * 5) % 12)).mkString(" "))
    val chars = docs.map(_._2.length.toLong).sum
    val bytes = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    val window = 4
    assert(window * chars < window * bytes)
    val df = docs.toDF("doc_id", "text")
    def run(budget: Long) = DriverFinishEvents.capture(spark) {
      DriverFinish.withBudget(budget)(RepeatedSequences
        .topRepeats(df, "doc_id", "text", window = window, topK = 20)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    }
    val (dist, atChars) = run(window * chars)
    assert(atChars.map(d => (d.probeBytes, d.path)) == Seq((window * bytes, "distributed")))
    val (drv, forced) = run(Long.MaxValue)
    assert(forced.map(_.path) == Seq("driver"))
    assert(dist.sorted == drv.sorted)
    assert(dist.map(_._1).max == window.toLong)
  }

  test("token_windows ≡ split→posexplode→slice→array_join (fuzz incl. " +
      "multi-space, empty tokens, unicode)") {
    // the r17 native expression replaced the declarative window
    // construction inside topRepeats — this pins byte-identical output
    // on adversarial tokenizations (empty text, leading/trailing/double
    // spaces → empty tokens, multibyte chars around the 0x20 scan)
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("a", "bb", "ccc", "", "déjà", "日本", "x y".replace(" ", ""))
    val texts = Seq("", " ", "  ", "x", " x", "x ", "a  b", "é ü 日 本") ++
      (1 to 40).map { _ =>
        (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.size)))
          .mkString(" ")
      }
    for (w <- Seq(1, 3, 8)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = df.selectExpr("doc_id",
          s"posexplode(token_windows(text, $w)) AS (pos, ws)")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      val declarative = df
        .select($"doc_id", org.apache.spark.sql.functions.split($"text", " ").as("ts"))
        .select($"doc_id", $"ts",
          org.apache.spark.sql.functions.posexplode($"ts"))
        .selectExpr("doc_id", "pos",
          s"array_join(slice(ts, pos + 1, $w), ' ') AS ws")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      assert(native == declarative, s"window=$w")
    }
  }

  test("token_windows rejects a window n that is not a non-null literal >= 1") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    for (n <- Seq("0", "-1", "-2", "CAST(NULL AS INT)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.selectExpr(s"token_windows(text, $n) AS ws"))
      assert(e.getMessage.contains("n >= 1"), s"n=$n: ${e.getMessage}")
    }
    assert(df.selectExpr("size(token_windows(text, 1))").head().getInt(0) == 3)
  }

  test("token_spans, token_chunks, shingles and cut_spans share the window n check; " +
      "cut_spans skips NULL starts") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    for (call <- Seq("token_spans(text, %s)", "token_chunks(text, %s)",
        "shingles(text, %s)", "cut_spans(text, array(0L), %s)");
        n <- Seq("0", "-1", "-2", "CAST(NULL AS INT)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](df.selectExpr(call.format(n)))
      assert(e.getMessage.contains("n >= 1"), s"${call.format(n)}: ${e.getMessage}")
    }
    val ok = df.selectExpr("size(token_spans(text, 1))", "size(token_chunks(text, 1))",
      "size(shingles(text, 1))", "cut_spans(text, array(CAST(NULL AS BIGINT), 2L), 1)").head()
    assert((ok.getInt(0), ok.getInt(1), ok.getInt(2), ok.getString(3)) == ((3, 3, 3, "a b")))
  }

  test("empty and single-token documents do not break the scan") {
    val df = Seq(1L -> "", 2L -> "x", 3L -> "x").toDF("doc_id", "text")
    val got = RepeatedSequences.topRepeats(df, "doc_id", "text", window = 4, topK = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // "x" appears twice -> (1, "x"); the two empty-ish windows "" and "x"
    // share no nonempty prefix
    assert(got == Set((1L, "x")))
  }
}
