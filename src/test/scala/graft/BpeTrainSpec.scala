package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{BpeTrain, DriverFinish}

class BpeTrainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def merge(toks: Seq[String], l: String, r: String): Seq[String] =
    Seq(toks).toDF("t").select(expr(s"bpe_merge(t, '$l', '$r')")).head
      .getSeq[String](0)

  test("bpe_merge: greedy left-to-right, including same-symbol runs") {
    assert(merge(Seq("a", "b", "c"), "a", "b") == Seq("a b", "c"))
    assert(merge(Seq("a", "b", "a", "b"), "a", "b") == Seq("a b", "a b"))
    // run of 3: positions 0-1 fuse, trailing v survives
    assert(merge(Seq("v", "v", "v"), "v", "v") == Seq("v v", "v"))
    assert(merge(Seq("v", "v", "v", "v"), "v", "v") == Seq("v v", "v v"))
    // overlap chain a (a b) then (b c) never fires on the consumed b
    assert(merge(Seq("a", "b", "c"), "b", "c") == Seq("a", "b c"))
    assert(merge(Seq("x"), "x", "x") == Seq("x"))
    assert(merge(Seq.empty[String], "x", "y") == Seq.empty[String])
  }

  test("learn: hand-computed merges, deterministic tie-break, minCount stop") {
    val docs = Seq("the cat sat", "the cat ran", "the cat sat").toDF("text")
    val got = BpeTrain.learn(docs, "text", nMerges = 3)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "the", "cat", 3L),
      (2L, "the cat", "sat", 2L))) // third round's best pair has cnt 1 -> stop
    assert(spark.sharedState.cacheManager.isEmpty, "learn leaked cache entries")
  }

  test("learn: same-symbol run census counts overlaps but rewrite is greedy") {
    val docs = Seq("v v v v").toDF("text")
    val got = BpeTrain.learn(docs, "text", nMerges = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // census sees 3 (v,v) pairs; after the greedy rewrite the corpus is
    // [v v, v v] whose single pair occurs once -> stop
    assert(got.toSeq == Seq((1L, "v", "v", 3L)))
  }

  test("encode applies a merge list in rank order") {
    val docs = Seq("the cat sat the cat").toDF("text")
    val syms = BpeTrain.encode(docs, "text", Seq(("the", "cat"), ("the cat", "sat")))
      .select($"syms").head.getSeq[String](0)
    assert(syms == Seq("the cat sat", "the cat"))
  }

  test("bpe_merge differential fuzz vs a straightforward reference") {
    def ref(toks: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
          out += s"$l $r"; i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(20260813)
    val vocab = Seq("a", "b", "c", "aa", "a b")
    val cases = (1 to 200).map { _ =>
      val toks = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
      val l = vocab(rnd.nextInt(vocab.length))
      val r = vocab(rnd.nextInt(vocab.length))
      (toks, l, r)
    }
    // one job for all cases: fold each through the expression
    val df = cases.zipWithIndex.map { case ((toks, l, r), i) => (i, toks, l, r) }
      .toDF("i", "t", "l", "r")
    val got = df.select($"i", expr("bpe_merge(t, l, r)").as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    cases.zipWithIndex.foreach { case ((toks, l, r), i) =>
      assert(got(i) == ref(toks, l, r), s"case $i: $toks merge ($l,$r)")
    }
  }

  test("learn: far-over-cap stats estimate skips the probe, result unchanged") {
    // r17 (r16 verdict #4): the exact sum(octet_length) probe is
    // pre-gated by the optimizer's free size estimate so a 100 TB
    // corpus pays no wasted pass. A 1-byte budget puts any real
    // frame's estimate far over it: learn must go straight to the
    // distributed census — the decision carries the ESTIMATE, not an
    // exact byte count — and still match the driver-finish result
    val docs = (1 to 50).map(i => s"the cat sat on mat $i").toDF("text")
    def rows() = BpeTrain.learn(docs, "text", nMerges = 3)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val est = docs.select($"text").queryExecution.optimizedPlan.stats.sizeInBytes
    val exact = docs.collect().map(_.getString(0).getBytes("UTF-8").length.toLong).sum
    assert(est != BigInt(exact))
    val (skipped, gated) = DriverFinishEvents.capture(spark)(DriverFinish.withBudget(1L)(rows()))
    assert(gated.map(d => (d.probeBytes, d.path)) == Seq(((est * 2).toLong, "distributed")))
    val (drv, probed) = DriverFinishEvents.capture(spark)(rows())
    assert(probed.map(d => (d.probeBytes, d.path)) == Seq((exact * 2, "driver")))
    assert(skipped == drv)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("learn survives many rounds with bounded lineage (checkpoint path)") {
    // corpus engineered so every round has a unique >=2 count pair:
    // w1 w2 ... w12 repeated twice as documents
    // forceDistributed runs the DISTRIBUTED rounds — this test exists
    // to exercise the checkpoint/lineage path, which the r16
    // driver-finish would otherwise bypass on a corpus this small
    val text = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(text, text).toDF("text")
    val got = DriverFinish.forceDistributed(
      BpeTrain.learn(docs, "text", nMerges = 11, checkpointEvery = 3).collect())
    assert(got.length == 11) // merges left-to-right: (w1 w2), (w1 w2 w3), ...
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("learn: driver-finish ≡ distributed rounds on the sf0.001 corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val driver = rows(BpeTrain.learn(docs, "text", nMerges = 4))
    val dist = DriverFinish.forceDistributed(
      rows(BpeTrain.learn(docs, "text", nMerges = 4)))
    assert(driver == dist)
    assert(driver.nonEmpty) // the cross-check must compare real merges
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("learn driver-finish: multi-round ambiguity — merged symbols contain spaces") {
    // after round 1 fuses (a,b), round 2's census contains the pair
    // ("a b", "c") whose naive string-joined key would collide with
    // ("a", "b c"); tuple keys must keep them distinct
    val docs = Seq("a b c", "a b c", "x b c").toDF("text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val driver = rows(BpeTrain.learn(docs, "text", nMerges = 2))
    val dist = DriverFinish.forceDistributed(rows(BpeTrain.learn(docs, "text", nMerges = 2)))
    assert(driver == dist)
    assert(driver == Seq((1L, "b", "c", 3L), (2L, "a", "b c", 2L)))
  }
}
