package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverFinish, ImportanceSample, Mmr}

class MmrSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }
      s
    }
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  // greedy reference: argmax 0.5·rel − 0.5·maxsim, neighbor-id tie-break
  private def refMmr(vs: Map[Long, Array[Float]], qid: Long, nCand: Int,
                     k: Int): Seq[(Long, Long, Double)] = {
    val rel = vs.keys.filter(_ != qid).toSeq
      .map(id => id -> cos(vs(qid), vs(id)))
      .sortBy { case (id, c) => (-c, id) }.take(nCand).toMap
    var selected = Vector.empty[(Long, Long, Double)]
    for (t <- 1 to k) {
      val remaining = rel.keySet -- selected.map(_._2)
      val scored = remaining.toSeq.map { id =>
        val ms = if (selected.isEmpty) 0.0
          else selected.map(s => cos(vs(id), vs(s._2))).max
        val score = if (t == 1) 0.5 * rel(id)
          else 0.5 * rel(id) - 0.5 * ms
        (id, score)
      }
      val (pick, score) = scored.minBy { case (id, sc) => (-sc, id) }
      selected :+= ((t.toLong, pick, score))
    }
    selected
  }

  test("matches the greedy reference and is invariant to partitioning") {
    val rnd = new scala.util.Random(17)
    val vs = (0L until 80L).map(i => i -> Array.fill(16)(rnd.nextFloat() - 0.5f)).toMap
    // budget -1 (forceDistributed) runs the distributed greedy rounds;
    // the production budget sends this size down the r16 driver loop —
    // both must match the reference bit-for-bit (and therefore each
    // other)
    for (p <- Seq(1, 9); lim <- Seq(-1L, DriverFinish.BudgetBytes)) {
      val df = vs.toSeq.map { case (id, v) => (id, v) }
        .toDF("vec_id", "embedding").repartition(p)
      val got = DriverFinish.withBudget(lim) {
          Mmr.rerank(df, df.filter($"vec_id" < 3), nCand = 12, k = 4).collect()
        }
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1)
      for (q <- 0L until 3L) {
        val exp = refMmr(vs, q, nCand = 12, k = 4)
        val act = got(q).sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq
        assert(act == exp, s"query $q p=$p lim=$lim")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("picked set is relevance top-1 first, then diversity-adjusted") {
    // candidate 2 is a near-duplicate of candidate 1; candidate 3 is
    // slightly less relevant but nearly orthogonal to 1 — after
    // picking 1, MMR must jump to 3 (the near-dup's marginal score
    // collapses), then take 2 last
    val vs: Map[Long, Array[Float]] = Map(
      0L -> Array(1.0f, 0.0f, 0.0f),     // query
      1L -> Array(1.0f, 1.0f, 0.0f),     // best relevance
      2L -> Array(1.0f, 1.001f, 0.0f),   // near-duplicate of 1
      3L -> Array(1.0f, -1.002f, 0.0f))  // diverse, similar relevance
    val df = vs.toSeq.toDF("vec_id", "embedding")
    for (lim <- Seq(-1L, DriverFinish.BudgetBytes)) {
      val picks = DriverFinish.withBudget(lim) {
          Mmr.rerank(df, df.filter($"vec_id" === 0L), nCand = 3, k = 3)
            .orderBy($"mmr_rnk").collect()
        }.map(_.getLong(2)).toSeq
      assert(picks == Seq(1L, 3L, 2L), s"got $picks lim=$lim")
    }
  }

  test("the candidates' embedding fetch is a driver-budget decision of its own") {
    val rnd = new scala.util.Random(17)
    val vs = (0L until 80L).map(i => i -> Array.fill(16)(rnd.nextFloat() - 0.5f)).toMap
    val df = vs.toSeq.toDF("vec_id", "embedding")
    val distinct = (0L until 3L).flatMap { q =>
      vs.keys.filter(_ != q).toSeq.sortBy(id => (-cos(vs(q), vs(id)), id)).take(12)
    }.distinct.size
    val embBytes = 16L + 8L * 16 // id + array header, 16 doubles
    def run(budget: Long) = DriverFinishEvents.capture(spark) {
      DriverFinish.withBudget(budget) {
        Mmr.rerank(df, df.filter($"vec_id" < 3), nCand = 12, k = 4).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
      }
    }
    val (full, fullEvents) = run(DriverFinish.BudgetBytes)
    assert(fullEvents.map(e => (e.op, e.probeBytes, e.path)) == Seq(
      ("mmr", 36L * 32, "driver"), ("mmr_embeddings", distinct * embBytes, "driver")))
    // 36 candidates at 32 B fit 2 000 B; their embeddings do not, so the
    // distributed rounds run instead
    assert(distinct * embBytes > 2000L)
    val (small, smallEvents) = run(2000L)
    assert(smallEvents.map(e => e.op -> e.path) ==
      Seq("mmr" -> "driver", "mmr_embeddings" -> "distributed"))
    assert(small == full)
    for (q <- 0L until 3L)
      assert(full.filter(_._1 == q).map(t => (t._2, t._3, t._4)) ==
        refMmr(vs, q, nCand = 12, k = 4), s"query $q")
  }

  test("systematic resampling: copy counts hit the grid exactly") {
    val rows = (0L until 200L).map(i => (i, (i % 7).toDouble / 7.0))
    for (p <- Seq(1, 8)) {
      val df = rows.toDF("doc_id", "w").repartition(p)
      val got = ImportanceSample.systematic(df, "doc_id", "w", n = 50, numParts = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)

      val wq = rows.map { case (_, w) => math.floor(w * 1048576).toLong }
      val cums = wq.scanLeft(0L)(_ + _).tail
      val tot = wq.sum
      val stride = math.max(1L, tot / 50)
      got.zipWithIndex.foreach { case ((id, w, cum, copies), i) =>
        assert(id == i.toLong && w == wq(i) && cum == cums(i), s"row $i p=$p")
        assert(copies == cums(i) / stride - (cums(i) - wq(i)) / stride, s"row $i")
      }
      assert(got.map(_._4).sum == tot / stride) // grid is exactly partitioned
    }
  }
}
