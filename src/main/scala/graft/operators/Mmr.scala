package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998)
  * — the diversity stage of a retrieval pipeline: from each query's
  * top-`nCand` cosine candidates, greedily select `k` results
  * maximizing `λ·relevance − (1−λ)·max-similarity-to-already-selected`
  * so near-duplicate hits don't crowd the result list.
  *
  * λ is fixed at 1/2: scaling by a power of two is EXACT in IEEE
  * doubles, so each score is one exact halving, one exact halving of
  * a strict-fold cosine, and a single subtraction — bit-reproducible
  * on any engine, which is what lets the greedy argmax (with
  * neighbor-id tie-break) be oracle-checked round by round.
  *
  * Scale shape: the candidate generation is [[Similarity]]'s
  * broadcast sweep (no corpus shuffle); everything after operates on
  * Q·nCand candidate rows — the corpus is touched exactly once. The
  * greedy rounds are data-parallel across queries: each round is one
  * join + one per-query argmax window over the (tiny, persisted)
  * candidate and pair-similarity frames; per-round picks are
  * localCheckpoint'ed (they feed every later round — the multi-branch
  * reuse rule) so the plan stays bounded in `k`.
  */
object Mmr {

  /** `(query_id, mmr_rnk, neighbor_id, score)` — the `k` MMR picks
    * per query row, in pick order.
    *
    * Driver-finish (r16): candidate GENERATION (the only corpus touch)
    * stays the distributed broadcast sweep; when the candidate table
    * (Q·nCand rows) fits [[DriverFinish]]'s budget and ids are
    * integral, the k greedy rounds — each a full Spark job (join +
    * window + checkpoint) on Q·nCand rows, pure scheduling overhead at
    * that size — run as a driver loop instead. Pair cosines use the identical strict fold
    * (ascending-index double accumulation = [[graft.functions.FloatDot]]),
    * the identical single-association score `0.5·rel − 0.5·ms`, and
    * Spark's exact double total order for the argmax/max (NaN
    * greatest, 0.0 == -0.0), so picks are bit-identical
    * (MmrSpec pins driver ≡ distributed ≡ greedy reference). */
  def rerank(corpus: DataFrame, queries: DataFrame, nCand: Int, k: Int,
             idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cand = Similarity.bruteForceTopK(corpus, queries, nCand, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"),
        col("rnk"))
      .persist()
    try {
      // 32 B per candidate: query id, neighbor id, relevance, rank (the
      // embedding fetch that follows decides its own bytes)
      if (DriverFinish.integral(cand.schema("query_id").dataType) &&
          DriverFinish.integral(cand.schema("neighbor_id").dataType) &&
          DriverFinish.fitsCount("mmr", cand, 32L)) {
        val drv = driverRerank(corpus, cand, k, idCol, embCol)
        if (drv.isDefined) return drv.get
      }
      // candidate embeddings ride a broadcast join against the corpus
      // (the only other corpus touch); Q·nCand rows after
      val ce = corpus.select(col(idCol).as("__id"), col(embCol).as("__e"))
      val withE = ce.join(broadcast(cand), col("__id") === col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("__e"))
      val aSide = withE.select(col("query_id"), col("neighbor_id").as("ca"),
        col("__e").as("__ea"))
      val bSide = withE.select(col("query_id"), col("neighbor_id").as("cb"),
        col("__e").as("__eb"))
      // same strict-fold cosine form as the sweep — parity-critical
      val psim = aSide.join(bSide, Seq("query_id"))
        .filter(col("ca") =!= col("cb"))
        .withColumn("sim", Similarity.dotExpr("__ea", "__eb") /
          (sqrt(Similarity.dotExpr("__ea", "__ea")) *
           sqrt(Similarity.dotExpr("__eb", "__eb"))))
        .select(col("query_id"), col("ca"), col("cb"), col("sim"))
        .persist()
      try {
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id"))
        var selAll = cand.filter(col("rnk") === 1)
          .select(col("query_id"), col("neighbor_id"),
            (lit(0.5) * col("rel")).as("score"), lit(1L).as("mmr_rnk"))
          .localCheckpoint()
        for (t <- 2 to k) {
          val rem = cand.join(
            selAll.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_anti")
          val msim = psim
            .join(selAll.select(col("query_id"), col("neighbor_id").as("cb")),
              Seq("query_id", "cb"))
            .groupBy(col("query_id"), col("ca"))
            .agg(max(col("sim")).as("ms"))
          val pick = rem
            .join(msim, rem("query_id") === msim("query_id") &&
              rem("neighbor_id") === msim("ca"))
            .select(rem("query_id"), rem("neighbor_id"),
              (lit(0.5) * col("rel") - lit(0.5) * col("ms")).as("score"))
            .withColumn("__r", row_number().over(w))
            .filter(col("__r") === 1)
            .select(col("query_id"), col("neighbor_id"), col("score"),
              lit(t.toLong).as("mmr_rnk"))
          selAll = selAll.unionByName(pick).localCheckpoint()
        }
        // selAll is checkpointed — the returned frame no longer
        // references cand/psim, so the finally-unpersist is safe
        selAll.select(col("query_id"), col("mmr_rnk"), col("neighbor_id"),
          col("score"))
      } finally psim.unpersist()
    } finally cand.unpersist()
  }

  /** Spark's exact double total order (0.0 == -0.0, NaN greatest) —
    * the form any hand-rolled comparator claiming window parity must
    * use (r16 lesson). */
  private def dcmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** In-memory greedy over the collected candidates, or None when a
    * NULL rel/embedding shows up (the distributed plan has defined
    * NULL window semantics; the driver loop declines rather than
    * replicate them) or the candidates' embeddings do not fit
    * [[DriverFinish]]'s budget (decision `mmr_embeddings`, 16 + 8·dims
    * B per distinct candidate). */
  private def driverRerank(corpus: DataFrame, cand: DataFrame, k: Int,
      idCol: String, embCol: String): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = corpus.sparkSession
    val qT = cand.schema("query_id").dataType
    val nT = cand.schema("neighbor_id").dataType
    val rows = cand.select(col("query_id").cast("long"),
      col("neighbor_id").cast("long"), col("rel"), col("rnk")).collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
      return None
    // embeddings for the distinct candidate ids only, fetched via one
    // broadcast semi-join; duplicate corpus ids or ragged widths leave
    // the distributed plan to define the result
    val nbrIds = rows.map(_.getLong(1)).distinct
    val idFrame = s.createDataFrame(
      java.util.Arrays.asList(nbrIds.map(Row(_)): _*),
      StructType(Seq(StructField("__id", LongType, nullable = false))))
    val fetch = corpus
      .select(col(idCol).cast("long").as("__id"), col(embCol).as("__e"))
      .join(broadcast(idFrame), Seq("__id"), "left_semi")
    val embs = ProductQuantize.collectVecs("mmr_embeddings", fetch, "__id", "__e", -1)
      .getOrElse(return None)
    val embOf = new java.util.HashMap[Long, Array[Double]](embs.length * 2)
    embs.foreach { case (id, e) => embOf.put(id, e) }
    // strict ascending-index fold — the FloatDot kernel's exact form
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def sim(a: Long, b: Long): Double = {
      val ea = embOf.get(a); val eb = embOf.get(b)
      if (ea == null || eb == null)
        return Double.NaN  // unreachable: candidates come from corpus
      dot(ea, eb) / (math.sqrt(dot(ea, ea)) * math.sqrt(dot(eb, eb)))
    }
    val out = new java.util.ArrayList[Row]()
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach { case (qid, cs) =>
      // (neighbor, rel) sorted by sweep rank — rnk==1 is the round-1 pick
      val byRnk = cs.sortBy(_.getLong(3))
      val ids = byRnk.map(_.getLong(1))
      val rel = byRnk.map(_.getDouble(2))
      val selected = new java.util.ArrayList[Integer]()
      val taken = new Array[Boolean](ids.length)
      var t = 1
      while (t <= k && selected.size() < ids.length) {
        var bestI = -1
        var bestScore = 0.0
        var i = 0
        while (i < ids.length) {
          if (!taken(i)) {
            val score =
              if (t == 1) 0.5 * rel(i)
              else {
                // ms = max over selected, Spark's double max ordering
                var ms = Double.NaN
                var first = true
                var j = 0
                while (j < selected.size()) {
                  val v = sim(ids(i), ids(selected.get(j)))
                  if (first || dcmp(v, ms) > 0) { ms = v; first = false }
                  j += 1
                }
                0.5 * rel(i) - 0.5 * ms
              }
            // argmax with neighbor-id tie-break (the window's order)
            if (bestI < 0 || dcmp(score, bestScore) > 0 ||
                (dcmp(score, bestScore) == 0 && ids(i) < ids(bestI))) {
              bestI = i; bestScore = score
            }
          }
          i += 1
        }
        taken(bestI) = true
        selected.add(bestI)
        out.add(Row(qid, t.toLong, ids(bestI), bestScore))
        t += 1
      }
    }
    val df = s.createDataFrame(out, StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("mmr_rnk", LongType, nullable = false),
      StructField("neighbor_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))))
    Some(df.select(col("query_id").cast(qT).as("query_id"), col("mmr_rnk"),
      col("neighbor_id").cast(nT).as("neighbor_id"), col("score")))
  }
}
