package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - `bruteForceTopK`: exact cosine top-k. The dot product is a strict
  *   left-to-right fold in doubles (deterministic and
  *   engine-reproducible), evaluated by the native codegen kernel
  *   [[graft.functions.FloatDot]]; norms are recomputed inline per
  *   pair rather than joined from a precomputed table (two fewer
  *   shuffles, same bits).
  * - `lshTopK`: random-hyperplane LSH bucketing (sign bits from a
  *   deterministic hash-derived projection), candidates only within the
  *   same bucket — the scale path: the cross product never materializes,
  *   the shuffle is by bucket key.
  *
  * At 100 TB the brute-force form is the per-query-batch baseline (a
  * broadcast of the query set against a partitioned corpus — no corpus
  * shuffle); IVF/LSH variants bound candidates per query.
  */
object Similarity {

  /** Strict-fold double dot product of two float-array columns (by
    * column name — the fold order is the array order, deterministic).
    * Evaluates via the native codegen kernel
    * [[graft.functions.FloatDot]] (registered by
    * [[graft.plans.GraftExtensions]]) — bit-identical to the
    * declarative `aggregate(zip_with(...))` fold but ~10× cheaper per
    * row (no per-row intermediate array, stays in whole-stage
    * codegen). */
  def dotExpr(a: String, b: String): Column = expr(s"float_dot($a, $b)")

  /** Shared broadcast-sweep top-k core: broadcast query batch ×
    * partitioned corpus, pair predicate, strict-fold cosine, per-query
    * top-k window. The cosine + tie-break logic lives ONLY here — it
    * is bit-parity-critical against the SQL oracles, so every exact
    * sweep variant must share it. */
  private def sweepTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        qCols: Seq[(String, String)], cCols: Seq[(String, String)],
                        pairFilter: Column): DataFrame = {
    val q = queries.select(qCols.map { case (f, t) => col(f).as(t) }: _*)
    val c = corpus.select(cCols.map { case (f, t) => col(f).as(t) }: _*)
    // norms recomputed inline per pair: with the codegen dot kernel a
    // 64-dim self-dot is ~100 ns, far cheaper than the two shuffle
    // joins a precomputed-norms table would need (and bit-identical —
    // same strict fold, same sqrt)
    val sims = broadcast(q).crossJoin(c)
      .filter(pairFilter)
      .withColumn("cosine", dotExpr("__qe", "__ce") /
        (sqrt(dotExpr("__qe", "__qe")) * sqrt(dotExpr("__ce", "__ce"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk").cast("long").as("rnk"))
  }

  /** Exact cosine top-k neighbors for the query rows (a small filtered
    * subset, broadcast against the corpus). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    sweepTopK(corpus, queries, k,
      qCols = Seq(idCol -> "query_id", embCol -> "__qe"),
      cCols = Seq(idCol -> "neighbor_id", embCol -> "__ce"),
      pairFilter = col("query_id") =!= col("neighbor_id"))

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim d): a hash-derived value in [-1, 1). Same formula is used to
    * build signatures on every row — no RNG state, cluster-safe. */
  private[graft] def planeComponent(p: Int, d: Int): Double = {
    var h = p * 2654435761L + d * 40503L + 2166136261L
    h ^= (h >>> 16); h *= 2246822519L; h ^= (h >>> 13)
    ((h & 0xffffffL).toDouble / 0x800000L.toDouble) - 1.0
  }

  /** Sign-bit LSH signature (`nPlanes` bits) as a bucket key. */
  def lshBucket(embName: String, dims: Int, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val plane = (0 until dims).map(d => planeComponent(p, d))
      // CAST('…' AS DOUBLE): a bare decimal literal would parse as
      // DECIMAL(18,18), not DOUBLE; the string cast is an exact
      // round-trip and folds to a constant array once
      val planeSql = plane.map(v => s"CAST('$v' AS DOUBLE)")
        .mkString("array(", ", ", ")")
      when(expr(s"float_dot($embName, $planeSql)") > 0,
        1L << p).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** IVF (inverted-file) approximate top-k: the corpus is coarsely
    * clustered by nearest centroid (deterministic seed centroids: the
    * `nCentroids` lowest-id vectors, one assignment pass — a kmeans-lite
    * that keeps results reproducible cluster-wide with no RNG state);
    * each query probes only its own `nProbe` nearest clusters. The scan
    * per query drops from |corpus| to ~|corpus|·nProbe/nCentroids, and
    * the cluster assignment is a broadcast join — the standard
    * coarse-quantization scale path. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 2,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val cents = corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cent_id"), col(embCol).as("__cent"))
    def assign(df: DataFrame, id: String, probe: Int): DataFrame = {
      val sims = df.select(col(id), col(embCol).as("__e"))
        .crossJoin(broadcast(cents))
        .withColumn("__sim", dotExpr("__e", "__cent"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(id)).orderBy(col("__sim").desc, col("cent_id"))
      sims.withColumn("__r", row_number().over(w)).filter(col("__r") <= probe)
        .select(col(id), col("cent_id"))
    }
    val corpusAssign = assign(corpus, idCol, 1)
      .withColumnRenamed(idCol, "neighbor_id")
    val queryAssign = assign(queries, idCol, nProbe)
      .withColumnRenamed(idCol, "query_id")
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__ce"))
      .join(corpusAssign, Seq("neighbor_id"))
    val qb = queries.select(col(idCol).as("query_id"), col(embCol).as("__qe"))
      .join(queryAssign, Seq("query_id"))
    val sims = broadcast(qb).join(cb, Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotExpr("__qe", "__ce") /
        (sqrt(dotExpr("__qe", "__qe")) * sqrt(dotExpr("__ce", "__ce"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk").cast("long").as("rnk"))
  }

  /** Max vectors the exact sweep admits under a pair-ops budget: the
    * all-pairs path does ~n²/2 dot products (each `dims` FMAs) in one
    * stage, so the bound caps that work product, not a bare count. */
  def sweepVecBudget(dims: Int, maxPairOps: Long): Long =
    math.sqrt(2.0 * maxPairOps / math.max(dims, 1)).toLong

  /** Embedding-cosine near-duplicate pairs (`id_a < id_b`, cosine >=
    * threshold), with the physical plan picked by corpus size:
    *
    *  - small corpus: [[exactNearDupPairs]] — broadcast all-pairs with
    *    per-row norms precomputed once per side. Exhaustive (recall 1),
    *    quadratic — correct only under the pair-ops budget.
    *  - large corpus: [[lshNearDupPairs]] — multi-probe random-hyperplane
    *    LSH candidate generation (bucket-key shuffle, nothing quadratic
    *    materializes) + exact `float_dot` re-verification of candidates.
    *    Precision 1 by construction (every emitted pair passes the exact
    *    cosine test); recall is the standard LSH trade, tuned by
    *    `nPlanes` (bucket granularity) and `probeHamming` (buckets within
    *    that Hamming radius of the vector's own signature are probed).
    *
    * The probe is LIMIT-bounded: on a huge corpus it stops counting at
    * budget+1 rows instead of scanning everything just to dispatch. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   dims: Int, nPlanes: Int = 12, probeHamming: Int = 1,
                   maxSweepPairOps: Long = DriverSweep.DefaultMaxSweepPairOps,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val maxVecs = sweepVecBudget(dims, maxSweepPairOps)
    val probeLimit = math.min(maxVecs + 1, Int.MaxValue.toLong).toInt
    val cached = corpus.persist()
    try {
      if (cached.limit(probeLimit).count() <= maxVecs)
        exactNearDupPairs(cached, threshold, idCol, embCol)
      else lshNearDupPairs(corpus, threshold, dims, nPlanes, probeHamming, idCol, embCol)
    } finally cached.unpersist(false)
  }

  /** Exhaustive broadcast all-pairs cosine-threshold pairs (small-corpus
    * path). Norms are computed ONCE per row before the join (same strict
    * fold, same bits as a per-pair recompute — a third of the FMA work). */
  def exactNearDupPairs(corpus: DataFrame, threshold: Double,
                        idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val e = corpus.select(col(idCol), col(embCol))
      .withColumn("__nrm", sqrt(dotExpr(embCol, embCol)))
    val a = e.select(col(idCol).as("vec_id_a"), col(embCol).as("__ea"), col("__nrm").as("__na"))
    val b = e.select(col(idCol).as("vec_id_b"), col(embCol).as("__eb"), col("__nrm").as("__nb"))
    a.join(broadcast(b), col("vec_id_a") < col("vec_id_b"))
      .withColumn("cosine", dotExpr("__ea", "__eb") / (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("cosine"))
  }

  /** Multi-probe LSH candidates + exact verification (scale path).
    *
    * Each vector lands in its home bucket and probes every bucket within
    * `probeHamming` sign-bit flips (sum over r<=probeHamming of
    * C(nPlanes, r) keys per vector); a pair whose signatures differ in
    * at most `probeHamming` bits is guaranteed to meet in some bucket.
    * Candidates dedupe on the pair key, then one exact `float_dot`
    * cosine pass filters to the true threshold — the emitted set is
    * always a subset of [[exactNearDupPairs]]'s. The shuffles are by
    * bucket key and by pair key; the corpus is never broadcast and no
    * cross product ever materializes. */
  def lshNearDupPairs(corpus: DataFrame, threshold: Double,
                      dims: Int, nPlanes: Int = 12, probeHamming: Int = 1,
                      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(nPlanes <= 62, "bucket key is a long of sign bits")
    val e = corpus.select(col(idCol), col(embCol))
      .withColumn("__bucket", lshBucket(embCol, dims, nPlanes))
    // all sign-flip masks with popcount <= probeHamming (incl. 0 = home),
    // enumerated combinatorially — sum of C(nPlanes, r) keys, never 2^n
    def combos(start: Int, left: Int): Seq[Long] =
      if (left == 0) Seq(0L)
      else (start until nPlanes).flatMap(i =>
        combos(i + 1, left - 1).map(m => m | (1L << i)))
    val masks = (0 to probeHamming).flatMap(combos(0, _))
    val probes = e.select(col(idCol).as("__pid"), col("__bucket").as("__home"),
        explode(array(masks.map(lit): _*)).as("__m"))
      .select(col("__pid"), expr("__home ^ __m").as("__bucket"))
    // joining exploded probes against homes finds every pair within the
    // Hamming radius exactly once per differing-mask direction; the
    // least/greatest normalization + distinct collapses the two
    val homes = e.select(col(idCol).as("__hid"), col("__bucket"))
    val candIds = probes.select(col("__pid"), col("__bucket"))
      .join(homes, Seq("__bucket"))
      .filter(col("__pid") =!= col("__hid"))
      .select(least(col("__pid"), col("__hid")).as("vec_id_a"),
              greatest(col("__pid"), col("__hid")).as("vec_id_b"))
      .distinct()
    val ea = e.select(col(idCol).as("vec_id_a"), col(embCol).as("__ea"),
      sqrt(dotExpr(embCol, embCol)).as("__na"))
    val eb = e.select(col(idCol).as("vec_id_b"), col(embCol).as("__eb"),
      sqrt(dotExpr(embCol, embCol)).as("__nb"))
    candIds.join(ea, Seq("vec_id_a")).join(eb, Seq("vec_id_b"))
      .withColumn("cosine", dotExpr("__ea", "__eb") / (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("cosine"))
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most cosine-similar corpus vectors with a DIFFERENT label (the
    * confusable-but-wrong examples a contrastive objective needs).
    * Same scale shape as [[bruteForceTopK]] — broadcast query batch ×
    * partitioned corpus, codegen dot kernel, per-query top-k window;
    * at corpus scale, compose with [[ivfTopK]]'s coarse buckets the
    * same way. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", embCol: String = "embedding",
                    labelCol: String = "label"): DataFrame =
    sweepTopK(corpus, queries, k,
      qCols = Seq(idCol -> "query_id", embCol -> "__qe", labelCol -> "__ql"),
      cCols = Seq(idCol -> "neighbor_id", embCol -> "__ce", labelCol -> "__cl"),
      pairFilter = col("__ql") =!= col("__cl"))

  /** Approximate top-k: candidates restricted to the query's LSH bucket;
    * falls back to fewer than k results when the bucket is small. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dims: Int, nPlanes: Int = 8,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bucket = lshBucket(embCol, dims, nPlanes)
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__ce"),
      bucket.as("__bucket"))
    val qb = queries.select(col(idCol).as("query_id"), col(embCol).as("__qe"),
      bucket.as("__bucket"))
    val sims = broadcast(qb).join(cb, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotExpr("__qe", "__ce") /
        (sqrt(dotExpr("__qe", "__qe")) * sqrt(dotExpr("__ce", "__ce"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk").cast("long").as("rnk"))
  }

  /** Recall@k of an approximate ANN result against the exact one —
    * the accuracy audit every approximate index needs before it
    * replaces brute force in a pipeline. Both inputs are
    * `(query_id, neighbor_id, …)` frames (the [[bruteForceTopK]] /
    * [[lshTopK]] / [[ivfTopK]] shape). Output per query:
    * `(query_id, n_approx, hits, recall)` where `hits` counts approx
    * neighbors present in the exact top-k and `recall = hits/k`
    * (exact small-integer division — bit-portable). Queries the
    * approximate index returned nothing for still appear, with 0s.
    *
    * Scale shape: result frames are ~k rows per query — orders of
    * magnitude smaller than the corpus — so the exact side broadcasts
    * into both the query-id spine and the hit join; no shuffle of
    * anything corpus-sized. The exact side is localCheckpoint'ed HERE
    * (k·queries rows by contract): it feeds two plan branches, and
    * without the cut each branch would re-run the exact top-k sweep —
    * at corpus scale the dominant cost of the whole audit. */
  /** Two-stage retrieval: int8-quantized shortlist → exact cosine
    * re-rank — the production ANN shape where the full-precision sweep
    * is too expensive to run corpus-wide. Stage 1 sweeps the corpus
    * with per-vector max-abs int8 codes ([[Quantize.int8]]'s native
    * expression): the broadcast and the scan carry 4× fewer bytes than
    * float32, and the shortlist score is DETERMINISTIC in any fold
    * order — integer code dots are exact (|dot| ≤ 127²·dims ≪ 2^53),
    * and the reconstruction `((dot·qs)·cs)/127²` is a fixed-association
    * IEEE chain, so the oracle can rebuild it in SQL bit-for-bit.
    * Stage 2 re-ranks ONLY the `shortlist` survivors per query with
    * the exact strict-fold cosine (bit-identical to [[bruteForceTopK]]
    * — same dot kernel, association, and `(cosine DESC, id ASC)`
    * tie-break), joining the original vectors back by id with the
    * candidate list broadcast (Q·shortlist rows — tiny next to the
    * corpus, so the join never shuffles corpus rows).
    *
    * At 100 TB: stage 1 is the same broadcast-sweep shape as
    * [[bruteForceTopK]] (map-side WindowGroupLimit prunes per
    * partition before the per-query shuffle) but moves a quarter of
    * the bytes; stage 2 touches `|Q|·shortlist` vectors regardless of
    * corpus size. Compose with [[ivfTopK]]'s cells when even the int8
    * sweep is too wide. */
  def quantizedRerank(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val qq = Quantize.int8(
        queries.select(col(idCol).as("query_id"), col(embCol).as("__qe")), "__qe")
      .select(col("query_id"), col("scale").as("__qs"),
        col("q").cast("array<float>").as("__qc"))
    val cq = Quantize.int8(
        corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__ce")), "__ce")
      .select(col("neighbor_id"), col("scale").as("__cs"),
        col("q").cast("array<float>").as("__cc"))
    // int→float casts are exact (codes ≤ 127), so float_dot's double
    // fold sums exact integers — order-free determinism for the oracle
    val s1 = broadcast(qq).crossJoin(cq)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__approx",
        dotExpr("__qc", "__cc") * col("__qs") * col("__cs") / lit(16129.0))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("__approx").desc, col("neighbor_id"))
    val cand = s1.withColumn("__srnk", row_number().over(ws))
      .filter(col("__srnk") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(cand, corpus, queries, k, idCol, embCol)
  }

  /** Exact strict-fold cosine re-rank of a candidate pair list
    * (query_id, neighbor_id) — stage 2 of every two-stage retrieval
    * ([[quantizedRerank]], the PQ arc q208). Candidates broadcast;
    * corpus rows never shuffle. Cosine association and the
    * `(cosine DESC, neighbor_id)` tie-break are q22's, so any shortlist
    * source composes with the proven rerank SQL. */
  def rerankExact(cand: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val withVecs = broadcast(cand)
      .join(corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("__ce")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(embCol).as("__qe"))),
        Seq("query_id"))
      .withColumn("cosine", dotExpr("__qe", "__ce") /
        (sqrt(dotExpr("__qe", "__qe")) * sqrt(dotExpr("__ce", "__ce"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    withVecs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rnk").cast("long").as("rnk"))
  }

  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val hit = ex.withColumn("__hit", lit(1L))
    val spine = ex.select(col("query_id")).distinct()
    spine.join(approx.select(col("query_id"), col("neighbor_id")), Seq("query_id"), "left")
      .join(broadcast(hit), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("neighbor_id")).as("n_approx"),
        coalesce(sum(col("__hit")), lit(0L)).as("hits"))
      .withColumn("recall", col("hits").cast("double") / lit(k.toDouble))
  }
}
