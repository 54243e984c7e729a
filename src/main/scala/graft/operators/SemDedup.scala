package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication: cluster the embedding corpus
  * with the deterministic [[KMeans]] assignment, then compare vectors
  * ONLY within their cluster and drop any vector that has a lower-id
  * near-duplicate (cosine >= threshold) in the same cluster.
  *
  * This is the published SemDeDup recipe (Abbas et al. 2023: k-means
  * the corpus, prune within clusters): the cluster key bounds the
  * pairwise comparison to |cluster|² instead of |corpus|², making
  * semantic dedup tractable where a global all-pairs pass is not.
  *
  * Scale shape: one broadcast(k centroids) assignment pass, one
  * self-join shuffled BY CLUSTER KEY (never a cross product over the
  * corpus), norms computed once per row before the join. At 100 TB,
  * size k with [[clustersFor]] so clusters stay bounded; a
  * pathologically hot cluster is the same skew problem as any hot
  * join key ([[Salting]] applies).
  */
object SemDeDup {

  /** Cluster-size target behind [[clustersFor]]: SemDeDup (Abbas et
    * al. 2023) ran 50k clusters over LAION-440M / 100M+ docs — a few
    * thousand vectors per cluster keeps the within-cluster |c|² pair
    * pass cheap while leaving clusters semantically coherent. */
  val DefaultTargetClusterSize = 2000L

  /** k for an `n`-vector corpus targeting `targetClusterSize` vectors
    * per cluster — the documented way to scale k with the corpus
    * (k ≈ n / clusterSize, clamped to [1, n]): 100M docs at the
    * default → 50k clusters, the published SemDeDup setting. Skewed
    * corpora can still produce hot clusters; treat those as hot join
    * keys ([[Salting]]). */
  def clustersFor(n: Long, targetClusterSize: Long = DefaultTargetClusterSize): Int = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    val k = math.max(1L, n / targetClusterSize)
    math.min(math.min(k, math.max(1L, n)), Int.MaxValue.toLong).toInt
  }

  /** Per-vector verdict: (idCol, cluster, dropped). `dropped` is true
    * iff a lower-id vector in the same cluster has cosine >=
    * `threshold` with this one. Keep-set = `!dropped` — keeps exactly
    * one representative (the lowest id) per mutual near-dup group.
    *
    * Persist lifecycle: the expensive assignment pass (crossJoin ×k
    * dots + argmax shuffle) feeds both sides of the pair join, so it
    * is persisted ONLY while the (small — one row per dropped id)
    * drop set is eagerly materialized to a local checkpoint, then
    * released before returning. Nothing this operator caches outlives
    * the call; the returned lazy frame recomputes the assignment once
    * per action (two assignment passes total instead of a cache entry
    * holding the whole corpus for the life of the session). */
  def dropVerdicts(corpus: DataFrame, k: Int, threshold: Double,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // r16 driver-finish: within DriverFinish's budget the
    // assignment + within-cluster pair pass run in memory with the
    // operator's bit-portable forms (strict dot folds, min-struct
    // argmax, IEEE sqrt/division). Two Spark-side subtleties mirrored
    // EXACTLY (both spec-pinned): ANSI double division throws
    // DIVIDE_BY_ZERO on a zero-norm pair, and Spark comparison
    // semantics order NaN above every number, so a NaN cosine (NaN
    // embedding elements) IS >= threshold and drops. Over-budget /
    // non-long-id corpora take the distributed path unchanged.
    if (corpus.schema(idCol).dataType == org.apache.spark.sql.types.LongType) {
      ProductQuantize.collectVecs("semdedup", corpus, idCol, embCol, -1) match {
        case Some(vecs) if vecs.nonEmpty =>
          return driverVerdicts(corpus.sparkSession, vecs, k, threshold, idCol)
        case _ => ()
      }
    }
    val cents = KMeans.seedCentroids(corpus, k, idCol, embCol)
    val assigned = KMeans.assignWithEmb(corpus, cents, idCol, embCol)
    val cached = assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val drops =
      try {
        val e = cached.withColumn("__n", sqrt(expr("float_dot(__e, __e)")))
        val a = e.select(col(idCol).as("__va"), col("cluster"),
          col("__e").as("__ea"), col("__n").as("__na"))
        val b = e.select(col(idCol).as("__vb"), col("cluster"),
          col("__e").as("__eb"), col("__n").as("__nb"))
        a.join(b, Seq("cluster"))
          .filter(col("__va") < col("__vb"))
          .withColumn("cosine", expr("float_dot(__ea, __eb)") / (col("__na") * col("__nb")))
          .filter(col("cosine") >= threshold)
          .select(col("__vb").as(idCol)).distinct()
          .withColumn("dropped", lit(true))
          .localCheckpoint(true)
      } finally cached.unpersist(false)
    assigned.select(col(idCol), col("cluster"))
      .join(drops, Seq(idCol), "left")
      .withColumn("dropped", coalesce(col("dropped"), lit(false)))
  }

  /** In-memory mirror of the assign + within-cluster pair pass. */
  private def driverVerdicts(spark: org.apache.spark.sql.SparkSession,
      vecs: Array[(Long, Array[Double])], k: Int, threshold: Double,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val pq = ProductQuantize
    val cents = vecs.sortBy(_._1).take(k)
    val n = vecs.length
    val cluster = new Array[Long](n)
    val norm = new Array[Double](n)
    var i = 0
    while (i < n) {
      val e = vecs(i)._2
      var bestNs = 0.0; var bestId = 0L; var first = true
      var c = 0
      while (c < cents.length) {
        val (cid, cent) = cents(c)
        val ns = -pq.ddot(e, cent)
        if (first || pq.dcmp(ns, bestNs) < 0 ||
            (pq.dcmp(ns, bestNs) == 0 && cid < bestId)) {
          bestNs = ns; bestId = cid; first = false
        }
        c += 1
      }
      cluster(i) = bestId
      norm(i) = math.sqrt(pq.ddot(e, e))
      i += 1
    }
    // within-cluster pairs, idA < idB — dropped(B) iff cosine >=
    // threshold under SPARK's NaN-above-everything comparison; a
    // zero-norm denominator throws like the ANSI double division
    val byCluster = vecs.indices.groupBy(cluster(_))
    val dropped = new Array[Boolean](n)
    byCluster.valuesIterator.foreach { members =>
      val ms = members.sortBy(m => vecs(m)._1)
      var a = 0
      while (a < ms.length) {
        var b = a + 1
        while (b < ms.length) {
          val (ia, ib) = (ms(a), ms(b))
          if (!dropped(ib)) {
            val denom = norm(ia) * norm(ib)
            if (denom == 0.0)
              throw new ArithmeticException(
                "SemDeDup driver mirror: zero-norm cosine (ANSI DIVIDE_BY_ZERO)")
            val cos = pq.ddot(vecs(ia)._2, vecs(ib)._2) / denom
            if (java.lang.Double.isNaN(cos) || cos >= threshold) dropped(ib) = true
          }
          b += 1
        }
        a += 1
      }
      // a dropped vector still drops OTHERS (the distributed join
      // pairs every va < vb regardless of va's own verdict) — the
      // !dropped(ib) guard above only skips RE-dropping ib, never
      // skips ia as a dropper, so semantics match
    }
    val rows = vecs.indices.map(i => Row(vecs(i)._1, cluster(i), dropped(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField("cluster", LongType, nullable = false),
        StructField("dropped", BooleanType, nullable = false))))
  }
}
