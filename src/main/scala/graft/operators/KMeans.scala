package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic spherical k-means (Lloyd steps, dot-product
  * assignment) over an embedding column — the clustering building
  * block of semantic data-curation pipelines (cluster the corpus, then
  * dedup / downsample / stratify within clusters).
  *
  * Everything is engine-reproducible with no RNG state:
  *
  *  - seeds are the k lowest-id vectors (the same convention as
  *    [[Similarity.ivfTopK]]'s coarse quantizer);
  *  - assignment is argmax-dot with ties broken by centroid id; the
  *    dot is the strict-fold codegen kernel
  *    [[graft.functions.FloatDot]], so any engine computing the same
  *    left-to-right fold agrees bitwise;
  *  - the centroid update quantizes each coordinate to
  *    floor(v · 2²⁰) and sums INTEGERS — order-free, map-side
  *    combinable, exact — then divides once at the end. A raw double
  *    sum would depend on row order (shuffle nondeterminism); the
  *    quantized mean is deterministic by construction at ~1e-6
  *    precision, far below embedding noise.
  *
  * Scale shape: assignment is a broadcast(k centroids) map-only pass
  * whose argmax is a map-side-combined groupBy (n rows shuffled, not
  * n·k, and no per-id window sort); the update is posexplode →
  * groupBy(cluster, dim) with partial aggregation — k·dims output rows
  * regardless of corpus size. Nothing quadratic, nothing collected on
  * the driver.
  */
object KMeans {

  /** Quantization scale for the deterministic centroid mean: 2^20 is a
    * power of two, so `v * 2^20` is exact in doubles (exponent shift)
    * and floor() loses only sub-1e-6 mass. */
  val QuantScale: Double = 1048576.0

  /** Deterministic seeds: the `k` lowest-id vectors, labeled by their
    * own id. Output: (cent_id, cent). */
  def seedCentroids(corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cent_id"), col(embCol).as("cent"))

  /** Argmax-dot assignment, embedding carried through for a following
    * [[updateCentroids]] (all rows of a group hold the same array, so
    * `first` is deterministic). Output: (idCol, cluster, __e). */
  def assignWithEmb(corpus: DataFrame, centroids: DataFrame,
                    idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), col(embCol).as("__e"))
      .crossJoin(broadcast(centroids))
      .withColumn("__sim", expr("float_dot(__e, cent)"))
      // min(struct(-sim, cent_id)) = argmax sim, ties to the lowest
      // centroid id — one map-side-combinable agg instead of a
      // row_number window (which would shuffle n·k unreduced rows and
      // sort every group)
      .groupBy(col(idCol))
      .agg(min(struct((-col("__sim")).as("ns"), col("cent_id").as("cid"))).as("__best"),
           first(col("__e")).as("__e"))
      .select(col(idCol), col("__best.cid").as("cluster"), col("__e"))

  /** Argmax-dot assignment. Output: (idCol, cluster). */
  def assign(corpus: DataFrame, centroids: DataFrame,
             idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    assignWithEmb(corpus, centroids, idCol, embCol).drop("__e")

  /** Recompute centroids as the quantized-exact mean of each cluster's
    * members. Input must carry (cluster, __e) — [[assignWithEmb]]'s
    * shape. Output: (cent_id, cent: array<double>), one row per
    * non-empty cluster. */
  def updateCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("__e")).as(Seq("i", "v")))
      .groupBy(col("cluster"), col("i"))
      .agg(sum(floor(col("v").cast("double") * lit(QuantScale))).as("qsum"),
           count(lit(1)).as("cnt"))
      .withColumn("cval", col("qsum").cast("double") / col("cnt") / lit(QuantScale))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("i"), col("cval")))).as("__s"))
      // k rows total: the interpreted-HOF transform is off the hot path
      .select(col("cluster").as("cent_id"), expr("transform(__s, x -> x.cval)").as("cent"))

  /** One Lloyd step: assign to `centroids`, return (assignment with
    * embeddings, updated centroids). */
  def step(corpus: DataFrame, centroids: DataFrame,
           idCol: String = "vec_id", embCol: String = "embedding"): (DataFrame, DataFrame) = {
    val a = assignWithEmb(corpus, centroids, idCol, embCol)
    (a, updateCentroids(a))
  }

  /** `iters` centroid-update (Lloyd) steps from the deterministic
    * seeds, then a final assignment; `iters = 0` returns the plain
    * seed assignment (what SemDeDup uses). Each iteration is one
    * broadcast-assign + one (cluster, dim) aggregation — the plan
    * grows linearly with `iters`, nothing iterative runs driver-side. */
  def fit(corpus: DataFrame, k: Int, iters: Int,
          idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    var cents = seedCentroids(corpus, k, idCol, embCol)
    for (_ <- 0 until iters) {
      val (_, c) = step(corpus, cents, idCol, embCol)
      cents = c
    }
    assign(corpus, cents, idCol, embCol)
  }

  /** Assignment TRAJECTORY: `iters + 1` frames of `(idCol, cluster)` —
    * element 0 under the deterministic seeds, element i after i Lloyd
    * updates (q45's shape: seed assignment AND the post-update
    * assignment of the same run, without re-composing `step`/`assign`
    * by hand).
    *
    * r16 driver-finish: a corpus that fits [[DriverFinish]]'s budget
    * (long ids, distinct, uniform dims, no NULLs) runs the Lloyd rounds
    * as in-memory loops — every mirrored operation is one of this operator's documented
    * bit-portable forms (strict ascending-index dot fold, min-struct
    * argmax under Spark's exact double order with lowest-cent_id ties,
    * quantized-integer mean with the exact division chain
    * `qsum.toDouble / cnt / 2²⁰`), pinned ≡ distributed by KMeansSpec.
    * Anything else (over budget, non-long ids, ragged dims) composes
    * the distributed [[step]]/[[assign]] exactly as before. */
  def assignTrajectory(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): Seq[DataFrame] = {
    val spark = corpus.sparkSession
    if (corpus.schema(idCol).dataType == org.apache.spark.sql.types.LongType) {
      ProductQuantize.collectVecs("kmeans", corpus, idCol, embCol, -1) match {
        case Some(vecs) if vecs.nonEmpty =>
          return driverTrajectory(spark, vecs, k, iters, idCol)
        case _ => ()
      }
    }
    var cents = seedCentroids(corpus, k, idCol, embCol)
    val out = scala.collection.mutable.ArrayBuffer(
      assign(corpus, cents, idCol, embCol))
    for (_ <- 0 until iters) {
      val (_, c) = step(corpus, cents, idCol, embCol)
      cents = c
      out += assign(corpus, cents, idCol, embCol)
    }
    out.toSeq
  }

  private def driverTrajectory(spark: org.apache.spark.sql.SparkSession,
      vecs: Array[(Long, Array[Double])], k: Int, iters: Int,
      idCol: String): Seq[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val pq = ProductQuantize
    // seeds: the k lowest-id vectors
    val sorted = vecs.sortBy(_._1)
    var cents: Array[(Long, Array[Double])] = sorted.take(k)
    def assignNow(): Array[Long] = {
      val out = new Array[Long](vecs.length)
      var i = 0
      while (i < vecs.length) {
        val e = vecs(i)._2
        var bestNs = 0.0
        var bestId = 0L
        var first = true
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
        out(i) = bestId
        i += 1
      }
      out
    }
    def toFrame(a: Array[Long]): DataFrame = {
      val rows = vecs.indices.map(i => Row(vecs(i)._1, a(i)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(StructField(idCol, LongType, nullable = false),
          StructField("cluster", LongType, nullable = false))))
    }
    var cur = assignNow()
    val frames = scala.collection.mutable.ArrayBuffer(toFrame(cur))
    var it = 0
    while (it < iters) {
      it += 1
      val assigned = cur
      val dims = vecs(0)._2.length
      // quantized-exact mean per non-empty cluster — updateCentroids'
      // exact arithmetic (floor(v·2²⁰) long sums, division chain)
      val qsum = new java.util.HashMap[Long, Array[Long]]()
      val cnt = new java.util.HashMap[Long, Array[Long]]()
      var i = 0
      while (i < vecs.length) {
        val cid = assigned(i)
        var qs = qsum.get(cid)
        if (qs == null) {
          qs = new Array[Long](dims); qsum.put(cid, qs)
          cnt.put(cid, new Array[Long](1))
        }
        cnt.get(cid)(0) += 1
        val e = vecs(i)._2
        var j = 0
        while (j < dims) {
          qs(j) = Math.addExact(qs(j),
            math.floor(e(j) * QuantScale).toLong)
          j += 1
        }
        i += 1
      }
      val ks = qsum.keySet().toArray(new Array[java.lang.Long](0)).map(_.longValue())
      java.util.Arrays.sort(ks)
      cents = ks.map { cid =>
        val qs = qsum.get(cid)
        val n = cnt.get(cid)(0)
        val cent = new Array[Double](dims)
        var j = 0
        while (j < dims) {
          cent(j) = qs(j).toDouble / n.toDouble / QuantScale
          j += 1
        }
        (cid, cent)
      }
      cur = assignNow()
      frames += toFrame(cur)
    }
    frames.toSeq
  }
}
