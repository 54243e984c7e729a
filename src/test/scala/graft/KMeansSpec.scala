package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.operators.KMeans]]'s semantics: correct grouping on a
  * separable corpus, bitwise-deterministic centroid means regardless of
  * row order (the property the quantized-integer sum buys), and the
  * documented argmax tie-break. */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.operators.KMeans

  /** Two well-separated direction bundles, interleaved by id so the
    * deterministic lowest-id seeds (0 and 1) start one in each bundle:
    * even ids point along +x, odd ids along +y (with a small
    * deterministic wobble in unused dims). */
  private def separable = {
    import spark.implicits._
    (0 until 100).map { i =>
      val base = Array.fill(8)(0.0f)
      if (i % 2 == 0) base(0) = 1.0f else base(1) = 1.0f
      base(2 + i % 6) = 0.01f * (i % 7)
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("fit groups a separable corpus into its true clusters") {
    val got = KMeans.fit(separable, k = 2, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 100)
    val c0 = (0L until 100L by 2).map(got)
    val c1 = (1L until 100L by 2).map(got)
    assert(c0.distinct.size == 1, "first bundle splits")
    assert(c1.distinct.size == 1, "second bundle splits")
    assert(c0.head != c1.head, "bundles merged")
  }

  test("updateCentroids is bitwise row-order independent") {
    val corpus = separable
    val cents = KMeans.seedCentroids(corpus, 2)
    val a = KMeans.assignWithEmb(corpus, cents)
    def centMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    val plain = centMap(KMeans.updateCentroids(a))
    // force different partitioning / row order through the aggregation
    val shuffled = centMap(KMeans.updateCentroids(
      a.repartition(7, col("cluster")).sortWithinPartitions(col("cluster").desc)))
    assert(plain == shuffled)
    assert(plain.values.forall(_.length == 8))
  }

  test("assign breaks exact-tie dots toward the lowest centroid id") {
    import spark.implicits._
    // two identical centroids => every dot ties; winner must be id 0
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.5f, 0.5f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0f, 1.0f)), (1L, Seq(1.0f, 1.0f)))
      .toDF("cent_id", "cent")
    val got = KMeans.assign(corpus, cents).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("fit composes lazily — multi-iteration plan analyzes without execution") {
    assert(KMeans.fit(separable, k = 2, iters = 3).queryExecution
      .optimizedPlan != null)
  }

  test("assignTrajectory: driver-finish ≡ distributed composition (sf0.001 embeddings)") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val driver = KMeans.assignTrajectory(corpus, k = 8, iters = 2)
    val dist = graft.operators.DriverFinish.forceDistributed(
      KMeans.assignTrajectory(corpus, k = 8, iters = 2))
    assert(driver.length == 3 && dist.length == 3)
    driver.zip(dist).zipWithIndex.foreach { case ((d, x), i) =>
      assert(m(d) == m(x), s"trajectory diverged at step $i")
    }
    // and the distributed trajectory is the hand composition q45 used
    val c0 = KMeans.seedCentroids(corpus, 8)
    val (_, c1) = KMeans.step(corpus, c0)
    assert(m(dist(0)) == m(KMeans.assign(corpus, c0)))
    assert(m(dist(1)) == m(KMeans.assign(corpus, c1)))
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
