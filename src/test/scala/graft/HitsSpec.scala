package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DriverFinish

/** Pins [[graft.operators.Hits]]'s max-norm integer iteration against
  * hand-computed values on a small graph, its partitioning
  * independence (the determinism claim), and the scoped-persist
  * contract (nothing outlives the call). */
class HitsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** forceDistributed runs the distributed half-steps (the
    * production default would send every test graph down the r16
    * driver path and silently un-cover them); driver ≡ distributed is
    * pinned by GraphDriverFinishSpec. */
  private def run(edges: Seq[(Long, Long)], iters: Int,
                  parts: Int = 1): Map[Long, (Long, Long)] = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    DriverFinish.forceDistributed(graft.operators.Hits
      .hubsAuthsInt(if (parts > 1) e.repartition(parts) else e, iters)
      .collect()).map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("two rounds on a chain-and-fan graph match hand computation") {
    // 1→3, 2→3, 3→4:
    //   a1 raw: 3←h(1)+h(2)=2M, 4←h(3)=1M; max 2M → a1: 3=1M, 4=0.5M
    //   h1 raw: 1←a(3)=1M, 2←1M, 3←a(4)=0.5M; max 1M → h1: 1M,1M,0.5M,0
    //   a2 raw: 3←2M, 4←0.5M; max 2M → a2: 3=1M, 4=0.25M
    //   h2 raw: 1←1M, 2←1M, 3←0.25M; max 1M → h2: 1M,1M,0.25M,0
    val got = run(Seq(1L -> 3L, 2L -> 3L, 3L -> 4L), iters = 2)
    assert(got === Map(
      1L -> ((0L, 1000000L)),
      2L -> ((0L, 1000000L)),
      3L -> ((1000000L, 250000L)),
      4L -> ((250000L, 0L))))
  }

  test("multi-edges collapse and results are partitioning-independent") {
    val edges = Seq(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 1L,
      4L -> 2L, 4L -> 3L, 5L -> 4L, 1L -> 5L)
    val a = run(edges, iters = 3)
    val b = run(edges, iters = 3, parts = 7)
    assert(a === b)
    // authorities of a node no one links to are zero
    assert(run(Seq(1L -> 2L), iters = 1)(1L)._1 === 0L)
  }

  test("scoped persists release — cache manager empty after the call") {
    import spark.implicits._
    val e = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L).toDF("src", "dst")
    DriverFinish.forceDistributed(graft.operators.Hits.hubsAuthsInt(e, iters = 2).count())
    graft.operators.Hits.hubsAuthsInt(e, iters = 2).count()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
