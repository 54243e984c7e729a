package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.operators.KCore]]'s peel against hand-computed cores,
  * its cascade behavior (removal propagating over multiple rounds),
  * partitioning independence, the lineage-cut path (checkpointEvery),
  * the scoped-persist contract, and the r16 driver-finish path (every
  * hand-computed pin asserts driver ≡ distributed — the k-core is
  * unique, so the two algorithms must agree exactly). */
class KCoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** driverPeelLimit = 0 forces the distributed round loop (the
    * production default would send every test graph down the driver
    * path and silently un-cover the rounds). */
  private def run(edges: Seq[(Long, Long)], k: Int, parts: Int = 1,
                  checkpointEvery: Int = 4,
                  driverPeelLimit: Long = 0L): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    graft.operators.KCore
      .core(if (parts > 1) e.repartition(parts) else e, k,
        checkpointEvery = checkpointEvery,
        driverPeelLimit = driverPeelLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Both paths on the same input; asserts they agree and returns the
    * (shared) answer. */
  private def runBoth(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val dist = run(edges, k)
    val drv = run(edges, k,
      driverPeelLimit = graft.operators.KCore.DriverPeelEdgeLimit)
    assert(drv === dist, "driver peel diverged from distributed rounds")
    dist
  }

  test("triangle plus pendant: 2-core is the triangle") {
    // 1-2-3 triangle, 4 hangs off 3. Peel k=2: node 4 (deg 1) goes,
    // the triangle (all deg 2) stays with degrees recomputed inside.
    val got = runBoth(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L), k = 2)
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("chain cascade: peeling propagates down a path over rounds") {
    // path 1-2-3-4-5 + triangle 5-6-7(-5): at k=2 the path's free end
    // peels one node per round (1, then 2, then 3, then 4) before the
    // triangle stabilizes — exercises multi-round convergence.
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L,
      5L -> 6L, 6L -> 7L, 7L -> 5L)
    val got = runBoth(edges, k = 2)
    assert(got === Map(5L -> 2L, 6L -> 2L, 7L -> 2L))
    // per-round lineage cut path agrees with the persist path
    assert(run(edges, k = 2, checkpointEvery = 1) === got)
  }

  test("k above max degree yields an empty core; loops and dups ignored") {
    assert(runBoth(Seq(1L -> 2L, 2L -> 1L, 1L -> 1L, 2L -> 2L), k = 2) === Map.empty)
    // dup edges collapse: 1-2 seen three times is still degree 1
    assert(runBoth(Seq(1L -> 2L, 1L -> 2L, 2L -> 1L), k = 1) ===
      Map(1L -> 1L, 2L -> 1L))
  }

  test("maxRounds before fixpoint throws by default; allowPartial returns the superset") {
    import spark.implicits._
    // planted deep cascade: a path 0-1-…-11 at k=2 peels exactly its two
    // endpoints per round (degree-1 ends fall, exposing new ends) — 6
    // rounds to empty, so maxRounds=3 stops mid-cascade. This is the
    // small-m stand-in for `Probe graph`'s harmonic near-critical graph
    // (one layer per round at any scale). driverPeelLimit = 0 keeps the
    // DISTRIBUTED loop under test — the driver path cannot stop early.
    val path = (0L until 11L).map(i => i -> (i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      graft.operators.KCore.core(path, k = 2, maxRounds = 3,
        driverPeelLimit = 0L).collect()
    }
    assert(ex.getMessage.contains("superset"))
    assert(ex.getMessage.contains("allowPartial"))
    // opting in returns the partial peel: a SUPERSET of the (empty)
    // true 2-core, still non-empty mid-cascade
    val partial = graft.operators.KCore
      .core(path, k = 2, maxRounds = 3, allowPartial = true,
        driverPeelLimit = 0L)
      .collect().map(_.getLong(0)).toSet
    assert(partial.nonEmpty && partial.subsetOf((0L to 11L).toSet))
    // 3 rounds peeled {0,11},{1,10},{2,9}; surviving edges 3-4…7-8, and
    // the output's deg>=2 filter drops the degree-1 ends 3 and 8
    assert(partial === (4L to 7L).toSet)
    // enough rounds converges to the true empty core, no throw
    assert(graft.operators.KCore.core(path, k = 2, maxRounds = 10,
      driverPeelLimit = 0L).count() === 0)
    // the driver path reaches the same fixpoint with NO round budget at
    // all — maxRounds only governs the distributed loop
    assert(graft.operators.KCore.core(path, k = 2, maxRounds = 1).count() === 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("partitioning independence and scoped persists") {
    val edges = (0L until 40L).flatMap(i =>
      Seq(i -> ((i * 7 + 3) % 40), i -> ((i * 13 + 5) % 40), i % 8 -> ((i * 3) % 8)))
    assert(run(edges, k = 3) === run(edges, k = 3, parts = 7))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("driver peel ≡ distributed rounds on a mixed-regime graph") {
    // q109's shape in miniature: arithmetic edge families (harmonic
    // degrees, deep cascades) + a planted near-clique block the peel
    // must keep — exercises cascading removals, survivors with reduced
    // degrees, and dup/loop cleanup on both paths at once.
    val fam = (0L until 400L).flatMap { i =>
      Seq(i % 60 -> ((i * 7 + 3) % 60), i % 60 -> ((i * 13 + 5) % 60),
        (i * 3) % 60 -> ((i * 17) % 60))
    }
    val block = (0L until 400L).map(i => (i % 12) -> ((i / 12) % 12))
    val edges = fam ++ block
    for (k <- Seq(2, 4, 6)) {
      assert(run(edges, k,
        driverPeelLimit = graft.operators.KCore.DriverPeelEdgeLimit) ===
        run(edges, k), s"paths diverged at k=$k")
    }
    // mid-peel handoff: a 60-edge path peels exactly TWO edges per
    // round (both free ends), so a limit of 58 forces ≥3 distributed
    // rounds before the driver finishes the cascade — the regime
    // boundary itself is pinned equal (final 2-core = the triangle)
    val pathPlusTri = (0L until 60L).map(i => i -> (i + 1)) ++
      Seq(1000L -> 1001L, 1001L -> 1002L, 1002L -> 1000L)
    val full = run(pathPlusTri, 2)
    val handoff = run(pathPlusTri, 2, driverPeelLimit = 58L)
    assert(handoff === full, "mid-peel driver handoff diverged")
    assert(full === Map(1000L -> 2L, 1001L -> 2L, 1002L -> 2L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("driver peel preserves integer node types") {
    import spark.implicits._
    val e = Seq((1, 2), (2, 3), (3, 1), (3, 4)).toDF("src", "dst")
    val out = graft.operators.KCore.core(e, k = 2)
    assert(out.schema("node").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(out.schema("deg").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(out.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ===
      Map(1 -> 2L, 2 -> 2L, 3 -> 2L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
