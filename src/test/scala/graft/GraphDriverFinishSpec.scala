package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DriverFinish

/** Pins the r16 driver-finish paths of the iterative graph operators
  * bit-identical to their distributed rounds (the KCoreSpec contract,
  * extended): each operator runs the SAME input under
  * `DriverFinish.forceDistributed` (the distributed loop) and the
  * production budget (sends these graphs to the driver), and the
  * outputs must agree exactly — integer arithmetic everywhere except Triangles'
  * single IEEE division, which both paths perform on identical exact
  * integers. Graph shapes: randomized multigraphs with loops/dups,
  * arithmetic edge families (the q69/q95/q105/q149 construction
  * class), deep chains, and isolated vertices.  */
class GraphDriverFinishSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def randomEdges(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
  }

  // arithmetic families + a near-clique block — the registry graphs'
  // construction class (heterogeneous degrees, triangle-rich)
  private def familyEdges(mod: Long): Seq[(Long, Long)] =
    (0L until 500L).flatMap { i =>
      Seq(i % mod -> ((i * 7 + 3) % mod), i % mod -> ((i * 13 + 5) % mod),
        (i * 3) % mod -> ((i * 17) % mod), (i % 12) -> ((i / 12) % 12))
    }

  test("pagerank: driver ≡ distributed") {
    import spark.implicits._
    for ((edges, iters) <- Seq((randomEdges(1, 50, 120), 3),
        (familyEdges(60), 2), ((0L until 30L).map(i => i -> (i + 1)), 5))) {
      val e = edges.toDF("src", "dst")
      def go() = graft.operators.PageRank.ranksInt(e, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = DriverFinish.forceDistributed(go())
      val drv = go()
      assert(drv === dist)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("hits: driver ≡ distributed") {
    import spark.implicits._
    for ((edges, iters) <- Seq((randomEdges(2, 40, 100), 2),
        (familyEdges(50), 3), (Seq(1L -> 3L, 2L -> 3L, 3L -> 4L), 2))) {
      val e = edges.toDF("src", "dst")
      def go() = graft.operators.Hits.hubsAuthsInt(e, iters)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val dist = DriverFinish.forceDistributed(go())
      val drv = go()
      assert(drv === dist)
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("label propagation: driver ≡ distributed, isolated nodes keep their label") {
    import spark.implicits._
    for ((edges, rounds) <- Seq((randomEdges(3, 40, 90), 4),
        (familyEdges(40), 3),
        // two blocks + one bridge (the q149 shape) with ties
        ((0L until 200L).flatMap(i =>
          Seq(i % 20 -> ((i * 3 + 7) % 20),
            (i % 20 + 20) -> ((i * 5 + 3) % 20 + 20))) :+ (0L -> 20L), 4))) {
      // nodes: all endpoints plus isolated ids 900-904
      val nodes = (edges.flatMap(e => Seq(e._1, e._2)).distinct ++
        (900L to 904L)).toDF("node")
      val e = edges.toDF("a", "b")
      def go() = graft.operators.LabelProp
        .communities(nodes, e, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = DriverFinish.forceDistributed(go())
      val drv = go()
      assert(drv === dist)
      assert((900L to 904L).forall(i => drv(i) == i))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("triangles: driver ≡ distributed (coefficient bit-equal)") {
    import spark.implicits._
    for (edges <- Seq(randomEdges(4, 30, 120), familyEdges(30),
        // K4 + square-with-diagonal + pendant + noise
        Seq[(Long, Long)]((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
          (4, 5), (6, 7), (7, 8), (8, 9), (9, 6), (6, 8), (2, 1), (3, 3)))) {
      val e = edges.toDF("src", "dst")
      def go() = graft.operators.Triangles.perNode(e)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      assert(go() === DriverFinish.forceDistributed(go()))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("connected components: driver ≡ distributed incl. vertices absent from edges") {
    import spark.implicits._
    for (edges <- Seq(randomEdges(5, 60, 70), familyEdges(45),
        (0L until 23L).map(i => i -> (i + 1)))) {
      val verts = (0L until 80L).toDF("doc_id")
      val e = edges.toDF("doc_a", "doc_b")
      def go() = graft.operators.ConnectedComponents
        .labels(verts, e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(go() === DriverFinish.forceDistributed(go()))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("edge endpoints outside the vertex set propagate but don't emit (CC contract)") {
    import spark.implicits._
    // 100 and 101 bridge 1 and 2 through ids outside the vertex set:
    // component minimum is still 1 and only vertex rows come back
    val verts = Seq(1L, 2L, 3L).toDF("doc_id")
    val e = Seq(1L -> 100L, 100L -> 101L, 101L -> 2L).toDF("doc_a", "doc_b")
    def go() = graft.operators.ConnectedComponents
      .labels(verts, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val drv = go()
    assert(drv === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(DriverFinish.forceDistributed(go()) === drv)
  }

  test("non-integral node types fall through to the distributed path") {
    import spark.implicits._
    val e = Seq("a" -> "b", "b" -> "c").toDF("src", "dst")
    // string ids: the driver path must decline; the distributed loop
    // handles them as before
    val got = graft.operators.PageRank.ranksInt(e, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set("a", "b", "c"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("q121 assortativity: driver ≡ distributed (decimal last mile bit-equal)") {
    val sf = "/root/testdata/sf0.001"
    def rows() = graft.queries.TextQueries
      .q121Assortativity(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq
    val drv = rows()
    val dist = DriverFinish.forceDistributed(rows())
    assert(drv == dist)
    assert(drv.head._1 > 0L)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
