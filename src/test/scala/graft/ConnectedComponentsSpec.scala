package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DriverFinish

/** Pins the distributed min-label propagation against a brute-force
  * union-find on random graphs, plus the shapes that stress it:
  * long chains (worst-case round count) and edgeless vertex sets. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min id in component = root under min-union
    (0L until n.toLong).map(i => i -> find(i)).toMap
  }

  /** forceDistributed runs the distributed propagation (the
    * production budget would send every test graph down the r16
    * driver path and silently un-cover the rounds); driver ≡
    * distributed is pinned by GraphDriverFinishSpec. */
  private def run(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val verts = (0L until n.toLong).toDF("doc_id")
    val e = edges.toDF("doc_a", "doc_b")
    DriverFinish.forceDistributed(
        graft.operators.ConnectedComponents.labels(verts, e).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graphs equal brute-force union-find") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 40 + rnd.nextInt(60)
      val m = rnd.nextInt(n * 2)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(run(n, edges) == unionFind(n, edges), s"trial $trial n=$n m=$m")
    }
  }

  test("long chain converges to one cluster (propagation worst case)") {
    // 24 nodes = 23 propagation rounds; enough to exercise the
    // localCheckpoint lineage truncation (every 8 rounds) twice
    val n = 24
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val got = run(n, chain)
    assert(got.values.toSet == Set(0L))
  }

  test("no edges: every vertex is its own singleton cluster") {
    val got = run(25, Nil)
    assert(got == (0L until 25L).map(i => i -> i).toMap)
  }

  test("two cliques bridged by one edge merge") {
    val c1 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val c2 = for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val got = run(15, c1 ++ c2 ++ Seq((4L, 10L)))
    assert((0L to 4L).forall(got(_) == 0L))
    assert((10L to 14L).forall(got(_) == 0L))
    assert((5L to 9L).forall(i => got(i) == i))
  }

  private def runStar(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val verts = (0L until n.toLong).toDF("doc_id")
    val e = edges.toDF("doc_a", "doc_b")
    graft.operators.ConnectedComponents.labelsStarContraction(verts, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star contraction equals union-find on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 40 + rnd.nextInt(60)
      val m = rnd.nextInt(n * 2)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(runStar(n, edges) == unionFind(n, edges), s"trial $trial n=$n m=$m")
    }
  }

  test("star contraction handles the deep-chain case in logarithmic rounds") {
    // a 200-node chain needs 199 propagation rounds but must finish
    // well inside star contraction's 60-round cap (O(log^2 n))
    val n = 200
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val got = runStar(n, chain)
    assert(got.size == n)
    assert(got.values.toSet == Set(0L))
  }

  test("labels falls back to star contraction when the round cap hits") {
    import spark.implicits._
    // 30-node chain, cap of 3 propagation rounds: propagation alone
    // would return stale labels; the fallback must still converge
    val n = 30
    val verts = (0L until n.toLong).toDF("doc_id")
    val e = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = DriverFinish.forceDistributed(graft.operators.ConnectedComponents
        .labels(verts, e, maxRounds = 3).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.toSet == Set(0L))
  }

  test("star contraction: singletons and a shuffled two-component graph") {
    val edges = Seq((7L, 3L), (3L, 9L), (9L, 7L), (15L, 12L))
    val got = runStar(20, edges)
    assert(got(3L) == 3L && got(7L) == 3L && got(9L) == 3L)
    assert(got(12L) == 12L && got(15L) == 12L)
    assert((0L until 20L).filterNot(Set(3L, 7L, 9L, 12L, 15L)).forall(i => got(i) == i))
  }

  test("integer pagerank: hand-computed two rounds, dangling node, partition-invariant") {
    import spark.implicits._
    // 1→2, 2→1, 1→3; out(1)=2, out(2)=1, node 3 dangles
    // r1: (1e6, 575000, 575000) for (1,2,3); r2: (638750, 575000, 575000)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L))
    for (p <- Seq(1, 7)) {
      val e = edges.toDF("src", "dst").repartition(p)
      // distributed rounds forced; GraphDriverFinishSpec pins parity
      val got = DriverFinish.forceDistributed(
        graft.operators.PageRank.ranksInt(e, iters = 2).as[(Long, Long)].collect()).toMap
      assert(got == Map(1L -> 638750L, 2L -> 575000L, 3L -> 575000L), s"p=$p")
      // the r16 driver path lands on the same hand-computed values
      val drv = graft.operators.PageRank.ranksInt(e, iters = 2)
        .as[(Long, Long)].collect().toMap
      assert(drv == got, s"p=$p driver path")
    }
    // ranks sum is bounded by n·scale (mass only leaks, never grows)
    val big = (0L until 40L).map(i => (i, (i * 3 + 1) % 40))
    val ranks = DriverFinish.forceDistributed(graft.operators.PageRank
      .ranksInt(big.toDF("src", "dst"), iters = 3).as[(Long, Long)].collect())
    assert(ranks.map(_._2).sum <= 40L * 1000000L)
    assert(ranks.forall(_._2 >= 150000L))
  }

  test("pagerank at iters=25: bounded plan depth, deterministic, nothing cached after") {
    import spark.implicits._
    val edges = (0L until 60L).map(i => (i, (i * 7 + 3) % 60)).toDF("src", "dst")
    // the periodic lazy localCheckpoint rebases the plan on a
    // LogicalRDD leaf every 8 rounds: without it 25 unrolled rounds
    // stack ~25 joins; with it the FINAL frame's plan is a single
    // checkpoint leaf and intermediate analysis stays bounded. Run
    // twice: bit-exact integer arithmetic must agree run-to-run.
    val r1 = DriverFinish.forceDistributed(
      graft.operators.PageRank.ranksInt(edges, iters = 25))
    assert(r1.queryExecution.analyzed.toString.linesIterator.size < 10,
      "returned frame should be lineage-cut")
    val m1 = r1.as[(Long, Long)].collect().toMap
    val m2 = DriverFinish.forceDistributed(graft.operators.PageRank
      .ranksInt(edges.repartition(5), iters = 25).as[(Long, Long)].collect()).toMap
    assert(m1 == m2)
    assert(m1.size == 60 && m1.values.sum <= 60L * 1000000L)
    // scoped persists released (SoakSpec contract)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
