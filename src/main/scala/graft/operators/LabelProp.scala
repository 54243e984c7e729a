package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA community detection, Raghavan
  * et al. 2007) with a fully deterministic update rule: each round,
  * every node adopts the MINIMUM label among the labels of maximal
  * count over its neighbor multiset (classic LPA breaks ties
  * randomly — the min tie-break makes every round, and therefore the
  * oracle, exact). A fixed round count is part of the contract:
  * synchronous LPA can oscillate on bipartite structures, so the
  * output is "labels after exactly R rounds", deterministic whether
  * or not a fixpoint was reached.
  *
  * Scale shape: per round one join of the (undirected) neighbor list
  * against the label table keyed on node id (high cardinality, no
  * funnel), a map-side-combined (node, label) count, and a
  * WindowGroupLimit-prunable row_number pick per node. Lineage is cut
  * EVERY round (the r7 KCore lesson: multi-self-reference rounds grow
  * driver-side analysis 3^r between cuts).
  *
  * `edges` needs columns `a`/`b` (any direction, loops/dups ignored);
  * `nodes` one column `node` (extra isolated nodes keep their own
  * label). Returns `(node, community)`.
  */
object LabelProp {

  def communities(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val s = edges.sparkSession
    import s.implicits._
    val canon = edges.select(
        least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
      .filter($"a" =!= $"b").distinct()
    val nbrs = canon.select($"a".as("src"), $"b".as("dst"))
      .union(canon.select($"b".as("src"), $"a".as("dst")))
      .persist()
    val allNodes = nodes.select($"node")
      .union(nbrs.select($"src".as("node"))).distinct()
      .persist()
    // driver-finish (r16): label dynamics restricted to edge ENDPOINTS
    // are closed (isolated nodes never change and never influence), so
    // when the symmetric arc set fits the bounded collect the rounds
    // run as a primitive loop on the driver and the per-endpoint final
    // labels ride ONE broadcast left-join onto the (still distributed)
    // node set — the vertex side never collects. The update rule is
    // exact integer counting with a deterministic (max count, min
    // label) pick, so the driver rounds are bit-identical to the
    // distributed ones (GraphDriverFinishSpec). 16 B per arc: two
    // long ids.
    if (DriverFinish.integral(nbrs.schema("src").dataType) &&
        DriverFinish.fitsCount("labelprop", nbrs, 16L)) {
      try return driverCommunities(nbrs, allNodes, rounds)
      finally { nbrs.unpersist(false); allNodes.unpersist(false) }
    }
    var lab = allNodes.withColumn("lbl", $"node").localCheckpoint(true)
    try {
      for (_ <- 1 to rounds) {
        val counts = nbrs.as("n")
          .join(lab.as("l"), $"n.dst" === $"l.node")
          .groupBy($"n.src".as("cnode"), $"l.lbl".as("clbl"))
          .agg(count(lit(1)).as("c"))
        val pick = counts
          .withColumn("rn", row_number().over(
            Window.partitionBy($"cnode").orderBy($"c".desc, $"clbl")))
          .filter($"rn" === 1)
          .select($"cnode".as("node"), $"clbl".as("newl"))
        val next = lab.join(pick, Seq("node"), "left")
          .select($"node", coalesce($"newl", $"lbl").as("lbl"))
          .localCheckpoint(true)
        lab = next
      }
      lab.select($"node", $"lbl".as("community"))
    } finally {
      nbrs.unpersist(false)
      allNodes.unpersist(false)
    }
  }

  /** Exact in-memory mirror of the distributed rounds over the
    * endpoint subgraph: per round each endpoint's neighbor labels are
    * gathered (sorted scratch, run-length counted) and the
    * (max count, min label) winner adopted synchronously. Final
    * endpoint labels broadcast-join back onto the node set; the result
    * is eagerly checkpointed (as the distributed path's per-round
    * checkpoint does) so it doesn't re-execute the unpersisted
    * upstream. */
  private def driverCommunities(nbrs: DataFrame, allNodes: DataFrame,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = nbrs.sparkSession
    val nodeType = allNodes.schema("node").dataType
    val (ea, eb) = DriverFinish.collectPairs(nbrs, "src", "dst")
    val ids = DriverFinish.denseIndex(ea, eb)
    val n = ids.length
    val m = ea.length
    val es = new Array[Int](m)
    val ed = new Array[Int](m)
    var i = 0
    while (i < m) {
      es(i) = DriverFinish.idx(ids, ea(i)); ed(i) = DriverFinish.idx(ids, eb(i))
      i += 1
    }
    val (off, adj) = DriverFinish.csr(n, es, ed)
    var lbl = java.util.Arrays.copyOf(ids, n)
    var maxDeg = 0
    i = 0
    while (i < n) { maxDeg = math.max(maxDeg, off(i + 1) - off(i)); i += 1 }
    val scratch = new Array[Long](maxDeg)
    var r = 0
    while (r < rounds) {
      val next = new Array[Long](n)
      var u = 0
      while (u < n) {
        val d = off(u + 1) - off(u)
        // every dense-index node has >= 1 neighbor by construction
        var p = 0
        while (p < d) { scratch(p) = lbl(adj(off(u) + p)); p += 1 }
        java.util.Arrays.sort(scratch, 0, d)
        var bestLbl = scratch(0)
        var bestCnt = 0
        var runLbl = scratch(0)
        var runCnt = 0
        p = 0
        while (p < d) {
          if (scratch(p) == runLbl) runCnt += 1
          else {
            if (runCnt > bestCnt) { bestCnt = runCnt; bestLbl = runLbl }
            runLbl = scratch(p); runCnt = 1
          }
          p += 1
        }
        if (runCnt > bestCnt) { bestCnt = runCnt; bestLbl = runLbl }
        next(u) = bestLbl
        u += 1
      }
      lbl = next
      r += 1
    }
    val rowsOut = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) { rowsOut.add(Row(ids(i), lbl(i))); i += 1 }
    val endpointLab = s.createDataFrame(rowsOut, StructType(Seq(
        StructField("node", LongType, nullable = false),
        StructField("community", LongType, nullable = false))))
      .select(col("node").cast(nodeType).as("node"),
        col("community").cast(nodeType).as("community"))
    allNodes.join(broadcast(endpointLab), Seq("node"), "left")
      .select(col("node"), coalesce(col("community"), col("node")).as("community"))
      .localCheckpoint(true)
  }
}
