package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic PageRank over an edge list (Page & Brin 1998), in
  * QUANTIZED INTEGER arithmetic: ranks are BIGINT multiples of a fixed
  * scale and every update is
  *
  *   rank'(v) = scale·basePct/100
  *            + (dampPct · Σ_{u→v} (rank(u) div out(u))) div 100
  *
  * — floor divisions only, so the result is bit-exact on any engine
  * and under any partitioning (float PageRank depends on summation
  * order; this is the same integer-statistics trick as [[KMeans]] and
  * [[Covariance]]). Dangling-node mass is dropped (not redistributed),
  * deterministically.
  *
  * Scale shape: each iteration is one join of ranks onto the edge list
  * by source (both sides keyed on node ids — high-cardinality) and one
  * map-side-combined groupBy(dst). The deduped edge list and node set
  * are referenced by EVERY iteration, so they are persisted for the
  * duration of the call and the final ranks are eagerly
  * `localCheckpoint`ed before the inputs unpersist — the CC/SemDeDup
  * scoped-persist pattern: without it the unrolled plan re-executes
  * the edge subtree ~4× per round, and nothing may outlive the call
  * (SoakSpec pins the cache manager empty).
  */
object PageRank {

  /** `(node, rank)` after `iters` rounds from a uniform start of
    * `scale` per node; expects `src`/`dst` columns, multi-edges are
    * collapsed. Materializes eagerly (the returned frame is
    * lineage-cut).
    *
    * Driver-finish (r16): when the deduped edge set fits
    * [[DriverFinish]]'s budget and node ids are integral, the whole
    * iteration runs as a primitive-array loop on the driver. Every
    * update is exact integer arithmetic (sums + floor divisions,
    * overflow mirrored with addExact/multiplyExact as ANSI mode
    * throws), so the driver pass is bit-identical to the distributed
    * rounds (pinned by GraphDriverFinishSpec). */
  def ranksInt(edges: DataFrame, iters: Int, scale: Long = 1000000L,
               basePct: Int = 15, dampPct: Int = 85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(basePct + dampPct == 100, s"basePct + dampPct must be 100")
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    // 16 B per edge: its two ids as longs
    if (DriverFinish.integral(e.schema("src").dataType) &&
        DriverFinish.integral(e.schema("dst").dataType) &&
        DriverFinish.fitsCount("pagerank", e, 16L)) {
      try return driverRanks(e, iters, scale, basePct, dampPct)
      finally e.unpersist()
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    try {
      val outd = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
      val base = scale * basePct / 100
      var ranks = nodes.withColumn("rank", lit(scale))
      for (round <- 1 to iters) {
        val contrib = e.join(outd, "src")
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), expr("rank div outd").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("m"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            expr(s"cast($base as bigint) + ($dampPct * coalesce(m, cast(0 as bigint))) div 100")
              .as("rank"))
        // periodic lineage cut: each round references `ranks` exactly
        // once, so nothing re-executes — but the unrolled plan deepens
        // linearly and analysis/codegen cost grows with it. A LAZY
        // localCheckpoint rebases the logical plan on a LogicalRDD leaf
        // immediately (bounding plan depth at 8 rounds) while the RDD
        // itself still materializes inside the single final job
        // cascade; intermediate checkpoint blocks are reclaimed by the
        // ContextCleaner as `ranks` reassignment dereferences them.
        if (round % 8 == 0 && round < iters) ranks = ranks.localCheckpoint(false)
      }
      ranks.localCheckpoint(true)
    } finally {
      e.unpersist()
      nodes.unpersist()
    }
  }

  /** Exact in-memory mirror of the distributed rounds over the
    * (already deduped) edge set: dense node index, per-round
    * `acc(dst) += rank(src) / outd(src)` then
    * `rank' = base + damp·acc / 100` — all nonnegative longs, so Java
    * `/` coincides with Spark's `div`, and integer sums are order-free
    * (exactly why ranksInt is quantized in the first place). */
  private def driverRanks(e: DataFrame, iters: Int, scale: Long,
      basePct: Int, dampPct: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = e.sparkSession
    // output node type = what the distributed union would resolve to
    val nodeType = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).schema("node").dataType
    val (ea, eb) = DriverFinish.collectPairs(e, "src", "dst")
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
    val outd = new Array[Long](n)
    i = 0
    while (i < m) { outd(es(i)) += 1; i += 1 }
    val base = scale * basePct / 100
    var rank = Array.fill(n)(scale)
    var round = 1
    while (round <= iters) {
      val acc = new Array[Long](n)
      i = 0
      while (i < m) {
        acc(ed(i)) = Math.addExact(acc(ed(i)), rank(es(i)) / outd(es(i)))
        i += 1
      }
      val next = new Array[Long](n)
      i = 0
      while (i < n) {
        next(i) = Math.addExact(base,
          Math.multiplyExact(dampPct.toLong, acc(i)) / 100)
        i += 1
      }
      rank = next
      round += 1
    }
    val rowsOut = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) { rowsOut.add(Row(ids(i), rank(i))); i += 1 }
    val df = s.createDataFrame(rowsOut, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("rank", LongType, nullable = false))))
    if (nodeType == LongType) df
    else df.select(col("node").cast(nodeType).as("node"), col("rank"))
  }
}
