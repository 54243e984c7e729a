package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic HITS hubs-and-authorities (Kleinberg 1999) in
  * QUANTIZED INTEGER arithmetic. Each round is the textbook mutual
  * reinforcement
  *
  *   auth(v) = Σ_{u→v} hub(u)     hub(u) = Σ_{u→v} auth(v)
  *
  * renormalized with a MAX-norm instead of the usual L2: after each
  * half-step every score is rescaled to `x·scale div max(x)` — floor
  * divisions of BIGINTs only, so results are bit-exact on any engine
  * and under any partitioning (the same integer-statistics discipline
  * as [[PageRank]]/[[KMeans]]). L2 normalization would need a square
  * root; max-norm preserves the HITS ranking (normalization only fixes
  * the overall magnitude) while staying in integers.
  *
  * Scale shape: per round, one join of hubs onto edges by src + one
  * map-side-combined groupBy(dst), then the mirror image — all keyed
  * on high-cardinality node ids, no global funnel. The per-half-step
  * global MAX is a 1-row aggregate collect (the CC-convergence /
  * BPE-census pattern — bounded driver data, legitimate at any corpus
  * size). Edges and nodes are persisted for the call; each round's
  * scores are persisted (they feed both the max aggregate and the next
  * join), the previous round's handle freed, and the final frame is
  * lineage-cut before the scoped persists release (SoakSpec pins the
  * cache manager empty after the call).
  *
  * Overflow bound: the rescale product `x·scale` needs
  * indeg·scale² ≤ 2⁶³, i.e. max degree ≤ 9.2·10⁶ at the default
  * scale 10⁶ — lower `scale` for denser graphs.
  */
object Hits {

  /** `(node, auth, hub)` after `iters` full rounds from a uniform
    * start of `scale`; expects `src`/`dst` columns, multi-edges are
    * collapsed. Materializes eagerly (the returned frame is
    * lineage-cut). */
  def hubsAuthsInt(edges: DataFrame, iters: Int,
                   scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    // driver-finish (r16): deduped edge sets within the budget (16 B
    // per edge: two long ids) iterate as a primitive-array loop on the
    // driver — the arithmetic is exact integer sums + floor divisions,
    // so the result is bit-identical to the distributed half-steps
    // (GraphDriverFinishSpec)
    if (DriverFinish.integral(e.schema("src").dataType) &&
        DriverFinish.integral(e.schema("dst").dataType) &&
        DriverFinish.fitsCount("hits", e, 16L)) {
      try return driverHits(e, iters, scale)
      finally e.unpersist()
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()

    // one half-step: propagate `from`'s score over edges keyed by
    // `keyIn` → sum per `keyOut` → max-rescale back onto all nodes
    def halfStep(scores: DataFrame, scoreCol: String, keyIn: String,
                 keyOut: String, outCol: String): DataFrame = {
      val raw = e.join(scores.withColumnRenamed("node", keyIn), keyIn)
        .groupBy(col(keyOut).as("node"))
        .agg(sum(col(scoreCol)).as("raw"))
        .persist()
      try {
        // an empty edge set has no nodes to rescale: any divisor serves
        val top = raw.agg(max(col("raw"))).head()
        val mx = if (top.isNullAt(0)) 1L else top.getLong(0)
        nodes.join(raw, Seq("node"), "left")
          .select(col("node"),
            expr(s"(coalesce(raw, cast(0 as bigint)) * $scale) div $mx")
              .as(outCol))
          // both the max aggregate above and the caller's next join
          // consume `raw`; materialize the result before releasing it
          .localCheckpoint(true)
      } finally raw.unpersist()
    }

    try {
      var hubs = nodes.withColumn("hub", lit(scale))
      var auths: DataFrame = null
      for (_ <- 1 to iters) {
        auths = halfStep(hubs, "hub", "src", "dst", "auth")
        hubs = halfStep(auths, "auth", "dst", "src", "hub")
      }
      hubs.join(auths, "node")
        .select(col("node"), col("auth"), col("hub"))
        .localCheckpoint(true)
    } finally {
      e.unpersist()
      nodes.unpersist()
    }
  }

  /** Exact in-memory mirror of the distributed half-steps: per
    * half-step `raw(out) += score(in)` over the deduped arcs, the max
    * taken over nodes with ≥1 incoming arc (exactly the rows the
    * distributed `raw` aggregate contains), then
    * `(raw · scale) / mx` for every node (untouched nodes read raw=0,
    * the distributed coalesce). All values nonnegative longs — Java
    * `/` coincides with Spark's `div`; overflow mirrored with
    * addExact/multiplyExact as ANSI throws. */
  private def driverHits(e: DataFrame, iters: Int, scale: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = e.sparkSession
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
    def half(in: Array[Int], out: Array[Int], scores: Array[Long]): Array[Long] = {
      val raw = new Array[Long](n)
      val touched = new Array[Boolean](n)
      var j = 0
      while (j < m) {
        raw(out(j)) = Math.addExact(raw(out(j)), scores(in(j)))
        touched(out(j)) = true
        j += 1
      }
      var mx = Long.MinValue
      j = 0
      while (j < n) { if (touched(j) && raw(j) > mx) mx = raw(j); j += 1 }
      if (mx == 0L)
        throw new ArithmeticException(
          "hits rescale: max raw score is 0 (division by zero)")
      val res = new Array[Long](n)
      j = 0
      while (j < n) { res(j) = Math.multiplyExact(raw(j), scale) / mx; j += 1 }
      res
    }
    var hub = Array.fill(n)(scale)
    var auth: Array[Long] = hub
    var r = 1
    while (r <= iters && n > 0) {
      auth = half(es, ed, hub)
      hub = half(ed, es, auth)
      r += 1
    }
    val rowsOut = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) { rowsOut.add(Row(ids(i), auth(i), hub(i))); i += 1 }
    val df = s.createDataFrame(rowsOut, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("auth", LongType, nullable = false),
      StructField("hub", LongType, nullable = false))))
    if (nodeType == LongType) df
    else df.select(col("node").cast(nodeType).as("node"), col("auth"), col("hub"))
  }
}
