package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-core decomposition membership (Seidman 1983): iteratively peel
  * nodes of degree < k until fixpoint; what survives is the maximal
  * subgraph where every node has at least k neighbors — the standard
  * "dense cohesive region" extractor for link/citation/co-edit graphs
  * (the reference's revision graph is exactly such an input;
  * cf. `dumps.rst` dataflow — this operator is a downstream analytic
  * the reference's Hadoop consumers run off-engine).
  *
  * Distributed shape (the Montresor-style round form): each round is
  * one map-side-combined degree aggregation over the surviving
  * canonical edge set (shuffle key = node id, high cardinality) plus
  * two semi-joins filtering edges whose endpoints survived. No
  * driver-side graph state — the only driver value per round is the
  * 1-row surviving-edge count that doubles as the convergence test
  * (the CC/HITS pattern: the count is an action we need anyway to
  * detect the fixpoint, so convergence costs no extra job).
  *
  * Lineage: the round result is `localCheckpoint`ed EVERY round by
  * default (checkpointEvery = 1). Each round references its input 3×
  * (degree union twice, filter join once), so with persist alone the
  * LOGICAL plan grows 3^r between cuts — persist dedups execution but
  * not analysis, and driver-side analysis + cache-lookup time came to
  * dominate the whole operator (measured at sf0.1: 13.3s with cuts
  * every 4 rounds, 3.2s with a cut per round; the distributed work is
  * identical). The count() action that detects convergence makes each
  * checkpoint materialize for free.
  *
  * Peel rounds are at most the graph's degeneracy ordering depth; on
  * power-law corpora that is tens of rounds, each touching only the
  * shrinking frontier — edges only ever shrink, so round cost is
  * monotonically decreasing at any scale.
  */
object KCore {

  /** Below this many surviving edges the per-round keep-set (≤ 2·edges
    * node rows) rides a broadcast, turning both endpoint filters into
    * map-side joins — the late peel rounds of ANY graph shrink into
    * this regime. (Sizing note: this is a scale nicety, not the toy-
    * graph fix — see checkpointEvery below for what actually cost
    * 13s → 3s at sf0.1.) */
  val BroadcastEdgeLimit = 2000000L

  /** Below this many surviving CANONICAL edges the peel finishes on
    * the driver: one bounded collect (two longs per edge, ≤ ~64 MB of
    * primitive arrays at the cap) and one O(V+E) bucket peel replace
    * the remaining rounds — each of which is a full Spark job (degree
    * shuffle + two joins + lineage cut + count) whose cost at this
    * size is pure scheduling overhead, multiplied by the cascade
    * depth (a graph property, unbounded by the plan — `Probe graph`'s
    * harmonic graph peels ONE layer per round). The k-core is the
    * unique maximal subgraph with min degree ≥ k, so peel order
    * cannot change the result: driver and distributed paths are
    * pinned equal by KCoreSpec. Same bounded-collect class as
    * [[DriverSweep]]'s dense-regime dispatch (10M-row cap) — the
    * collect size is known BEFORE collecting (the convergence count
    * we need anyway), and at 100 TB the early rounds stay distributed
    * until the frontier shrinks under the cap. */
  val DriverPeelEdgeLimit = 4000000L

  /** Nodes of the k-core of the undirected simple graph induced by
    * `edges` (any direction, loops/dups ignored), with their degree
    * inside the core: `(node, deg)`, deg >= k.
    *
    * Rounds are bounded by the peel cascade's depth — a GRAPH property,
    * not a plan defect: a near-critical construction can peel exactly
    * one layer per round (`Probe graph`'s harmonic graph does), so
    * `maxRounds` is reachable on adversarial inputs at ANY scale. An
    * exit before the fixpoint would return a SUPERSET of the true
    * k-core (survivors still filtered by deg >= k); since a
    * correct-looking superset is the one way this operator can be
    * silently wrong, non-convergence THROWS by default. Callers that
    * want the partial peel (e.g. as a pruning pre-pass) opt in with
    * `allowPartial = true` and get the superset plus a stderr warning.
    */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 100,
           checkpointEvery: Int = 1, allowPartial: Boolean = false,
           driverPeelLimit: Long = DriverPeelEdgeLimit): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    def degrees(e: DataFrame): DataFrame =
      e.select($"a".as("node")).union(e.select($"b".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
    // canonical simple undirected edges: a < b, no loops, no dups
    var cur = edges.select(
        least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
      .persist()
    val tInit = System.nanoTime()
    var curCount = cur.count()
    if (sys.env.contains("KCORE_TRACE"))
      println(f"[kcore] init count=$curCount ${(System.nanoTime() - tInit) / 1e9}%.2fs")
    // driver-finish dispatch: whenever the SURVIVING canonical edge set
    // fits the bounded collect, the remaining peel is exact on the
    // driver regardless of cascade depth — maxRounds/allowPartial only
    // govern the distributed rounds (the driver pass always reaches the
    // fixpoint, so it can never return the silent superset they guard
    // against). Node types outside the integral family fall through to
    // the distributed loop.
    def driverEligible: Boolean =
      curCount <= driverPeelLimit && integralNodeType(cur)
    var prev: DataFrame = null
    var round = 0
    var converged = curCount == 0L
    try {
      if (driverEligible) return driverPeel(s, cur, k)
      while (!converged && round < maxRounds) {
        round += 1
        val keep0 = degrees(cur).filter($"deg" >= k).select($"node")
        val keep = if (curCount <= BroadcastEdgeLimit) broadcast(keep0) else keep0
        val stepped = cur
          .join(keep.as("ka"), $"a" === $"ka.node").drop("node")
          .join(keep.as("kb"), $"b" === $"kb.node").drop("node")
          .select($"a", $"b")
        val next =
          if (round % checkpointEvery == 0) stepped.localCheckpoint(false)
          else stepped.persist()
        val t0 = System.nanoTime()
        val nextCount = next.count()          // action: materializes + converges
        if (sys.env.contains("KCORE_TRACE"))
          println(f"[kcore] round $round count=$nextCount ${(System.nanoTime() - t0) / 1e9}%.2fs")
        if (prev != null) prev.unpersist(false)
        prev = cur
        cur = next
        converged = nextCount == curCount
        curCount = nextCount
        // the frontier only ever shrinks — finish the tail of a deep
        // cascade on the driver the moment it fits the bound
        if (!converged && driverEligible) return driverPeel(s, cur, k)
      }
      // a maxRounds exit before the fixpoint returns a SUPERSET of the
      // true k-core (survivors filtered by deg >= k) — a correct-looking
      // wrong answer, so it is an ERROR unless the caller opted in
      if (!converged) {
        val msg =
          s"[kcore] maxRounds=$maxRounds reached before fixpoint " +
          s"($curCount edges still changing) — result is a superset of the true $k-core"
        if (!allowPartial) throw new IllegalStateException(
          msg + "; raise maxRounds or pass allowPartial = true")
        System.err.println(s"WARNING: $msg")
      }
      val tFin = System.nanoTime()
      val out = degrees(cur).filter($"deg" >= k)
        .select($"node", $"deg".cast("long").as("deg"))
        // the caller gets a small result (core nodes); cut lineage so
        // the returned frame doesn't pin the peel's cached rounds
        .localCheckpoint(true)
      if (sys.env.contains("KCORE_TRACE"))
        println(f"[kcore] final ${(System.nanoTime() - tFin) / 1e9}%.2fs rounds=$round")
      out
    } finally {
      if (prev != null) prev.unpersist(false)
      cur.unpersist(false)
    }
  }

  /** The driver path casts endpoints to long and back; anything outside
    * the integral family stays distributed. */
  private def integralNodeType(canonical: DataFrame): Boolean =
    canonical.schema("a").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  /** Exact in-memory peel of the (already canonical, deduped) edge set:
    * CSR adjacency over a sorted dense node index, then the standard
    * cascade queue (Matula–Beck shape) — O(V+E) total, independent of
    * cascade depth. Survivor degrees fall out of the decrement counter:
    * each removed neighbor decrements a survivor exactly once, so the
    * final counter is the degree inside the core — identical to the
    * distributed fixpoint's recomputed `deg >= k` output. Primitive
    * arrays throughout (no boxing at the 4M-edge cap). */
  private def driverPeel(s: SparkSession, canonical: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t0 = System.nanoTime()
    val nodeType = canonical.schema("a").dataType
    val collected = canonical
      .select(col("a").cast("long"), col("b").cast("long")).collect()
    val m = collected.length
    val ea = new Array[Long](m)
    val eb = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = collected(i)
      ea(i) = r.getLong(0); eb(i) = r.getLong(1)
      i += 1
    }
    // dense index: sorted distinct endpoints + binary search
    val all = new Array[Long](2 * m)
    System.arraycopy(ea, 0, all, 0, m)
    System.arraycopy(eb, 0, all, m, m)
    java.util.Arrays.sort(all)
    var n = 0
    i = 0
    while (i < all.length) {
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    def idxOf(v: Long): Int = java.util.Arrays.binarySearch(all, 0, n, v)
    val deg = new Array[Int](n)
    i = 0
    while (i < m) { deg(idxOf(ea(i))) += 1; deg(idxOf(eb(i))) += 1; i += 1 }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](2 * m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      val u = idxOf(ea(i)); val v = idxOf(eb(i))
      adj(fill(u)) = v; fill(u) += 1
      adj(fill(v)) = u; fill(v) += 1
      i += 1
    }
    // cascade: pop a sub-k node, decrement its surviving neighbors,
    // enqueue any that drop below k — each node enqueued at most once
    val removed = new Array[Boolean](n)
    val queue = new Array[Int](n)
    var qt = 0
    i = 0
    while (i < n) {
      if (deg(i) < k) { removed(i) = true; queue(qt) = i; qt += 1 }
      i += 1
    }
    var qh = 0
    while (qh < qt) {
      val u = queue(qh); qh += 1
      var p = off(u)
      val end = off(u + 1)
      while (p < end) {
        val v = adj(p)
        if (!removed(v)) {
          deg(v) -= 1
          if (deg(v) < k) { removed(v) = true; queue(qt) = v; qt += 1 }
        }
        p += 1
      }
    }
    val outRows = new java.util.ArrayList[Row]()
    i = 0
    while (i < n) {
      if (!removed(i)) outRows.add(Row(all(i), deg(i).toLong))
      i += 1
    }
    if (sys.env.contains("KCORE_TRACE"))
      println(f"[kcore] driver peel edges=$m nodes=$n core=${outRows.size} " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    val schema = StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("deg", LongType, nullable = false)))
    val df = s.createDataFrame(outRows, schema)
    if (nodeType == LongType) df
    else df.select(col("node").cast(nodeType).as("node"), col("deg"))
  }

  /** Generated DuckDB oracle: `rounds` unrolled peel rounds over the
    * canonical edge set of `rawEdgesSql` (columns `s`, `d`). The peel
    * is idempotent past the fixpoint, so any `rounds` at or above the
    * convergence depth yields the exact core. */
  def oracleSql(rawEdgesSql: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    // each e_r is referenced 3× by round r+1 (degree union twice, the
    // filter join once) — without MATERIALIZED, CTE inlining makes the
    // expansion 3^rounds scans (DuckDB exhausts file handles re-opening
    // the parquet). MATERIALIZED pins one evaluation per round, which
    // is also what the Spark loop's persist does.
    sb.append("WITH raw AS (").append(rawEdgesSql).append("),\n")
    sb.append("e0 AS MATERIALIZED (SELECT DISTINCT least(s,d) AS a, greatest(s,d) AS b FROM raw WHERE s <> d)")
    for (r <- 1 to rounds) {
      sb.append(s""",
        |d$r AS (SELECT node, COUNT(*) AS deg FROM (
        |         SELECT a AS node FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
        |       GROUP BY node),
        |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),
        |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
        |        JOIN k$r ka ON a = ka.node JOIN k$r kb ON b = kb.node)""".stripMargin)
    }
    sb.append(s"""
      |SELECT node, CAST(deg AS BIGINT) AS deg FROM (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
      |  GROUP BY node)
      |WHERE deg >= $k ORDER BY node""".stripMargin)
    sb.toString
  }
}
