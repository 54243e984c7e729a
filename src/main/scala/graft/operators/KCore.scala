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
           checkpointEvery: Int = 1, allowPartial: Boolean = false): DataFrame = {
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
    var curCount = cur.count()
    // driver-finish dispatch: whenever the SURVIVING canonical edge set
    // fits DriverFinish's budget (16 B per edge: two long ids), one
    // O(V+E) peel on the driver replaces the remaining rounds — each a
    // full Spark job whose cost at that size is pure scheduling
    // overhead, multiplied by the cascade depth (a graph property,
    // unbounded by the plan: `Probe graph`'s harmonic graph peels ONE
    // layer per round). The k-core is the unique maximal subgraph with
    // min degree ≥ k, so peel order cannot change the result (KCoreSpec
    // pins driver ≡ distributed). maxRounds/allowPartial only govern
    // the distributed rounds (the driver pass always reaches the
    // fixpoint, so it can never return the silent superset they guard
    // against). The count is the convergence test the rounds need
    // anyway, so a frontier that shrinks into the budget mid-cascade
    // hands off at no extra cost. Node types outside the integral
    // family fall through to the distributed loop.
    val integral = DriverFinish.integral(cur.schema("a").dataType)
    def driverEligible: Boolean =
      integral && DriverFinish.fits("kcore", s, curCount * 16L)
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
        val nextCount = next.count()          // action: materializes + converges
        if (prev != null) prev.unpersist(false)
        prev = cur
        cur = next
        converged = nextCount == curCount
        curCount = nextCount
        // the frontier only ever shrinks — finish the tail of a deep
        // cascade on the driver the moment it fits the budget
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
      degrees(cur).filter($"deg" >= k)
        .select($"node", $"deg".cast("long").as("deg"))
        // the caller gets a small result (core nodes); cut lineage so
        // the returned frame doesn't pin the peel's cached rounds
        .localCheckpoint(true)
    } finally {
      if (prev != null) prev.unpersist(false)
      cur.unpersist(false)
    }
  }

  /** Exact in-memory peel of the (already canonical, deduped) edge set:
    * CSR adjacency over a sorted dense node index, then the standard
    * cascade queue (Matula–Beck shape) — O(V+E) total, independent of
    * cascade depth. Survivor degrees fall out of the decrement counter:
    * each removed neighbor decrements a survivor exactly once, so the
    * final counter is the degree inside the core — identical to the
    * distributed fixpoint's recomputed `deg >= k` output. Primitive
    * arrays throughout (no boxing at the budget's 4M edges). */
  private def driverPeel(s: SparkSession, canonical: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val nodeType = canonical.schema("a").dataType
    val (ea, eb) = DriverFinish.collectPairs(canonical, "a", "b")
    val ids = DriverFinish.denseIndex(ea, eb)
    val n = ids.length
    val m = ea.length
    // both arcs of every undirected edge
    val src = new Array[Int](2 * m)
    val dst = new Array[Int](2 * m)
    var i = 0
    while (i < m) {
      val u = DriverFinish.idx(ids, ea(i)); val v = DriverFinish.idx(ids, eb(i))
      src(i) = u; dst(i) = v; src(m + i) = v; dst(m + i) = u
      i += 1
    }
    val (off, adj) = DriverFinish.csr(n, src, dst)
    val deg = Array.tabulate(n)(u => off(u + 1) - off(u))
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
      if (!removed(i)) outRows.add(Row(ids(i), deg(i).toLong))
      i += 1
    }
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
