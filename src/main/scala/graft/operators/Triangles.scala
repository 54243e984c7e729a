package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact triangle counting + local clustering coefficients over an
  * undirected edge list — the degree-ordered edge-iterator algorithm
  * (Schank & Wagner 2005; the MapReduce form is Suri & Vassilvitskii
  * 2011's "Counting triangles and the curse of the last reducer").
  *
  * Every edge is ORIENTED from its lower-(degree, id) endpoint to the
  * higher one; wedges are built only from each node's outgoing
  * (higher-ranked) neighbors and closed against the canonical edge
  * set. The orientation is the scale property: Σ d⁺(u)² is
  * O(m^{3/2}) regardless of skew — a hub of degree D contributes
  * O(m) wedges, not O(D²), so the "last reducer" hot key the naive
  * wedge join creates cannot form. All joins key on node/edge ids
  * (high-cardinality); counts are exact integers; the coefficient
  * 2t/(d(d−1)) is ONE double division of exact integers (bit-portable
  * across engines, the q44 rational pattern).
  *
  * Intermediates are persisted for the call only (each feeds 2-3 plan
  * branches); the per-node result is eagerly localCheckpoint'ed and
  * every cache entry is released before return.
  */
object Triangles {

  /** Above this many oriented wedge checks the driver-finish path
    * declines even when the edges fit [[DriverFinish]]'s budget — a
    * bound on CPU work, not memory: triangle work is super-linear in
    * edges (Σ d⁺² = O(m^{3/2})), so unlike the linear-work operators
    * the WORK is bounded separately (computable in O(m) from the
    * collected degrees, before any wedge forms). */
  val DriverWedgeLimit = 100000000L

  /** One row per node: `(node, deg, tri, coeff)` — degree in the
    * canonicalized simple graph, exact triangle membership count, and
    * local clustering coefficient (0.0 where deg < 2).
    *
    * Driver-finish (r16): a canonical edge set within the budget
    * counts its triangles in one primitive-array pass on the driver
    * (orientation identical to the distributed plan; counts exact
    * integers; the coefficient the same single IEEE division) —
    * bit-identical results, pinned by GraphDriverFinishSpec. Graphs over the budget
    * or the wedge limit run the distributed joins unchanged. */
  def perNode(edges: DataFrame, srcCol: String = "src",
              dstCol: String = "dst"): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // canonical simple undirected edges: a < b, no loops, no dups
    val ce = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter($"a" =!= $"b").distinct().persist()
    try {
      // 16 B per edge: two long ids
      if (DriverFinish.fitsCount("triangles", ce, 16L)) {
        val drv = driverPerNode(ce)
        if (drv.isDefined) return drv.get
      }
      val deg = ce.select($"a".as("node")).union(ce.select($"b".as("node")))
        .groupBy($"node").agg(count(lit(1)).as("deg")).persist()
      try {
        val or = ce
          .join(deg.select($"node".as("a"), $"deg".as("da")), "a")
          .join(deg.select($"node".as("b"), $"deg".as("db")), "b")
          .select(
            when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), $"a").otherwise($"b").as("u"),
            when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), $"b").otherwise($"a").as("v"))
          .persist()
        try {
          // wedges from each node's outgoing pairs; id-ordered so each
          // unordered pair forms once; closed against canonical edges
          val tri = or.select($"u", $"v".as("v1"))
            .join(or.select($"u", $"v".as("v2")), "u")
            .filter($"v1" < $"v2")
            .join(ce, least($"v1", $"v2") === $"a" && greatest($"v1", $"v2") === $"b")
            .select($"u", $"v1", $"v2")
          val tc = tri.select($"u".as("node"))
            .union(tri.select($"v1".as("node")))
            .union(tri.select($"v2".as("node")))
            .groupBy($"node").agg(count(lit(1)).as("tri"))
          val out = deg.join(tc, Seq("node"), "left")
            .withColumn("tri", coalesce($"tri", lit(0L)))
            .withColumn("coeff", when($"deg" >= 2,
                ($"tri" * 2).cast("double") / ($"deg" * ($"deg" - 1)).cast("double"))
              .otherwise(lit(0.0)))
            .select($"node", $"deg", $"tri", $"coeff")
          out.localCheckpoint(true)
        } finally or.unpersist()
      } finally deg.unpersist()
    } finally ce.unpersist()
  }

  /** Exact in-memory triangle count over the collected canonical edge
    * set, or None when the oriented wedge work exceeds
    * [[DriverWedgeLimit]] (decided from the degrees alone — cheap).
    * Orientation, wedge closure, and the coefficient arithmetic mirror
    * the distributed plan operation-for-operation: edges oriented from
    * the lower (deg, id) endpoint, wedges formed between id-ordered
    * out-neighbor pairs, closed by canonical-edge lookup; each
    * triangle increments all three members once. */
  private def driverPerNode(ce: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = ce.sparkSession
    val (ea, eb) = DriverFinish.collectPairs(ce, "a", "b")
    val ids = DriverFinish.denseIndex(ea, eb)
    val n = ids.length
    val m = ea.length
    val es = new Array[Int](m)
    val ed = new Array[Int](m)
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) {
      es(i) = DriverFinish.idx(ids, ea(i)); ed(i) = DriverFinish.idx(ids, eb(i))
      deg(es(i)) += 1; deg(ed(i)) += 1
      i += 1
    }
    // orient each edge from its lower-(deg, id) endpoint (dense-id
    // order == value order, so id comparisons transfer)
    val ou = new Array[Int](m)
    val ov = new Array[Int](m)
    val outd = new Array[Long](n)
    i = 0
    while (i < m) {
      val a = es(i); val b = ed(i)
      val aFirst = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
      val u = if (aFirst) a else b
      ou(i) = u; ov(i) = if (aFirst) b else a
      outd(u) += 1
      i += 1
    }
    var work = 0L
    i = 0
    while (i < n) { work += outd(i) * (outd(i) - 1) / 2; i += 1 }
    if (work > DriverWedgeLimit) return None
    val (off, adj) = DriverFinish.csr(n, ou, ov)
    // sort each out-list by dense id so wedge pairs come out v1 < v2
    i = 0
    while (i < n) { java.util.Arrays.sort(adj, off(i), off(i + 1)); i += 1 }
    // canonical-edge membership: sorted encoded (aIdx·n + bIdx) keys
    val enc = new Array[Long](m)
    i = 0
    while (i < m) { enc(i) = es(i).toLong * n + ed(i); i += 1 }
    java.util.Arrays.sort(enc)
    val tri = new Array[Long](n)
    var u = 0
    while (u < n) {
      var p = off(u)
      val end = off(u + 1)
      while (p < end) {
        val v1 = adj(p)
        var q = p + 1
        while (q < end) {
          val v2 = adj(q)
          val key = math.min(v1, v2).toLong * n + math.max(v1, v2)
          if (java.util.Arrays.binarySearch(enc, key) >= 0) {
            tri(u) += 1; tri(v1) += 1; tri(v2) += 1
          }
          q += 1
        }
        p += 1
      }
      u += 1
    }
    val rowsOut = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) {
      val d = deg(i)
      val coeff = if (d >= 2) (tri(i) * 2).toDouble / (d * (d - 1)).toDouble
                  else 0.0
      rowsOut.add(Row(ids(i), d, tri(i), coeff))
      i += 1
    }
    Some(s.createDataFrame(rowsOut, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("deg", LongType, nullable = false),
      StructField("tri", LongType, nullable = false),
      StructField("coeff", DoubleType, nullable = false)))))
  }
}
