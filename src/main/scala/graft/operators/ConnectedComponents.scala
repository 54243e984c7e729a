package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge set — the clustering
  * step a dedup pipeline runs after near-dup pair generation (pairs
  * only say "a duplicates b"; keeping one representative per GROUP
  * needs the transitive closure: a~b, b~c ⇒ {a,b,c} is one cluster).
  *
  * Algorithm: distributed min-label propagation. Every vertex starts
  * labeled with its own id; each round joins labels to the symmetric
  * edge list and re-aggregates `min(label)` per vertex, so the
  * smallest id in a component flood-fills it. One shuffle per round
  * (join by src + groupBy id, both on the same key space); rounds =
  * component diameter. Near-dup graphs cluster as near-cliques
  * (diameter 2-3), so this settles in a handful of rounds; for
  * adversarial deep graphs use [[labelsStarContraction]] — same
  * interface, same labels, O(log² n) rounds on any shape.
  *
  * Scale notes: the edge list is persisted once and re-joined per
  * round; labels are persisted per round and the previous round is
  * unpersisted, with a `localCheckpoint` every few rounds to truncate
  * the growing lineage (on a production cluster with executor churn,
  * set a reliable `checkpointDir` and use `checkpoint` instead).
  * Convergence is detected with a single aggregate per round — labels
  * only ever decrease, so the label sum is strictly monotone until
  * the fixpoint (summed as DECIMAL(38,0): no overflow, no join).
  */
object ConnectedComponents {

  /** Labels every vertex with the minimum vertex id of its component.
    * Output columns: `idCol`, `cluster_id` — exactly one row per
    * `vertices` row. Vertices absent from `edges` keep their own id
    * (singleton clusters); edge endpoints absent from `vertices`
    * participate in label propagation but are excluded from the
    * output (same contract on both algorithm paths). Vertex ids must
    * be non-negative: the deep-graph fallback's convergence checksum
    * requires it (enforced there).
    *
    * `maxRounds` is the HANDOFF point to the star-contraction
    * fallback, not a correctness bound — both paths return the same
    * labels (spec-pinned). 16 splits the regimes: near-dup cluster
    * graphs (diameter 2-5) converge far below it, while a
    * deeper-than-16 graph is better off in the O(log² n) path
    * immediately — `Probe graph` measured 50 wasted
    * propagation rounds costing ~½ of CC's 169 s on a
    * diameter-Θ(m/d) graph before the r9 change. */
  def labels(vertices: DataFrame, edges: DataFrame,
             idCol: String = "doc_id",
             srcCol: String = "doc_a", dstCol: String = "doc_b",
             maxRounds: Int = 16): DataFrame = {
    // symmetrize with one explode, not a self-union: a union would
    // execute the upstream pair pipeline twice before the persist
    // materializes (measured 2x the near-dup generation cost on q41)
    val sym = edges.select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // driver-finish (r16): components are determined by the edge set
    // alone — when the symmetric arc set fits the budget (16 B per
    // arc: two long ids), one union-find pass labels every ENDPOINT
    // with its component minimum (root = smallest dense index = smallest id, exactly the
    // min-label fixpoint) and the labels ride a broadcast left-join
    // onto the still-distributed vertex set (vertices keep their own
    // id when absent from edges, as before). Restricted to a uniform
    // integral id type so no column promotion can diverge from the
    // distributed output schema; pinned ≡ distributed by
    // GraphDriverFinishSpec.
    val vT = vertices.schema(idCol).dataType
    if (DriverFinish.integral(vT) &&
        sym.schema("src").dataType == vT && sym.schema("dst").dataType == vT &&
        DriverFinish.fitsCount("connected_components", sym, 16L)) {
      try return driverLabels(vertices, sym, idCol)
      finally sym.unpersist(false)
    }
    // sum over zero rows is NULL — normalize so an empty vertex set
    // converges on the first comparison instead of NPE-ing
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).head
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var labels = vertices.select(col(idCol).as("id"), col(idCol).as("label")).persist()
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val prop = sym.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("label"))
      var next = labels.unionByName(prop)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      if (round % 8 == 0) next = next.localCheckpoint(false)
      next = next.persist()
      val nextSum = labelSum(next)
      labels.unpersist(false)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
    }
    sym.unpersist(false)
    if (!converged) {
      // diameter > maxRounds: propagation would return stale labels.
      // Hand off to the round-bounded algorithm instead of silently
      // emitting a partial fixpoint.
      labels.unpersist(false)
      return labelsStarContraction(vertices, edges, idCol, srcCol, dstCol)
    }
    // release the loop's cache entry before returning: the converged
    // labels (two columns per vertex — far smaller than the corpus
    // they describe) move to an eager local checkpoint, whose blocks
    // the ContextCleaner frees once the frame is dereferenced, instead
    // of a session-lifetime cacheManager entry
    val done = labels.localCheckpoint(true)
    labels.unpersist(false)
    // the propagation union introduces rows for edge endpoints that
    // aren't in `vertices`; restrict to the vertex set so both
    // algorithm paths return the same row set
    done
      .join(vertices.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id").as(idCol), col("label").as("cluster_id"))
  }

  /** Union-find over the collected symmetric arcs (each undirected
    * edge appears twice — idempotent for the DSU). Roots are kept at
    * the smaller dense index, and dense-index order is id order, so
    * the final root of every endpoint IS its component minimum —
    * identical to the min-label propagation fixpoint. */
  private def driverLabels(vertices: DataFrame, sym: DataFrame,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = sym.sparkSession
    val vT = vertices.schema(idCol).dataType
    val (ea, eb) = DriverFinish.collectPairs(sym, "src", "dst")
    val ids = DriverFinish.denseIndex(ea, eb)
    val n = ids.length
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))   // path halving
        x = parent(x)
      }
      x
    }
    var i = 0
    while (i < ea.length) {
      val ra = find(DriverFinish.idx(ids, ea(i)))
      val rb = find(DriverFinish.idx(ids, eb(i)))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
      i += 1
    }
    val rowsOut = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) { rowsOut.add(Row(ids(i), ids(find(i)))); i += 1 }
    val endpointLab = s.createDataFrame(rowsOut, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("label", LongType, nullable = false))))
      .select(col("id").cast(vT).as("id"), col("label").cast(vT).as("label"))
    vertices.select(col(idCol).as("id")).distinct()
      .join(broadcast(endpointLab), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * adversarial-graph path. [[labels]]' min-label propagation needs
    * `diameter` rounds, which is fine for near-dup graphs (near-clique
    * clusters, diameter 2-3) but fatal on deep graphs (a 10⁶-long
    * chain = 10⁶ shuffles); star contraction converges in O(log² n)
    * rounds on ANY graph:
    *
    *  - large-star: every node points its LARGER neighbors at the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: every node points its smaller-or-equal neighbors
    *    (and itself) at that minimum.
    *
    * Each is one groupBy over the edge list; the edge set only ever
    * shrinks toward a star forest whose centers are the component
    * minima. Convergence is a fixpoint of a deterministic per-round
    * checksum (count + sum of both endpoints), checked with one tiny
    * aggregate — no edge-set comparison join. Same output contract as
    * [[labels]] (pinned equal by ConnectedComponentsSpec). */
  def labelsStarContraction(vertices: DataFrame, edges: DataFrame,
                            idCol: String = "doc_id",
                            srcCol: String = "doc_a", dstCol: String = "doc_b",
                            maxRounds: Int = 60): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    def canon(df: DataFrame): DataFrame = df
      .select(least($"u", $"v").as("v"), greatest($"u", $"v").as("u"))
      .filter($"u" =!= $"v").distinct()
    // Both stars are expressed as groupBy(min) + join — NEVER a
    // collect_list of the neighborhood: near the fixpoint the
    // component minimum is adjacent to its whole component, so a
    // per-node neighbor list would materialize the entire component
    // in one aggregation buffer (OOM on the very graphs this path
    // exists for). The min-join form keeps every row narrow.
    //
    // large-star: attach every neighbor v > u to min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct($"u", $"v"), struct($"v".as("u"), $"u".as("v")))).as("p"))
        .select($"p.u".as("u"), $"p.v".as("v"))
      val mins = sym.groupBy($"u").agg(min(least($"v", $"u")).as("m"))
      canon(sym.filter($"v" > $"u").join(mins, Seq("u"))
        .select($"v".as("u"), $"m".as("v")))
    }
    // small-star: edges oriented large→small (u > v after canon's
    // swap); attach every small neighbor AND u itself to min(N(u))
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy($"u").agg(min($"v").as("m"))
      canon(e.join(mins, Seq("u")).select($"v".as("u"), $"m".as("v"))
        .unionByName(mins.select($"u", $"m".as("v"))))
    }
    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(($"u" + $"v").cast("decimal(38,0)"))).head
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    var cur: DataFrame = canon(edges.select(col(srcCol).as("u"), col(dstCol).as("v"))).persist()
    // the (count, endpoint-sum) fixpoint test is sound only for
    // NON-NEGATIVE ids: contraction only ever re-points endpoints at
    // smaller vertices, so with ids >= 0 the sum is a strictly
    // decreasing potential and equal signatures imply an unchanged
    // edge set. With negative ids two different edge sets could
    // collide and the loop could accept a non-star-forest — enforce
    // the precondition instead (one tiny agg, checked once).
    val minId = cur.agg(min(least($"u", $"v").cast("decimal(38,0)"))).head
    require(minId.isNullAt(0) || minId.getDecimal(0).signum() >= 0,
      s"labelsStarContraction requires non-negative vertex ids " +
        s"(convergence checksum soundness); saw min id ${minId.get(0)}")
    var sig = checksum(cur)
    var round = 0
    var converged = cur.isEmpty
    while (!converged && round < maxRounds) {
      round += 1
      // smallStar consumes its input twice (min agg + join); persist
      // the large-star result for the round so it computes once
      val ls = largeStar(cur).persist()
      // each star references its input TWICE (min agg + join), so the
      // logical plan quadruples per round — a checkpoint every OTHER
      // round bounds the tree at 16× a base plan (every-8 grew
      // 4^8 and the plan-description string alone OOM'd the driver).
      // Alternate rounds persist instead: Dataset.unpersist frees
      // cached rounds immediately, while checkpoint blocks are only
      // reclaimed by the ContextCleaner once dereferenced — halving
      // how much transient storage awaits GC on long runs
      val next = if (round % 2 == 0) smallStar(ls).localCheckpoint(false)
                 else smallStar(ls).persist()
      val nextSig = checksum(next)
      ls.unpersist(false)
      cur.unpersist(false)
      cur = next
      converged = nextSig == sig
      sig = nextSig
    }
    if (!converged) {
      // an unconverged edge set is NOT a star forest — nodes may hold
      // edges to several smaller vertices, and the label join below
      // would fan out to conflicting rows. Fail loudly rather than
      // emit duplicated, wrong labels (the same contract labels()
      // enforces by falling back here).
      cur.unpersist(false)
      throw new IllegalStateException(
        s"star contraction not converged after $maxRounds rounds; " +
          "raise maxRounds (bound is O(log² n))")
    }
    // fixpoint is a star forest oriented large→small: every non-root
    // node has exactly one edge, to its component's minimum
    val lab = cur.select($"u".as("id"), $"v".as("label"))
    val out = vertices.select(col(idCol).as("id"))
      .join(lab, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce($"label", $"id").as("cluster_id"))
    cur.unpersist(false)
    out
  }
}
