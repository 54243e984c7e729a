package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact n-gram-Jaccard near-duplicate pairs, with two physical plans
  * chosen by the shape of the input.
  *
  * Input: a DataFrame of per-document-distinct `(doc_id: long,
  * shingle: string)` rows (the set representation of each document).
  * Output: all pairs `doc_a < doc_b` with `|A ∩ B| / |A ∪ B| >=
  * threshold`, the Jaccard value computed as one double division of
  * exact longs (portable across engines).
  *
  * - **Sparse vocabulary** (natural-language corpora; vocabulary ≫
  *   documents): `invertedIndexPairs` — self-join on the shingle key,
  *   count common shingles per pair. Candidate pairs are bounded by
  *   co-occurrence, the shuffle key is the shingle, partial counts
  *   combine map-side. This is the formulation that scales
  *   horizontally: no driver state, no broadcast.
  * - **Dense vocabulary** (small shared vocabulary, e.g. templated or
  *   synthetic text): every document co-occurs with nearly every
  *   other, so the inverted index degenerates to the full quadratic
  *   pair set while paying a huge shuffle to discover it (measured at
  *   sf0.1: 931 distinct shingles, 5 000 docs, 36.5M joined rows →
  *   12.5M pairs). The bitmap sweep instead encodes each document as a
  *   `ceil(|V|/64)`-word bitmask over the sorted vocabulary, ships the
  *   (tiny) signature table as a broadcast, and computes
  *   popcount(A AND B) per pair in a shuffle-free sweep — per-pair
  *   cost drops from hash-join rows to ~16 ANDs, and the only cluster
  *   traffic is one broadcast.
  *
  * `pairs` dispatches on one [[probe]] (distinct docs, distinct
  * shingles, Σ df²). At 100 TB a natural corpus always takes
  * the inverted-index path; the bitmap path exists because the dense
  * regime is exactly where the inverted index is pathological.
  */
object JaccardPairs {

  /** Vocabulary (4 096 bits = 64 words per signature) under which the
    * driver sweep is taken within [[DriverSweep.DefaultMaxSweepPairOps]]
    * whatever the cross-regime cost model says. */
  val DefaultMaxBitmapVocab = 4096

  /** Vocabulary cap for the DISTRIBUTED block sweep: the sorted-vocab
    * index broadcast is ~40 B/entry → ≤ ~40 MB. A dense regime with a
    * bigger vocabulary than this has ≥ 2²⁰ 64-bit signature words per
    * doc and stops being "dense" in any exploitable sense. */
  val MaxBlockSweepVocab = 1L << 20

  /** Per-task signature-block budget for the block sweep: a block pair
    * holds two blocks in executor memory (≤ 2× this). */
  val DefaultBlockBytes = 64L * 1024 * 1024

  /** Cost of one materialized inverted-index join row expressed in
    * sweep word-ops, for the cross-regime comparison. MEASURED, not
    * guessed: at 10× rehearsal scale the inverted index took 152 s
    * for Σ df² = 4.45e9 joined rows on 32 cores (hash + shuffle
    * write/read + aggregation probe per row ≈ 1 µs-core), while the
    * sweep's word-AND+popcount streams at ~10⁹ ops/s-core — a joined
    * row costs ~10³ word-ops. 256 keeps a 4× safety margin toward
    * the inverted index (mis-dispatching a borderline case to the
    * distributed join is recoverable; the reverse risks a broadcast). */
  val InvRowCostWordOps = 256L

  /** Exact-sweep word-op budget past which the DENSE regime switches
    * semantics to banded MinHash + exact verification
    * ([[bandedVerifiedPairs]]). 3.2e11 word-ops ≈ 10⁵ dense docs at a
    * 4096-bit vocabulary — the crossover SCALING.md (round 12)
    * documented as a manual caller switch; since round 14 the dispatch
    * takes it itself (the r8 lesson says a human forgetting a footnote
    * at 100× is a quadratic blow-up). Exact all-pairs Jaccard below
    * the budget; above it, candidates come from deterministic banded
    * LSH and every emitted pair is still EXACT (verified), but recall
    * is 1-(1-s^r)^b per the LSH curve — the documented contract of the
    * scale regime. */
  val DefaultMaxExactSweepOps: Double = 3.2e11

  /** Regime-dispatch statistics, computed once per shingle frame and
    * shareable across every pair operator that consumes it
    * ([[JaccardPairs.pairsFromStats]], [[Containment.pairsFromStats]]).
    * Exact numbers from the collected rows: both regime costs are
    * computable up front — the sweep does n²/2·words word-ops; the
    * inverted index materializes exactly Σ_s df(s)² joined rows (each
    * far costlier than a word-op). The r8 10×-scale rehearsal showed
    * why a hard vocabulary cap is the wrong guard: a dense corpus
    * whose vocabulary outgrows the cap fell back to an inverted index
    * that was quadratically WORSE than the sweep it rejected. Choose
    * by cost, bounded by [[DriverFinish]]'s budget.
    *
    * `raw` is null when the probe's rows did not fit the budget; the
    * regime statistics are then computed DISTRIBUTED — two linear
    * aggregations — so a huge corpus still gets a cost-modeled
    * decision instead of a blind fallback. */
  final class DispatchStats private[operators] (
      private[operators] val raw: Array[(Long, String)],
      spark: SparkSession,
      distNDocs: Long, distVocabN: Long, distSumDf2: Double) {
    val nDocs: Long =
      if (raw != null) raw.iterator.map(_._1).toSet.size.toLong else distNDocs
    private val dfCounts: Map[String, Long] =
      if (raw == null) Map.empty
      else raw.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val vocabN: Long = if (raw != null) dfCounts.size.toLong else distVocabN
    val nWords: Long = ((vocabN + 63) >>> 6).max(1L)
    val sweepOps: Double = nDocs.toDouble * nDocs / 2 * nWords
    val sweepBytes: Double = nDocs.toDouble * nWords * 8
    private val sumDf2: Double =
      if (raw != null) dfCounts.valuesIterator.map(d => d.toDouble * d).sum
      else distSumDf2
    val invCost: Double = sumDf2 * InvRowCostWordOps

    /** Driver-sweep eligibility: the rows are on the driver, the sweep
      * is classic-dense or the cheaper regime, and its bitmap table
      * fits [[DriverFinish]]'s budget (decision `shingle_sweep`). */
    def useSweep: Boolean = {
      val classicDense = vocabN <= DefaultMaxBitmapVocab &&
        sweepOps <= DriverSweep.DefaultMaxSweepPairOps
      raw != null && (classicDense || sweepOps <= invCost) &&
        DriverFinish.fits("shingle_sweep", spark, sweepBytes.toLong)
    }

    /** Dense regime: the exact sweep is the cheaper formulation by the
      * cross-regime cost model (sweep word-ops vs Σ df² joined rows at
      * the measured row cost). Which dense PLAN runs is then a second
      * decision: driver sweep → block grid → banded-verified, by
      * budget. */
    val dense: Boolean = nDocs > 0 && vocabN > 0 && sweepOps <= invCost

    /** Distributed block-sweep eligibility: the dense regime PAST the
      * driver sweep's budget, while the vocabulary index still fits a
      * broadcast. The EXACT-ops budget
      * ([[DefaultMaxExactSweepOps]]) is applied by the dispatch, not
      * here — past it the dense regime switches semantics to
      * [[bandedVerifiedPairs]] rather than falling back to the
      * quadratically-worse inverted index (the r8 lesson — a cap that
      * forces the catastrophic path is worse than no cap). */
    def useBlockSweep: Boolean =
      dense && vocabN <= MaxBlockSweepVocab
  }

  /** One probe per shingle frame: the set rows through
    * [[DriverFinish.collectBounded]] (decision `shingle_probe`; a
    * small corpus enables the driver sweep), else two linear
    * aggregations for the same statistics (a large corpus gets the
    * cost model without moving rows). The frame is persisted across
    * the passes so the upstream (scan, shingling) computes once.
    * Callers composing several pair operators over the SAME shingle
    * frame should probe once and pass the stats to each
    * `pairsFromStats` — the probe is the dominant fixed cost at small
    * scale (measured +0.5 s on q41 at sf0.1 when re-run per
    * operator). */
  def probe(sh: DataFrame): DispatchStats = {
    val spark = sh.sparkSession
    import spark.implicits._
    val cached = sh.persist()
    try {
      // 128 B per row: the collected row with its boxed id and bigram
      // string, then the (id, shingle) tuple the stats keep
      DriverFinish.collectBounded("shingle_probe",
          cached.select($"doc_id".cast("long"), $"shingle"), 128L) match {
        case Some(rows) => new DispatchStats(
          rows.map(r => (r.getLong(0), r.getString(1))), spark, -1L, -1L, 0.0)
        case None =>
          val nDocs = cached.select($"doc_id").distinct().count()
          val r = cached.groupBy($"shingle").count()
            .agg(count(lit(1)), sum(($"count" * $"count").cast("double"))).head
          // the sum is null on an empty frame
          new DispatchStats(null, spark, nDocs, r.getLong(0),
            if (r.isNullAt(1)) 0.0 else r.getDouble(1))
      }
    } finally cached.unpersist(false)
  }

  def pairs(sh: DataFrame, threshold: Double): DataFrame =
    pairsFromStats(sh, probe(sh), threshold)

  /** As [[pairs]], but with a precomputed [[DispatchStats]] (no probe,
    * no persist — the decision and the sweep's input both come from
    * the stats; the inverted-index AND banded-verified paths re-read
    * `sh` — pass a cheap-to-recompute frame or persist it when the
    * corpus can land in either). Callers
    * that KNOW the corpus is large can call invertedIndexPairs
    * directly and skip even the stats.
    *
    * Dense-regime ladder: driver sweep (fits the budget) → block
    * grid (distributed, exact) → [[bandedVerifiedPairs]] (past
    * `maxExactSweepOps` — exact values, LSH-curve recall; also the
    * dense fallback when the vocabulary outgrows the block grid's
    * index broadcast, where the old dispatch fell back to the
    * quadratically-worse inverted index). */
  def pairsFromStats(sh: DataFrame, stats: DispatchStats,
      threshold: Double,
      maxExactSweepOps: Double = DefaultMaxExactSweepOps): DataFrame = {
    // the exact-ops budget gates BOTH exact dense plans (driver sweep
    // and block grid): the crossover is about the n²/2·words work
    // product, not which plan carries it — a 500k-doc corpus is ~10³ s
    // of exact sweep wherever it runs (SCALING.md r12)
    val exactAffordable = stats.sweepOps <= maxExactSweepOps
    if (exactAffordable && stats.useSweep)
      DriverSweep.sweep(sh.sparkSession, stats.raw, jaccardEmit(threshold))
        .toDF("doc_a", "doc_b", "jaccard")
    else if (exactAffordable && stats.useBlockSweep)
      blockSweepPairs(sh, threshold, stats.nDocs)
    else if (stats.dense)
      bandedVerifiedPairs(sh, threshold)
    else invertedIndexPairs(sh, threshold)
  }

  /** Shuffle-by-shingle inverted-index formulation (sparse regime). */
  def invertedIndexPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val p = sh.as("a").join(sh.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("common"))
    p.join(sizes.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sizes.as("sb"), $"doc_b" === $"sb.doc_id")
      .withColumn("jaccard", $"common" / ($"sa.n" + $"sb.n" - $"common"))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** Banded MinHash candidates + EXACT verification — the dense
    * regime's scale semantics past [[DefaultMaxExactSweepOps]] (the
    * q108/q113 arc, promoted from a SCALING.md footnote to the
    * dispatch itself in round 14). Fully distributed, nothing
    * corpus-quadratic:
    *
    *  1. per-doc distinct shingle sets materialize once (eager
    *     `localCheckpoint` — the lazy result plan consumes them from
    *     three branches: signature build + both verify sides; a
    *     re-executed upstream would be slow, and per the round-10
    *     lesson column pruning can defeat ReuseExchange);
    *  2. `k` MinHash slices per doc (32-bit lexicographic mins of
    *     salted md5 — the q20 family's portable, DETERMINISTIC hash:
    *     same corpus → same candidates, every run, any cluster);
    *  3. bands of `r` rows (threshold-adaptive: r=3 above 0.75, r=2
    *     above 0.4, else r=1); candidate ⇔ some band collides whole.
    *     Shuffle key = band value — candidate volume is governed by
    *     real similarity structure, not vocabulary density;
    *  4. every candidate is verified EXACTLY (set intersection), so
    *     emitted rows are identical in value to the exact paths; the
    *     divergence from them is RECALL only: a qualifying pair is
    *     missed with probability (1-s^r)^b (s = its true Jaccard,
    *     b = k/r) — at k=24, t=0.8 (r=3, b=8) a pair at s=0.8 is
    *     found with p≈0.997 and at s=0.9 with p≈0.9998.
    *
    * This is the standard web-scale near-dup shape; the exact sweep
    * below the budget exists because exact all-pairs is affordable
    * there and recall=1 is strictly better. */
  def bandedVerifiedPairs(sh: DataFrame, threshold: Double,
      k: Int = 24): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val sets = sh.groupBy($"doc_id")
      .agg(collect_set($"shingle").as("set"))
      .select($"doc_id".cast("long").as("doc_id"), $"set",
        size($"set").as("n"))
      .localCheckpoint()
    val r = if (threshold >= 0.75) 3 else if (threshold >= 0.4) 2 else 1
    val b = k / r
    val ex = sets.select($"doc_id", explode($"set").as("shingle"))
    val mds = (0 until (k + 3) / 4).map(i =>
      md5(concat(lit("s" + i), $"shingle")))
    val sliceCols = (0 until k).map { j =>
      min(substring(mds(j / 4), (j % 4) * 8 + 1, 8)).as(s"h$j")
    }
    val sigWide = ex.groupBy($"doc_id").agg(sliceCols.head, sliceCols.tail: _*)
    val stackArgs = (0 until b).map { j =>
      val v = (0 until r).map(t => s"h${j * r + t}")
        .mkString("concat(", ", ", ")")
      s"$j, $v"
    }.mkString(", ")
    val bands = sigWide.selectExpr("doc_id",
      s"stack($b, $stackArgs) AS (band, bv)")
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bv" === $"y.bv" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    cand.join(sets.as("sa"), $"doc_a" === $"sa.doc_id")
      .join(sets.as("sb"), $"doc_b" === $"sb.doc_id")
      .withColumn("common", size(array_intersect($"sa.set", $"sb.set")))
      .withColumn("jaccard",
        $"common".cast("double") / ($"sa.n" + $"sb.n" - $"common"))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** DISTRIBUTED bitmap sweep over a block grid — the dense regime
    * past the driver sweep's budget. Grid machinery (vocab broadcast,
    * distributed signature build behind an eager lineage cut, block
    * replication, one task per unordered block pair) lives in
    * [[BlockGrid.sweep]]; this wrapper supplies the
    * symmetric Jaccard emit. Output is the same pair set as every
    * other formulation (DedupOpsSpec pins it against the inverted
    * join). */
  def blockSweepPairs(sh: DataFrame, threshold: Double,
      nDocsHint: Long = -1L,
      targetBlockBytes: Long = DefaultBlockBytes): DataFrame =
    BlockGrid.sweep(sh, nDocsHint, targetBlockBytes, jaccardEmit(threshold))
      .toDF("doc_a", "doc_b", "jaccard")

  /** The per-pair kernel both dense formulations share (driver sweep +
    * block grid): emit (min, max, jaccard) when qualifying; count-prune
    * from `jaccard ≤ min(na,nb)/max(na,nb)`. */
  private def jaccardEmit(threshold: Double): DriverSweep.PairEmit =
    new DriverSweep.PairEmit {
      def apply(idA: Long, na: Int, idB: Long, nb: Int, common: Int,
          out: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
        val jac = common.toDouble / (na + nb - common)
        if (jac >= threshold)
          out += ((math.min(idA, idB), math.max(idA, idB), jac))
      }
      override def canSkip(na: Int, nb: Int): Boolean =
        math.min(na, nb).toDouble < threshold * math.max(na, nb)
    }
}
