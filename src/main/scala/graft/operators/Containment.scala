package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Directed near-containment pairs: |A ∩ B| / |A| >= threshold emits
  * `(doc_in = A, doc_out = B)` — "A is (nearly) contained in B". The
  * asymmetric counterpart of [[JaccardPairs]]: Jaccard misses a short
  * quote inside a long page (the union dominates), while containment
  * is exactly the quote/subset/boilerplate-reuse detector a curation
  * pipeline runs next to symmetric near-dup.
  *
  * Same two physical regimes as [[JaccardPairs]], same dispatch logic
  * (the measure changes, the candidate structure doesn't):
  * - sparse vocabulary → inverted-index self-join keyed by shingle
  *   (candidates bounded by co-occurrence, map-side combined counts);
  * - dense vocabulary → broadcast bitmap popcount sweep (the inverted
  *   index degenerates to all-pairs there while paying the shuffle).
  * Each unordered candidate pair is examined once (a < b) and emits
  * up to two directed rows; the containment value is one double
  * division of exact longs (bit-portable).
  */
object Containment {

  def pairs(sh: DataFrame, threshold: Double): DataFrame =
    pairsFromStats(sh, JaccardPairs.probe(sh), threshold)

  /** As [[pairs]], but with a precomputed [[JaccardPairs.DispatchStats]]
    * (cost-modeled regime choice, same reasoning as
    * [[JaccardPairs.pairsFromStats]]: sweep word-ops vs exact Σ df²
    * inverted-index join rows, bounded by [[DriverFinish]]'s budget
    * rather than a hard vocabulary cap). The dense path builds its sweep from the
    * already-collected rows — no second collect of the corpus.
    *
    * Deliberately NO banded-LSH third regime here (unlike
    * [[JaccardPairs.pairsFromStats]] past its exact-ops budget):
    * MinHash band collisions fire with probability s^r in the pair's
    * JACCARD s, and the pairs containment exists to find — a short
    * quote inside a long page — have high containment but Jaccard
    * ≈ |A|/|B| ≈ 0, so the banded generator would systematically miss
    * exactly the asymmetric pairs this operator is for. Past the
    * block grid the honest options are the exact grid (unbounded
    * here, cost documented in SCALING.md) or a prefix/partition-
    * filtered candidate scheme keyed on the SMALL side — not a
    * Jaccard-curve sampler. */
  def pairsFromStats(sh: DataFrame, stats: JaccardPairs.DispatchStats,
      threshold: Double): DataFrame =
    if (stats.useSweep)
      DriverSweep.sweep(sh.sparkSession, stats.raw, containmentEmit(threshold))
        .toDF("doc_in", "doc_out", "containment")
    else if (stats.useBlockSweep)
      blockSweepPairs(sh, threshold, stats.nDocs)
    else invertedIndexPairs(sh, threshold)

  /** Distributed block-grid sweep, the directed twin of
    * [[JaccardPairs.blockSweepPairs]] (shared machinery in
    * [[BlockGrid.sweep]]; each unordered candidate pair examined by
    * exactly one task, emitting up to two directed rows). */
  def blockSweepPairs(sh: DataFrame, threshold: Double,
      nDocsHint: Long = -1L,
      targetBlockBytes: Long = JaccardPairs.DefaultBlockBytes): DataFrame =
    BlockGrid.sweep(sh, nDocsHint, targetBlockBytes, containmentEmit(threshold))
      .toDF("doc_in", "doc_out", "containment")

  /** The per-pair kernel both dense formulations share: up to two
    * directed rows per unordered pair. No count prune — the smaller
    * side's containment can always reach 1, so counts alone never rule
    * a pair out. */
  private def containmentEmit(threshold: Double): DriverSweep.PairEmit =
    new DriverSweep.PairEmit {
      def apply(idA: Long, na: Int, idB: Long, nb: Int, common: Int,
          out: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
        val ca = common.toDouble / na
        val cb = common.toDouble / nb
        if (ca >= threshold) out += ((idA, idB, ca))
        if (cb >= threshold) out += ((idB, idA, cb))
      }
    }

  /** Shuffle-by-shingle inverted-index formulation (sparse regime).
    * One candidate discovery (a < b), two directed emits. */
  def invertedIndexPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val common = sh.as("a").join(sh.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.as("sa"), $"da" === $"sa.doc_id")
      .join(sizes.as("sb"), $"db" === $"sb.doc_id")
      .select($"da", $"db", $"common", $"sa.n".as("na"), $"sb.n".as("nb"))
    val fwd = common.select($"da".as("doc_in"), $"db".as("doc_out"),
      ($"common" / $"na").as("containment"))
    val rev = common.select($"db".as("doc_in"), $"da".as("doc_out"),
      ($"common" / $"nb").as("containment"))
    fwd.union(rev).filter($"containment" >= threshold)
  }
}
