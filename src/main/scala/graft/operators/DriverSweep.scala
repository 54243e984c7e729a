package graft.operators

import org.apache.spark.sql.Dataset

import scala.collection.mutable.ArrayBuffer

/** The distributed triangular sweep over a driver-collected,
  * broadcast bitmap table — shared by [[JaccardPairs]] and
  * [[Containment]]'s dense-regime paths (the twin of [[BlockGrid]]
  * for a table that fits [[DriverFinish]]'s budget).
  *
  * Loop order: I-MAJOR — each task owns round-robin row indices i and
  * streams all rows j > i per owned row, with the owned row's bitmap
  * (a few KB) L1-resident across its whole j-sweep. A j-major
  * restructure with a task-local i-block was MEASURED WORSE on the
  * 10× pinned corpus (q19 13.2 → 17.5 s): the per-pair traffic is
  * loop-order-invariant (the AND loop reads one L1-hot row and one
  * streamed row either way — comparisons × rowBytes from L3 in both
  * orders), so the j-major form only traded sequential prefetchable
  * j-streaming for strided jumps through the owned block. The sweep's
  * floor is L3 bandwidth on the designed n²/2 pair ops; don't re-try
  * cache tiling without changing the per-pair byte cost itself.
  *
  * `emit(idA, cntA, idB, cntB, common, out)` appends qualifying rows;
  * idA is always the lower stream index (callers decide direction).
  * The emit hook is a concrete trait, NOT a FunctionN: a Function6
  * boxes every argument at ~10⁹ calls (part of the measured
  * regression); trait dispatch is bimorphic and primitive.
  *
  * 100× BUDGET (exact-pair semantics scale quadratically BY DESIGN):
  * the measured kernel rate is ~10⁹ pair-word-ops/s/core, so at the
  * 10× pinned corpus (≈50k dense docs, ~1k signature words) the sweep
  * is ~10-17 s on 32 threads; at 100× (≈500k dense docs) the same
  * exact semantics are n²/2 ≈ 1.25×10¹¹ pairs ≈ 10³ s — correct,
  * distributed (BlockGrid past the driver budget), but the COST IS
  * THE CONTRACT. Since round 14 the dispatch takes the crossover
  * ITSELF: past [[JaccardPairs.DefaultMaxExactSweepOps]] (≈10⁵ dense
  * docs at a 4096-bit vocabulary) [[JaccardPairs.pairsFromStats]]
  * routes to [[JaccardPairs.bandedVerifiedPairs]] — banded MinHash
  * candidates (q20's shape, measured e≈0.35 vs the sweep family's
  * designed e≈1.0-1.5, SCALING.md) verified exactly; that is the
  * 100 TB recipe, no longer a footnote a caller must remember. */
private[operators] object DriverSweep {

  /** Pair-comparison budget of the quadratic all-pairs paths (this
    * bitmap sweep, [[MinHashLsh.sweepPairs]] and
    * [[Similarity.exactNearDupPairs]]): n²/2 pairs, each a word-AND,
    * slice compare or FMA pass, pinned on one stage. 4e10 ops is
    * ~1-2 s across 32 cores → ~35k docs at a 4096-bit vocabulary,
    * ~100k MinHash signatures at k = 8, ~35k vectors at 64 dims. It
    * bounds CPU work; driver memory is [[DriverFinish]]'s. */
  val DefaultMaxSweepPairOps = 40000000000L

  trait PairEmit extends Serializable {
    def apply(idA: Long, cntA: Int, idB: Long, cntB: Int, common: Int,
              out: ArrayBuffer[(Long, Long, Double)]): Unit
    /** True when the pair provably cannot qualify from counts alone
      * (e.g. Jaccard ≤ min/max < threshold) — the word loop is skipped
      * entirely. Default: never skip. */
    def canSkip(cntA: Int, cntB: Int): Boolean = false
  }

  /** Bitmap-encode collected `(doc_id, shingle)` set rows over their
    * sorted vocabulary and sweep every pair through `emit`. */
  def sweep(spark: org.apache.spark.sql.SparkSession,
      raw: Array[(Long, String)], emit: PairEmit): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    val vocab = raw.map(_._2).distinct.sorted
    val idx = vocab.zipWithIndex.toMap
    val nWords = math.max((vocab.length + 63) >>> 6, 1)
    val byDoc = raw.groupBy(_._1).toArray.sortBy(_._1)
    val ids = byDoc.map(_._1)
    val bits = byDoc.map { case (_, rows) =>
      val b = new Array[Long](nWords)
      rows.foreach { case (_, s) =>
        val i = idx(s); b(i >>> 6) |= 1L << (i & 63)
      }
      b
    }
    val counts = bits.map(_.map(java.lang.Long.bitCount).sum)
    val bIds = spark.sparkContext.broadcast(ids)
    val bBits = spark.sparkContext.broadcast(bits)
    val bCounts = spark.sparkContext.broadcast(counts)
    val slices = spark.sparkContext.defaultParallelism
    val n = ids.length
    // round-robin row ownership load-balances the triangle: row i owns
    // pairs (i, j > i), so contiguous ownership would skew early tasks
    spark.range(n.toLong).as[Long]
      .repartition(slices)
      .mapPartitions { iter =>
        val dIds = bIds.value; val dBits = bBits.value; val dCnt = bCounts.value
        // one buffer per task, cleared per i: flatMap fully drains the
        // inner iterator before evaluating the next i, and toArray
        // copies only the (sparse) qualifying rows
        val out = ArrayBuffer.empty[(Long, Long, Double)]
        iter.flatMap { iL =>
          val i = iL.toInt
          val ba = dBits(i)
          val na = dCnt(i)
          val idA = dIds(i)
          out.clear()
          var j = i + 1
          while (j < n) {
            val nb = dCnt(j)
            if (!emit.canSkip(na, nb)) {
              val bb = dBits(j)
              var common = 0
              var w = 0
              while (w < ba.length) {
                common += java.lang.Long.bitCount(ba(w) & bb(w)); w += 1
              }
              emit(idA, na, dIds(j), nb, common, out)
            }
            j += 1
          }
          if (out.isEmpty) Iterator.empty else out.toArray.iterator
        }
      }
  }
}
