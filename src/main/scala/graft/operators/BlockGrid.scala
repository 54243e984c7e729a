package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Shared machinery for the DISTRIBUTED bitmap block-grid sweep — the
  * dense-vocabulary regime past the driver sweep's collect/broadcast
  * bounds ([[JaccardPairs.blockSweepPairs]] and
  * [[Containment.blockSweepPairs]] are thin wrappers differing only in
  * the per-pair emit). No corpus rows ever reach the driver:
  *
  *  - the sorted vocabulary (small by the dense-regime premise,
  *    guarded by [[JaccardPairs.MaxBlockSweepVocab]]) is collected and
  *    broadcast as the bit-index;
  *  - signatures build DISTRIBUTED in one shuffle keyed by doc, then
  *    are snapshotted with an eager `localCheckpoint` so the
  *    compute-heavy upstream (scan → shingle) executes exactly once —
  *    the vocabulary collect runs against a scoped persist of the
  *    input, unpersisted before return (no cacheManager residue);
  *    nDocs falls out of the materialized signature count for free;
  *  - docs hash into `B` blocks sized by `targetBlockBytes`; each
  *    signature is replicated to its `B` block pairs, and every
  *    unordered pair {i, j} is swept by exactly one task (triangular
  *    on the diagonal, bipartite off it). Peak task memory = two
  *    blocks; shuffle = B signature copies per doc; pair ops are the
  *    same n²/2·words the regime costs out — spread over B(B+1)/2
  *    tasks instead of one driver broadcast.
  */
private[graft] object BlockGrid {

  /** Upper bound on the grid size. The group key is Long arithmetic
    * (`lo.toLong * nBlocks + hi`) so overflow is not the binding
    * constraint — the replication factor is: B signature copies per
    * doc makes a four-digit block count the practical ceiling. The
    * grid CAPS here rather than throwing (the automatic dispatch path
    * exposes no block-size knob to a caller): past the cap the
    * effective block grows beyond `targetBlockBytes`, trading per-task
    * memory (still exactly two blocks) for a bounded replication
    * factor — at the 512 MB-broadcast dispatch boundary this engages
    * only past ~256 GB of signature volume. */
  val MaxBlocks = 4096

  /** One capped-grid attribution line per executor JVM per DISTINCT
    * capped sweep: when the grid caps, per-task memory silently exceeds
    * 2×targetBlockBytes, and a driver-stderr warning is invisible from
    * an executor OOM. The first task of each capped sweep on each
    * executor logs the grid shape, so the executor's log carries the
    * cause next to any OOM it produces. Keyed by the sweep's
    * (nDocs, nWords, nBlocks) identity — a later capped sweep over a
    * DIFFERENT corpus logs again (an AtomicBoolean never reset did
    * not); re-sweeping the SAME corpus in one JVM logs once, which is
    * the intent. An `object` is JVM-static — never serialized into the
    * closure, initialized fresh on each executor. */
  private object CappedLog {
    private val last = new java.util.concurrent.atomic.AtomicReference[String]("")
    def shouldLog(sweepKey: String): Boolean = last.getAndSet(sweepKey) != sweepKey
  }

  /** Grid sizing shared with `Probe sweep` (its recorded grid shape
    * must be THE grid the sweep runs). */
  private[graft] def nBlocksFor(nDocs: Long, nWords: Long,
      targetBlockBytes: Long): Int = {
    val ideal = math.max(1,
      math.ceil(nDocs.toDouble * nWords * 8 / targetBlockBytes).toInt)
    math.min(ideal, MaxBlocks)
  }

  /** Block assignment shared with `Probe sweep`. */
  private[graft] def blockOf(id: Long, nBlocks: Int): Int =
    ((id % nBlocks + nBlocks) % nBlocks).toInt

  /** Run the grid sweep. `emit` is called once per unordered candidate
    * pair with the popcount of the signature intersection, and appends
    * any qualifying rows. A [[DriverSweep.PairEmit]] (concrete trait),
    * not a Function6, for the same no-boxing reason documented there;
    * its `canSkip` count-prune short-circuits the word loop here too. */
  def sweep(sh: DataFrame, nDocsHint: Long, targetBlockBytes: Long,
      emit: DriverSweep.PairEmit): Dataset[(Long, Long, Double)] = {
    val spark = sh.sparkSession
    import spark.implicits._
    val cached = sh.persist()
    val (sigs, nDocs, nWords) =
      try {
        val vocab = cached.select($"shingle").distinct().as[String].collect().sorted
        require(vocab.length <= JaccardPairs.MaxBlockSweepVocab,
          s"block sweep vocabulary ${vocab.length} exceeds ${JaccardPairs.MaxBlockSweepVocab}")
        val w = math.max((vocab.length + 63) >>> 6, 1)
        val bIdx = spark.sparkContext.broadcast(vocab.zipWithIndex.toMap)
        // Eager localCheckpoint: materializes the signature table while the
        // input is persisted (upstream runs once) and cuts the lineage so
        // the lazy sweep below never re-executes it.
        val snap = cached.select($"doc_id".cast("long"), $"shingle")
          .as[(Long, String)]
          .groupByKey(_._1)
          .mapGroups { (id, it) =>
            val ix = bIdx.value
            val b = new Array[Long](w)
            it.foreach { case (_, s) =>
              val i = ix(s); b(i >>> 6) |= 1L << (i & 63)
            }
            (id, b, b.map(java.lang.Long.bitCount).sum)
          }
          .localCheckpoint()
        val n = if (nDocsHint > 0) nDocsHint else snap.count()
        (snap, n, w)
      } finally cached.unpersist(false)
    val nBlocks = nBlocksFor(nDocs, nWords, targetBlockBytes)
    val capped = nBlocks == MaxBlocks
    if (capped)
      System.err.println(s"[blockgrid] grid capped at $MaxBlocks blocks " +
        s"(${nDocs} docs × $nWords words); per-task memory grows past " +
        s"2×$targetBlockBytes bytes (est ~${nDocs / MaxBlocks * nWords * 16} " +
        "bytes/task — nWords is the PACKED 64-bit-word count per " +
        "signature); first task on each executor logs its block sizes")
    val paired = sigs.flatMap { case (id, bits, cnt) =>
      val blk = blockOf(id, nBlocks)
      (0 until nBlocks).iterator.map { other =>
        val lo = math.min(blk, other); val hi = math.max(blk, other)
        (lo.toLong * nBlocks + hi, blk, id, bits, cnt)
      }
    }
    paired.groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val lo = (key / nBlocks).toInt; val hi = (key % nBlocks).toInt
        if (capped && CappedLog.shouldLog(s"$nDocs/$nWords/$nBlocks"))
          System.err.println(s"[blockgrid] CAPPED grid ($MaxBlocks blocks, " +
            s"~${nDocs / MaxBlocks} sigs × $nWords packed 64-bit words × " +
            s"8 B per block, 2 blocks resident/task) — an OOM in this " +
            "stage is the capped grid exceeding targetBlockBytes")
        val left = ArrayBuffer.empty[(Long, Array[Long], Int)]
        val right = ArrayBuffer.empty[(Long, Array[Long], Int)]
        it.foreach { case (_, blk, id, bits, cnt) =>
          if (blk == lo) left += ((id, bits, cnt))
          if (blk == hi && lo != hi) right += ((id, bits, cnt))
        }
        val out = ArrayBuffer.empty[(Long, Long, Double)]
        def pair(a: (Long, Array[Long], Int), b: (Long, Array[Long], Int)): Unit = {
          if (emit.canSkip(a._3, b._3)) return
          var common = 0; var w = 0
          val ba = a._2; val bb = b._2
          while (w < ba.length) {
            common += java.lang.Long.bitCount(ba(w) & bb(w)); w += 1
          }
          emit(a._1, a._3, b._1, b._3, common, out)
        }
        if (lo == hi) {
          var i = 0
          while (i < left.length) {
            var j = i + 1
            while (j < left.length) { pair(left(i), left(j)); j += 1 }
            i += 1
          }
        } else {
          var i = 0
          while (i < left.length) {
            var j = 0
            while (j < right.length) { pair(left(i), right(j)); j += 1 }
            i += 1
          }
        }
        out.iterator
      }
  }
}
