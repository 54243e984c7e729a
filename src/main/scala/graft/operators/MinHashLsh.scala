package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash-LSH near-duplicate candidate pairs from a wide signature
  * table `(doc_id: long, h0..h{k-1}: string)` (each slice a fixed-width
  * lowercase-hex min-hash, e.g. `min(substr(md5(shingle), …))`).
  *
  * Estimated Jaccard for a pair = (#equal slices) / k; emitted pairs
  * are those with estimate >= minEst (LSH with k bands of 1 row means
  * candidate ⇔ any slice collides, which minEst > 0 subsumes).
  *
  * Two physical plans:
  * - `bandJoinPairs` (scale path): unpivot to `(doc_id, i, mh)`, self
  *   equi-join on `(i, mh)`, count colliding slices per pair. The
  *   shuffle key is the band value — candidates are bounded by real
  *   collisions, nothing quadratic ever materializes. This is the
  *   standard distributed MinHash-LSH shape for a web-scale corpus.
  * - `sweepPairs` (small-corpus path): the signature table is k longs
  *   per doc — broadcast it and count equal slices per pair in a
  *   shuffle-free triangular sweep. On a dense near-dup corpus the
  *   band join degenerates toward all-pairs anyway (measured at
  *   sf0.1: 2.6M joined rows for 12.5M possible pairs) while paying
  *   join+agg shuffles; the sweep does 8 long-compares per pair with
  *   zero exchanges.
  *
  * `pairs` sweeps when the signature rows come back from one
  * [[DriverFinish.collectBounded]] (decision `minhash_sweep`) and
  * stay under [[sweepDocBudget]]: the sweep is quadratic (~n²/2 · k
  * long compares pinned on one stage), so that bound caps the work
  * product, not a bare doc count. Otherwise the band join runs.
  */
object MinHashLsh {

  /** Max docs the sweep admits under a pair-ops budget: n²/2 · k <=
    * budget. */
  def sweepDocBudget(k: Int, maxPairOps: Long): Long =
    math.sqrt(2.0 * maxPairOps / math.max(k, 1)).toLong

  def pairs(sigWide: DataFrame, k: Int, minEst: Double): DataFrame =
    sweepPairs(sigWide, k, minEst).getOrElse(bandJoinPairs(sigWide, k, minEst))

  /** Distributed band-join formulation (scale path). */
  def bandJoinPairs(sigWide: DataFrame, k: Int, minEst: Double): DataFrame = {
    val spark = sigWide.sparkSession
    import spark.implicits._
    val stackArgs = (0 until k).map(i => s"$i, h$i").mkString(", ")
    val sig = sigWide.selectExpr("doc_id", s"stack($k, $stackArgs) as (i, mh)")
    sig.as("a").join(sig.as("b"),
        $"a.i" === $"b.i" && $"a.mh" === $"b.mh" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg((count(lit(1)) / k.toDouble).as("est_jaccard"))
      .filter($"est_jaccard" >= minEst)
  }

  /** Broadcast triangular-sweep formulation (small-corpus path), or
    * None when the signatures do not fit the driver budget or pass
    * [[sweepDocBudget]]. The hex slices are parsed to longs driver-side
    * (fixed-width lowercase hex ⇒ string equality ≡ numeric equality)
    * so the per-pair work is k long compares. */
  def sweepPairs(sigWide: DataFrame, k: Int, minEst: Double): Option[DataFrame] = {
    val spark = sigWide.sparkSession
    import spark.implicits._
    val cols = col("doc_id").cast("long") +:
      (0 until k).map(i => col(s"h$i"))
    // ~64 B per row (the row, its value array, the boxed id) and ~88 B
    // per slice (a hex string, then the parsed long and its broadcast
    // copy); past sweepDocBudget the band join runs, as Triangles does
    // past its wedge limit
    val rows = DriverFinish.collectBounded("minhash_sweep",
        sigWide.select(cols: _*), 64L + 88L * k)
      .filter(_.length <= sweepDocBudget(k, DriverSweep.DefaultMaxSweepPairOps))
      .getOrElse(return None)
    val raw = rows
      .map(r => (r.getLong(0), Array.tabulate(k)(i =>
        // unsigned: a 16-hex-digit slice with the top bit set must not
        // throw — equality semantics are identical either way
        java.lang.Long.parseUnsignedLong(r.getString(i + 1), 16))))
      .sortBy(_._1)
    val ids = raw.map(_._1)
    val sigs = raw.map(_._2)
    val minMatches = math.ceil(minEst * k - 1e-9).toInt
    val bIds = spark.sparkContext.broadcast(ids)
    val bSigs = spark.sparkContext.broadcast(sigs)
    val slices = spark.sparkContext.defaultParallelism
    Some(spark.range(ids.length.toLong).as[Long]
      .repartition(slices)
      .mapPartitions { iter =>
        val dIds = bIds.value; val dSigs = bSigs.value
        iter.flatMap { iL =>
          val i = iL.toInt
          val sa = dSigs(i)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var j = i + 1
          while (j < dIds.length) {
            val sb = dSigs(j)
            var m = 0
            var t = 0
            while (t < sa.length) { if (sa(t) == sb(t)) m += 1; t += 1 }
            if (m >= minMatches) out += ((dIds(i), dIds(j), m.toDouble / sa.length))
            j += 1
          }
          out.iterator
        }
      }.toDF("doc_a", "doc_b", "est_jaccard"))
  }
}
