package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** BPE tokenizer training at corpus scale (Sennrich et al. 2016) —
  * the vocabulary-learning stage of a pretraining pipeline, run at
  * the word level: symbols start as whitespace tokens and each round
  * merges the globally most frequent adjacent symbol pair, so the
  * learned vocabulary is the corpus's most common phrases.
  *
  * Round = one distributed pair census (explode adjacent pairs,
  * map-side-combined groupBy on the high-cardinality (left, right)
  * key, TakeOrdered argmax — a 1-row collect, the ConnectedComponents
  * convergence-aggregate pattern) + one map-only corpus rewrite (the
  * native [[graft.functions.BpeMerge]] kernel; greedy left-to-right,
  * one JIT loop per row, no shuffle). The argmax tie-breaks
  * deterministically by (count desc, left asc, right asc).
  *
  * The loop is inherently sequential (merge k+1's counts depend on
  * merge k's rewrite — this IS the algorithm), so per-round driver
  * work is one 1-row action; the corpus never leaves the cluster.
  * Lineage: each round adds one projection; the corpus is persisted
  * per round with the previous handle freed, and `localCheckpoint`
  * every `checkpointEvery` rounds truncates the plan (the CC
  * pattern) — production BPE runs thousands of merges.
  *
  * Reference-scale note: single-node BPE trainers keep the corpus in
  * RAM with a pair-position heap; at 100 TB the census IS the only
  * scalable formulation, and its cost is one shuffle of distinct
  * pairs per round. Rounds can be batched (merge the top-k
  * non-interacting pairs per census) to amortize; this implementation
  * keeps the exact sequential semantics that oracles cleanly.
  */
object BpeTrain {

  /** Learned merge table: `(rank, left, right, cnt)` — merge #rank
    * fused adjacent (left, right) occurring cnt times at selection
    * time. Stops early when no pair occurs at least `minCount`
    * times.
    *
    * Driver-finish (r16): a corpus within [[DriverFinish]]'s budget
    * pays one column-pruned `sum(octet_length)` scan (cheaper than a
    * single census round, which scans the same bytes AND shuffles the
    * pairs) and then runs all rounds as driver hash-census + greedy
    * rewrite — exact string equality and integer counts, so the result
    * is bit-identical to the distributed rounds (tie-break mirrors
    * Spark's UTF8String binary order; pinned by BpeTrainSpec). At
    * 100 TB the census IS the right formulation. */
  def learn(docs: DataFrame, textCol: String, nMerges: Int,
            minCount: Long = 2L, checkpointEvery: Int = 4): DataFrame = {
    // 2 B per text byte: the collected token arrays and one round's
    // rewritten copy of them
    if (DriverFinish.fitsEstimated("bpe_train", docs, textCol, 2L))
      learnDriver(docs, textCol, nMerges, minCount)
    else learnDistributed(docs, textCol, nMerges, minCount, checkpointEvery)
  }

  private def learnDistributed(docs: DataFrame, textCol: String, nMerges: Int,
            minCount: Long, checkpointEvery: Int): DataFrame = {
    val spark = docs.sparkSession
    var corpus = docs.select(split(col(textCol), " ").as("s")).persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 0
    var done = false
    try {
      while (round < nMerges && !done) {
        round += 1
        val top = pairCensus(corpus).limit(1).collect()
        if (top.isEmpty || top(0).getLong(2) < minCount) done = true
        else {
          val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((round.toLong, l, r, cnt))
          var next = corpus.select(
            expr(s"bpe_merge(s, ${sqlLit(l)}, ${sqlLit(r)})").as("s"))
          if (round % checkpointEvery == 0) next = next.localCheckpoint(false)
          next = next.persist()
          // materialize before freeing the parent so later rounds read
          // cached blocks instead of re-running the whole rewrite chain;
          // a failed materialization must free ITS entry too (the outer
          // finally only knows the corpus handle)
          try next.count()
          catch { case t: Throwable => next.unpersist(false); throw t }
          corpus.unpersist(false)
          corpus = next
        }
      }
    } finally corpus.unpersist(false)
    mergesFrame(spark, merges.toSeq)
  }

  /** The `(rank, left, right, cnt)` result frame — one schema for the
    * driver and distributed paths. */
  private def mergesFrame(spark: SparkSession,
      merges: Seq[(Long, String, String, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.map(Row.fromTuple), 1),
      StructType(Seq(StructField("rank", LongType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("cnt", LongType, nullable = false))))

  /** The round loop on the driver: same census (hash count), same
    * argmax (cnt desc, then UTF8String BINARY order on left/right —
    * `UTF8String.compareTo`, exactly Spark's string sort; Java
    * `String.compareTo` would diverge on supplementary characters),
    * same greedy left-to-right rewrite as the [[graft.functions.BpeMerge]]
    * kernel. Null texts census as empty (explode of a null array
    * yields nothing). */
  private def learnDriver(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    val spark = docs.sparkSession
    val rows = docs.select(split(col(textCol), " ").as("s")).collect()
    var corpus: Array[Array[String]] = rows.map { r =>
      if (r.isNullAt(0)) Array.empty[String]
      else r.getSeq[String](0).toArray
    }
    def binLt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      round += 1
      // tuple key, NOT a joined string: from round 2 on, symbols
      // themselves contain spaces, so a joined key would be ambiguous
      val census = scala.collection.mutable.HashMap.empty[(String, String), Long]
      corpus.foreach { s =>
        var i = 0
        while (i + 1 < s.length) {
          if (s(i) != null && s(i + 1) != null) {
            val k = (s(i), s(i + 1))
            census.update(k, census.getOrElse(k, 0L) + 1L)
          }
          i += 1
        }
      }
      var bestL: String = null
      var bestR: String = null
      var bestC = 0L
      census.foreach { case ((l, r), c) =>
        val better = c > bestC || (c == bestC && bestL != null && (
          binLt(l, bestL) || (l == bestL && binLt(r, bestR))))
        if (bestL == null || better) { bestL = l; bestR = r; bestC = c }
      }
      if (bestL == null || bestC < minCount) done = true
      else {
        merges += ((round.toLong, bestL, bestR, bestC))
        corpus = corpus.map(mergeOnce(_, bestL, bestR))
      }
    }
    mergesFrame(spark, merges.toSeq)
  }

  /** One greedy left-to-right merge pass — the [[graft.functions.BpeMerge]]
    * kernel's exact loop on driver arrays. */
  private def mergeOnce(s: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) != null && s(i) == l &&
          s(i + 1) != null && s(i + 1) == r) {
        out += s(i) + " " + s(i + 1)
        i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** Tokenize a corpus with a learned merge list (rank order): the
    * inference half of the trainer — append `syms` (array<string>)
    * to `docs`. */
  def encode(docs: DataFrame, textCol: String,
             merges: Seq[(String, String)], checkpointEvery: Int = 8): DataFrame = {
    var out = docs.withColumn("syms", split(col(textCol), " "))
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      out = out.withColumn("syms",
        expr(s"bpe_merge(syms, ${sqlLit(l)}, ${sqlLit(r)})"))
      if ((i + 1) % checkpointEvery == 0) out = out.localCheckpoint(false)
    }
    out
  }

  /** Adjacent-pair census of a symbol-array corpus, ordered for the
    * argmax: `(left, right, cnt)` by (cnt desc, left, right). */
  private def pairCensus(corpus: DataFrame): DataFrame =
    corpus
      .select(explode(arrays_zip(
        slice(col("s"), lit(1), greatest(size(col("s")) - 1, lit(0))),
        slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))))).as("p"))
      .select(col("p.0").as("left"), col("p.1").as("right"))
      .groupBy(col("left"), col("right"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("left"), col("right"))

  /** Single-quoted Spark SQL string literal (backslash is an escape
    * char in Spark's default literal parsing — double it first). */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
}
