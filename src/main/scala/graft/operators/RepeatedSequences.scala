package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-level repeated-sequence mining via sorted suffix windows —
  * the suffix-array approach to substring-level training-data dedup
  * (Lee et al. 2021, "Deduplicating Training Data Makes Language
  * Models Better"), bounded to a `window`-token horizon so every
  * stage stays linear in corpus tokens.
  *
  * Construction: every token position contributes its next-`window`
  * -token suffix; sorting all windows lexicographically puts any two
  * occurrences of a repeated sequence next to each other, so the
  * token-LCP (longest common prefix) of ADJACENT windows in sorted
  * order recovers every repeated sequence up to length `window` —
  * exactly the neighbor-LCP scan of a suffix array, without ever
  * materializing arbitrary-length suffixes. Windows are compared as
  * their space-joined strings: ' ' (0x20) sorts below every
  * printable token character, so string order coincides with
  * token-array lexicographic order.
  *
  * Scale shape: the ONLY corpus-sized stages are the position explode
  * and one hash exchange into deterministic key-range buckets.
  * Bucket boundaries are [[PrefixSum]]'s cut-point literals (a pure
  * function of the data — no `repartitionByRange`, whose sampled
  * boundaries differ per execution), so the two consuming passes
  * (in-bucket neighbor scan; per-bucket head/tail rows) can never
  * disagree on placement. Cross-bucket neighbor pairs are closed by
  * a driver-side pass over ≤ 2·numParts boundary rows (the
  * CC-convergence-collect justification: bounded by partition count,
  * not data). Equal-window runs MAY split across buckets — the cut
  * tiebreak includes (doc_id, position) — so a hot repeated sequence
  * cannot create a straggler bucket. The windows and sorted frames
  * are persisted only within the call and freed before return; the
  * returned top-`topK` frame is eagerly localCheckpoint'ed (≤ topK
  * rows). At 100 TB the persist becomes a shuffle-files reuse /
  * external sort concern, same as the reference algorithm's
  * disk-backed suffix sort.
  */
object RepeatedSequences {

  /** Token-LCP of two token arrays (# of equal leading elements). */
  private[graft] def lcpLen(a: Array[String], b: Array[String]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) == b(i)) i += 1
    i
  }

  private final case class W(doc: Long, p: Long,
      u8: org.apache.spark.unsafe.types.UTF8String)

  /** Driver-side window construction from collected TEXTS — the same
    * bytes the distributed path generates, produced by evaluating the
    * very same [[graft.functions.TokenWindows]] expression per
    * document (no re-implementation to drift): collecting texts moves
    * ~`window`× fewer bytes to the driver than collecting the exploded
    * window rows did in r16. */
  private def windowsFromTexts(rows: Array[org.apache.spark.sql.Row],
      window: Int): Array[W] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val out = new scala.collection.mutable.ArrayBuffer[W](rows.length * 8)
    rows.foreach { r =>
      if (!r.isNullAt(1)) {
        val doc = r.getLong(0)
        val arr = graft.functions.TokenWindows(
            Literal(UTF8String.fromString(r.getString(1)),
              org.apache.spark.sql.types.StringType),
            Literal(window))
          .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        var i = 0
        while (i < arr.numElements()) {
          out += W(doc, i + 1L, arr.getUTF8String(i))
          i += 1
        }
      }
    }
    out.toArray
  }

  /** The sorted neighbor-LCP scan in memory: sort by (ws UTF8-binary,
    * doc_id, p) — exactly the bucketed `sortWithinPartitions` order —
    * then adjacent token-LCP, distinct, (lcp DESC, seq) top-k. The
    * (lcp, seq) result set is provably invariant to how equal-ws ties
    * order (equal windows pair to a full-window lcp either way), but
    * the comparator mirrors Spark's anyway.
    *
    * r17: the per-pair token-LCP runs directly on the window BYTES —
    * token-lcp = spaces inside the common byte prefix, plus one when
    * BOTH windows sit at a token boundary (end-of-string or a space)
    * where the prefix ends; the shared sequence is then a byte-range
    * VIEW of the window (no split arrays, no take/mkString — the r16
    * scan paid a regex split + a join allocation per pair, ~0.9 s of
    * q104's 1.3 at sf0.1). Byte scanning is exact: 0x20 never occurs
    * inside a UTF-8 multibyte sequence, and equal tokens ⇔ equal
    * bytes. Equivalence with [[lcpLen]] over `split(" ", -1)` tokens
    * is pinned by the spec's brute-force reference tests. */
  private def driverTopRepeats(s: org.apache.spark.sql.SparkSession,
      ws: Array[W], topK: Int): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    // parallelSort is safe here: (u8, doc, p) is a TOTAL order ((doc,p)
    // is unique per window), so the sorted array is a pure function of
    // the input regardless of how the merge ranges split
    java.util.Arrays.parallelSort(ws, new java.util.Comparator[W] {
      def compare(a: W, b: W): Int = {
        val c = a.u8.compareTo(b.u8)
        if (c != 0) c
        else if (a.doc != b.doc) java.lang.Long.compare(a.doc, b.doc)
        else java.lang.Long.compare(a.p, b.p)
      }
    })
    val seen = scala.collection.mutable.HashSet.empty[(Long, UTF8String)]
    var i = 1
    while (i < ws.length) {
      // windows were built by TokenWindows (owned compact arrays), so
      // getBytes returns the backing array without copying
      val ab = ws(i - 1).u8.getBytes
      val bb = ws(i).u8.getBytes
      val n = math.min(ab.length, bb.length)
      var m = 0
      var spaces = 0
      var lastSpace = -1
      while (m < n && ab(m) == bb(m)) {
        if (ab(m) == 0x20) { spaces += 1; lastSpace = m }
        m += 1
      }
      val bonus = (m == ab.length || ab(m) == 0x20) &&
        (m == bb.length || bb(m) == 0x20)
      val l = spaces + (if (bonus) 1 else 0)
      if (l >= 1) {
        val end = if (bonus) m else lastSpace
        seen += ((l.toLong, UTF8String.fromBytes(bb, 0, end)))
      }
      i += 1
    }
    val top = seen.toArray
    java.util.Arrays.sort(top, new java.util.Comparator[(Long, UTF8String)] {
      def compare(a: (Long, UTF8String), b: (Long, UTF8String)): Int = {
        if (a._1 != b._1) java.lang.Long.compare(b._1, a._1)
        else a._2.compareTo(b._2)
      }
    })
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val out = top.take(topK).map { case (l, seq) => Row(l, seq.toString) }
    s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1),
      StructType(Seq(StructField("lcp", LongType, nullable = false),
        StructField("seq", StringType, nullable = true))))
  }

  /** Every token position's next-`window`-token suffix window:
    * `(doc_id, p, ws)` with 1-based position `p` and the window's
    * space-joined text `ws` — the rows [[topRepeats]]' distributed path
    * sorts. Built by the native token_windows expression: one eval per
    * DOCUMENT emitting every suffix window as a byte-range copy of the
    * text, replacing the declarative split → posexplode → slice →
    * array_join chain that carried the full token array through the
    * Generate and paid a fresh slice array + join string per POSITION
    * (byte-identical output; pinned by RepeatedSequencesSpec's
    * expression-parity fuzz). The alias sits in its own projection
    * BELOW the generate (ExtractGenerator hoists same-select aliases
    * above it — r5). */
  private[graft] def windows(docs: DataFrame, idCol: String, textCol: String,
                             window: Int): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.TokenWindows(
            org.apache.spark.sql.graft.ColumnBridge.expression(col(textCol)),
            org.apache.spark.sql.catalyst.expressions.Literal(window))).as("wins"))
      .select(col("doc_id"), posexplode(col("wins")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("ws"))

  /** The key-range bucket (0 until `n`) of each [[windows]] row, cut
    * by (ws, doc_id, p): [[PrefixSum]]'s cut-point literals, a pure
    * function of the data. */
  private[graft] def windowBucket(win: DataFrame, n: Int): Column = {
    val ordCols = Seq("ws", "doc_id", "p")
    PrefixSum.bucketExpr(ordCols, PrefixSum.deterministicCuts(win, ordCols, n))
  }

  /** Top-`topK` distinct repeated sequences: `(lcp, seq)` = token
    * length and text of a maximal-up-to-`window` repeated prefix
    * shared by at least two corpus positions, ordered by
    * (lcp DESC, seq). Deterministic — output is a pure function of
    * the corpus, invariant to partitioning (pinned by spec). */
  def topRepeats(docs: DataFrame, idCol: String, textCol: String,
                 window: Int = 8, topK: Int = 25, numParts: Int = 0): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val n = if (numParts > 0) numParts else s.sparkContext.defaultParallelism
    // r16 driver-finish, r17 shape: collect the TEXTS — ~`window`×
    // fewer driver bytes than r16's collected window rows — and build
    // the windows on the driver by evaluating the SAME TokenWindows
    // expression the distributed path uses (zero drift by
    // construction). `window` B per text byte: every byte recurs in at
    // most `window` windows. Sort order in the driver scan mirrors the
    // cut/sortWithinPartitions order exactly: ws by UTF8String BINARY
    // bytes, then doc_id, then p. At 100 TB the bucketed external sort
    // below is the right formulation.
    if (DriverFinish.fitsEstimated("repeated_sequences", docs, textCol, window)) {
      val texts = docs
        .select(col(idCol).cast("long").as("doc_id"), col(textCol))
        .collect()
      return driverTopRepeats(s, windowsFromTexts(texts, window), topK)
    }
    // distributed two-phase path
    val win = windows(docs, idCol, textCol, window).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bucket = windowBucket(win, n)
      val sorted = win.withColumn("__b", bucket)
        .repartition(n, col("__b"))
        .sortWithinPartitions(col("__b"), col("ws"), col("doc_id"), col("p"))
        .select(col("__b").cast("int"), col("ws")).as[(Int, String)]
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // per-bucket head/tail windows (each bucket lives in exactly one
        // physical partition; rows arrive bucket-then-key sorted)
        val bounds = sorted.mapPartitions { it =>
          val acc = scala.collection.mutable.LinkedHashMap.empty[Int, (String, String)]
          it.foreach { case (b, ws) =>
            acc(b) = acc.get(b) match {
              case None => (ws, ws)
              case Some((h, _)) => (h, ws)
            }
          }
          acc.iterator.map { case (b, (h, t)) => (b, h, t) }
        }.collect()
        // in-bucket adjacent pairs: one sequential scan per partition
        val internal = sorted.mapPartitions { it =>
          var prevB = Int.MinValue
          var prev: Array[String] = null
          it.flatMap { case (b, ws) =>
            val cur = ws.split(" ", -1)
            val out =
              if (b == prevB && prev != null) {
                val l = lcpLen(prev, cur)
                if (l >= 1) Iterator.single((l.toLong, cur.take(l).mkString(" ")))
                else Iterator.empty
              } else Iterator.empty
            prevB = b
            prev = cur
            out
          }
        }.toDF("lcp", "seq")
        // cross-bucket pairs: tail of bucket b with head of the next
        // nonempty bucket — ≤ numParts - 1 driver-side comparisons
        val boundaryPairs = bounds.sortBy(_._1).toSeq.sliding(2).collect {
          case Seq((_, _, tail), (_, head, _)) =>
            val h = head.split(" ", -1)
            val l = lcpLen(tail.split(" ", -1), h)
            (l.toLong, h.take(l).mkString(" "))
        }.filter(_._1 >= 1).toSeq
        val top = internal
          .union(s.createDataset(boundaryPairs).toDF("lcp", "seq"))
          .distinct()
          .orderBy(col("lcp").desc, col("seq"))
          .limit(topK)
        top.localCheckpoint(true)
      } finally sorted.unpersist()
    } finally win.unpersist()
  }
}
