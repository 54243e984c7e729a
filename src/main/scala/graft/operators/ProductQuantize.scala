package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-scale ANN path
  * past int8: split each d-dim embedding into `m` subspaces of
  * d/m dims, learn a tiny per-subspace codebook (deterministic Lloyd,
  * the [[KMeans]] conventions), and store each vector as `m` small
  * codes. At m=8 over d=64 floats that is 8 bytes per vector — 32×
  * smaller than the raw float32 array — and scoring a query against a
  * coded vector is `m` table lookups instead of a d-element dot
  * (asymmetric distance computation, ADC).
  *
  * Everything is engine-reproducible with no RNG state, mirroring
  * [[KMeans]]:
  *
  *  - per-subspace seeds are the subvectors of the `ksub` lowest-id
  *    vectors (labeled by their vec_id, the house convention);
  *  - assignment minimizes L2 reconstruction error via the equivalent
  *    argmax of `dot(x_sub, c) - 0.5·dot(c, c)` (the ||x_sub||² term
  *    is constant per (vector, subspace)); both dots are strict
  *    sequential folds ([[graft.functions.FloatDot]]), the combination
  *    is one fixed IEEE multiply+subtract, and ties break to the
  *    lowest cent_id — any engine computing the same folds agrees
  *    bitwise;
  *  - the Lloyd update is the quantized-integer mean (floor(v·2²⁰)
  *    BIGINT sums — order-free, map-side combinable, exact);
  *  - the ADC score is the fixed-association chain
  *    `((lut₀+lut₁)+…)+lut_{m-1}` in subspace order, each lut a strict
  *    fold — bit-portable to any engine using the same association.
  *
  * Scale shape: codebook learning is a broadcast(m·ksub centroids)
  * map-only assignment + a (sub, cluster, dim) aggregation whose
  * output is m·ksub·dsub rows regardless of corpus size; encoding is
  * the same broadcast assignment; ADC joins the exploded (vec, sub)
  * code stream against a broadcast LUT (|Q|·m·ksub rows) and
  * aggregates map-side-combinably to |Q|·n groups. Nothing quadratic
  * in the corpus, nothing collected on the driver.
  */
object ProductQuantize {

  /** Spark's exact double total order (0.0 == -0.0, NaN greatest). */
  private[operators] def dcmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Strict ascending-index fold — [[graft.functions.FloatDot]]'s
    * exact form (float→double widening per element is exact, so
    * converting whole vectors to doubles up front is equivalent). */
  private[operators] def ddot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** (id, emb as exact doubles) of every row when the corpus fits
    * [[DriverFinish]]'s budget — the r16 driver-finish of the
    * INDEX-BUILD stages (codebooks / encode / probe-1 coarse
    * assignment; the QUERY-side joins stay distributed). None over
    * budget, on non-integral ids, duplicate ids, NULLs, or any
    * embedding not exactly `dims0` long (the distributed raise_error
    * path owns the loud failure). `dims0 < 0` is uniform-length mode:
    * the first row fixes the width (KMeans' caller has no declared
    * dim; raggedness falls back to the distributed path, which owns
    * mismatch semantics). Every mirrored operation is one of the
    * operator's documented bit-portable forms (strict folds, quantized
    * integer means, fixed associations, min-struct argmax with Spark's
    * exact double order), pinned ≡ distributed by ProductQuantizeSpec. */
  private[operators] def collectVecs(op: String, df: DataFrame, idCol: String,
      embCol: String, dims0: Int): Option[Array[(Long, Array[Double])]] = {
    if (!DriverFinish.integral(df.schema(idCol).dataType)) return None
    val dims = if (dims0 >= 0) dims0 else {
      val first = df.select(size(col(embCol))).head(1)
      if (first.isEmpty) 0
      else if (first(0).isNullAt(0) || first(0).getInt(0) < 0) return None
      else first(0).getInt(0)
    }
    // 16 + 8·dims B per vector: the long id and the array header, then
    // the embedding as doubles
    val rows = DriverFinish.collectBounded(op,
        df.select(col(idCol).cast("long"), col(embCol)), 16L + 8L * dims)
      .getOrElse(return None)
    val out = new Array[(Long, Array[Double])](rows.length)
    val seen = new java.util.HashSet[java.lang.Long](rows.length * 2)
    var i = 0
    while (i < out.length) {
      val r = rows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      if (!seen.add(r.getLong(0))) return None
      val seq = r.getSeq[Any](1)
      if (seq.length != dims) return None
      val arr = new Array[Double](dims)
      var j = 0
      while (j < dims) {
        seq(j) match {
          case f: java.lang.Float  => arr(j) = f.toDouble
          case d: java.lang.Double => arr(j) = d
          case _                   => return None
        }
        j += 1
      }
      out(i) = (r.getLong(0), arr)
      i += 1
    }
    Some(out)
  }

  /** In-memory assign: per (vector, sub) the argmax of
    * `dot(subv, cent) − 0.5·dot(cent, cent)` over that subspace's
    * centroids, ties to the lowest cent_id — `min(struct(-score,
    * cent_id))` semantics with Spark's double order. Books as
    * per-sub (cent_id, cent) arrays. Returns code per (vec, sub). */
  private def driverAssign(vecs: Array[(Long, Array[Double])], m: Int, dsub: Int,
      books: Array[Array[(Long, Array[Double])]]): Array[Array[Long]] = {
    val codes = new Array[Array[Long]](vecs.length)
    var i = 0
    while (i < vecs.length) {
      val emb = vecs(i)._2
      val row = new Array[Long](m)
      var sub = 0
      while (sub < m) {
        val subv = java.util.Arrays.copyOfRange(emb, sub * dsub, (sub + 1) * dsub)
        val bs = books(sub)
        var bestNs = 0.0
        var bestId = 0L
        var first = true
        var c = 0
        while (c < bs.length) {
          val (cid, cent) = bs(c)
          val ns = -(ddot(subv, cent) - 0.5 * ddot(cent, cent))
          if (first || dcmp(ns, bestNs) < 0 ||
              (dcmp(ns, bestNs) == 0 && cid < bestId)) {
            bestNs = ns; bestId = cid; first = false
          }
          c += 1
        }
        row(sub) = bestId
        sub += 1
      }
      codes(i) = row
      i += 1
    }
    codes
  }

  /** In-memory Lloyd mirror of [[codebooks]]: seed with the ksub
    * lowest-id subvectors, then `iters` quantized-integer-mean updates
    * (floor(v·2²⁰) long sums — order-free — one double division chain
    * at the end, exactly the distributed `update`). Empty clusters
    * drop. Returns per-sub (cent_id, cent) sorted by cent_id. */
  private def driverLearnBooks(vecs: Array[(Long, Array[Double])], m: Int,
      dsub: Int, ksub: Int, iters: Int): Array[Array[(Long, Array[Double])]] = {
    val sorted = vecs.sortBy(_._1)
    val seeds = sorted.take(ksub)
    var books: Array[Array[(Long, Array[Double])]] =
      Array.tabulate(m) { sub =>
        seeds.map { case (id, emb) =>
          (id, java.util.Arrays.copyOfRange(emb, sub * dsub, (sub + 1) * dsub))
        }
      }
    var it = 0
    while (it < iters) {
      val codes = driverAssign(vecs, m, dsub, books)
      books = Array.tabulate(m) { sub =>
        // quantized-exact mean per non-empty cluster
        val qsum = new java.util.HashMap[Long, Array[Long]]()
        val cnt = new java.util.HashMap[Long, Array[Long]]()
        var i = 0
        while (i < vecs.length) {
          val cid = codes(i)(sub)
          var qs = qsum.get(cid)
          if (qs == null) {
            qs = new Array[Long](dsub); qsum.put(cid, qs)
            cnt.put(cid, new Array[Long](1))
          }
          cnt.get(cid)(0) += 1
          val emb = vecs(i)._2
          var j = 0
          while (j < dsub) {
            qs(j) = Math.addExact(qs(j),
              math.floor(emb(sub * dsub + j) * KMeans.QuantScale).toLong)
            j += 1
          }
          i += 1
        }
        val out = new Array[(Long, Array[Double])](qsum.size())
        val ks = qsum.keySet().toArray(new Array[java.lang.Long](0)).map(_.longValue())
        java.util.Arrays.sort(ks)
        var c = 0
        while (c < ks.length) {
          val qs = qsum.get(ks(c))
          val n = cnt.get(ks(c))(0)
          val cent = new Array[Double](dsub)
          var j = 0
          while (j < dsub) {
            cent(j) = qs(j).toDouble / n.toDouble / KMeans.QuantScale
            j += 1
          }
          out(c) = (ks(c), cent)
          c += 1
        }
        out
      }
      it += 1
    }
    books
  }

  /** (vec_id, sub, subv) — one row per vector per subspace, `subv` the
    * dsub-element slice. The generator is a bounded sequence literal;
    * the slice runs once per generated row by construction.
    *
    * A NULL or mis-sized embedding fails LOUDLY here (once per row,
    * before the explode): `slice` would silently shorten and
    * `float_dot` NULLs on mismatched lengths, which would flow into an
    * arbitrary-looking assignment instead of an error — every batch PQ
    * path (codebooks/encode/adcTopK/ivfAdcTopK, both sides) runs
    * through this projection, and the streaming kernels carry the same
    * check per row. Stream ops pre-filter NULL rows by their
    * documented drop semantics before calling in. */
  def subvectors(corpus: DataFrame, m: Int, dsub: Int,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol),
        when(size(col(embCol)) === lit(m * dsub), col(embCol))
          .otherwise(raise_error(concat(
            lit(s"PQ expects ${m * dsub}-dim embeddings, got "),
            coalesce(size(col(embCol)).cast("string"), lit("NULL")),
            lit(" for id "), coalesce(col(idCol).cast("string"), lit("NULL")))))
          .as("__e"))
      .select(col(idCol), col("__e"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("subv", expr(s"slice(__e, sub * $dsub + 1, $dsub)"))
      .select(col(idCol), col("sub"), col("subv"))

  /** Per-subspace argmax assignment of `sv` (subvectors' shape) to
    * `books` (sub, cent_id, cent). Output: (idCol, sub, cluster, subv).
    * One broadcast join + one map-side-combinable agg — the
    * [[KMeans.assignWithEmb]] shape with a (row, sub) key. */
  private def assign(sv: DataFrame, books: DataFrame, idCol: String): DataFrame =
    sv.join(broadcast(books), Seq("sub"))
      .withColumn("__score",
        expr("float_dot(subv, cent)") - lit(0.5) * expr("float_dot(cent, cent)"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct((-col("__score")).as("ns"), col("cent_id").as("cid"))).as("__best"),
           first(col("subv")).as("subv"))
      .select(col(idCol), col("sub"), col("__best.cid").as("cluster"), col("subv"))

  /** Quantized-exact per-subspace centroid update ([[KMeans.updateCentroids]]
    * with the extra `sub` key). Output: (sub, cent_id, cent: array<double>),
    * one row per non-empty (subspace, cluster). */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("sub"), col("cluster"), posexplode(col("subv")).as(Seq("j", "v")))
      .groupBy(col("sub"), col("cluster"), col("j"))
      .agg(sum(floor(col("v").cast("double") * lit(KMeans.QuantScale))).as("qsum"),
           count(lit(1)).as("cnt"))
      .withColumn("cval", col("qsum").cast("double") / col("cnt") / lit(KMeans.QuantScale))
      .groupBy(col("sub"), col("cluster"))
      .agg(array_sort(collect_list(struct(col("j"), col("cval")))).as("__s"))
      // m·ksub rows total: the interpreted-HOF transform is off the hot path
      .select(col("sub"), col("cluster").as("cent_id"),
              expr("transform(__s, x -> x.cval)").as("cent"))

  /** Learn the per-subspace codebooks: deterministic seeds (subvectors
    * of the ksub lowest-id vectors), then `iters` Lloyd steps. Output:
    * (sub, cent_id, cent). Empty clusters drop out of the update, as
    * in [[KMeans]]. */
  def codebooks(corpus: DataFrame, m: Int, dsub: Int, ksub: Int, iters: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // driver-finish (r16): a corpus within the budget learns in memory
    // (iters=0 keeps the seed frame's float schema — distributed only).
    // Any irregularity (NULLs, dup ids, mis-sized embeddings) declines to
    // the distributed plan, whose raise_error owns the loud failure.
    if (iters >= 1) {
      collectVecs("pq_codebooks", corpus, idCol, embCol, m * dsub) match {
        case Some(vecs) =>
          return booksFrame(corpus.sparkSession,
            driverLearnBooks(vecs, m, dsub, ksub, iters),
            corpus.schema(idCol).dataType)
        case None =>
      }
    }
    val sv = subvectors(corpus, m, dsub, idCol, embCol)
    val seedIds = corpus.orderBy(col(idCol)).limit(ksub).select(col(idCol))
    var books = sv.join(broadcast(seedIds), Seq(idCol))
      .select(col("sub"), col(idCol).as("cent_id"), col("subv").as("cent"))
    for (_ <- 0 until iters) books = update(assign(sv, books, idCol))
    books
  }

  private def booksFrame(s: org.apache.spark.sql.SparkSession,
      books: Array[Array[(Long, Array[Double])]],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = new java.util.ArrayList[Row]()
    var sub = 0
    while (sub < books.length) {
      books(sub).foreach { case (cid, cent) => rows.add(Row(sub, cid, cent.toSeq)) }
      sub += 1
    }
    val df = s.createDataFrame(rows, StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("cent_id", LongType, nullable = false),
      StructField("cent", ArrayType(DoubleType), nullable = false))))
    if (idType == LongType) df
    else df.select(col("sub"), col("cent_id").cast(idType).as("cent_id"), col("cent"))
  }

  /** Bounded collect of a books frame into per-sub (cent_id, cent)
    * arrays; None when it doesn't look like a (sub, cent_id, cent)
    * codebook under the m·ksub size class, so callers decline to the
    * distributed join. */
  private def collectBooks(books: DataFrame, m: Int):
      Option[Array[Array[(Long, Array[Double])]]] = {
    val sch = books.schema
    if (!Seq("sub", "cent_id", "cent").forall(f => sch.fieldNames.contains(f)))
      return None
    if (!DriverFinish.integral(sch("cent_id").dataType)) return None
    val rows = books.select(col("sub").cast("int"), col("cent_id").cast("long"),
      col("cent")).limit(65537).collect()
    if (rows.length > 65536) return None
    val out = Array.fill(m)(List.newBuilder[(Long, Array[Double])])
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) return None
      val sub = r.getInt(0)
      if (sub < 0 || sub >= m) return None
      val seq = r.getSeq[Any](2)
      val cent = new Array[Double](seq.length)
      var j = 0
      while (j < cent.length) {
        seq(j) match {
          case f: java.lang.Float  => cent(j) = f.toDouble
          case d: java.lang.Double => cent(j) = d
          case _                   => return None
        }
        j += 1
      }
      out(sub) += ((r.getLong(1), cent))
      i += 1
    }
    Some(out.map(_.result().toArray))
  }

  /** Encode every vector as its per-subspace nearest-centroid code.
    * Output: (idCol, sub, code) — the long form ADC consumes; a
    * compacted array form is one `collect_list` away when a store
    * wants m bytes per row. */
  def encode(corpus: DataFrame, books: DataFrame, m: Int, dsub: Int,
             idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // driver-finish (r16): same argmax, in memory, when both sides fit
    // (books are m·ksub rows by construction — the bound guards
    // misuse). Works against ANY books frame incl. parquet round-trips.
    val drv = for {
      bs <- collectBooks(books, m)
      vecs <- collectVecs("pq_encode", corpus, idCol, embCol, m * dsub)
    } yield {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val codes = driverAssign(vecs, m, dsub, bs)
      val rows = new java.util.ArrayList[Row]()
      var i = 0
      while (i < vecs.length) {
        var sub = 0
        while (sub < m) {
          // a sub with no centroids drops its rows (the inner join)
          if (bs(sub).nonEmpty) rows.add(Row(vecs(i)._1, sub, codes(i)(sub)))
          sub += 1
        }
        i += 1
      }
      val s = corpus.sparkSession
      val df = s.createDataFrame(rows, StructType(Seq(
        StructField(idCol, LongType, nullable = false),
        StructField("sub", IntegerType, nullable = false),
        StructField("code", LongType, nullable = false))))
      val idT = corpus.schema(idCol).dataType
      val codeT = books.schema("cent_id").dataType
      df.select(col(idCol).cast(idT).as(idCol), col("sub"),
        col("code").cast(codeT).as("code"))
    }
    drv.getOrElse(
      assign(subvectors(corpus, m, dsub, idCol, embCol), books, idCol)
        .select(col(idCol), col("sub"), col("cluster").as("code")))
  }

  /** Coarse quantizer centroids — [[Similarity.ivfTopK]]'s rule: the
    * `nCentroids` lowest-id vectors. Output: (coarse_id, __cent). */
  def coarseCentroids(corpus: DataFrame, nCentroids: Int,
                      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("coarse_id"), col(embCol).as("__cent"))

  /** Assign each row to its `probe` max-raw-dot coarse cells (ties to
    * the lower coarse_id — ivfTopK's exact rule). Output:
    * (outId, coarse_id).
    *
    * probe = 1 (the corpus side — every retrieval assigns the WHOLE
    * corpus once) is a map-side-combinable min-struct argmax: the
    * shuffle carries n reduced rows, not the n·C unreduced dot stream
    * a row_number window would sort (measured: the window form made
    * 1M-vector ivf_adc SLOWER than the flat sweep it exists to beat —
    * `Probe vector`, r16). probe > 1 (the query side, top-nProbe) keeps
    * the window — Spark's WindowGroupLimit prunes it map-side, and
    * query batches are small. */
  def coarseAssign(df: DataFrame, cents: DataFrame, outId: String, probe: Int,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // driver-finish (r16), probe = 1 only (the corpus side): same
    // raw-dot argmax with lower-cent ties, in memory, when the row
    // side fits the budget. probe > 1 is the query side —
    // already small, stays on the WindowGroupLimit-pruned window.
    if (probe == 1) {
      val drv = for {
        cs <- collectCents(cents)
        dims = if (cs.isEmpty) -1 else cs(0)._2.length
        vecs <- collectVecs("pq_coarse_assign", df, idCol, embCol, dims)
      } yield {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val rows = new java.util.ArrayList[Row](vecs.length)
        var i = 0
        while (i < vecs.length) {
          var bestNs = 0.0
          var bestId = 0L
          var first = true
          var c = 0
          while (c < cs.length) {
            val ns = -ddot(vecs(i)._2, cs(c)._2)
            if (first || dcmp(ns, bestNs) < 0 ||
                (dcmp(ns, bestNs) == 0 && cs(c)._1 < bestId)) {
              bestNs = ns; bestId = cs(c)._1; first = false
            }
            c += 1
          }
          if (!first) rows.add(Row(vecs(i)._1, bestId))
          i += 1
        }
        val s = df.sparkSession
        val out = s.createDataFrame(rows, StructType(Seq(
          StructField(outId, LongType, nullable = false),
          StructField("coarse_id", LongType, nullable = false))))
        out.select(col(outId).cast(df.schema(idCol).dataType).as(outId),
          col("coarse_id").cast(cents.schema("coarse_id").dataType).as("coarse_id"))
      }
      if (drv.isDefined) return drv.get
    }
    val sims = df.select(col(idCol).as(outId), col(embCol).as("__e"))
      .crossJoin(broadcast(cents))
      .withColumn("__sim", expr("float_dot(__e, __cent)"))
    if (probe == 1) {
      // min(struct(-sim, coarse_id)) = argmax sim, ties to the lowest
      // coarse_id — the KMeans.assignWithEmb shape
      sims.groupBy(col(outId))
        .agg(min(struct((-col("__sim")).as("ns"), col("coarse_id").as("cid"))).as("__best"))
        .select(col(outId), col("__best.cid").as("coarse_id"))
    } else {
      val w = Window.partitionBy(col(outId)).orderBy(col("__sim").desc, col("coarse_id"))
      sims.withColumn("__r", row_number().over(w)).filter(col("__r") <= probe)
        .select(col(outId), col("coarse_id"))
    }
  }

  /** Bounded collect of a coarse-centroid frame (coarse_id, __cent) —
    * nCentroids rows by construction; None on anything irregular
    * (size, types, NULLs, mixed dims). */
  private def collectCents(cents: DataFrame): Option[Array[(Long, Array[Double])]] = {
    val sch = cents.schema
    if (!Seq("coarse_id", "__cent").forall(f => sch.fieldNames.contains(f)))
      return None
    if (!DriverFinish.integral(sch("coarse_id").dataType)) return None
    val rows = cents.select(col("coarse_id").cast("long"), col("__cent"))
      .limit(4097).collect()
    if (rows.length > 4096) return None
    val out = new Array[(Long, Array[Double])](rows.length)
    var dims = -1
    var i = 0
    while (i < out.length) {
      val r = rows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      val seq = r.getSeq[Any](1)
      if (dims < 0) dims = seq.length
      if (seq.length != dims) return None
      val cent = new Array[Double](dims)
      var j = 0
      while (j < dims) {
        seq(j) match {
          case f: java.lang.Float  => cent(j) = f.toDouble
          case d: java.lang.Double => cent(j) = d
          case _                   => return None
        }
        j += 1
      }
      out(i) = (r.getLong(0), cent)
      i += 1
    }
    Some(out)
  }

  /** IVF-ADC retrieval (the FAISS IVFPQ shape, without residual
    * encoding so codes stay cell-independent): a coarse quantizer
    * restricts each query to its `nProbe` max-dot cells —
    * [[Similarity.ivfTopK]]'s EXACT deterministic rule (lowest-id
    * centroids, raw-dot assignment, ties to the lower cent_id) — and
    * only those cells' members are ADC-scored against the shared
    * per-subspace codebooks. Shuffle inventory: candidate pairs keyed
    * by cell then neighbor, never all-pairs; the LUT and coarse
    * centroids broadcast. Output: (query_id, neighbor_id, adc,
    * rnk ≤ k), self-pairs excluded. This convenience form REBUILDS the
    * index per call (oracle-friendly); amortized use goes through
    * [[ivfAdcTopKWith]]. */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nCentroids: Int, nProbe: Int,
                 m: Int, dsub: Int, ksub: Int, iters: Int,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cents = coarseCentroids(corpus, nCentroids, idCol, embCol)
    val corpusCells = coarseAssign(corpus, cents, "neighbor_id", 1, idCol, embCol)
    val books = codebooks(corpus, m, dsub, ksub, iters, idCol, embCol)
      .localCheckpoint() // consumed by two branches (lut + encode): never re-learn
    val codes = encode(corpus, books, m, dsub, idCol, embCol)
      .withColumnRenamed(idCol, "neighbor_id")
    ivfAdcTopKWith(books, codes, cents, corpusCells, queries, k, nProbe, m, dsub,
      idCol, embCol)
  }

  /** [[ivfAdcTopK]] against a PREBUILT index — the production query
    * path: `books`/`codes`/`cents`/`corpusCells` are built (and
    * persisted/written) once, then every query batch pays only its own
    * probe + the cell-restricted ADC join. Frames must carry the
    * builder's schemas: books (sub, cent_id, cent), codes
    * (neighbor_id, sub, code), cents (coarse_id, __cent), corpusCells
    * (neighbor_id, coarse_id). */
  def ivfAdcTopKWith(books: DataFrame, codes: DataFrame, cents: DataFrame,
                     corpusCells: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
                     m: Int, dsub: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val queryCells = coarseAssign(queries, cents, "query_id", nProbe, idCol, embCol)
    val lut = queryLut(books, queries, m, dsub, idCol, embCol)
    // each corpus vector lives in exactly one cell, so a (query,
    // neighbor) candidate appears at most once
    val cand = queryCells.join(corpusCells, Seq("coarse_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val joined = cand
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(lut),
        cand("query_id") === lut("query_id") && codes("sub") === lut("sub") &&
          codes("code") === lut("cent_id"))
      .select(cand("query_id"), col("neighbor_id"), codes("sub"), col("lut"))
    rankAdc(joined, m, k)
  }

  /** RESIDUAL-encoding IVF-ADC (the full FAISS IVFPQ): codes are
    * learned on `x − c(x)` (each vector's offset from its coarse
    * centroid, the native [[graft.functions.FloatSub]] kernel), so the
    * codebooks spend their 16 centroids on the within-cell structure
    * instead of the whole space — the reconstruction `x̂ = c + r̂` is
    * strictly finer than [[ivfAdcTopK]]'s cell-independent codes.
    * The score is the classical inner-product estimator
    * `q·x̂ = q·c + q·r̂`: one exact strict-fold dot per (query, probed
    * cell) plus the ADC chain of RAW query subvectors against the
    * residual codebooks, combined in the fixed association
    * `((q·c + lut₀) + …) + lut_{m-1}` — every term bit-portable, so
    * the whole operator hashes against its SQL oracle (q210).
    * Same deterministic conventions and shuffle inventory as
    * [[ivfAdcTopK]]; audit the recall DELTA vs the non-residual form
    * with q209/q211 before choosing — residual encoding wins only
    * when the coarse quantizer captures real cluster structure. On
    * the structureless unit-norm sf corpus it LOSES (recall@5 0.16
    * vs 0.34): max-dot assignment doesn't minimize ‖x−c‖ there, so
    * residual norms average 1.21× the raw norms and the codebooks
    * quantize a wider distribution. */
  def residualIvfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                         nCentroids: Int, nProbe: Int,
                         m: Int, dsub: Int, ksub: Int, iters: Int,
                         idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cents = coarseCentroids(corpus, nCentroids, idCol, embCol)
      .localCheckpoint() // consumed by 4 branches (cells ×2, residuals, q·c)
    val corpusCells = coarseAssign(corpus, cents, "neighbor_id", 1, idCol, embCol)
      .localCheckpoint() // consumed by residuals + candidates
    // residual corpus: (idCol, __r = emb − its cell's centroid)
    val resid = corpus.select(col(idCol), col(embCol).as("__e"))
      .join(corpusCells.withColumnRenamed("neighbor_id", idCol), Seq(idCol))
      .join(broadcast(cents), Seq("coarse_id"))
      .select(col(idCol), expr("float_sub(__e, __cent)").as("__r"))
    val books = codebooks(resid, m, dsub, ksub, iters, idCol, "__r")
      .localCheckpoint() // consumed by two branches (lut + encode)
    val codes = encode(resid, books, m, dsub, idCol, "__r")
      .withColumnRenamed(idCol, "neighbor_id")
    // q·r̂ terms: RAW query subvectors against the residual codebooks
    val lut = queryLut(books, queries, m, dsub, idCol, embCol)
    // q·c: one exact dot per (query, probed cell)
    val queryCells = coarseAssign(queries, cents, "query_id", nProbe, idCol, embCol)
    val qc = queries.select(col(idCol).as("query_id"), col(embCol).as("__qe"))
      .join(queryCells, Seq("query_id"))
      .join(broadcast(cents), Seq("coarse_id"))
      .select(col("query_id"), col("coarse_id"),
        expr("float_dot(__qe, __cent)").as("__qc"))
    val cand = queryCells.join(corpusCells, Seq("coarse_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("coarse_id"), col("neighbor_id"))
    val joined = cand
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(lut),
        cand("query_id") === lut("query_id") && codes("sub") === lut("sub") &&
          codes("code") === lut("cent_id"))
      .join(broadcast(qc),
        cand("query_id") === qc("query_id") && cand("coarse_id") === qc("coarse_id"))
      .select(cand("query_id"), col("neighbor_id"), codes("sub"), col("lut"), col("__qc"))
    rankAdc(joined, m, k, leadTerm = Some("__qc"))
  }

  /** Per-query codebook lookup table: (query_id, sub, cent_id, lut) —
    * lut the strict-fold dot of the query subvector with the centroid. */
  private def queryLut(books: DataFrame, queries: DataFrame, m: Int, dsub: Int,
                       idCol: String, embCol: String): DataFrame =
    subvectors(queries, m, dsub, idCol, embCol)
      .withColumnRenamed(idCol, "query_id")
      .join(broadcast(books), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cent_id"),
              expr("float_dot(subv, cent)").as("lut"))

  /** Pivot the per-(query, neighbor, sub) LUT stream into the
    * fixed-association ADC chain and rank — shared by [[adcTopK]],
    * [[ivfAdcTopK]] and [[residualIvfAdcTopK]] so the score arithmetic
    * cannot fork. `leadTerm` (the residual form's q·c column, constant
    * within each group) prepends the chain:
    * `((lead + lut₀) + …) + lut_{m-1}`. */
  private def rankAdc(joined: DataFrame, m: Int, k: Int,
                      leadTerm: Option[String] = None): DataFrame = {
    val terms = (0 until m).map(i => max(when(col("sub") === i, col("lut"))).as(s"__l$i")) ++
      leadTerm.map(t => first(col(t)).as("__lead"))
    val pivoted = joined.groupBy(col("query_id"), col("neighbor_id"))
      .agg(terms.head, terms.tail: _*)
    // fixed-association left fold over subspace order — bit-portable
    val score = (leadTerm.map(_ => col("__lead")).toSeq ++
      (0 until m).map(i => col(s"__l$i"))).reduce(_ + _)
    pivoted
      .withColumn("adc", score)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("neighbor_id")))
        .cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rnk"))
  }

  /** End-to-end PQ retrieval: learn codebooks on `corpus`, encode it,
    * and rank by the ADC score — the per-query lookup-table sum that
    * never touches the original corpus vectors. Output: (query_id,
    * neighbor_id, adc, rnk ≤ k), self-pairs excluded. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              m: Int, dsub: Int, ksub: Int, iters: Int,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val books = codebooks(corpus, m, dsub, ksub, iters, idCol, embCol)
      .localCheckpoint() // consumed by two branches (lut + encode): never re-learn
    val codes = encode(corpus, books, m, dsub, idCol, embCol)
    adcTopKWith(books, codes, queries, k, m, dsub, idCol, embCol)
  }

  /** [[adcTopK]] against a PREBUILT index (books/codes persisted or
    * written once, queried many times) — codes carry the builder's
    * (idCol, sub, code) schema. */
  def adcTopKWith(books: DataFrame, codes: DataFrame, queries: DataFrame, k: Int,
                  m: Int, dsub: Int,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val lut = queryLut(books, queries, m, dsub, idCol, embCol)
    val joined = codes
      .join(broadcast(lut), codes("sub") === lut("sub") && codes("code") === lut("cent_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), codes(idCol).as("neighbor_id"), codes("sub"), col("lut"))
    rankAdc(joined, m, k)
  }
}
