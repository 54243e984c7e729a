package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators._

/** Scale probes behind one entry point, all on [[Bench.benchSession]]
  * (`SPARK_GRAFT_CPUS`, default 4), so a probe number and a Bench
  * number come from the same session config. The session is opened
  * once per run and stopped when the command ends.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.Probe <command> [args]
  *
  * Each command keeps the arguments, timing protocol and printed lines
  * of the rows SCALING.md records for it (its "Reproducing these rows"
  * table maps the rows to commands):
  *  - `dedup [dir] [t]` — the dense-dedup ladder's plans on one
  *    shingle corpus: the AUTO dispatch and the FORCED exact plan (what
  *    a 100× corpus would run past the exact-sweep budget), with the
  *    banded plan's recall against the exact pair set.
  *  - `graph [mBase] [d] [ops]` — graph operators on a nested-core graph
  *    built at m and 10m (see [[graphEdges]]).
  *  - `vector [nBase] [ops]` — the ANN operators on a synthetic corpus
  *    at n and 10n, index build and query batches timed separately.
  *  - `ingest [gb]` — the dump → diffdb pass at 384 MB and at `gb` GB,
  *    the latter with one giant page mid-file.
  *  - `write [gb]` — the same `gb` GB corpus through the multistream
  *    write sink (narrow and default-distribution routes), then read
  *    back through the archive's own index.
  *  - `giant read|write` — one page of `GIANT_REVS` revisions of
  *    `GIANT_REV_MB` MB (default 192 × 6) through the reader or the
  *    writer, with the peak heap. Run under a small heap
  *    (`SPARK_DRIVER_MEM=2g`) to make the one-revision bound falsifiable.
  *  - `sweep <sfDir> [blockBytes]` — driver broadcast sweep vs the
  *    distributed block sweep, and the block grid's shape.
  *  - `buckets <sfDir>` — bucket balance of q104's key-range exchange.
  */
object Probe {
  private type Command = (SparkSession, Seq[String]) => Unit

  private val commands: Seq[(String, String, Command)] = Seq(
    ("dedup", "[dir] [t]", dedup),
    ("graph", "[mBase] [d] [ops]", graph),
    ("vector", "[nBase] [ops]", vector),
    ("ingest", "[gb]", ingest),
    ("write", "[gb]", write),
    ("giant", "read|write", giant),
    ("sweep", "<sfDir> [blockBytes]", sweep),
    ("buckets", "<sfDir>", buckets))

  private val usage: String =
    commands.map { case (name, args, _) => s"  $name $args" }
      .mkString("usage: graft.Probe <command> [args]; commands:\n", "\n", "")

  def main(args: Array[String]): Unit = {
    val run = commands.collectFirst { case (name, _, c) if args.headOption.contains(name) => c }
      .getOrElse(throw new IllegalArgumentException(usage))
    val spark = Bench.benchSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    try run(spark, args.toSeq.tail) finally spark.stop()
  }

  /** Seconds `f` took, and its result. */
  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Min of two back-to-back passes, and the first pass's result. */
  private def minOf2[A](f: => A): (Double, A) = {
    val (a, r) = timed(f)
    val (b, _) = timed(f)
    (math.min(a, b), r)
  }

  /** `f`'s result and the summed peak usage (MB) of the heap pools
    * while it ran. */
  private def heapPeakMb[A](f: => A): (A, Long) = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{ManagementFactory, MemoryType}
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val r = f
    (r, pools.map(_.getPeakUsage.getUsed).sum / (1 << 20))
  }

  /** The ops whose names are in the comma-separated `filter`; all when absent. */
  private def only[F](ops: Seq[(String, F)], filter: Option[String]): Seq[(String, F)] =
    filter.map(_.split(",").toSet).fold(ops)(keep => ops.filter(o => keep(o._1)))

  /** The base/10× protocol of `graph` and `vector`: at `base` and
    * 10×`base`, `build(n)` makes that scale's input (printing its own
    * header line) and returns it with its size and a release; each op
    * is timed min of 2. Ends with the size growth and each op's
    * scaling exponent e = log10(t10/t1), which solves t10 = t1 · 10^e. */
  private def scaling10x[I](tag: String, key: String, width: Int, base: Long,
      ops: Seq[(String, I => Long)], growth: (Long, Long) => String)(
      build: Long => (I, Long, () => Unit)): Unit = {
    def name(op: String) = op.padTo(width, ' ')
    val results = for (n <- Seq(base, base * 10)) yield {
      val (in, size, release) = build(n)
      val times = ops.map { case (op, f) =>
        val (t, rows) = minOf2(f(in))
        println(f"[$tag] $key=$n%-8d ${name(op)} min=$t%6.2f s rows=$rows")
        op -> t
      }.toMap
      release()
      (size, times)
    }
    val (s1, t1) = results(0)
    val (s10, t10) = results(1)
    println(s"[$tag] growth: ${growth(s1, s10)}")
    ops.foreach { case (op, _) =>
      val ratio = t10(op) / t1(op)
      println(f"[$tag] ${name(op)} t1=${t1(op)}%6.2f t10=${t10(op)}%6.2f ratio=$ratio%5.2f e=${math.log10(ratio)}%.2f")
    }
  }

  /** The dump's revisions, unpaired. */
  private def revisions(spark: SparkSession, path: String): DataFrame =
    spark.read.format("mediawiki").option("previousRevision", "false").load(path)

  private def dedup(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val dir = args.headOption.getOrElse("/tmp/sfscale")
    val t = args.lift(1).fold(0.5)(_.toDouble)
    def shingles = graft.queries.Tables.spread(spark, dir, "documents")
      .select($"doc_id", explode(expr("shingles(text, 2)")).as("shingle"))
    val st = JaccardPairs.probe(shingles)
    System.err.println(f"[dedupscale] nDocs=${st.nDocs} vocab=${st.vocabN} " +
      f"sweepOps=${st.sweepOps}%.3g invCost=${st.invCost}%.3g dense=${st.dense} " +
      f"autoExact=${st.sweepOps <= JaccardPairs.DefaultMaxExactSweepOps}")
    def time(tag: String)(mk: => DataFrame): Set[(Long, Long)] = {
      def pass() = timed(mk.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet)
      val (t1, r1) = pass()
      val (t2, r2) = pass()
      require(r1 == r2, s"$tag nondeterministic between passes")
      System.err.println(f"[dedupscale] $tag min=${math.min(t1, t2)}%.2f s " +
        f"(p1=$t1%.2f p2=$t2%.2f) pairs=${r1.size}")
      r1
    }
    val exact = time(s"exact-forced t=$t") {
      JaccardPairs.pairsFromStats(shingles, st, t, maxExactSweepOps = Double.MaxValue)
    }
    val banded = time(s"auto/banded t=$t")(JaccardPairs.pairsFromStats(shingles, st, t))
    val missed = exact -- banded
    val extra = banded -- exact
    System.err.println(s"[dedupscale] banded recall=${
      if (exact.isEmpty) 1.0 else (exact.size - missed.size).toDouble / exact.size
    } missed=${missed.size} extra=${extra.size} (extra must be 0: exact verify)")
    require(extra.isEmpty, "banded emitted a pair the exact path did not")
  }

  /** A nested-core graph that actually grows with m (the registry's
    * graphs derive edges from `doc_id % m`, so the 10× tiler collapses
    * every copy onto the same graph):
    *
    *   nodes 0..m-1; for offset q in 1..d, edge (r, (r+q) mod m) kept
    *   iff r·q < m  →  degree(r) ≈ 2·min(d, m/r)
    *
    * - edges ≈ m·H(d) (harmonic): scaling m by 10 scales nodes AND
    *   edges by 10 at a constant degree distribution;
    * - degrees are heterogeneous (max 2d), so k-core peels through many
    *   rounds instead of one uniform drop;
    * - offsets compose (q1 + q2 = q3 closes a wedge): triangle-rich,
    *   with ≈ 2·m·d wedges, so Triangles' O(Σ deg²) term grows
    *   linearly with m.
    */
  private def graphEdges(spark: SparkSession, m: Long, d: Int): DataFrame =
    spark.range(m * d)
      // integer div: `/` on longs is DOUBLE division in Spark and
      // would fabricate fractional node ids
      .select((col("id") % m).as("r"), (expr(s"id div ${m}L") + 1).as("q"))
      .filter(col("r") * col("q") < m)
      .select(col("r").as("src"), ((col("r") + col("q")) % m).as("dst"))

  private def graph(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val mBase = args.headOption.fold(200000L)(_.toLong)
    val d = args.lift(1).fold(32)(_.toInt)
    // driverLimit = 0 everywhere (driverPeelLimit for kcore): the probe
    // times the DISTRIBUTED rounds at both scales. The driver finish
    // would take the base scale (~800k edges, under its 4M cap) but not
    // the 10× one, so each exponent would compare two algorithms.
    val ops: Seq[(String, DataFrame => Long)] = only(Seq(
      "triangles" -> { e => Triangles.perNode(e, driverLimit = 0L).count() },
      // allowPartial: the harmonic construction peels one layer per
      // round by design and hits maxRounds at every scale; the probe
      // measures the capped peel
      "kcore_k8" -> { e =>
        KCore.core(e, k = 8, allowPartial = true, driverPeelLimit = 0L).count() },
      "hits_i2" -> { e => Hits.hubsAuthsInt(e, iters = 2, driverLimit = 0L).count() },
      "pagerank_i2" -> { e => PageRank.ranksInt(e, iters = 2, driverLimit = 0L).count() },
      "lpa_r4" -> { e =>
        LabelProp.communities(e.select($"src".as("node")).distinct(),
          e.select($"src".as("a"), $"dst".as("b")), rounds = 4, driverLimit = 0L).count() },
      "cc" -> { e =>
        ConnectedComponents.labels(e.select($"src".as("doc_id")).distinct(),
          e.select($"src".as("doc_a"), $"dst".as("doc_b")), driverLimit = 0L).count() }),
      args.lift(2))
    scaling10x("graphscale", "m", 12, mBase, ops,
        (e1, e10) => f"nodes 10.0x edges ${e10.toDouble / e1}%.1fx") { m =>
      val e = graphEdges(spark, m, d).persist()
      val ne = e.count()
      println(f"[graphscale] m=$m%d edges=$ne%d")
      (e, ne, () => e.unpersist())
    }
  }

  /** One scale of `vector`: the corpus, a 256-query batch and an index
    * built once (an index outlives many query batches, so the q_* ops
    * time queries against it and `build` times the one-time cost). */
  private case class VectorAtScale(c: DataFrame, q: DataFrame, books: DataFrame,
      codes: DataFrame, cents: DataFrame, cells: DataFrame)

  /** Deterministic corpus: element j of vector id is a QUADRATIC
    * integer-hash residue mapped to [-0.5, 0.5). An affine hash would
    * make every vector an arithmetic progression mod p (skewed IVF
    * cells, concentrated dots); the x·(x+7) term breaks that. The float
    * cast keeps the schema of the sf tables. */
  private def vectorCorpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 63),
             |  j -> cast(pmod((id + j * 131L) * (id + j * 131L + 7L), 16777213) / 16777213.0 - 0.5 as float))"""
        .stripMargin).as("embedding"))

  private def vector(spark: SparkSession, args: Seq[String]): Unit = {
    val nBase = args.headOption.fold(100000L)(_.toLong)
    val M = 8; val DSUB = 8; val KSUB = 16; val ITERS = 1
    val ops: Seq[(String, VectorAtScale => Long)] = only(Seq(
      // one-time costs: the learner + encode scan, and the coarse
      // assignment the IVF form adds
      "build" -> { v =>
        val books = ProductQuantize.codebooks(v.c, M, DSUB, KSUB, ITERS).localCheckpoint()
        ProductQuantize.encode(v.c, books, M, DSUB).count() },
      "build_ivf" -> { v =>
        val cents = ProductQuantize.coarseCentroids(v.c, 64).localCheckpoint()
        ProductQuantize.coarseAssign(v.c, cents, "neighbor_id", 1).count() },
      // per-query-batch costs against the prebuilt index
      "q_flat" -> { v =>
        ProductQuantize.adcTopKWith(v.books, v.codes, v.q, k = 5, M, DSUB).count() },
      "q_ivf" -> { v =>
        ProductQuantize.ivfAdcTopKWith(v.books, v.codes.withColumnRenamed("vec_id", "neighbor_id"),
          v.cents, v.cells, v.q, k = 5, nProbe = 4, M, DSUB).count() },
      "brute" -> { v => Similarity.bruteForceTopK(v.c, v.q, k = 5).count() },
      // the stream ops' CALL cost on a 1024-query batch, including their
      // per-call index build + collect (the broadcast-per-call contract)
      "kernel_pq" -> { v =>
        graft.streaming.StreamOps.annStreamPq(v.c.filter(col("vec_id") < 1024), v.c, k = 5,
          M, DSUB, KSUB, ITERS, maxBroadcastVecs = 1L << 24).count() },
      "kernel_ivfpq" -> { v =>
        graft.streaming.StreamOps.annStreamIvfPq(v.c.filter(col("vec_id") < 1024), v.c, k = 5,
          nCentroids = 64, nProbe = 4, M, DSUB, KSUB, ITERS, maxBroadcastVecs = 1L << 24).count() }),
      args.lift(1))
    scaling10x("vectorscale", "n", 10, nBase, ops,
        (n1, n10) => f"vectors ${n10.toDouble / n1}%.1fx") { n =>
      val c = vectorCorpus(spark, n).persist()
      val rows = c.count()
      // 256 queries: enough batch to amortize the IVF form's extra join
      // stages (at 10 queries fixed stage latency swamps its 16×
      // candidate cut)
      val q = c.filter(col("vec_id") < 256).persist()
      q.count()
      val books = ProductQuantize.codebooks(c, M, DSUB, KSUB, ITERS).localCheckpoint()
      // the production index layout: pre-partitioned by the query-join
      // key (InMemoryRelation keeps outputPartitioning, so the per-batch
      // candidate join reuses it instead of re-shuffling all codes)
      val codes = ProductQuantize.encode(c, books, M, DSUB).repartition(col("vec_id")).persist()
      codes.count()
      val cents = ProductQuantize.coarseCentroids(c, 64).localCheckpoint()
      val cells = ProductQuantize.coarseAssign(c, cents, "neighbor_id", 1).persist()
      cells.count()
      println(f"[vectorscale] n=$n%d rows=$rows%d")
      (VectorAtScale(c, q, books, codes, cents, cells), rows,
        () => Seq(c, q, codes, cells).foreach(_.unpersist()))
    }
  }

  private val GB = 1L << 30

  /** The `ingest` and `write` dumps past 512 MB carry one giant page
    * (64 revisions × ~3 MB) mid-file: the page-start-ownership worst
    * case, where one task owns the whole page. */
  private def mixedGiant(targetBytes: Long): Option[Bench.Giant] =
    if (targetBytes > 512L * 1024 * 1024) Some(Bench.Giant(64, 3)) else None

  private def ingest(spark: SparkSession, args: Seq[String]): Unit = {
    val gb = args.headOption.fold(4.0)(_.toDouble)
    spark.conf.set("spark.sql.files.maxPartitionBytes", String.valueOf(4 * 1024 * 1024))
    // small first (warms the whole pipeline), then the big anchor
    for (target <- Seq(384L * 1024 * 1024, (gb * GB).toLong))
      Bench.withSynthDump(target, mixedGiant(target)) { f =>
        val sizeMb = f.length() / 1e6
        val pre = Bench.miniCanary()
        // Bench's adaptive warm-up, scaled down: big passes are long
        // enough (~5 s at 4 GB) that C2 settles in far fewer passes
        val times = scala.collection.mutable.ArrayBuffer[Double]()
        def settled = times.length >= 6 && times.takeRight(2).forall(_ <= times.min * 1.08)
        val cap = if (target > GB) 8 else 12
        while (times.length < cap && !settled) times += Bench.ingestPass(spark, f)
        val post = Bench.miniCanary()
        val sec = times.min
        println(f"INGESTSCALE size_mb=$sizeMb%.1f sec=$sec%.2f mbps=${sizeMb / sec}%.1f " +
          f"canary=[$pre%.3f,$post%.3f] warm=${times.map(t => f"$t%.2f").mkString("[", ",", "]")}")
      }
  }

  private def write(spark: SparkSession, args: Seq[String]): Unit = {
    val target = (args.headOption.fold(4.0)(_.toDouble) * GB).toLong
    spark.conf.set("spark.sql.files.maxPartitionBytes", String.valueOf(16 * 1024 * 1024))
    Bench.withSynthDump(target, mixedGiant(target)) { f =>
      val sizeMb = f.length() / 1e6
      System.err.println(f"[write-scale] source dump ${sizeMb}%.0f MB")
      val src = revisions(spark, f.getAbsolutePath)
      val srcRows = src.count()
      // a siteinfo header, so ns skip-planning engages on the WRITTEN
      // archive (ns classification needs the namespace table the
      // writer embeds, as a real re-shard must keep it)
      val header = "<mediawiki>\n  <siteinfo>\n    <namespaces>\n" +
        "      <namespace key=\"0\" />\n      <namespace key=\"1\">Talk</namespace>\n" +
        "    </namespaces>\n  </siteinfo>\n"
      // the planner memoizes index plans only for files past its settle window
      val past = System.currentTimeMillis() - 60000
      def save(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
          dir: java.nio.file.Path): Double = {
        val (sec, _) = timed(w.format("mediawiki")
          .option("multistreamPagesPerStream", "100") // the published Wikipedia grouping
          .option("multistreamHeader", header)
          .mode("append").save(dir.toString))
        dir.toFile.listFiles().foreach(_.setLastModified(past))
        sec
      }
      Bench.withTempDir("write-scale-out") { outDir =>
        val pre = Bench.miniCanary()
        // assumeGrouped: straight out of the reader, no shuffle
        val wsec = save(src.write.option("assumeGrouped", "true"), outDir)
        val outFiles = outDir.toFile.listFiles()
        val outMb = outFiles.filter(_.getName.endsWith(".xml.bz2")).map(_.length()).sum / 1e6
        val nIdx = outFiles.count(_.getName.endsWith("-index.txt"))
        def indexRead = revisions(spark, outDir.toString)
        // full read-back: per-stream planning over the archive
        val full = indexRead
        val fullParts = full.rdd.getNumPartitions
        val (rsec, backRows) = timed(full.count())
        require(backRows == srcRows, s"round-trip row drift: $srcRows -> $backRows")
        // a pushed page_id lookup: the index must skip dead streams
        // before decompressing them
        val oneId = 100L
        val lookup = indexRead.where(col("page_id") === oneId)
        val lookupParts = lookup.rdd.getNumPartitions
        val (lsec, lookupRows) = timed(lookup.count())
        require(lookupRows > 0, s"page $oneId not found in the written archive")
        require(lookupParts * 20 <= fullParts,
          s"page_id lookup planned $lookupParts of $fullParts partitions — index skip not engaged")
        // a pushed ns filter through the writer-embedded siteinfo: all
        // pages are main-ns, so articles-only keeps every row while ns
        // classification demonstrably engaged
        val (nssec, nsRows) = timed(indexRead.where(col("ns") === 0).count())
        require(nsRows == srcRows, s"ns=0 read must keep all rows: $srcRows -> $nsRows")
        // the DEFAULT-distribution route (clustering shuffle on page_id +
        // within-page sort), which any frame not shaped like the reader's
        // output takes: the narrow number measures the writer alone, this
        // one adds the shuffle a real re-shard pays
        Bench.withTempDir("write-scale-def") { defDir =>
          val dsec = save(src.write, defDir)
          // content parity with the narrow route, order-free: the routes
          // partition differently, so row order and archive bytes differ
          // but the revision content must not
          def digest(dir: java.nio.file.Path): String = revisions(spark, dir.toString)
            .select(sum(xxhash64(col("page_id"), col("title"), col("ns"), col("redirect"),
              col("rev_seq"), to_json(col("curr"))).cast("decimal(38,0)")).as("d"))
            .collect()(0).get(0).toString
          val (dNarrow, dDefault) = (digest(outDir), digest(defDir))
          require(dNarrow == dDefault,
            s"default-route archive content diverges from assumeGrouped: $dNarrow vs $dDefault")
          val post = Bench.miniCanary()
          println(f"WRITESCALE size_mb=$sizeMb%.1f write_sec=$wsec%.2f write_mbps=${sizeMb / wsec}%.1f " +
            f"def_write_sec=$dsec%.2f def_write_mbps=${sizeMb / dsec}%.1f " +
            f"out_bz2_mb=$outMb%.1f n_archives=$nIdx full_parts=$fullParts readback_sec=$rsec%.2f " +
            f"readback_mbps=${sizeMb / rsec}%.1f lookup_parts=$lookupParts lookup_sec=$lsec%.2f " +
            f"ns_sec=$nssec%.2f rows=$srcRows digest_parity=ok canary=[$pre%.3f,$post%.3f]")
        }
      }
    }
  }

  /** The reference's hard case: one GB-scale page with very many
    * revisions, which must never be materialized whole. The reader
    * holds at most prev+curr revision per task and the writer streams
    * each revision into the open bz2 stream, so peak heap is bounded
    * by a couple of revisions, not the page: a page-buffering
    * implementation OOMs at 2 g on the default ~1.2 GB page. */
  private def giant(spark: SparkSession, args: Seq[String]): Unit = {
    val side = args.headOption.getOrElse("")
    require(side == "read" || side == "write", usage)
    val revs = sys.env.getOrElse("GIANT_REVS", "192").toInt
    val revMb = sys.env.getOrElse("GIANT_REV_MB", "6").toInt
    val heapMb = Runtime.getRuntime.maxMemory / (1 << 20)
    Bench.withSynthDump(0L, Some(Bench.Giant(revs, revMb))) { f =>
      val sizeMb = f.length() / 1e6
      val tag = if (side == "read") "giant" else "giant-write"
      System.err.println(f"[$tag] dump ${sizeMb}%.0f MB, 1 page, $revs revisions of ~$revMb MB")
      if (side == "read") {
        val ((sec, out), peakMb) = heapPeakMb(timed(GraftFunctions.diffdb(
          spark.read.format("mediawiki").load(f.getAbsolutePath))
          .selectExpr("sum(size(diffs)) AS ops", "count(*) AS rows").collect()(0)))
        val (ops, rows) = (out.getLong(0), out.getLong(1))
        require(rows == revs.toLong, s"expected $revs diffdb rows, got $rows")
        require(ops > 0, "expected non-empty diffs")
        println(f"""{"metric":"giant_page","dump_mb":$sizeMb%.0f,"revs":$revs,"rows":$rows,"ops":$ops,"sec":$sec%.1f,"mbps":${sizeMb / sec}%.1f,"peak_heap_mb":$peakMb,"max_heap_mb":$heapMb}""")
      } else Bench.withTempDir("giant-write-out") { outDir =>
        // assumeGrouped: narrow read → write, no shuffle
        val ((wsec, _), peakMb) = heapPeakMb(timed(revisions(spark, f.getAbsolutePath)
          .write.format("mediawiki").option("assumeGrouped", "true")
          .mode("append").save(outDir.toString)))
        // the written archive must be a real multistream (dump + index)
        // and read back through this source's own reader
        val outFiles = outDir.toFile.listFiles()
        val names = outFiles.map(_.getName)
        require(names.exists(_.endsWith(".xml.bz2")) && names.exists(_.endsWith("-index.txt")),
          s"expected dump+index, got ${names.mkString(",")}")
        val outMb = outFiles.filter(_.getName.endsWith(".xml.bz2")).map(_.length()).sum / 1e6
        val (rsec, back) = timed(revisions(spark, outDir.toString)
          .selectExpr("count(*) AS rows", "sum(length(curr.text)) AS chars").collect()(0))
        require(back.getLong(0) == revs.toLong, s"expected $revs revisions back, got ${back.getLong(0)}")
        require(back.getLong(1) > 0L, "expected non-empty text back")
        println(f"""{"metric":"giant_page_write","dump_mb":$sizeMb%.0f,"revs":$revs,"write_sec":$wsec%.1f,"write_mbps":${sizeMb / wsec}%.1f,"out_bz2_mb":$outMb%.0f,"readback_sec":$rsec%.1f,"peak_heap_mb":$peakMb,"max_heap_mb":$heapMb}""")
      }
    }
  }

  /** Driver broadcast sweep vs distributed block sweep on one shingle
    * frame, equal pair counts asserted, both min of 2. The block budget
    * is passed small so a local run exercises a REAL grid: at its 64 MB
    * default a 50k-doc corpus is one block, i.e. one task. */
  private def sweep(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val dir = args.headOption.getOrElse(throw new IllegalArgumentException(usage))
    val blockBytes = args.lift(1).fold(4L * 1024 * 1024)(_.toLong)
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", explode(expr("shingles(text, 2)")).as("shingle"))
    val (tDrv, nDrv) = minOf2(JaccardPairs.pairs(sh, 0.5).count())
    val (tBlk, nBlk) = minOf2(
      JaccardPairs.blockSweepPairs(sh, 0.5, targetBlockBytes = blockBytes).count())
    println(f"[sweepprobe] dir=$dir blockBytes=$blockBytes")
    // gen_scale.py stamps BASE_FINGERPRINT.json with match=false when the
    // base sf0.1 corpus drifted from the committed fingerprint; rows
    // from such a corpus must not be compared against earlier ones
    val fpFile = new java.io.File(dir, "BASE_FINGERPRINT.json")
    if (fpFile.isFile) {
      val fp = scala.io.Source.fromFile(fpFile)
      val ok = try fp.mkString.contains("\"match\": true") finally fp.close()
      println(s"[sweepprobe] base fingerprint match=$ok" +
        (if (ok) "" else "  <-- NOT comparable to prior rounds"))
    } else println("[sweepprobe] base fingerprint: no stamp (pre-r11 corpus?)")
    println(f"[sweepprobe] driver-dispatch min=$tDrv%6.2f s pairs=$nDrv")
    println(f"[sweepprobe] block-sweep     min=$tBlk%6.2f s pairs=$nBlk")
    assert(nDrv == nBlk, s"pair counts diverge: $nDrv vs $nBlk")
    // the grid's shape, from the same sizing and id → block assignment
    // the sweep uses: per-task resident memory is exactly the two block
    // signature sets a task receives, and load balance is the pair-ops
    // spread across the B(B+1)/2 tasks
    val docs = sh.select($"doc_id".cast("long")).distinct().as[Long].collect()
    val vocabN = sh.select($"shingle").distinct().count()
    val nWords = math.max((vocabN + 63) >>> 6, 1L)
    val nBlocks = BlockGrid.nBlocksFor(docs.length.toLong, nWords, blockBytes)
    val cnt = new Array[Long](nBlocks)
    docs.foreach(id => cnt(BlockGrid.blockOf(id, nBlocks)) += 1)
    var maxBytes = 0L; var maxOps = 0.0; var sumOps = 0.0; var tasks = 0
    for (lo <- 0 until nBlocks; hi <- lo until nBlocks) {
      val bytes = (if (lo == hi) cnt(lo) else cnt(lo) + cnt(hi)) * nWords * 8
      val ops = if (lo == hi) cnt(lo).toDouble * (cnt(lo) - 1) / 2 * nWords
                else cnt(lo).toDouble * cnt(hi) * nWords
      maxBytes = math.max(maxBytes, bytes)
      maxOps = math.max(maxOps, ops); sumOps += ops; tasks += 1
    }
    println(f"[sweepprobe] grid: nDocs=${docs.length} vocab=$vocabN words=$nWords blocks=$nBlocks tasks=$tasks")
    println(f"[sweepprobe] grid: block docs min=${cnt.min} mean=${docs.length.toDouble / nBlocks}%.0f max=${cnt.max}")
    println(f"[sweepprobe] grid: task resident max=${maxBytes / 1024.0 / 1024.0}%.1f MB (≤ 2 blocks), pair-op skew max/mean=${maxOps / (sumOps / tasks)}%.2f")
  }

  /** Per-bucket row counts of [[RepeatedSequences.topRepeats]]'s
    * deterministic key-range exchange (q104): the bucket cut tiebreak
    * includes (doc_id, position) so a hot repeated sequence cannot
    * form a straggler bucket, and this shows whether that holds. */
  private def buckets(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val dir = args.headOption.getOrElse(throw new IllegalArgumentException(usage))
    val win = RepeatedSequences.windows(spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", window = 8).persist()
    val sizes = win
      .withColumn("__b", RepeatedSequences.windowBucket(win, spark.sparkContext.defaultParallelism))
      .groupBy("__b").count().orderBy($"count".desc)
      .as[(Int, Long)].collect()
    win.unpersist()
    val counts = sizes.map(_._2)
    val mean = counts.sum.toDouble / counts.length
    println(f"[bucketstats] dir=$dir buckets=${counts.length} rows=${counts.sum}")
    println(f"[bucketstats] min=${counts.min} mean=$mean%.0f max=${counts.max} " +
      f"max/mean=${counts.max / mean}%.2f")
    println(s"[bucketstats] top5=${sizes.take(5).mkString(", ")}")
  }
}
