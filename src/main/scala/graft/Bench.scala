package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** THE bench session config — one definition for Bench's main
    * session, the in-JVM steady fallback, and [[SteadyBench]]'s child
    * (whose Scaladoc contract is "same session config as Bench"): a
    * config added in one place and not the others would make
    * steady-vs-measured deltas adjudicate as phantom engine drift.
    * codegen.cache.maxEntries: the default 100-entry cache thrashes on
    * a 50+-query sweep — r3 recorded q32 at 12.4s vs 0.83s because the
    * "measurement" timed Janino recompilation. */
  private[graft] def benchSession(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Survive stolen host windows instead of dying: two r15 bench
      // windows CRASHED with executor exit 56 (HEARTBEAT_FAILURE —
      // ~10 min of descheduling starved the in-JVM heartbeat past
      // maxFailures; at local[32] the heartbeat is pure overhead, there
      // is no remote executor to detect). A burst now degrades the
      // numbers (adjudicable via the canary series) rather than killing
      // the artifact (unrecoverable). r15 verdict #4.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.executor.heartbeat.maxFailures", "240")
      .config("spark.network.timeout", "1200s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = benchSession(cpus)
    // warm the session (codegen, shuffle machinery) and the OS page
    // cache for EVERY table uniformly, so the first measured query
    // doesn't absorb JVM startup and no query gets a selectively warm
    // cache
    spark.range(1000000).selectExpr("sum(id)").collect()
    val tableRows = Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents", "embeddings")
      .map { tbl =>
        tbl -> (try spark.read.parquet(s"$sfDir/$tbl.parquet").count()
                catch { case _: Throwable => -1L })
      }
    // data fingerprint: the driver REGENERATES the testdata between
    // rounds, and r10 adjudication found the documents corpus' bigram
    // vocabulary DOUBLED round-over-round (157 → 335 signature words)
    // — which moves every dense-sweep query by design. Cross-round
    // per-query comparisons are only valid when these match; carrying
    // them makes the artifact self-adjudicating (artifact file only).
    val dataStats = try {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
      val r = d.selectExpr("sum(length(text)) AS chars").collect()(0).getLong(0)
      val vocab = d.selectExpr("explode(shingles(text, 2)) AS s")
        .select("s").distinct().count()
      s""""documents_chars":$r,"documents_bigram_vocab":$vocab"""
    } catch { case _: Throwable => "\"documents_chars\":-1" }
    val tableRowsJson = tableRows.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // ingest measured on the freshly-warmed session, before the query
    // sweep: 36 prior queries measurably degrade the JVM (codegen
    // cache churn, profile pollution) and halve observed throughput
    // r5-r7 showed the official numbers are dominated by cross-session
    // machine state (same build measured 1044 → 557 MB/s ingest and a
    // uniform 1.49× query-sweep slowdown between two "quiet" sessions —
    // load_avg can't see host-level slowness). The canary makes the
    // artifact self-adjudicating: a fixed register-arithmetic loop
    // whose time scales with effective single-thread speed, so any two
    // artifacts can be compared via their canary ratio.
    val canary = cpuCanary()
    val canaryMt = cpuCanaryMt()
    val loadStart = systemLoad()
    val (ingest, warmCurve, warmTag) = ingestMbps(spark)
    val loadEnd = systemLoad()
    // uniform per-query warmup at the smallest SF: compiles each
    // query's codegen units and JITs its kernels, so the measured runs
    // below reflect steady-state execution at the target SF rather
    // than one-shot compilation (~1-3s per complex query). Identical
    // treatment for every query — no selective caching of data.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.foreach { case (_, fn) =>
        try { fn(spark, warmDir).count() } catch { case _: Throwable => }
      }
    }
    // measure each query as the MIN OF TWO back-to-back passes at the
    // target SF: the first pass absorbs whatever JVM damage the
    // session has accumulated (codegen-cache evictions re-compiling,
    // deoptimized traces after the multi-GB ingest phase, GC debt) and
    // the second reflects steady-state execution — what a long-running
    // engine actually delivers. r3 measured single passes and the
    // harness-induced first-pass penalty inflated q31/q32/q33 by
    // 8-21× their fresh-session times; the engine was fine, the
    // thermometer wasn't. The driver's contract (total = sum of
    // per-query measured seconds) is unchanged.
    // mid-sweep canary series: r9→r10's +23% drift on 163 common
    // queries was invisible to the edge canaries (taken before the
    // sweep) — host steal that starts MID-sweep leaves no trace in the
    // artifact. A ~0.1s single-thread probe every ~30 queries records
    // the host's effective speed across the measurement window itself
    // (artifact file only), so future drift self-adjudicates: flat
    // series + slower queries = build; elevated series = host.
    // ... and an MT twin: r13's artifact had FLAT single-thread sweep
    // canaries (0.065-0.071) while load_avg sat at 7-8.6 and the quiet-
    // window rerun of the same build was uniformly ~12% faster — multi-
    // thread core steal is invisible to a single-thread probe (the r7
    // lesson). One ~0.1s all-core probe per sample closes that gap.
    val sweepCanary = scala.collection.mutable.ArrayBuffer[Double]()
    val sweepCanaryMt = scala.collection.mutable.ArrayBuffer[Double]()
    var qIdx = 0
    val results = SparkEntry.queries.map { case (name, fn) =>
      if (qIdx % 30 == 0) { sweepCanary += miniCanary(); sweepCanaryMt += miniCanaryMt() }
      qIdx += 1
      def onePass(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        (System.nanoTime() - t0) / 1e9
      }
      name -> math.min(onePass(), onePass())
    }
    sweepCanary += miniCanary(); sweepCanaryMt += miniCanaryMt()
    // millisecond precision: 9-fractional-digit doubles bloated the
    // line ~40% and the driver's tail capture truncated mid-JSON,
    // losing 15 of 70 per-query numbers in r5
    def ms(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // steady-state twin for the 15 slowest, measured in a FRESH FORKED
    // JVM (graft.SteadyBench: same session config, same warm protocol,
    // min-of-2): r11's in-JVM third pass ran after the full sweep in a
    // JVM the notes call ~2× degraded (codegen churn, JIT deopt, GC
    // debt) and ANTI-adjudicated exactly the rows it covered (q180
    // 15.84 vs 7.95 measured). A canary can't see in-JVM degradation —
    // only a fresh process removes it. Recorded in the artifact file
    // ONLY; `steady_jvm` says which path produced the numbers, and the
    // child's own edge mini-canaries keep host-steal adjudication for
    // the steady window. Falls back to the old in-JVM third pass
    // (tagged "inherited") if the spawn fails, so the field never
    // silently disappears.
    // watch list: queries flagged by a past round's verdict ride along
    // in the fresh steady JVM even when they are nowhere near the 15
    // slowest, so a flagged one-off always has a second same-round
    // sample in the artifact (r13: q1's 5× break had none — the quiet
    // rerun that adjudicated it as host load lived in a different
    // commit). Costs their own runtime only (~0.2 s for q1).
    // r14 adds q109/q43: their r14 steady rows were sampled only inside
    // the loaded child window (load 10.78), so the artifact could not
    // separate host from engine for them — ride until a clean sample.
    // r15 adds q44/q151: consistent flat-canary steady rows ~2.4× above
    // their implied r14 quiet level inside a loaded child window, zero
    // code change — the one shape the canaries cannot adjudicate
    // (memory-bandwidth contention is invisible to a register spinner);
    // ride until a quiet window closes or confirms them (verdict r15 #2)
    val watchNames = Seq("q1_pricing_summary", "q109_kcore",
      "q43_repetition_filter", "q44_tfidf_topterms",
      "q151_snapshot_diff").filter(results.contains)
    val steadyNames = (results.toSeq.sortBy(-_._2).take(15).map(_._1) ++
      watchNames).distinct
    // STOP the parent session before the child runs: r14's artifact
    // caught the steady child inflated 2-4x (q109 9.1/17.9 s vs 3.3
    // measured) with elevated per-query canaries, while the SAME
    // 16-query child run in isolation minutes later was flat-normal —
    // the one systematic difference is this parent JVM sitting
    // resident with 32 executor threads and a full-sweep heap while
    // the child measures. Everything the parent still needs
    // (results, fixtures set, canaries) is computed above; the rare
    // in-JVM fallback rebuilds a session below.
    spark.stop()
    val (steadyJson, steadyCanaryJson, steadyJvm, steadyMemGb, steadyHostile, steadyDetail) =
      freshJvmSteady(sfDir, steadyNames) match {
        case Some((sj, scj, mem, hostile, body)) =>
          (sj, scj, "fresh", mem, hostile, body)
        case None =>
          // the fallback session is brand-new and UNWARMED — a raw
          // first pass would time codegen/JIT compilation (8-21x, the
          // r3 lesson) and anti-adjudicate as a phantom steady
          // regression. Same warm protocol as the child: sf0.001 warm,
          // one discarded target-SF pass, then min-of-2.
          val s2 = benchSession(cpus)
          val warmDir2 = "/root/testdata/sf0.001"
          val steady = steadyNames.map { name =>
            val fn = SparkEntry.queries(name)
            if (new java.io.File(warmDir2).isDirectory)
              try fn(s2, warmDir2).count() catch { case _: Throwable => }
            def onePass(): Double = {
              val t0 = System.nanoTime()
              val ok = try { fn(s2, sfDir).count(); true }
                       catch { case _: Throwable => false }
              if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
            }
            onePass() // discarded target-SF warm
            val (a, b) = (onePass(), onePass())
            name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
          }
          s2.stop()
          (steady.map { case (k, v) => "\"" + k + "\":" + ms(v) }
            .mkString("{", ",", "}"), "[]", "inherited", "-1", "{}", "{}")
      }
    // the ingest number moved 855.5 -> 672.8 between r3 and r4 with a
    // byte-identical kernel and could not be adjudicated from the
    // artifact — so the artifact now carries its own evidence: the
    // actual JVM the driver's invocation produced (did the build.sbt
    // fork opts apply?), the full per-pass warm curve, and the host
    // load before/after the measurement window.
    val curve = warmCurve.map(t => f"$t%.3f").mkString("[", ",", "]")
    // fixture queries synthesize their own input (dump render, streaming
    // job + file sink) per invocation — their numbers measure fixture
    // I/O, not engine throughput, and q168 alone (2.7s) distorts the
    // headline total. The artifact tags them and carries an engine-only
    // subtotal; the driver's total contract (sum over ALL queries) is
    // unchanged.
    val fixtures = results.keySet.filter(FixtureQueries)
    val fixturesJson = fixtures.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val engineTotal = results.collect {
      case (k, v) if !fixtures(k) => v }.sum
    val sweepCanaryJson = sweepCanary.map(t => f"$t%.3f")
      .mkString("[", ",", "]")
    val sweepCanaryMtJson = sweepCanaryMt.map(t => f"$t%.3f")
      .mkString("[", ",", "]")
    // steady_detail: the child's FULL marker body, verbatim — per-query
    // pass walls, per-micro-batch durations, per-query canaries, MT edge
    // canaries, child load averages. Artifact file only (unbounded
    // file, not the stdout line); makes steady outliers self-adjudicating
    // without a rerun (r13 verdict #1).
    val json = s"""{"metric":"total","value":${ms(total)},"unit":"sec","engine_total":${ms(engineTotal)},"fixture":$fixturesJson,"queries":$qs,"steady":$steadyJson,"steady_jvm":"$steadyJvm","steady_canary_sec":$steadyCanaryJson,"steady_mem_avail_gb":$steadyMemGb,"steady_hostile":$steadyHostile,"steady_detail":$steadyDetail,"sweep_canary_sec":$sweepCanaryJson,"sweep_canary_mt_sec":$sweepCanaryMtJson,"sf":"$sfDir","table_rows":$tableRowsJson,"data":{$dataStats},"ingest_mbps":$ingest,"ingest_warm_sec":$curve,"ingest_warm_tag":"$warmTag","jvm":"${jvmProfile()}","env":${envOverrides()},"canary_sec":$canary,"canary_mt_sec":$canaryMt,"load_avg":[$loadStart,$loadEnd]}"""
    // a file copy makes the artifact recoverable even if the driver's
    // stdout tail capture truncates (it did, twice: r4/r5 recorded
    // "parsed": null); cwd is the repo when sbt runs. Only a 32-core
    // run writes bench_last.json; any other core count writes
    // bench_c<N>_last.json, so it can never overwrite the 32-core anchor
    val artifact = if (cpus == "32") "bench_last.json" else s"bench_c${cpus}_last.json"
    try {
      val pw = new java.io.PrintWriter(artifact)
      try pw.println(json) finally pw.close()
    } catch { case _: Throwable => }
    // The stdout line must survive the driver's bounded tail capture
    // (a hard 2000-char window): every per-query scheme outgrew it —
    // r6's full-name line was ~3.3 KB at 90 queries, and even the
    // "compact qNN twin" hit ~2.2 KB at 142 queries, so "parsed" came
    // up null in ALL SEVEN rounds. The stdout line is now SUMMARY-ONLY
    // with a fixed-size query section (the 20 slowest, by short key,
    // ~260 chars) — it cannot grow with query count. The full per-query
    // map and warm curve live in the artifact file, which the line names.
    val slowest = results.toSeq.sortBy(-_._2).take(20).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + ms(v)
    }.mkString("{", ",", "}")
    val jsonShort = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"queries":$slowest,"queries_note":"slowest 20 of ${results.size}; full map in $artifact","per_query":"$artifact","sf":"$sfDir","ingest_mbps":$ingest,"ingest_warm_tag":"$warmTag","jvm":"${jvmProfile()}","env":${envOverrides()},"canary_sec":$canary,"canary_mt_sec":$canaryMt,"load_avg":[$loadStart,$loadEnd]}"""
    // hard guarantee: the line fits the driver's capture window with
    // headroom for the capture's own framing. The query section is
    // fixed-size, so this can only trip if a pathological env value
    // sneaks in — fail loudly rather than silently overflow again.
    require(jsonShort.length < 1500,
      s"bench stdout line ${jsonShort.length} chars >= 1500 — would overflow the driver's tail capture")
    // the session was stopped before the steady child (see above), so
    // this is already the final stdout line — Spark's console logging
    // cannot interleave after it
    println(jsonShort)
  }

  /** Fixture-dominated queries — tagged beside the registry
    * ([[SparkEntry.fixtureQueries]]) so registration and tagging are
    * one edit. They stay in the driver total; the artifact's
    * `engine_total` excludes them. */
  private def FixtureQueries: Set[String] = SparkEntry.fixtureQueries

  /** Spawn [[SteadyBench]] in a fresh JVM (same classpath, same fork
    * opts, same env) and parse its marker line. Returns the steady map
    * JSON, the child's edge-canary pair, the child's MemAvailable
    * at start (GiB; "-1" when absent), and the FULL marker body (the
    * always-on trace evidence, embedded verbatim as `steady_detail`) —
    * or None if the spawn failed in any way (missing java, non-zero
    * exit, timeout, no marker line); the caller falls back to the
    * in-JVM pass. */
  /** Balanced-brace object extraction: returns the `{...}` that starts
    * at `start` (which must index a '{'), spanning nested objects —
    * `indexOf("}")` only works for flat maps. No strings containing
    * braces occur in the marker (query names and numbers only). */
  private def braceSpan(body: String, start: Int): Option[String] = {
    if (start < 0 || start >= body.length || body.charAt(start) != '{') return None
    var depth = 0
    var i = start
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '{') depth += 1
      else if (c == '}') { depth -= 1; if (depth == 0) return Some(body.substring(start, i + 1)) }
      i += 1
    }
    None
  }

  private def freshJvmSteady(sfDir: String,
      names: Seq[String]): Option[(String, String, String, String, String)] =
    try {
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"), "java")
      if (!javaBin.isFile) return None
      val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin.getAbsolutePath)
      jvmOpts.forEach(o => if (!o.startsWith("-agentlib")) cmd.add(o))
      cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
      cmd.add("graft.SteadyBench"); cmd.add(sfDir)
      names.foreach(cmd.add)
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val outReader = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      // drain stdout on a thread so the child never blocks on a full pipe
      val marker = new java.util.concurrent.atomic.AtomicReference[String](null)
      val drain = new Thread(() => {
        var line = outReader.readLine()
        while (line != null) {
          if (line.startsWith("STEADYJSON\t")) marker.set(line)
          line = outReader.readLine()
        }
      })
      drain.setDaemon(true); drain.start()
      // the steady-15 are the heaviest queries (streaming fixtures run
      // real multi-batch jobs); 20 min is ~4× the observed budget
      if (!p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)) {
        p.destroyForcibly(); return None
      }
      drain.join(10000)
      if (p.exitValue() != 0) return None
      Option(marker.get).map { line =>
        val body = line.substring("STEADYJSON\t".length)
        // tiny shape-bound extraction (no JSON lib on the classpath):
        // {"steady":{...},"steady_canary_sec":[...],"steady_mem_avail_gb":N}
        val sIdx = body.indexOf("\"steady\":{")
        val sEnd = body.indexOf("}", sIdx)
        val cIdx = body.indexOf("\"steady_canary_sec\":[")
        val cEnd = body.indexOf("]", cIdx)
        if (sIdx < 0 || sEnd < 0 || cIdx < 0 || cEnd < 0) return None
        val mTag = "\"steady_mem_avail_gb\":"
        val mIdx = body.indexOf(mTag)
        val mem = if (mIdx < 0) "-1"
          else body.substring(mIdx + mTag.length)
            .takeWhile(c => c.isDigit || c == '.' || c == '-')
        // per-row host-hostility verdicts (nested objects — needs the
        // balanced extractor); absent on older child builds → "{}"
        val hTag = "\"steady_hostile\":"
        val hIdx = body.indexOf(hTag)
        val hostile = (if (hIdx < 0) None
          else braceSpan(body, hIdx + hTag.length)).getOrElse("{}")
        (body.substring(sIdx + "\"steady\":".length, sEnd + 1),
          body.substring(cIdx + "\"steady_canary_sec\":".length, cEnd + 1),
          if (mem.nonEmpty) mem else "-1",
          hostile,
          body)
      }
    } catch { case _: Throwable => None }

  /** Mid-sweep probe: a tenth of the edge canary (3×10⁷ xorshift
    * steps, single pass, ~0.1s) — cheap enough to sample every ~30
    * queries without moving the total. */
  private[graft] def miniCanary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.println("canary") // defeat DCE
    val s = (System.nanoTime() - t0) / 1e9
    math.round(s * 1000.0) / 1000.0
  }

  /** Fixed single-thread CPU probe: 3×10⁸ xorshift steps, min of 3
    * passes — pure register arithmetic, no allocation, no memory
    * traffic, so it tracks effective clock speed and nothing else. */
  private def cpuCanary(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      canaryLoop(0x9E3779B97F4A7C15L)
      (System.nanoTime() - t0) / 1e9
    }
    val s = (1 to 3).map(_ => pass()).min
    math.round(s * 1000.0) / 1000.0
  }

  /** The same fixed loop on every core at once (wall time for ALL to
    * finish, min of 2 passes): on an uncontended host this ≈ the
    * single-thread canary; a higher ratio means the parallel dimension
    * is degraded (co-tenant core steal, frequency drop under all-core
    * load) — exactly the slowdown a 32-thread ingest sees that the
    * single-thread probe cannot. */
  private def cpuCanaryMt(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    def pass(): Double = {
      val t0 = System.nanoTime()
      val threads = (0 until n).map { i =>
        val t = new Thread(() => canaryLoop(0x9E3779B97F4A7C15L + i))
        t.start(); t
      }
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    val s = (1 to 2).map(_ => pass()).min
    math.round(s * 1000.0) / 1000.0
  }

  private def canaryLoop(seed: Long): Unit = {
    var x = seed
    var i = 0
    while (i < 300000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.println("canary") // defeat DCE
  }

  /** The env overrides that change the forked JVM or parallelism, so
    * the artifact self-explains heap/GC/core drift (r6 and r7 recorded
    * heapGb=79 vs build.sbt's pinned 16g and the cause — an active
    * SPARK_DRIVER_MEM — was not recoverable from the artifact). Only
    * SET variables appear; values are sanitized for JSON embedding and
    * clipped so a pathological value cannot overflow the stdout line. */
  private def envOverrides(): String = {
    Seq("SPARK_DRIVER_MEM", "SPARK_EXTRA_JVM_OPTS", "SPARK_GRAFT_CPUS")
      .flatMap { k =>
        sys.env.get(k).map { v =>
          val clean = v.replaceAll("[\"\\\\\\p{Cntrl}]", "'").take(80)
          "\"" + k + "\":\"" + clean + "\""
        }
      }.mkString("{", ",", "}")
  }

  /** Mini MT probe: the mini canary's loop on every core at once (wall
    * for all to finish) — ~0.1s, sees multi-thread core steal the
    * single-thread probe can't (r7/r13 adjudications). */
  private[graft] def miniCanaryMt(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var k = 0
        while (k < 30000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          k += 1
        }
        if (x == 42L) System.err.println("canary") // defeat DCE
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val s = (System.nanoTime() - t0) / 1e9
    math.round(s * 1000.0) / 1000.0
  }

  private[graft] def systemLoad(): Double = {
    val l = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    math.round(l * 100.0) / 100.0
  }

  /** One-line fingerprint of the bench JVM: collector, heap, cores —
    * enough to tell from the artifact alone whether the throughput
    * fork opts (ParallelGC + 16g, build.sbt) actually applied to the
    * invocation that produced the number. */
  private def jvmProfile(): String = {
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+")
    val heapGb = Runtime.getRuntime.maxMemory / (1 << 30)
    val cores = Runtime.getRuntime.availableProcessors
    s"gc=$gcs heapGb=$heapGb cores=$cores"
  }

  /** End-to-end dump-ingest throughput: synthesize a ~192MB dump, run the
    * full mediawiki-source → diffdb pipeline over it, report MB/s.
    * (Reference cluster baseline: ~8.3 MB/s decompressed on 24 cores,
    * BASELINE.md.) */
  private def ingestMbps(spark: SparkSession): (Double, Seq[Double], String) = {
    // size splits so the dump fans out across all cores
    // (384MB / 4MB = 96 tasks on 32 threads; a 16MB split gave only 24);
    // restored afterwards — ingest runs before the query sweep, which
    // must see the session default
    val prevMaxBytes = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", String.valueOf(4 * 1024 * 1024))
    try ingestMbps0(spark)
    finally prevMaxBytes match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  private def ingestMbps0(spark: SparkSession): (Double, Seq[Double], String) = {
    // 384MB: the kernel got fast enough that a 192MB pass finished in
    // ~0.5s, where scheduler jitter is ±10% of the measurement
    val f = synthDump(384L * 1024 * 1024)
    val sizeMb = f.length() / 1e6
    def pass(): Double = {
      val t0 = System.nanoTime()
      graft.functions.GraftFunctions.diffdb(
        spark.read.format("mediawiki").load(f.getAbsolutePath))
        .selectExpr("sum(size(diffs))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // early passes pay lazy JIT of the parser/diff hot loops and
    // measure compilation, not throughput (measured on a fresh JVM:
    // 4.3s, 1.6s, 1.1s, then ~0.65s steady — C2 wants >1GB of
    // profile); the steady state is what a long-running ingest
    // sustains. A FIXED warm count is run-to-run unstable (C2 lands
    // on pass 3 in one run, pass 6 in another — observed 0.55s vs
    // 1.7s "steady" from the same build), so warm ADAPTIVELY: keep
    // going while the curve still improves >10%, then measure until
    // two consecutive passes agree within 10% and report the best of
    // those settled passes.
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    // The warm curve has TWO drops: a C1 plateau around pass 3-9, then
    // a second C2/allocation-sink drop landing anywhere in passes
    // 10-16 (measured 511→689 MB/s across passes 3→15 in one probe) —
    // a 7-pass settle stops on the first plateau and under-records by
    // ~20%. So: minimum 12 passes, stop early only when the last three
    // sit within 8% of the best (fully flat), cap 16. Measured = the
    // MINIMUM over all passes: the work is fixed and interference
    // (GC, scheduler, compilation) only ever adds time, so the fastest
    // pass is the least-noise estimate of steady state — the standard
    // min-of-N benchmark estimator.
    def settled = times.length >= 12 &&
      times.takeRight(3).forall(_ <= times.min * 1.08)
    while (times.length < 16 && !settled) times += pass()
    val sec = times.min
    val tag = if (settled) "settled" else "flat-cap"
    System.err.println(s"[bench] ingest warm=${times.map(t => f"$t%.2f").mkString(",")} measured=${sec}s $tag")
    f.delete()
    (math.round(sizeMb / sec * 10.0) / 10.0, times.toSeq, tag)
  }

  private def synthDump(targetBytes: Long): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("bench-dump")
    val f = dir.resolve("dump.xml").toFile
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
    val rnd = new scala.util.Random(5)
    w.write("<mediawiki>\n")
    var revId = 0
    var page = 0
    while (f.length() < targetBytes || page < 100) {
      page += 1
      w.write(s"<page><title>Page $page</title><ns>0</ns><id>$page</id>\n")
      var r = 0
      val revs = 1 + page % 7
      var text = Array.fill(300)("w" + rnd.nextInt(5000)).mkString(" ")
      while (r < revs) {
        r += 1
        revId += 1
        // evolve the text so diffs are non-trivial
        val words = text.split(" ")
        val at = rnd.nextInt(words.length)
        text = (words.take(at) ++ Array.fill(20)("w" + rnd.nextInt(5000)) ++ words.drop(at + 10)).mkString(" ")
        w.write(s"<revision><id>$revId</id><timestamp>2021-01-01T00:00:00Z</timestamp>")
        w.write(s"<contributor><username>u${r % 50}</username><id>${r % 50}</id></contributor>")
        w.write(s"<text xml:space=\"preserve\">$text</text></revision>\n")
      }
      w.write("</page>\n")
      if (page % 50 == 0) w.flush()
    }
    w.write("</mediawiki>\n")
    w.close()
    f
  }
}
