package graft.perfbench

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (one JVM per run, one workload per run).
  *
  * `graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --result FILE [--tables DIR] [--launch-ms T]`
  *
  * Prepares the workload's input (generates the dump from the seed, or
  * locates the query mix's tables; excluded from every metric), sets up
  * a `local[4]` session configured like `graft.Bench.benchSession`,
  * warms up with a fixed number of passes, then times whole passes for
  * S seconds and checks each pass's output. With `--trace 1` it runs
  * [[Traced]] instead. The result file gets two JSON lines: run context
  * (input fingerprint, sizes, host), then the result. */
object Main {
  val Cores = 4
  /** Timed passes per run at least, so `job_s` is never one sample. */
  val MinPasses = 2

  final case class Opts(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
      work: File, result: File, tables: Option[File], launchMs: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(Workloads.byName(need("workload")), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("result")), m.get("tables").map(new File(_)),
      m.get("launch-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime))
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val o = parse(args)
    o.work.mkdirs()
    val host0 = Host.snapshot()
    // input preparation is the benchmark's cost: it runs before the
    // session starts and is left out of set-up time
    val g0 = System.nanoTime()
    val (job, traced) = o.workload match {
      case w: DumpWorkload =>
        val in = input(w, o.seed, Gen.BenchShape, new File(o.work, "input"))
        (w.job(in), () => Traced.run(w, in, o.work))
      case QueryMix =>
        val dir = o.tables.getOrElse(throw new IllegalArgumentException("query_mix needs --tables DIR"))
        require(new File(dir, "orders.parquet").exists, s"no scale-factor tables in $dir")
        val job = new QueryMix.MixJob(dir)
        (job, () => Traced.runQueries(job, o.work))
    }
    val prepareS = (System.nanoTime() - g0) / 1e9
    val jvmStartS = (mainMs - o.launchMs) / 1000.0
    val (metrics, attempted, failed, extra) = if (o.trace) traced() else measure(o, job, jvmStartS)
    val host1 = Host.snapshot()
    val info =
      s"""{"workload":"${o.workload.name}","seed":${o.seed},"trace":${if (o.trace) 1 else 0},""" +
      s""""input":{${job.inputInfo},"prepare_s":${Json.num(prepareS)}},""" +
      s""""loop":"closed, 1 client, local[$Cores]","jvm_start_s":${Json.num(jvmStartS)},""" +
      s""""host_before":${host0},"host_after":${host1}$extra}"""
    val result = Json.result(failed == 0, attempted, failed, metrics)
    val w = new java.io.PrintWriter(o.result, "UTF-8")
    try { w.println(info); w.println(result) } finally w.close()
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Untraced run. Set-up runs from process start to the end of the
    * fixed warm-up, less the input preparation; then passes are timed
    * for `seconds` (at least [[MinPasses]]). */
  def measure(o: Opts, job: Job, jvmStartS: Double)
      : (Seq[(String, Double, String)], Int, Int, String) = {
    val w = o.workload
    val t = System.nanoTime()
    val spark = session(Cores, w)
    val sessionS = (System.nanoTime() - t) / 1e9
    val warm = warmUp(spark, w, job, o.work)
    val setupS = jvmStartS + (System.nanoTime() - t) / 1e9
    // the warm-up's output is checked too, outside the set-up time
    val warmErrs = warm.last.failure.toSeq ++ check(spark, job, warm.last.out)
    if (warmErrs.nonEmpty) throw new IllegalStateException(s"warm-up pass failed: ${warmErrs.mkString("; ")}")
    val times = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val gcs = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val t0 = System.nanoTime()
    while (times.size < MinPasses || System.nanoTime() - t0 < o.seconds * 1000000000L) {
      val p = timedPass(spark, job, o.work)
      times += p.seconds
      cpus += p.cpuSeconds
      gcs += p.gcSeconds
      val errs = p.failure.toSeq ++ (if (p.failure.isEmpty) check(spark, job, p.out) else Nil)
      if (errs.nonEmpty) { failed += 1; System.err.println(s"[perfbench] pass failed: ${errs.mkString("; ")}") }
    }
    val jobS = Stats.median(times.toSeq)
    System.err.println(f"[perfbench] ${w.name} setup=$setupS%.2f " +
      s"warm-up=${warm.map(p => f"${p.seconds}%.3f").mkString(",")} passes=${times.map(s => f"$s%.3f").mkString(",")}")
    val metrics = Seq(
      ("setup_s", setupS, "s"),
      ("job_s", jobS, "s"),
      ("input_mbps", job.inputBytes / 1e6 / jobS, "MB/s"),
      ("revs_per_s", job.committed / jobS, "rev/s"),
      ("cpu_s", Stats.median(cpus.toSeq), "s"))
    val extra = s""","passes":${times.size},"fail_ratio":{"value":${failed.toDouble / times.size},"unit":"ratio"},""" +
      s""""session_start_s":${Json.num(sessionS)},"warmup_samples_s":${warm.map(_.seconds).mkString("[", ",", "]")},""" +
      s""""job_samples_s":${times.mkString("[", ",", "]")},"gc_samples_s":${gcs.mkString("[", ",", "]")}"""
    (metrics, times.size, failed, extra)
  }

  final case class Pass(seconds: Double, cpuSeconds: Double, gcSeconds: Double, failure: Option[String], out: File)

  /** One pass, timed (wall and process CPU) from job start to committed
    * output. A throwing pass is a failure. */
  def timedPass(spark: SparkSession, job: Job, work: File): Pass = {
    val out = freshOut(work)
    val g0 = Host.gcS()
    val c0 = Host.processCpuS()
    val p0 = System.nanoTime()
    val failure = try { job.pass(spark, out); None } catch { case e: Exception => Some(e.toString) }
    Pass((System.nanoTime() - p0) / 1e9, Host.processCpuS() - c0, Host.gcS() - g0, failure, out)
  }

  def check(spark: SparkSession, job: Job, out: File): Seq[String] =
    try job.check(spark, out) catch { case e: Exception => Seq(s"check threw $e") }

  /** The fixed warm-up: the workload's number of passes (fewer if one
    * fails). A fixed count, not a fixed time, so a slower program
    * shows in set-up time. */
  def warmUp(spark: SparkSession, w: Workload, job: Job, work: File): Seq[Pass] = {
    val ps = mutable.ArrayBuffer(timedPass(spark, job, work))
    while (ps.size < w.warmupPasses && ps.last.failure.isEmpty) ps += timedPass(spark, job, work)
    ps.toSeq
  }

  /** A new, empty output directory for the next pass. */
  def freshOut(work: File): File = {
    val out = new File(work, "out")
    deleteTree(out)
    out
  }

  def session(cores: Int, w: Workload): SparkSession = {
    val s = graft.Bench.benchSession(cores.toString)
    s.conf.set("spark.sql.files.maxPartitionBytes", w.maxPartitionBytes.toString)
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- inputs ---------------------------------------------------------

  /** Generate (or reuse the cached copy of) the workload's input. Only
    * the latest seed per input format stays on disk. */
  def input(w: DumpWorkload, seed: Long, shape: Gen.Shape, root: File): Input = {
    val fmt = if (w.bz2) "bz2" else "xml"
    val tag = s"$fmt-${shape.pages}-${shape.topRevs}-$seed"
    val dir = new File(root, tag)
    val file = new File(dir, if (w.bz2) "benchwiki-pages-meta-history.xml.bz2" else "benchwiki-pages-meta-history.xml")
    val expectFile = new File(dir, "expect.bin")
    if (expectFile.isFile && file.isFile) {
      val in = new ObjectInputStream(new FileInputStream(expectFile))
      try return Input(file, in.readObject().asInstanceOf[Gen.Expect]) finally in.close()
    }
    Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith(fmt + "-")).foreach(deleteTree)
    dir.mkdirs()
    val expect = generate(shape, seed, file, w.bz2)
    val tmp = new File(dir, "expect.tmp")
    val os = new ObjectOutputStream(new FileOutputStream(tmp))
    try os.writeObject(expect) finally os.close()
    require(tmp.renameTo(expectFile))
    Input(file, expect)
  }

  def generate(shape: Gen.Shape, seed: Long, file: File, bz2: Boolean): Gen.Expect = {
    val raw = new java.io.BufferedOutputStream(new FileOutputStream(file), 1 << 20)
    if (!bz2) try Gen.write(shape, seed, raw) finally raw.close()
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores)
      try {
        val z = new Bz2SingleStream(raw, pool)
        try Gen.write(shape, seed, z) finally z.close()
      } finally pool.shutdownNow()
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
      metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}") + "}"
}

/** Host context recorded before and after each run (ungated). */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  }

  /** Fixed single-thread integer work; its time shows a slow host. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x12345678L
    var i = 0
    while (i < 30000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    if (x == 42) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Cumulative CPU time the hypervisor gave to other guests (Linux
    * `/proc/stat` steal, summed over CPUs, USER_HZ = 100), or -1. */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally src.close()
    } catch { case _: Exception => -1.0 }

  def snapshot(): String = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans
    import scala.jdk.CollectionConverters._
    val gcNames = gcs.asScala.map(g => "\"" + g.getName + "\"").mkString("[", ",", "]")
    s"""{"cores":${Runtime.getRuntime.availableProcessors},"heap_max_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""gc":$gcNames,"load_avg":${Json.num(os.getSystemLoadAverage)},"steal_s":${Json.num(stealS())},""" +
      s""""canary_ms":${Json.num(canaryMs())}}"""
  }
}
