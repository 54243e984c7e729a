package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DiffKernelU8, GraftFunctions}
import graft.sources._

/** Spans recorded from the benchmark's own code around calls into each
  * layer: name, start, end, parent span, run id. Kept in memory and
  * written as JSON lines at exit. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)

final class Tracer(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()

  def span[T](name: String, parent: Int = -1)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id) finally spans.add(Span(id, name, t0, System.nanoTime(), parent))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Summed duration of all spans called `name`, in seconds. */
  def seconds(name: String): Double = all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def write(f: File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent}}""")
    } finally w.close()
  }
}

final case class TaskEnd(stage: Int, durS: Double, shuffleRead: Long, shuffleWrite: Long)

/** Task-level runtime evidence from Spark's own listener bus. */
final class TaskLog extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskEnd]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskMetrics != null)
      tasks.add(TaskEnd(e.stageId, e.taskInfo.duration / 1000.0,
        e.taskMetrics.shuffleReadMetrics.totalBytesRead, e.taskMetrics.shuffleWriteMetrics.bytesWritten))
  def snapshot(spark: SparkSession): Seq[TaskEnd] = {
    org.apache.spark.graft.ListenerBusBridge.flush(spark.sparkContext)
    tasks.asScala.toSeq
  }
  def clear(): Unit = tasks.clear()
}

final class PlanLog extends QueryExecutionListener {
  val qes = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def scans: Seq[BatchScanExec] = qes.asScala.toSeq.flatMap(q => Traced.scans(q.executedPlan))
  def exchanges: Int = qes.asScala.toSeq.map(q => Traced.exchanges(q.executedPlan)).sum
}

/** The traced run: per-layer metrics of one workload.
  *
  * Layers are timed in isolation over the workload's own input and
  * splits, one split per task on [[Main.Cores]] threads as Spark runs
  * them, and summed over splits (task-seconds, comparable with
  * `spark.task_s`). Layer timings stack: decode ⊂ scan ⊂ parse ⊂ read,
  * so each layer's self time is the difference to the layer below. */
object Traced {
  def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case b: BatchScanExec => Seq(b)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => (other.children ++ other.innerChildren.collect { case s: SparkPlan => s }).flatMap(scans)
  }

  /** Exchange operators in an executed plan, through adaptive query
    * stages and subqueries; a reused exchange does not count. */
  def exchanges(p: SparkPlan): Int = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children ++ o.subqueries
    }
    (p match { case _: Exchange => 1; case _ => 0 }) + kids.map(exchanges).sum
  }

  private def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def skew(ts: Seq[Double]) = if (ts.isEmpty) 0.0 else ts.max / math.max(1e-3, median(ts))

  def run(w: DumpWorkload, in: Input, work: File)
      : (Seq[(String, Double, String)], Int, Int, String) = {
    var spark = Main.session(Main.Cores, w)
    val job = w.job(in)
    val tr = new Tracer(s"${w.name}-${in.file.getParentFile.getName}-${System.currentTimeMillis()}")
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, u: String): Unit = m(n) = (v, u)
    var attempted = 0
    var failed = 0
    def pass(spark: SparkSession, rec: Double => Unit): Unit = {
      attempted += 1
      val p = Main.timedPass(spark, job, work)
      rec(p.seconds)
      val errs = p.failure.toSeq ++ (if (p.failure.isEmpty) Main.check(spark, job, p.out) else Nil)
      if (errs.nonEmpty) { failed += 1; System.err.println(s"[perfbench] traced pass failed: ${errs.mkString("; ")}") }
    }

    Main.warmUp(spark, w, job, work)
    // untraced passes on both sides of the traced one
    val untraced = mutable.ArrayBuffer.empty[Double]
    pass(spark, untraced += _)

    // traced pass: listeners on, spans around the job
    val tasks = new TaskLog
    val plans = new PlanLog
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    val gc0 = Host.gcS()
    resetHeapPeaks()
    val traced = tr.span("pass") { _ => Main.timedPass(spark, job, work) }
    val tracedS = traced.seconds
    val passTasks = tasks.snapshot(spark)
    put("jvm.gc_s", Host.gcS() - gc0, "s")
    put("jvm.heap_peak_mb", heapPeakMb(), "MB")
    val scanExec = plans.scans.headOption
    spark.listenerManager.unregister(plans)
    attempted += 1
    val tracedErrs = traced.failure.toSeq ++ (if (traced.failure.isEmpty) Main.check(spark, job, traced.out) else Nil)
    if (tracedErrs.nonEmpty) { failed += 1; System.err.println(s"[perfbench] traced pass failed: ${tracedErrs.mkString("; ")}") }
    def custom(n: String) = scanExec.flatMap(_.metrics.get(n)).map(_.value.toDouble).getOrElse(0.0)
    put("sources.pages", custom("pagesRead"), "count")
    put("sources.revisions", custom("revisionsRead"), "count")
    put("sources.pages_skipped", custom("pagesSkipped"), "count")
    val readSchema = scanExec.map(_.scan.readSchema()).getOrElse(
      MediaWikiTable.schemaFor(prevEnabled = true, raw = false))
    val taskS = passTasks.map(_.durS).sum
    val byStage = passTasks.groupBy(_.stage)
    val sourceStages = byStage.filter(_._2.forall(_.shuffleRead == 0)).toSeq.sortBy(-_._2.size)
    put("spark.task_s", taskS, "s")
    put("spark.busy_share", taskS / (tracedS * Main.Cores), "ratio")
    put("spark.scan_task_skew", sourceStages.headOption.map(s => skew(s._2.map(_.durS))).getOrElse(0.0), "ratio")
    put("spark.sink_task_skew", if (byStage.isEmpty) 0.0 else skew(byStage(byStage.keys.max).map(_.durS)), "ratio")
    put("spark.shuffle_mb", passTasks.map(_.shuffleWrite).sum / 1e6, "MB")
    pass(spark, untraced += _)
    val jobS = median(untraced.toSeq)
    put("trace.overhead_ratio", tracedS / jobS, "ratio")

    // isolated layers over the workload's splits
    val layers = new Layers(spark, w, in, readSchema, tr)
    layers.all(put)
    // the isolated layers must see the rows the reader emits
    attempted += 1
    if (layers.mismatch.nonEmpty) {
      failed += 1
      System.err.println(s"[perfbench] isolated layers disagree with the reader: ${layers.mismatch.get}")
    }
    val self = mutable.LinkedHashMap(layers.selfSeconds: _*)

    // sinks on already-materialized input
    tasks.clear()
    val sinkTaskS = w match {
      case HistoryBz2Diffdb =>
        val db = HistoryBz2Diffdb.diffdb(spark, in).cache()
        db.count()
        tasks.clear()
        val out = Main.freshOut(work)
        tr.span("functions.sink") { _ => GraftFunctions.writeDiffdb(db, out.getAbsolutePath) }
        val ts = tasks.snapshot(spark)
        db.unpersist(blocking = true)
        put("functions.sink_s", tr.seconds("functions.sink"), "s")
        put("functions.sink_tasks", if (ts.isEmpty) 0 else ts.count(_.stage == ts.map(_.stage).max), "count")
        put("functions.sink_mb", treeBytes(out) / 1e6, "MB")
        ts.map(_.durS).sum
      case ArticlesMultistreamWrite =>
        val src = w.read(spark, in).cache()
        src.count()
        tasks.clear()
        val out = Main.freshOut(work)
        tr.span("sources.write") { _ =>
          src.write.format("mediawiki").option("assumeGrouped", "true").mode("append").save(out.getAbsolutePath)
        }
        val ts = tasks.snapshot(spark)
        src.unpersist(blocking = true)
        put("sources.write_s", tr.seconds("sources.write"), "s")
        put("sources.written_mb", treeBytes(out) / 1e6, "MB")
        layers.indexLookup(out, put)
        ts.map(_.durS).sum
      case _ => 0.0
    }
    if (sinkTaskS > 0) self(if (w == HistoryBz2Diffdb) "sink" else "write") = sinkTaskS
    put("trace.coverage", self.values.sum / math.max(1e-9, taskS), "ratio")

    // single-thread baseline
    Main.stopSession(spark)
    spark = Main.session(1, w)
    var oneCoreS = 0.0
    pass(spark, oneCoreS = _)
    put("spark.speedup_1core", oneCoreS / jobS, "ratio")
    Main.stopSession(spark)

    finish(tr, w, m, work, jobS, tracedS, self, attempted, failed)
  }

  /** Metrics in [[PerLayer]] order (0 for a metric not on the
    * workload's path), spans written, run-context extras. */
  private def finish(tr: Tracer, w: Workload, m: mutable.LinkedHashMap[String, (Double, String)], work: File,
      jobS: Double, tracedS: Double, self: collection.Map[String, Double], attempted: Int, failed: Int)
      : (Seq[(String, Double, String)], Int, Int, String) = {
    tr.write(new File(work, s"trace-${w.name}.jsonl"))
    val all = PerLayer.of(w)
    val names = all.map(_._1)
    val metrics = all.map { case (n, u) => (n, m.get(n).map(_._1).getOrElse(0.0), u) }
    val extra = s""","job_s_untraced":${Json.num(jobS)},"job_s_traced":${Json.num(tracedS)},""" +
      s""""layer_self_s":${self.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")},""" +
      s""""not_on_path":${names.filterNot(m.contains).map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    (metrics, attempted, failed, extra)
  }

  /** The traced run of the query mix: per-query seconds and exchange
    * counts from a traced pass, plus the Spark runtime and JVM
    * metrics. */
  def runQueries(job: QueryMix.MixJob, work: File): (Seq[(String, Double, String)], Int, Int, String) = {
    var spark = Main.session(Main.Cores, QueryMix)
    val tr = new Tracer(s"${QueryMix.name}-${System.currentTimeMillis()}")
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, u: String): Unit = m(n) = (v, u)
    var attempted = 0
    var failed = 0
    def checked(p: Main.Pass, spark: SparkSession): Main.Pass = {
      attempted += 1
      val errs = p.failure.toSeq ++ (if (p.failure.isEmpty) Main.check(spark, job, p.out) else Nil)
      if (errs.nonEmpty) { failed += 1; System.err.println(s"[perfbench] traced pass failed: ${errs.mkString("; ")}") }
      p
    }
    Main.warmUp(spark, QueryMix, job, work).foreach(checked(_, spark))
    val jobS = checked(Main.timedPass(spark, job, work), spark).seconds

    val tasks = new TaskLog
    val plans = new PlanLog
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    val exchanges = mutable.LinkedHashMap.empty[String, Int]
    job.around = (q, run) => {
      plans.qes.clear()
      val d = tr.span(s"queries.$q")(_ => run())
      exchanges(q) = plans.exchanges
      d
    }
    val gc0 = Host.gcS()
    resetHeapPeaks()
    val traced = checked(tr.span("pass")(_ => Main.timedPass(spark, job, work)), spark)
    job.around = (_, run) => run()
    spark.listenerManager.unregister(plans)
    val passTasks = tasks.snapshot(spark)
    put("jvm.gc_s", Host.gcS() - gc0, "s")
    put("jvm.heap_peak_mb", heapPeakMb(), "MB")
    for (q <- QueryMix.Queries) {
      put(s"queries.${q}_s", tr.seconds(s"queries.$q"), "s")
      put(s"queries.${q}_exchanges", exchanges.getOrElse(q, 0).toDouble, "count")
    }
    val taskS = passTasks.map(_.durS).sum
    put("spark.task_s", taskS, "s")
    put("spark.busy_share", taskS / (traced.seconds * Main.Cores), "ratio")
    put("spark.shuffle_mb", passTasks.map(_.shuffleWrite).sum / 1e6, "MB")
    put("trace.overhead_ratio", traced.seconds / jobS, "ratio")

    Main.stopSession(spark)
    spark = Main.session(1, QueryMix)
    val oneCoreS = checked(Main.timedPass(spark, job, work), spark).seconds
    put("spark.speedup_1core", oneCoreS / jobS, "ratio")
    Main.stopSession(spark)
    finish(tr, QueryMix, m, work, jobS, traced.seconds, Map.empty, attempted, failed)
  }

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length()
}

/** The per-layer metrics this benchmark reports (names and units):
  * [[all]] on every workload `BENCHMARK.json` names; the query mix
  * adds [[queries]]. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "sources.plan_s" -> "s", "sources.partitions" -> "count",
    "sources.decode_s" -> "s", "sources.decoded_mb" -> "MB", "sources.decode_waste_ratio" -> "ratio",
    "sources.scan_s" -> "s", "sources.parse_s" -> "s", "sources.read_s" -> "s",
    "sources.pages" -> "count", "sources.revisions" -> "count", "sources.pages_skipped" -> "count",
    "sources.write_s" -> "s", "sources.written_mb" -> "MB",
    "sources.index_lookup_s" -> "s", "sources.streams_skipped_ratio" -> "ratio",
    "functions.diff_s" -> "s", "functions.diff_pair_us_p50" -> "us", "functions.diff_pair_us_p99" -> "us",
    "functions.diff_ops" -> "count", "functions.diff_errors" -> "count",
    "functions.sink_s" -> "s", "functions.sink_tasks" -> "count", "functions.sink_mb" -> "MB",
    "spark.task_s" -> "s", "spark.busy_share" -> "ratio", "spark.scan_task_skew" -> "ratio",
    "spark.sink_task_skew" -> "ratio", "spark.shuffle_mb" -> "MB", "spark.speedup_1core" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio", "trace.coverage" -> "ratio")
  val queries: Seq[(String, String)] =
    QueryMix.Queries.flatMap(q => Seq(s"queries.${q}_s" -> "s", s"queries.${q}_exchanges" -> "count"))
  def of(w: Workload): Seq[(String, String)] = if (w == QueryMix) all ++ queries else all
}

/** Isolated timings of the `graft.sources` and `graft.functions`
  * layers over the workload's own splits. */
final case class DiffStats(records: Long, nanos: Array[Long], ops: Long, errors: Long)

final class Layers(spark: SparkSession, w: DumpWorkload, in: Input, readSchema: StructType, tr: Tracer) {
  private val conf: Configuration = spark.sessionState.newHadoopConf()
  private val codecs = new CompressionCodecFactory(conf)
  /** The scan's props, built as `MediaWikiTable.newScanBuilder` builds
    * them (the workloads push no filters). */
  private val props: Map[String, String] = {
    val merged = MediaWikiTable.canonicalizeOptions(w.readOptions + ("path" -> w.readPath(in).getAbsolutePath))
    merged ++ MediaWikiTable.optionFilterProps(merged)
  }
  private val filters = ReaderFilters.fromProps(props)
  private val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
  private val meta = RevMetaFields.fromStructs(readSchema.fields.toSeq.collect {
    case f if f.name == "curr" || f.name == "prev" => f.dataType.asInstanceOf[StructType].fieldNames.toSet
  })
  private val confMap: Map[String, String] = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  private val diffs = w == HistoryBz2Diffdb

  /** `MediaWikiScan.planInputPartitions`: list the input the way it
    * does, then plan all files with `partitionsForFiles`. */
  private def plan(): Seq[MediaWikiInputPartition] = {
    val files = MediaWikiTable.resolvePaths(props).flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (fs.getFileStatus(path).isDirectory) {
        val listed = fs.listStatus(path).filter(_.isFile).map(_.getPath)
          .filter(f => MediaWikiScan.isDataFile(fs, f, props))
        val names = listed.map(_.getName).toSet
        listed.filterNot(f => MultistreamIndex.isIndexSibling(f.getName, names)).toSeq.map(f => (fs, f))
      } else Seq((fs, path))
    }
    MediaWikiScan.partitionsForFiles(codecs, files, maxBytes, props)
  }
  lazy val parts: Seq[MediaWikiInputPartition] = plan()
  private lazy val fs: FileSystem = new Path(parts.head.path).getFileSystem(conf)

  /** Set when the scan, the parse and the reader do not yield the same
    * records per split: the isolated layers no longer open and filter
    * splits as the reader does. */
  var mismatch: Option[String] = None

  private var decodeS, scanS, parseS, readS, diffS = 0.0

  /** Open a split the way `MediaWikiPartitionReader`'s constructor
    * does (the reader keeps its source private, so this mirrors it;
    * [[mismatch]] reports drift). Returns the
    * byte source, ownership bounds, and the codec stream when the split
    * is read through a splittable codec. */
  private def open(p: MediaWikiInputPartition)
      : (PosByteSource, Long, Long, Boolean, Option[org.apache.hadoop.io.compress.SplitCompressionInputStream]) = {
    val path = new Path(p.path)
    val raw = fs.open(path)
    codecs.getCodec(path) match {
      case null =>
        if (p.start > 0) raw.seek(p.start)
        (new CountingByteSource(raw, p.start), p.start, p.end, false, None)
      case c: SplittableCompressionCodec if p.end < p.fileLen || p.start > 0 =>
        val s = c.createInputStream(raw, c.createDecompressor(), p.start, p.end,
          SplittableCompressionCodec.READ_MODE.BYBLOCK)
        (new BlockPosByteSource(s), if (p.start == 0) -1L else s.getAdjustedStart, s.getAdjustedEnd, true, Some(s))
      case c =>
        (new CountingByteSource(c.createInputStream(raw), 0), 0L, Long.MaxValue, false, None)
    }
  }

  /** Run `f` on every split, [[Main.Cores]] at a time, inside one span
    * per split under a layer span. */
  private def perSplit[T](layer: String)(f: MediaWikiInputPartition => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(Main.Cores)
    try tr.span(layer) { parent =>
      pool.invokeAll(parts.map(p => new Callable[T] {
        def call(): T = tr.span(layer + ".split", parent)(_ => f(p))
      }).asJava).asScala.toSeq.map(_.get())
    } finally pool.shutdown()
  }

  /** Decode (bz2) or read (plain) each split's bytes as the reader
    * would: through the block that straddles the split end. */
  private def decode(): Seq[Long] = perSplit("sources.decode") { p =>
    val (src, _, ownEnd, _, cs) = open(p)
    val buf = new Array[Byte](1 << 16)
    var n = 0L
    try cs match {
      case Some(s) =>
        var k = 0
        while (s.getPos <= ownEnd && { k = s.read(buf); k >= 0 }) n += k
        // the reader finishes its last page in the block after the end
        val at = s.getPos
        while (k >= 0 && s.getPos == at && { k = s.read(buf); k >= 0 }) n += k
      case None =>
        // plain split: its own byte range (the reader also finishes the
        // straddling page, which the next split skips)
        while (src.bulkFill() && src.bulkPosOf(src.bulkStart) < math.min(ownEnd, p.fileLen)) {
          val k = math.min(src.bulkEnd - src.bulkStart,
            (math.min(ownEnd, p.fileLen) - src.bulkPosOf(src.bulkStart)).toInt)
          n += k
          src.bulkConsume(k)
        }
    } finally src.close()
    n
  }

  private def iterate(p: MediaWikiInputPartition, needText: Boolean): PageRecordIterator = {
    val (src, ownStart, ownEnd, exclusive, _) = open(p)
    new PageRecordIterator(src, ownStart, ownEnd, exclusive, filters.exclude,
      titleFilter = filters.title, pageIdFilter = filters.pageId, nsFilter = filters.ns,
      needText = needText, meta = meta)
  }

  def all(put: (String, Double, String) => Unit): Unit = {
    val planTimes = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      plan()
      (System.nanoTime() - t0) / 1e9
    }
    put("sources.plan_s", Stats.median(planTimes), "s")
    put("sources.partitions", parts.size, "count")

    val decoded = decode()
    decodeS = tr.seconds("sources.decode.split")
    val whole = if (w.bz2) in.expect.xmlBytes else w.inputBytes(in)
    put("sources.decode_s", decodeS, "s")
    put("sources.decoded_mb", decoded.sum / 1e6, "MB")
    put("sources.decode_waste_ratio", decoded.sum.toDouble / whole, "ratio")

    val scanned = perSplit("sources.scan") { p =>
      val it = iterate(p, needText = false)
      try it.size finally it.close()
    }
    scanS = tr.seconds("sources.scan.split")
    put("sources.scan_s", scanS, "s")

    // parse: text capture, field extraction, prev/curr pairing; on the
    // diffdb workload every pair also goes through the diff kernel,
    // timed per call and subtracted from the parse time
    val stats = perSplit("sources.parse") { p =>
      val it = iterate(p, needText = true)
      val nanos = mutable.ArrayBuilder.make[Long]
      var records, ops, errors = 0L
      val e = UTF8String.EMPTY_UTF8
      try it.foreach { rp =>
        records += 1
        if (diffs) {
          val a = rp.prev.map(_.textU8).filter(_ != null).getOrElse(e)
          val b = Option(rp.curr.textU8).getOrElse(e)
          val t0 = System.nanoTime()
          try ops += DiffKernelU8.diffOps(a, b).length catch { case _: Exception => errors += 1 }
          nanos += System.nanoTime() - t0
        }
      } finally it.close()
      DiffStats(records, nanos.result(), ops, errors)
    }
    diffS = stats.map(_.nanos.sum).sum / 1e9
    parseS = tr.seconds("sources.parse.split") - diffS
    put("sources.parse_s", parseS, "s")
    if (diffs) {
      val all = stats.flatMap(_.nanos.toSeq).map(_ / 1e3)
      put("functions.diff_s", diffS, "s")
      put("functions.diff_pair_us_p50", Stats.quantile(all, 0.5), "us")
      put("functions.diff_pair_us_p99", Stats.quantile(all, 0.99), "us")
      put("functions.diff_ops", stats.map(_.ops).sum.toDouble, "count")
      put("functions.diff_errors", stats.map(_.errors).sum.toDouble, "count")
    }

    val rows = perSplit("sources.read") { p =>
      val r = new MediaWikiPartitionReader(p, readSchema, props, confMap)
      var n = 0L
      try while (r.next()) { r.get(); n += 1 } finally r.close()
      n
    }
    readS = tr.seconds("sources.read.split")
    put("sources.read_s", readS, "s")
    val parsed = stats.map(_.records)
    if (scanned.map(_.toLong) != rows || parsed != rows)
      mismatch = Some(s"records per split: scan ${scanned.sum}, parse ${parsed.sum}, reader ${rows.sum}")
  }

  /** Does the workload's read capture revision text (the reader's own
    * rule)? Without it the reader runs the scan, not the parse. */
  private val needText = readSchema.fields.exists { f =>
    (f.name == "curr" || f.name == "prev") &&
      f.dataType.asInstanceOf[StructType].fieldNames.exists(n => n == "text" || n == "sha1")
  }

  /** Seconds of isolated layer self time on the workload's path:
    * decode, then each stacked layer's increment over the one below
    * it (scan, parse when text is read, row building), plus the diff
    * kernel. */
  def selfSeconds: Seq[(String, Double)] = {
    val below = if (needText) parseS else scanS
    Seq("decode" -> decodeS, "scan" -> math.max(0, scanS - decodeS),
      "parse" -> (if (needText) math.max(0, parseS - scanS) else 0.0),
      "row_build" -> math.max(0, readS - below), "diff" -> diffS)
  }

  /** Index planning of a page-id lookup over a written archive. */
  def indexLookup(archive: File, put: (String, Double, String) => Unit): Unit = {
    val ids = in.expect.readBack.keys.toSeq.sorted
    val lookup = Map("__pageIdFilter0" -> s"in:${ids.mkString(",")}")
    val dumps = Option(archive.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".xml.bz2"))
    var total, kept = 0L
    for (d <- dumps) {
      val p = new Path(d.getAbsolutePath)
      val planned = tr.span("sources.index_lookup") { _ =>
        MultistreamIndex.plan(fs, codecs, p, d.length(), maxBytes, lookup)
      }.getOrElse(Nil)
      val idx = new File(d.getParentFile, d.getName.stripSuffix(".xml.bz2") + "-index.txt")
      val offsets = scala.io.Source.fromFile(idx, "UTF-8").getLines()
        .map(l => l.substring(0, l.indexOf(':')).toLong).toSeq.distinct
      total += offsets.size
      kept += offsets.count(o => planned.exists(q => o >= q.start && o < q.end))
    }
    put("sources.index_lookup_s", tr.seconds("sources.index_lookup"), "s")
    put("sources.streams_skipped_ratio", if (total == 0) 0.0 else 1.0 - kept.toDouble / total, "ratio")
  }
}
