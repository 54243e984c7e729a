package graft.sources

import java.util
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.{BZip2Codec, CompressionCodecFactory, SplitCompressionInputStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.{Revision, RevisionPair}

/** `spark.read.format("mediawiki")` — splittable scan over MediaWiki
  * full-history XML dumps, emitting one row per revision with the
  * previous revision of the same page attached (the reference engine's
  * record model, wikihadoop `StreamWikiDumpInputFormat.java:42-121`),
  * re-expressed as a Spark DataSource V2.
  *
  * Options:
  *  - `previousRevision` (default true): include the `prev` column
  *    (reference conf `org.wikimedia.wikihadoop.previousRevision`,
  *    `StreamWikiDumpInputFormat.java:125`).
  *  - `excludePagesWith`: regex; pages whose header matches are skipped
  *    before any record is materialized (reference conf
  *    `org.wikimedia.wikihadoop.excludePagesWith`, `:124`).
  *  - `raw` (default false): add a `raw_xml` column reproducing the
  *    reference's page-like record element byte format (`:412-420`).
  *  - `nsIn` / `pageIdIn` (comma lists): explicit source-level filters
  *    with exactly the pushed-predicate semantics (pages skipped before
  *    parsing; multistream index streams skipped before decompression).
  *    Catalyst pushes `.where` predicates down on BATCH reads only — on
  *    `readStream` a filter is evaluated post-scan — so these options
  *    are the streaming route to filtered sources.
  *  - multistream layout options (`multistreamIndex`,
  *    `multistreamTargetBytes`, `multistreamSkipExcluded`): see
  *    [[MultistreamIndex]].
  *
  * Scale design: no driver-side data pre-scan (the reference's
  * `getSplits` decompresses whole files on the driver, `:183-272`, and
  * its per-task `getPageBytes` re-scans each split, `:515-554` — both
  * deliberately not replicated). Planning is size-based like Spark's
  * file sources; each reader decides page ownership locally by the
  * "page belongs to the split where its `<page>` tag starts" rule,
  * which also removes the reference's duplicate emission (Issue #1,
  * `README.rst:277-280`).
  */
class MediaWikiDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mediawiki"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MediaWikiTable.schemaFor(
      prevEnabled = options.getBoolean("previousRevision", true),
      raw = options.getBoolean("raw", false))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MediaWikiTable(schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

object MediaWikiTable {
  val contributorType: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("username", StringType),
    StructField("ip", StringType),
    StructField("deleted", BooleanType, nullable = false)))

  val revisionType: StructType = StructType(Seq(
    StructField("rev_id", LongType, nullable = false),
    StructField("parent_id", LongType),
    StructField("timestamp", TimestampType),
    StructField("contributor", contributorType),
    StructField("minor", BooleanType, nullable = false),
    StructField("comment", StringType),
    StructField("model", StringType),
    StructField("format", StringType),
    StructField("text", StringType),
    StructField("sha1", StringType),
    StructField("bytes", LongType)))

  def schemaFor(prevEnabled: Boolean, raw: Boolean): StructType = {
    var fields = Seq(
      StructField("page_id", LongType, nullable = false),
      StructField("title", StringType),
      StructField("ns", IntegerType),
      StructField("redirect", StringType),
      StructField("rev_seq", IntegerType, nullable = false),
      StructField("curr", revisionType, nullable = false))
    if (prevEnabled) fields = fields :+ StructField("prev", revisionType)
    if (raw) fields = fields :+ StructField("raw_xml", StringType)
    StructType(fields)
  }

  /** Every option this source reads by exact camelCase key somewhere
    * downstream. DSv2 options are case-insensitive
    * (CaseInsensitiveStringMap lowercases what flows through it), so a
    * user-typed `nsin`/`NSIN` arrives under a different key than the
    * lookup — silently ignored before round 13 (review r13: an ignored
    * nsIn means every namespace is emitted where articles-only was
    * asked). [[canonicalizeOptions]] rewrites any casing of these onto
    * the canonical key once, at the scan builder, so every downstream
    * exact-case `props.get` sees them. */
  private val CanonicalOptionKeys = Seq(
    "excludePagesWith", "previousRevision", "raw", "minSplitBytes",
    "multistreamIndex", "multistreamTargetBytes", "multistreamSkipExcluded",
    "nsIn", "pageIdIn", "maxFilesPerTrigger", "maxPartitionsPerTrigger",
    // write-side (MediaWikiWrite)
    "multistreamPagesPerStream", "multistreamStreamBytes", "multistreamHeader",
    "assumeGrouped", "bz2BlockSize")

  def canonicalizeOptions(props: Map[String, String]): Map[String, String] =
    props ++ CanonicalOptionKeys.flatMap { k =>
      props.get(k).orElse {
        val lk = k.toLowerCase(java.util.Locale.ROOT)
        props.collectFirst {
          case (pk, v) if pk.toLowerCase(java.util.Locale.ROOT) == lk => v
        }
      }.map(k -> _)
    }

  /** Translate the EXPLICIT filter options (`nsIn`, `pageIdIn`) into
    * the same internal props Catalyst pushdown emits, so the reader
    * skips pages and the multistream index planner skips streams for
    * BOTH routes. Catalyst's V2 filter pushdown only serves BATCH
    * relations — a `.where` above `readStream` is evaluated post-scan
    * (measured: every stream decompressed, every row emitted) — so
    * these options are the streaming route to source-level filtering;
    * on batch reads they simply conjoin with any pushed predicates.
    * Same NULL semantics as the pushed forms: a page with an absent
    * `<ns>` matches no `nsIn`. Malformed values fail loudly. */
  def optionFilterProps(props: Map[String, String]): Map[String, String] = {
    def parse(key: String, toNum: String => Unit): Option[String] =
      props.get(key).map(_.trim).filter(_.nonEmpty).map { v =>
        val items = v.split(",").map(_.trim).filter(_.nonEmpty)
        require(items.nonEmpty, s"$key must list at least one value, got '$v'")
        items.foreach { x =>
          try toNum(x) catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"$key must be a comma-separated number list, got '$v'")
          }
        }
        "in:" + items.mkString(",")
      }
    parse("nsIn", _.toInt).map("__nsFilterOpt" -> _).toMap ++
      parse("pageIdIn", _.toLong).map("__pageIdFilterOpt" -> _).toMap
  }

  /** Resolve input paths from DSv2 properties ("path" or "paths" JSON
    * array — parsed with Jackson so commas/quotes in paths survive). */
  def resolvePaths(props: Map[String, String]): Seq[String] = {
    props.get("paths").map { json =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(json)
      (0 until node.size()).map(i => node.get(i).asText())
    }.orElse(props.get("path").map(Seq(_))).getOrElse(
      throw new IllegalArgumentException("mediawiki source requires a path"))
  }
}

class MediaWikiTable(tableSchema: StructType, props: Map[String, String])
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"mediawiki(${MediaWikiTable.resolvePaths(props).mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = MediaWikiTable.canonicalizeOptions(props ++ options.asScala)
    new MediaWikiScanBuilder(tableSchema,
      merged ++ MediaWikiTable.optionFilterProps(merged))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new MediaWikiWriteBuilder(info,
      MediaWikiTable.canonicalizeOptions(props ++ info.options().asScala))
}

class MediaWikiScanBuilder(fullSchema: StructType, props: Map[String, String])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // accept Spark's pruned schema verbatim — including nested pruning
    // inside curr/prev (a text-less scan skips capturing the dominant
    // <text> bytes entirely); an empty prune (count(*)) keeps page_id
    required = if (requiredSchema.fields.isEmpty)
      StructType(fullSchema.fields.take(1))
    else requiredSchema
  }

  /** Accept title predicates — pages failing them are skipped in the
    * reader before any revision is parsed (the reference's
    * filter-at-source, `StreamWikiDumpInputFormat.java:387-389`, but
    * driven by Catalyst pushdown instead of a job conf). The filters are
    * exact, so Spark needn't re-evaluate them. */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (accepted, rest) = filters.partition {
      case sources.EqualTo("title", _: String) => true
      case sources.StringContains("title", _) => true
      case sources.StringStartsWith("title", _) => true
      case sources.StringEndsWith("title", _) => true
      // page-id predicates: skipped at the reader before any revision
      // is parsed, and — with a multistream index — whole streams are
      // skipped BEFORE decompression (the index's original purpose:
      // random access to a page's history)
      case sources.EqualTo("page_id", _: Long) => true
      case sources.In("page_id", vs) => vs.forall(_.isInstanceOf[Long])
      // ns predicates (articles-only reads): a page whose dump omits
      // <ns> carries a NULL ns, which no equality matches — the reader
      // drops it, exactly Spark's null semantics
      case sources.EqualTo("ns", _: Int) => true
      case sources.In("ns", vs) => vs.forall(_.isInstanceOf[Int])
      case sources.GreaterThan("page_id", _: Long) => true
      case sources.GreaterThanOrEqual("page_id", _: Long) => true
      case sources.LessThan("page_id", _: Long) => true
      case sources.LessThanOrEqual("page_id", _: Long) => true
      case _ => false
    }
    pushed = accepted
    rest
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan = {
    val filterProps = pushed.zipWithIndex.map {
      case (sources.EqualTo("title", v: String), i) => s"__titleFilter$i" -> s"eq:$v"
      case (sources.StringContains("title", v), i) => s"__titleFilter$i" -> s"contains:$v"
      case (sources.StringStartsWith("title", v), i) => s"__titleFilter$i" -> s"starts:$v"
      case (sources.StringEndsWith("title", v), i) => s"__titleFilter$i" -> s"ends:$v"
      case (sources.EqualTo("page_id", v: Long), i) => s"__pageIdFilter$i" -> s"eq:$v"
      case (sources.In("page_id", vs), i) =>
        s"__pageIdFilter$i" -> s"in:${vs.map(_.asInstanceOf[Long]).mkString(",")}"
      case (sources.EqualTo("ns", v: Int), i) => s"__nsFilter$i" -> s"eq:$v"
      case (sources.In("ns", vs), i) =>
        s"__nsFilter$i" -> s"in:${vs.map(_.asInstanceOf[Int]).mkString(",")}"
      case (sources.GreaterThan("page_id", v: Long), i) => s"__pageIdFilter$i" -> s"gt:$v"
      case (sources.GreaterThanOrEqual("page_id", v: Long), i) => s"__pageIdFilter$i" -> s"ge:$v"
      case (sources.LessThan("page_id", v: Long), i) => s"__pageIdFilter$i" -> s"lt:$v"
      case (sources.LessThanOrEqual("page_id", v: Long), i) => s"__pageIdFilter$i" -> s"le:$v"
      case (f, _) => throw new IllegalStateException(s"unexpected pushed filter $f")
    }.toMap
    new MediaWikiScan(required, props ++ filterProps)
  }
}

case class MediaWikiInputPartition(
    path: String, start: Long, end: Long, fileLen: Long)
  extends InputPartition

class MediaWikiScan(requiredSchema: StructType, props: Map[String, String])
  extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String = "mediawiki dump scan"

  /** Session Hadoop conf captured at planning time, shipped to readers
    * (a bare `new Configuration()` on executors would drop
    * spark.hadoop.* settings — filesystem credentials, codec config). */
  private def hadoopConfMap(conf: Configuration): Map[String, String] = {
    val it = conf.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val codecs = new CompressionCodecFactory(conf)
    val files: Seq[(FileSystem, Path)] = MediaWikiTable.resolvePaths(props).flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val fsFiles = if (fs.getFileStatus(path).isDirectory) {
        // a '-index.txt(.bz2)' whose dump sibling is also listed is the
        // multistream planning metadata, not a dump — scanning it wastes
        // a decompression pass and pollutes the page metrics (ADVICE
        // r12); hidden/temp/marker files and an explicit index path are
        // filtered for the same reason (review r13)
        val listed = fs.listStatus(path).filter(_.isFile).map(_.getPath)
          .filter(f => MediaWikiScan.isDataFile(fs, f, props))
        val names = listed.map(_.getName).toSet
        listed.filterNot(f => MultistreamIndex.isIndexSibling(f.getName, names)).toSeq
      } else Seq(path)
      fsFiles.map(f => (fs, f))
    }
    MediaWikiScan.partitionsForFiles(codecs, files, maxBytes, props).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val confMap = hadoopConfMap(SparkSession.active.sessionState.newHadoopConf())
    new MediaWikiReaderFactory(requiredSchema, props, confMap)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MediaWikiMicroBatchStream(requiredSchema, props, checkpointLocation)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PagesReadMetric, new RevisionsReadMetric, new PagesSkippedMetric,
      new BytesDecompressedMetric, new Bz2BlocksMetric)
}

object MediaWikiScan {
  /** Directory-listing filter shared by the batch scan and the
    * streaming source: hidden/temp and marker files ("."/"_" prefixes —
    * rsync/FileOutputCommitter in-flight names, _SUCCESS; the same
    * convention Spark's file sources use) are never dumps, and an
    * in-flight copy read as a dump yields truncated rows now and a
    * duplicate (renamed) file later. An explicitly-optioned
    * `multistreamIndex` file living inside the watched directory is
    * planning metadata, not a dump, even when its name misses the
    * `-index.txt` convention (review r13). */
  def isDataFile(fs: FileSystem, f: Path, props: Map[String, String]): Boolean = {
    val name = f.getName
    if (name.startsWith(".") || name.startsWith("_")) return false
    val explicitIdx = props.get("multistreamIndex").map(_.trim)
      .filter(v => v.nonEmpty && !v.equalsIgnoreCase("off") && !v.equalsIgnoreCase("false"))
    !explicitIdx.exists(v =>
      fs.makeQualified(new Path(v)) == fs.makeQualified(f))
  }

  /** Bounded parallelism for multi-file planning: a COLD multistream
    * index plan is single-threaded driver I/O (~2-12 s per enwiki-scale
    * index, r13 probe), and a directory of dozens of dumps would pay it
    * serially before the first task launches. Per-file plans are
    * independent and memoized, so they parallelize safely. */
  private val PlanParallelism = 8

  /** Plan partitions for many files with a bounded driver pool.
    * Order-preserving: the result concatenates per-file plans in input
    * order, byte-identical to the serial loop (spec-pinned). A planning
    * failure in any file rethrows its ORIGINAL exception (the loud-
    * failure contract must not get wrapped into ExecutionException). */
  def partitionsForFiles(codecs: CompressionCodecFactory,
      files: Seq[(FileSystem, Path)], maxBytes: Long,
      props: Map[String, String]): Seq[MediaWikiInputPartition] = {
    if (files.lengthCompare(2) < 0)
      files.flatMap { case (fs, f) => partitionsForFile(fs, codecs, f, maxBytes, props) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(files.size, PlanParallelism),
        (r: Runnable) => { val t = new Thread(r, "graft-plan"); t.setDaemon(true); t })
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Seq[MediaWikiInputPartition]]] =
          files.map { case (fs, f) =>
            () => partitionsForFile(fs, codecs, f, maxBytes, props)
          }
        // invokeAll preserves input order in the returned futures
        pool.invokeAll(tasks.asJava).asScala.toSeq.flatMap { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }
  }

  /** Size-based split planning for one dump file — shared by the batch
    * scan and the streaming source so both read identically. */
  def partitionsForFile(fs: FileSystem, codecs: CompressionCodecFactory,
      f: Path, maxBytes: Long, props: Map[String, String]): Seq[MediaWikiInputPartition] = {
    val len = fs.getFileStatus(f).getLen
    val codec = codecs.getCodec(f)
    // bz2 is the one codec the reader splits (Bz2SplitSource)
    val splittable = codec == null || codec.isInstanceOf[BZip2Codec]
    // For block-compressed files never split below ~4 compression
    // blocks (bz2 max block = 900KB): sub-block splits own no data
    // but still decompress a whole block each to find that out.
    val minSplit = props.get("minSplitBytes").map(_.toLong)
      .getOrElse(if (codec == null) 1L else 4L * 900 * 1024)
    val effMax = math.max(maxBytes, if (codec == null) 0L else minSplit)
    // -multistream layout with a published index: partition at exact
    // stream boundaries and skip streams the pushed filters prove dead
    // BEFORE decompressing a byte of them (MultistreamIndex's Scaladoc
    // has the trust argument; any validation failure falls through to
    // size-based planning below).
    if (splittable && codec != null) {
      MultistreamIndex.plan(fs, codecs, f, len, effMax, props) match {
        case Some(parts) => return parts
        case None =>
      }
    }
    if (!splittable || len <= effMax) {
      Seq(MediaWikiInputPartition(f.toString, 0, len, len))
    } else {
      val n = math.ceil(len.toDouble / effMax).toInt
      val sz = math.ceil(len.toDouble / n).toLong
      (0 until n).map { i =>
        MediaWikiInputPartition(f.toString, i * sz, math.min((i + 1) * sz, len), len)
      }
    }
  }
}

/** Streaming (micro-batch) form of the dump source: each batch
  * processes dump files newly appeared under the watched path(s) — the
  * natural model for an incrementally-delivered dump directory (new
  * `pages-meta-historyN.xml.bz2` parts landing over hours).
  *
  * Offsets are indices into a **checkpoint-persisted file log**
  * (`mediawiki-files.log` under the stream checkpoint): newly
  * discovered files are APPENDED (in (modTime, path) order among
  * themselves) and existing entries never move — so a file landing
  * with an equal-or-earlier modification time than already-processed
  * files cannot shift indices and corrupt the stream position, and a
  * restart reloads exactly the order it committed against. (This is
  * the same reason Spark's FileStreamSource keeps a seen-files log
  * instead of re-deriving order from the directory listing.)
  *
  * Options: `maxFilesPerTrigger` (default unbounded) caps each batch
  * by files; `maxPartitionsPerTrigger` caps it by PLANNED PARTITIONS,
  * rate-limiting WITHIN a single archive-scale file (offsets then
  * carry a `part` cursor into the file's deterministic plan).
  * Per-page prev/curr pairing is in-reader (zero state); downstream
  * stateful logic (watermarks, windows) composes via normal Structured
  * Streaming operators.
  */
class MediaWikiMicroBatchStream(requiredSchema: StructType, props: Map[String, String],
    checkpointLocation: String)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}
  import java.nio.charset.StandardCharsets

  /** Stream position: `fileIndex` files fully processed, plus `part`
    * planned partitions consumed of file `fileIndex` (0 except mid-file
    * under `maxPartitionsPerTrigger`). A mid-file offset also carries
    * `of` = the TOTAL partition count of the plan it was computed
    * against, so a restart whose re-plan produced a DIFFERENT number of
    * partitions (planning options changed) fails loudly in both
    * directions — the containment check alone passes when the plan
    * GREW, silently slicing a committed batch against different byte
    * ranges (ADVICE r14). Old checkpoints carry only `fileIndex` (and
    * later only `part`) and deserialize with the missing fields 0 —
    * identical position, weaker (containment-only) drift check. */
  private case class MediaWikiOffset(fileIndex: Long, part: Long = 0L, of: Long = 0L)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
    override def json(): String =
      if (part > 0) s"""{"fileIndex":$fileIndex,"part":$part,"of":$of}"""
      else s"""{"fileIndex":$fileIndex,"part":$part}"""
  }

  private val conf = SparkSession.active.sessionState.newHadoopConf()
  private val maxBytes = SparkSession.active.sessionState.conf.filesMaxPartitionBytes
  private val confMap: Map[String, String] = {
    val it = conf.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }
  private val maxFilesPerTrigger: Int =
    props.get("maxFilesPerTrigger").map(_.toInt).getOrElse(Int.MaxValue)
  /** Intra-file rate limiting: cap the PLANNED PARTITIONS admitted per
    * micro-batch, so one archive-scale dump (a 30 GB multistream file
    * is one `maxFilesPerTrigger` unit) no longer forces a single
    * monolithic batch. Offsets then address (file, partition) — the
    * plan for a given file must be stable across restarts, which holds
    * when the planning options (`multistreamTargetBytes`,
    * `spark.sql.files.maxPartitionBytes`) are unchanged; a drifted
    * re-plan fails loudly in `planInputPartitions` rather than
    * replaying a committed batch against different byte ranges. */
  private val maxPartsPerTrigger: Int =
    props.get("maxPartitionsPerTrigger").map(_.toInt).getOrElse(Int.MaxValue)
  require(maxPartsPerTrigger > 0, "maxPartitionsPerTrigger must be positive")
  // set by prepareForTriggerAvailableNow: the fixed end target so
  // Trigger.AvailableNow drains files present at start, batch by batch
  private var availableNowTarget: Option[Long] = None

  // per-file plan cache (append-only log, immutable files by contract;
  // multistream plans are additionally memoized in MultistreamIndex).
  // Access-ordered LRU, NOT an unbounded map: a long-lived stream logs
  // files forever, and plans of fully-consumed files would otherwise
  // pin their partition seqs in driver memory for the stream's life
  // (review r14); a rare miss on an old file (restart replaying an
  // ancient batch) just re-plans — deterministic by construction.
  private val planCache =
    new java.util.LinkedHashMap[String, IndexedSeq[MediaWikiInputPartition]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, IndexedSeq[MediaWikiInputPartition]]): Boolean =
        size > 64
    }
  private def plannedFor(file: String): IndexedSeq[MediaWikiInputPartition] =
    synchronized {
      val got = planCache.get(file)
      if (got != null) got
      else {
        val p = new Path(file)
        val codecs = new CompressionCodecFactory(conf)
        val planned = MediaWikiScan.partitionsForFile(p.getFileSystem(conf),
          codecs, p, maxBytes, props).toIndexedSeq
        planCache.put(file, planned)
        countCache.put(file, planned.length.toLong)
        planned
      }
    }
  private def plannedIfCached(file: String): Option[IndexedSeq[MediaWikiInputPartition]] =
    synchronized(Option(planCache.get(file)))
  // partition COUNTS persist for the stream's life (a Long per file —
  // the leak concern was the partition SEQUENCES): the offset-advance
  // walk needs only counts, so a wide batch spanning more files than
  // the plan LRU holds must not re-plan every file on every walk
  // (sequential scan is the LRU worst case — review r14)
  private val countCache = scala.collection.mutable.HashMap.empty[String, Long]
  private def countFor(file: String): Long = synchronized {
    countCache.getOrElse(file, plannedFor(file).length.toLong)
  }

  private val logPath = new Path(checkpointLocation, "mediawiki-files.log")
  private val logFs = logPath.getFileSystem(conf)
  private val fileLog = scala.collection.mutable.ArrayBuffer.empty[String]
  private val knownFiles = scala.collection.mutable.HashSet.empty[String]
  loadLog()

  private def loadLog(): Unit = synchronized {
    if (logFs.exists(logPath)) {
      val in = logFs.open(logPath)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
      lines.filter(_.nonEmpty).foreach { l =>
        if (knownFiles.add(l)) fileLog += l
      }
    }
  }

  private def persistLog(): Unit = {
    val tmp = new Path(logPath.getParent, logPath.getName + ".tmp")
    val out = logFs.create(tmp, true)
    try out.write(fileLog.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // ATOMIC replace: the log pins committed batch→file order, and a
    // crash between a delete and a rename would lose it — a restart
    // would then re-derive order from the directory's mtimes, which a
    // late file with an earlier mtime has already permuted, replaying
    // a committed batch against the WRONG file (review r13).
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(logPath.toUri, conf)
      fc.rename(tmp, logPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no FileContext for this scheme: fall back, but never ignore a
        // failed rename (a stale log is as wrong as a lost one)
        if (logFs.exists(logPath)) logFs.delete(logPath, false)
        require(logFs.rename(tmp, logPath),
          s"failed to persist the streaming file log at $logPath")
    }
  }

  /** List the watched paths and append any new files to the log (new
    * files ordered among themselves by (modTime, path)). Returns the
    * log size. */
  private def refresh(): Long = synchronized {
    val listed = MediaWikiTable.resolvePaths(props).flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) Seq.empty
      else if (fs.getFileStatus(path).isDirectory) {
        // same filters as the batch listing (hidden/temp/marker files,
        // explicit index path, '-index.txt(.bz2)' siblings); only NEW
        // files are filtered — an index that was logged before its dump
        // landed stays committed (offsets never move). The hidden-file
        // rule matters MOST here: committing an in-flight ".tmp" copy
        // to the offset log reads it truncated now and — after the
        // rename — as a duplicate file (review r13).
        val listed = fs.listStatus(path).filter(_.isFile)
          .filter(s => MediaWikiScan.isDataFile(fs, s.getPath, props))
        val names = listed.map(_.getPath.getName).toSet
        listed
          .filterNot(s => MultistreamIndex.isIndexSibling(s.getPath.getName, names))
          .map(s => (s.getModificationTime, s.getPath))
      } else Seq((fs.getFileStatus(path).getModificationTime, path))
    }
    val fresh = listed.filter { case (_, p) => !knownFiles.contains(p.toString) }
      .sortBy { case (t, p) => (t, p.toString) }
    if (fresh.nonEmpty) {
      fresh.foreach { case (_, p) => knownFiles += p.toString; fileLog += p.toString }
      persistLog()
    }
    fileLog.size.toLong
  }

  override def initialOffset():
      org.apache.spark.sql.connector.read.streaming.Offset = MediaWikiOffset(0L)

  override def deserializeOffset(json: String):
      org.apache.spark.sql.connector.read.streaming.Offset = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    MediaWikiOffset(node.get("fileIndex").asLong(),
      Option(node.get("part")).map(_.asLong()).getOrElse(0L),
      Option(node.get("of")).map(_.asLong()).getOrElse(0L))
  }

  override def latestOffset():
      org.apache.spark.sql.connector.read.streaming.Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(refresh())

  override def reportLatestOffset():
      org.apache.spark.sql.connector.read.streaming.Offset =
    MediaWikiOffset(availableNowTarget.getOrElse(refresh()))

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: ReadLimit): org.apache.spark.sql.connector.read.streaming.Offset = {
    val from = start.asInstanceOf[MediaWikiOffset]
    val avail = availableNowTarget.getOrElse(refresh())
    val fileCap = limit match {
      // a partially-consumed file still counts against the file cap
      case mf: ReadMaxFiles =>
        math.min(avail, from.fileIndex + mf.maxFiles() + (if (from.part > 0) 1 else 0))
      case _ => avail
    }
    if (maxPartsPerTrigger == Int.MaxValue) {
      // whole-file offsets: no per-trigger planning on the driver. A
      // checkpoint written under maxPartitionsPerTrigger may hand us a
      // MID-FILE cursor (the option was removed across a restart);
      // never regress it to (fileIndex, 0) — committing the regressed
      // offset would re-plan the already-emitted head partitions of
      // the file once new files arrive (duplicate rows, ADVICE r14).
      // Advancing past the partially-consumed file is fine: the slice
      // path in planInputPartitions handles so.part > 0.
      if (fileCap <= from.fileIndex) from
      else MediaWikiOffset(fileCap)
    } else {
      val files = synchronized { fileLog.toIndexedSeq }
      var fi = from.fileIndex
      var part = from.part
      var budget = maxPartsPerTrigger.toLong
      while (budget > 0 && fi < fileCap && fi < files.length) {
        val total = countFor(files(fi.toInt))
        val remaining = total - part
        if (remaining <= budget) { budget -= remaining; fi += 1; part = 0L }
        else { part += budget; budget = 0L }
      }
      if (fi == from.fileIndex && part == from.part) from // caught up: keep `of` as committed
      else if (part > 0) MediaWikiOffset(fi, part, countFor(files(fi.toInt)))
      else MediaWikiOffset(fi)
    }
  }

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[MediaWikiOffset]
    val eo = end.asInstanceOf[MediaWikiOffset]
    val s = so.fileIndex.toInt
    val e = eo.fileIndex.toInt
    // files the batch touches: [s, e) fully (minus s's consumed head),
    // plus e's first eo.part partitions when the end is mid-file
    val needed = e + (if (eo.part > 0) 1 else 0)
    val files = synchronized {
      // a restarted stream may plan a batch recorded before this
      // instance existed; the log (loaded + refreshed) covers it
      if (fileLog.size < needed) refresh()
      fileLog.slice(s, needed).toIndexedSeq
    }
    require(files.size == needed - s,
      s"file log has ${fileLog.size} entries but batch [$so,$eo) was committed — " +
        "checkpoint and watched directory disagree (were files deleted?)")
    if (so.part == 0 && eo.part == 0 && maxPartsPerTrigger == Int.MaxValue) {
      // whole-file fast path (bounded parallel planning, no slicing)
      MediaWikiScan.partitionsForFiles(new CompressionCodecFactory(conf),
        files.map { f => val p = new Path(f); (p.getFileSystem(conf), p) },
        maxBytes, props).toArray
    } else {
      // boundary files slice from the cached per-file plan; WHOLE
      // middle files take whatever plan is at hand (LRU hit) or plan
      // fresh WITHOUT polluting the LRU — a batch wider than the LRU
      // would otherwise evict-and-miss every file twice per batch
      // (sequential scan is the access-ordered worst case, review r14)
      val codecs = new CompressionCodecFactory(conf)
      def sliceOf(i: Int): IndexedSeq[MediaWikiInputPartition] = {
        val file = files(i - s)
        val fromPart = if (i == s) so.part.toInt else 0
        val endPartial = i == e && eo.part > 0
        if (fromPart == 0 && !endPartial)
          plannedIfCached(file).getOrElse {
            val p = new Path(file)
            MediaWikiScan.partitionsForFile(p.getFileSystem(conf), codecs, p,
              maxBytes, props).toIndexedSeq
          }
        else {
          val planned = plannedFor(file)
          val toPart = if (endPartial) eo.part.toInt else planned.length
          def driftMsg(detail: String) =
            s"committed batch [$so,$eo) $detail of $file but the plan now has " +
              s"${planned.length} — planning options changed across a restart " +
              "(multistreamTargetBytes / spark.sql.files.maxPartitionBytes must " +
              "stay fixed while a file is in flight)"
          // EXACT plan-size match against the `of` the offset was
          // computed with: containment alone is one-sided — a re-plan
          // that produced MORE partitions (lowered maxPartitionBytes /
          // multistreamTargetBytes) passes `<= planned.length` and
          // slices a committed batch against different byte ranges
          // silently (ADVICE r14). Legacy offsets carry of = 0 and keep
          // the containment-only check.
          if (i == s && so.part > 0 && so.of > 0)
            require(planned.length == so.of,
              driftMsg(s"was planned against ${so.of} partitions"))
          if (endPartial && eo.of > 0)
            require(planned.length == eo.of,
              driftMsg(s"was planned against ${eo.of} partitions"))
          require(fromPart <= planned.length && toPart <= planned.length,
            driftMsg(s"addresses ${math.max(fromPart, toPart)} partitions"))
          planned.slice(fromPart, toPart)
        }
      }
      (s until needed).flatMap(sliceOf).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MediaWikiReaderFactory(requiredSchema, props, confMap)

  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Task-level counters surfaced in the Spark UI / listeners — the DSv2
  * form of the reference's Hadoop counters
  * (`StreamWikiDumpInputFormat.java:589-591`). */
abstract class SumMetric(override val name: String, override val description: String)
  extends org.apache.spark.sql.connector.metric.CustomSumMetric
class PagesReadMetric extends SumMetric("pagesRead", "pages read")
class RevisionsReadMetric extends SumMetric("revisionsRead", "revisions read")
class PagesSkippedMetric extends SumMetric("pagesSkipped", "pages skipped by filters")
class BytesDecompressedMetric extends SumMetric("bytesDecompressed", "bytes decompressed")
class Bz2BlocksMetric extends SumMetric("bz2Blocks", "bz2 blocks decoded")
/** One task's value of a [[SumMetric]]. */
object TaskMetric {
  def apply(n: String, v: Long): org.apache.spark.sql.connector.metric.CustomTaskMetric =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}
class XmlBytesWrittenMetric extends SumMetric("xmlBytesWritten", "XML bytes written")
class Bz2BytesWrittenMetric extends SumMetric("bz2BytesWritten", "bz2 bytes written")
class Bz2BlocksWrittenMetric extends SumMetric("bz2BlocksWritten", "bz2 blocks written")
class Bz2EncodeTimeMetric extends SumMetric("bz2EncodeTime", "bz2 block encode time (ms)")

class MediaWikiReaderFactory(schema: StructType, props: Map[String, String],
    hadoopConf: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MediaWikiInputPartition]
    new MediaWikiPartitionReader(p, schema, props, hadoopConf)
  }
}

/** Per-task reader: opens the split (plain seek, or bz2 block
  * boundaries through [[Bz2SplitSource]] — cf. reference
  * `SeekableInputStream.java:47-74`), then drives [[PageRecordIterator]]. */
class MediaWikiPartitionReader(
    part: MediaWikiInputPartition, schema: StructType, props: Map[String, String],
    hadoopConf: Map[String, String] = Map.empty)
  extends PartitionReader[InternalRow] {

  private val conf = {
    val c = new Configuration(false)
    hadoopConf.foreach { case (k, v) => c.set(k, v) }
    if (hadoopConf.isEmpty) new Configuration() else c
  }
  private val path = new Path(part.path)
  private val fs: FileSystem = path.getFileSystem(conf)
  private val codec = new CompressionCodecFactory(conf).getCodec(path)
  private val rawIn = fs.open(path)

  private val (source: PosByteSource, ownStart: Long, ownEnd: Long, exclusive: Boolean) =
    codec match {
      case null =>
        if (part.start > 0) rawIn.seek(part.start)
        (new CountingByteSource(rawIn, part.start), part.start, part.end, false)
      case _: BZip2Codec =>
        // in-repo block decoder, blocks decoded ahead on all cores; split
        // ownership as on Hadoop's BYBLOCK split stream
        val whole = part.start == 0 && part.end >= part.fileLen
        val s = new Bz2SplitSource(rawIn, part.path, part.fileLen, part.start,
          if (whole) Long.MaxValue else part.end)
        (s, s.ownStart, s.ownEnd, true)
      case c =>
        // whole-file read through another (non-splittable) codec
        (new CountingByteSource(c.createInputStream(rawIn), 0), 0L, Long.MaxValue, false)
    }

  private val exclude = props.get("excludePagesWith").filter(_.nonEmpty).map(Pattern.compile)
  private val wantRaw = schema.fieldNames.contains("raw_xml")

  /** Conjunction of pushed-down title predicates (exact semantics).
    * Decoded via [[PageIdFilter.titlePredsFromProps]] — the ONE decoder
    * shared with the multistream skip-planner, so a new pushed kind can
    * never be handled by the planner but MatchError here (ADVICE r13). */
  private val titleFilter: Option[String => Boolean] = {
    val preds = PageIdFilter.titlePredsFromProps(props)
    if (preds.isEmpty) None else Some(t => preds.forall(p => p(t)))
  }

  /** Does any requested column need the revision text (or a field that
    * follows it in the element, like sha1)? If not, the reader skips
    * capturing text bodies entirely. */
  private val needText: Boolean = wantRaw || schema.fields.exists { f =>
    (f.name == "curr" || f.name == "prev") && (f.dataType match {
      case st: StructType => st.fieldNames.contains("text") || st.fieldNames.contains("sha1")
      case _ => true
    })
  }

  /** Metadata extractions the requested (possibly nested-pruned)
    * `prev`/`curr` structs actually need; `raw_xml` keeps everything
    * (compat consumers read the raw fragment AND parsed columns). */
  private val metaFields: graft.sources.RevMetaFields =
    if (wantRaw) graft.sources.RevMetaFields.All
    else graft.sources.RevMetaFields.fromStructs(
      schema.fields.collect {
        case f if f.name == "curr" || f.name == "prev" => f.dataType match {
          case st: StructType => st.fieldNames.toSet
          case _ => Set("contributor", "minor", "comment", "model", "format", "sha1", "bytes")
        }
      }.toSeq)

  private val iter = new PageRecordIterator(
    source, ownStart, ownEnd, exclusive, exclude, keepRaw = wantRaw,
    titleFilter = titleFilter, pageIdFilter = PageIdFilter.fromProps(props),
    nsFilter = PageIdFilter.nsFromProps(props),
    needText = needText, meta = metaFields)

  private var current: RevisionPair = _

  override def next(): Boolean = {
    if (iter.hasNext) { current = iter.next(); true } else false
  }

  private def str(o: Option[String]): AnyRef = o.map(UTF8String.fromString).orNull
  private def lng(o: Option[Long]): AnyRef = o.map(java.lang.Long.valueOf).orNull

  private def contribRow(c: graft.Contributor, st: StructType): GenericInternalRow =
    new GenericInternalRow(st.fields.map[Any](_.name match {
      case "id" => lng(c.id)
      case "username" => str(c.username)
      case "ip" => str(c.ip)
      case "deleted" => c.deleted
      case other => throw new IllegalStateException(s"unknown contributor field $other")
    }))

  /** Build a revision struct row matching the (possibly nested-pruned)
    * requested struct type. */
  private def revRow(r: Revision, st: StructType): GenericInternalRow =
    new GenericInternalRow(st.fields.map[Any] { f =>
      f.name match {
        case "rev_id" => r.revId
        case "parent_id" => lng(r.parentId)
        case "timestamp" => lng(r.timestampUs)
        case "contributor" =>
          r.contributor.map(c => contribRow(c, f.dataType.asInstanceOf[StructType])).orNull
        case "minor" => r.minor
        case "comment" => str(r.comment)
        case "model" => str(r.model)
        case "format" => str(r.format)
        case "text" => r.textU8 // shared object: curr row i and prev row i+1, zero copies
        case "sha1" => str(r.sha1)
        case "bytes" => lng(r.bytes)
        case other => throw new IllegalStateException(s"unknown revision field $other")
      }
    })

  /** Reference-compat page-like element: pageHeader + prev (or the
    * beginningofpage dummy) + curr + "\n</page>\n" footer
    * (`StreamWikiDumpInputFormat.java:299,301,412-420`). */
  private def rawRecord(rp: RevisionPair): String = {
    val prevXml = rp.prev.flatMap(_.raw).getOrElse(PageRecordIterator.DummyPrevRaw)
    rp.page.headerRaw + prevXml + rp.curr.raw.getOrElse("") + "\n</page>\n"
  }

  override def get(): InternalRow = {
    val rp = current
    val values: Array[Any] = schema.fields.map[Any] { f =>
      f.name match {
        case "page_id" => rp.page.pageId: java.lang.Long
        case "title" => UTF8String.fromString(rp.page.title)
        case "ns" => rp.page.ns.map(java.lang.Integer.valueOf).orNull
        case "redirect" => str(rp.page.redirect)
        case "rev_seq" => java.lang.Integer.valueOf(rp.revSeq)
        case "curr" => revRow(rp.curr, f.dataType.asInstanceOf[StructType])
        case "prev" => rp.prev.map(revRow(_, f.dataType.asInstanceOf[StructType])).orNull
        case "raw_xml" => UTF8String.fromString(rawRecord(rp))
        case other => throw new IllegalStateException(s"unknown column $other")
      }
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = iter.close()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val (decompressed, blocks) = source match {
      case b: Bz2SplitSource => (b.bytesDecoded, b.blocksDecoded)
      case c: CountingByteSource if codec != null => (c.bytesRead, 0L)
      case _ => (0L, 0L) // plain XML
    }
    Array(TaskMetric("pagesRead", iter.pagesRead),
      TaskMetric("revisionsRead", iter.revisionsRead),
      TaskMetric("pagesSkipped", iter.pagesSkipped),
      TaskMetric("bytesDecompressed", decompressed),
      TaskMetric("bz2Blocks", blocks))
  }
}

/** Ownership positions from Hadoop's block-compressed splittable
  * stream (the bz2 split path before [[Bz2SplitSource]], kept as the
  * reference its ownership is checked against): the codec reports
  * positions that advance only at block boundaries, and reports
  * identical adjusted boundaries to adjacent splits.
  *
  * Buffered: BYBLOCK-mode reads never span a compression-block boundary,
  * so all bytes of one bulk read share the position the codec reports
  * after that read — byte-at-a-time codec reads (what the reference's
  * ByteMatcher does) are ~100× slower. */
final class BlockPosByteSource(in: SplitCompressionInputStream) extends PosByteSource {
  private val buf = new Array[Byte](256 * 1024)
  private var bufLen = 0
  private var bufPos = 0
  private var chunkPos = 0L

  private def refill(): Boolean = {
    bufLen = in.read(buf)
    bufPos = 0
    if (bufLen < 0) return false
    chunkPos = in.getPos
    true
  }

  def read(): Int = {
    while (bufPos >= bufLen) if (!refill()) return -1
    val b = buf(bufPos) & 0xff
    bufPos += 1
    b
  }
  def pos: Long = chunkPos
  def close(): Unit = in.close()

  // BYBLOCK reads never span a compression block, so every byte of the
  // current chunk shares the codec-reported position.
  def bulkFill(): Boolean = {
    while (bufPos >= bufLen) if (!refill()) return false
    true
  }
  def bulkBuf: Array[Byte] = buf
  def bulkStart: Int = bufPos
  def bulkEnd: Int = bufLen
  def bulkPosOf(idx: Int): Long = chunkPos
  def bulkConsume(n: Int): Unit = bufPos += n
}
