package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** `df.write.format("mediawiki")` — the write side of the source: pages
  * serialized as MediaWiki export XML in the `-multistream` layout (one
  * complete bz2 stream per page group, header stream before the first
  * page, footer stream after the last) with the `offset:page_id:title`
  * index sibling. An engine-written archive is therefore readable AND
  * skip-plannable by this source's own reader/planner (round-trip
  * oracle q190; the reference has no write side at all — its output is
  * the diffdb TSV, which [[graft.functions.GraftFunctions]] covers).
  *
  * Scale design: each input partition writes one
  * `part-NNNNN-<uuid>.xml.bz2` + `part-NNNNN-<uuid>-index.txt` pair —
  * no driver funnel, no global sort. A page's revisions must be
  * CONTIGUOUS and ordered within one partition; the Write declares
  * `RequiresDistributionAndOrdering` (clustered by `page_id`, ordered
  * by `(page_id, rev_seq)`) so Catalyst inserts the shuffle+sort —
  * callers whose frames are already page-contiguous (anything straight
  * out of this source's reader) set `assumeGrouped=true` to skip it;
  * the writer still verifies the invariant per task and fails loudly
  * on a violation (a silently split page would drop revisions from
  * every prev/curr pairing downstream).
  *
  * Input schema: the source's OWN read schema (`previousRevision=false`
  * form; a `prev`/`raw_xml` column is accepted and ignored) — so
  * read → transform → write round-trips without projection. NULL
  * semantics mirror the reader exactly: NULL `text` writes the
  * RevisionDelete `deleted="deleted"` marker, NULL `ns`/`redirect`/
  * `comment`/`model`/`format`/`parent_id` omit their elements, a NULL
  * `contributor` struct omits the element and `deleted=true` writes
  * the attribute form.
  *
  * Commit protocol: tasks write dot-prefixed temp names (invisible to
  * the directory listing's hidden-file rule), the job commit renames
  * dump FIRST, index second — the transient states are an unrenamed
  * temp (invisible) or a dump without its index (size-planned read,
  * correct); an index ever appearing without its dump would be LISTED
  * as a dump and read as garbage, which the rename order forbids.
  *
  * Options: `multistreamPagesPerStream` (default 100, the published
  * Wikipedia grouping), `multistreamStreamBytes` (uncompressed-byte
  * budget that cuts a stream early; 0 = off), `multistreamHeader`
  * (full XML before the first page — pass the original dump's head to
  * preserve siteinfo so ns skip-planning engages on the written
  * archive; default a minimal `<mediawiki>`), `assumeGrouped`,
  * `bz2BlockSize` (1-9, default 9), `multistreamIndexBz2` (write the
  * index as `-index.txt.bz2`, the published Wikipedia layout; default
  * plain text).
  */
object MediaWikiWrite {
  val DefaultPagesPerStream = 100

  private[sources] val AmpBytes = "&amp;".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private[sources] val LtBytes = "&lt;".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private[sources] val GtBytes = "&gt;".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Element-content escape — exact inverse of the reader's
    * [[XmlFields.unescapeToU8]] named-entity subset for the characters
    * the escaper rewrites (&, <, >; a body free of bare `<` is what
    * bounds the reader's metadata scans). */
  def esc(s: String): String = {
    if (s.indexOf('&') < 0 && s.indexOf('<') < 0 && s.indexOf('>') < 0) return s
    val out = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => out.append("&amp;")
        case '<' => out.append("&lt;")
        case '>' => out.append("&gt;")
        case c => out.append(c)
      }
      i += 1
    }
    out.toString
  }

  /** Attribute-value escape (double-quoted attributes add `"`). */
  def escAttr(s: String): String = {
    val e = esc(s)
    if (e.indexOf('"') < 0) e else e.replace("\"", "&quot;")
  }

  /** Epoch micros → the dump's ISO-8601 UTC form; ISO_INSTANT prints
    * the fraction only when nonzero, matching the reader's fixed-width
    * fast path for second-resolution stamps. */
  def isoTimestamp(us: Long): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L))
}

class MediaWikiWriteBuilder(info: LogicalWriteInfo, props: Map[String, String])
  extends WriteBuilder {
  override def build(): Write = new MediaWikiWrite(info.schema(), props)
}

/** Writer options, parsed and validated ONCE at planning time (next to
  * the `resolveOrdinals` schema checks) — a malformed value must fail
  * before the clustering shuffle and sort run, not per task after them
  * (ADVICE r14). */
private[sources] case class MediaWikiWriterOpts(pagesPerStream: Int,
    streamBytes: Long, header: String, blockSize: Int,
    indexBz2: Boolean, assumeGrouped: Boolean) extends Serializable

private[sources] object MediaWikiWriterOpts {
  def parse(props: Map[String, String]): MediaWikiWriterOpts = {
    val pagesPerStream = math.max(1,
      props.get("multistreamPagesPerStream").map(_.trim.toInt)
        .getOrElse(MediaWikiWrite.DefaultPagesPerStream))
    val streamBytes =
      props.get("multistreamStreamBytes").map(_.trim.toLong).getOrElse(0L)
    val header = props.getOrElse("multistreamHeader", "<mediawiki>\n")
    require(header.contains("<mediawiki"),
      "multistreamHeader must open the <mediawiki> document element")
    val blockSize = props.get("bz2BlockSize").map(_.trim.toInt).getOrElse(9)
    require(blockSize >= 1 && blockSize <= 9,
      s"bz2BlockSize must be 1-9, got $blockSize")
    // published Wikipedia dumps ship the index COMPRESSED
    // (`...-multistream-index.txt.bz2`); opt-in mirrors that layout —
    // the reader's `locate` prefers the .bz2 sibling and the directory
    // listing's `isIndexSibling` skips both spellings
    val indexBz2 =
      props.get("multistreamIndexBz2").exists(_.trim.equalsIgnoreCase("true"))
    val assumeGrouped =
      props.get("assumeGrouped").exists(_.trim.equalsIgnoreCase("true"))
    MediaWikiWriterOpts(pagesPerStream, streamBytes, header, blockSize,
      indexBz2, assumeGrouped)
  }
}

class MediaWikiWrite(schema: StructType, props: Map[String, String])
  extends Write with RequiresDistributionAndOrdering {
  private val assumeGrouped = MediaWikiWriterOpts.parse(props).assumeGrouped

  override def requiredDistribution(): Distribution =
    if (assumeGrouped) Distributions.unspecified()
    else Distributions.clustered(Array(Expressions.identity("page_id")))

  override def requiredOrdering(): Array[SortOrder] =
    if (assumeGrouped) Array.empty
    else {
      // within-page revision order must be pinned by SOMETHING: a frame
      // without rev_seq would otherwise be written in arbitrary
      // shuffle-fetch order (and the reader re-derives rev_seq from
      // file order — silently garbled prev/curr pairing downstream).
      // curr.rev_id is the natural fallback: required by the schema
      // check and monotone in revision order for real dumps.
      val keys = Seq("page_id") ++
        (if (schema.fieldNames.contains("rev_seq")) Seq("rev_seq")
         else Seq("curr.rev_id"))
      keys.map(k => Expressions.sort(Expressions.identity(k),
        SortDirection.ASCENDING)).toArray
    }

  /** Per task, for the dump file: uncompressed XML bytes, compressed
    * bytes and bz2 blocks. */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new XmlBytesWrittenMetric, new Bz2BytesWrittenMetric, new Bz2BlocksWrittenMetric,
      new Bz2EncodeTimeMetric)

  override def toBatch: BatchWrite = new MediaWikiBatchWrite(schema, props)

  override def toStreaming:
      org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new MediaWikiStreamingWrite(schema, props)
}

/** Shared write-side plumbing: target-dir resolution, Hadoop conf
  * snapshot, and the overwrite rename the STREAMING commit needs
  * (batch commits never collide — their names carry a uuid). */
private[sources] object MediaWikiWriteCommit {
  def resolveDir(props: Map[String, String]): String = {
    val paths = MediaWikiTable.resolvePaths(props)
    require(paths.size == 1,
      s"mediawiki write needs exactly one target path, got $paths")
    paths.head
  }

  def conf: Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  def confMap(c: Configuration): Map[String, String] = {
    val it = c.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }

  /** Rename that REPLACES an existing destination (FileContext where
    * available; delete+rename fallback mirrors the streaming file
    * log's — never ignore a failed rename). */
  def renameOverwrite(c: Configuration, src: Path, dst: Path): Unit = {
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, c)
      fc.rename(src, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        val fs = dst.getFileSystem(c)
        if (fs.exists(dst)) fs.delete(dst, false)
        require(fs.rename(src, dst), s"failed to commit $dst")
    }
  }
}

/** Serializable task-side factory (the StreamingWrite itself never
  * ships — an anonymous inner factory would drag it along as $outer). */
class MediaWikiStreamingWriterFactory(schema: StructType,
    opts: MediaWikiWriterOpts, dir: String, hadoopConf: Map[String, String])
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new MediaWikiDataWriter(schema, opts, dir, hadoopConf, partitionId, taskId,
      stemOverride = Some(f"part-e$epochId%05d-p$partitionId%05d"))
}

/** Micro-batch streaming form of the sink
  * (`df.writeStream.format("mediawiki")`): each epoch's tasks write
  * the same multistream layout as batch, but under DETERMINISTIC final
  * names `part-e<epoch>-p<partition>`, and the epoch commit renames
  * with OVERWRITE. Exactly-once without a sink metadata log follows
  * from determinism: a replayed epoch (failure between the sink commit
  * and the engine's commit-log write) re-executes the SAME pinned
  * offsets through the same deterministic grouping and bz2 encoder
  * into byte-identical files over the same names — the overwrite is a
  * no-op in content. Task-attempt temp names stay uuid-unique
  * (speculation-safe) and dot-prefixed (invisible to this source's
  * directory listing, so a stream can WRITE INTO a directory another
  * query is reading); the driver-side commit coordinator admits one
  * attempt per partition. Dump renames before its index, as in batch:
  * an index without its dump would be listed AS a dump. */
class MediaWikiStreamingWrite(schema: StructType, props: Map[String, String])
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val dir: String = MediaWikiWriteCommit.resolveDir(props)
  // fail on schema AND option problems at PLANNING time, not per task
  MediaWikiWriterFactory.resolveOrdinals(schema)
  private val opts = MediaWikiWriterOpts.parse(props)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val c = MediaWikiWriteCommit.conf
    val p = new Path(dir)
    p.getFileSystem(c).mkdirs(p)
    new MediaWikiStreamingWriterFactory(schema, opts, dir,
      MediaWikiWriteCommit.confMap(c))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val c = MediaWikiWriteCommit.conf
    messages.collect { case m: MediaWikiCommitMessage if m.tmpDump != null =>
      MediaWikiWriteCommit.renameOverwrite(c, new Path(m.tmpDump), new Path(m.dump))
      MediaWikiWriteCommit.renameOverwrite(c, new Path(m.tmpIdx), new Path(m.idx))
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val c = MediaWikiWriteCommit.conf
    messages.collect { case m: MediaWikiCommitMessage if m.tmpDump != null =>
      val fs = new Path(m.tmpDump).getFileSystem(c)
      Seq(m.tmpDump, m.tmpIdx).foreach { t =>
        try fs.delete(new Path(t), false) catch { case _: java.io.IOException => }
      }
    }
  }
}

case class MediaWikiCommitMessage(tmpDump: String, dump: String,
    tmpIdx: String, idx: String) extends WriterCommitMessage

class MediaWikiBatchWrite(schema: StructType, props: Map[String, String])
  extends BatchWrite {

  private val dir: String = MediaWikiWriteCommit.resolveDir(props)

  // fail on schema AND option problems at PLANNING time, not per task
  MediaWikiWriterFactory.resolveOrdinals(schema)
  private val opts = MediaWikiWriterOpts.parse(props)

  private def conf: Configuration = MediaWikiWriteCommit.conf

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val c = conf
    val p = new Path(dir)
    p.getFileSystem(c).mkdirs(p)
    new MediaWikiWriterFactory(schema, opts, dir, MediaWikiWriteCommit.confMap(c))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val c = conf
    messages.collect { case m: MediaWikiCommitMessage if m.tmpDump != null =>
      val fs = new Path(m.tmpDump).getFileSystem(c)
      // dump BEFORE index (see the class Scaladoc's ordering argument)
      require(fs.rename(new Path(m.tmpDump), new Path(m.dump)),
        s"failed to commit ${m.dump}")
      require(fs.rename(new Path(m.tmpIdx), new Path(m.idx)),
        s"failed to commit ${m.idx}")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val c = conf
    messages.collect { case m: MediaWikiCommitMessage if m.tmpDump != null =>
      val fs = new Path(m.tmpDump).getFileSystem(c)
      Seq(m.tmpDump, m.tmpIdx).foreach { t =>
        try fs.delete(new Path(t), false) catch { case _: java.io.IOException => }
      }
    }
  }
}

object MediaWikiWriterFactory {
  /** Field ordinals the writer reads; loud on a missing/mistyped
    * required column. Optional curr subfields resolve to -1 (absent →
    * element omitted). */
  case class Ordinals(pageId: Int, title: Int, ns: Int, redirect: Int,
      curr: Int, currFields: Map[String, Int], nCurr: Int,
      contribFields: Map[String, Int], nContrib: Int)

  def resolveOrdinals(schema: StructType): Ordinals = {
    def req(name: String, tpe: DataType): Int = {
      val i = schema.fieldNames.indexOf(name)
      require(i >= 0 && schema.fields(i).dataType == tpe,
        s"mediawiki write needs column `$name: ${tpe.simpleString}` " +
          s"(the source's own read schema); got ${schema.simpleString}")
      i
    }
    def opt(name: String): Int = schema.fieldNames.indexOf(name)
    val currOrd = schema.fieldNames.indexOf("curr")
    require(currOrd >= 0 && schema.fields(currOrd).dataType.isInstanceOf[StructType],
      s"mediawiki write needs the `curr` revision struct; got ${schema.simpleString}")
    val currType = schema.fields(currOrd).dataType.asInstanceOf[StructType]
    require(currType.fieldNames.contains("rev_id"),
      "mediawiki write needs `curr.rev_id`")
    val contribOrd = currType.fieldNames.indexOf("contributor")
    require(contribOrd < 0 ||
      currType.fields(contribOrd).dataType.isInstanceOf[StructType],
      "mediawiki write: `curr.contributor` must be a struct")
    val contribType = contribOrd match {
      case -1 => new StructType()
      case i => currType.fields(i).dataType.asInstanceOf[StructType]
    }
    // Type-check EVERY field the writer will read, at PLANNING time: a
    // mistyped optional column would otherwise corrupt silently at task
    // time (getLong on an UnsafeRow int slot zero-extends — a negative
    // int becomes a huge positive rev_id IN THE ARCHIVE) or throw per
    // task after the shuffle already ran.
    def checkOpt(st: StructType, where: String, name: String,
        ok: DataType => Boolean, want: String): Unit = {
      val i = st.fieldNames.indexOf(name)
      require(i < 0 || ok(st.fields(i).dataType),
        s"mediawiki write: `$where$name` must be $want, got " +
          s"${st.fields(i).dataType.simpleString}")
    }
    val long: DataType => Boolean = _ == LongType
    val str: DataType => Boolean = _ == StringType
    val bool: DataType => Boolean = _ == BooleanType
    // epoch-micros long is what InternalRow stores for both timestamp
    // flavors; a raw LongType column of micros is equally valid
    val tsOk: DataType => Boolean =
      t => t == TimestampType || t == TimestampNTZType || t == LongType
    checkOpt(schema, "", "ns", _ == IntegerType, "int")
    checkOpt(schema, "", "redirect", str, "string")
    // rev_seq is never READ by the writer but is the ordering key when
    // present: a StringType rev_seq would sort "10" before "2" and
    // garble within-page revision order silently
    checkOpt(schema, "", "rev_seq",
      t => t == IntegerType || t == LongType || t == ShortType,
      "int/bigint")
    checkOpt(currType, "curr.", "parent_id", long, "bigint")
    checkOpt(currType, "curr.", "timestamp", tsOk, "timestamp/bigint micros")
    checkOpt(currType, "curr.", "minor", bool, "boolean")
    checkOpt(currType, "curr.", "bytes", long, "bigint")
    Seq("comment", "model", "format", "text", "sha1")
      .foreach(checkOpt(currType, "curr.", _, str, "string"))
    require(currType.fields(currType.fieldNames.indexOf("rev_id"))
      .dataType == LongType, "mediawiki write: `curr.rev_id` must be bigint")
    checkOpt(contribType, "curr.contributor.", "username", str, "string")
    checkOpt(contribType, "curr.contributor.", "ip", str, "string")
    checkOpt(contribType, "curr.contributor.", "id", long, "bigint")
    checkOpt(contribType, "curr.contributor.", "deleted", bool, "boolean")
    Ordinals(
      req("page_id", LongType), req("title", StringType),
      opt("ns"), opt("redirect"),
      currOrd, currType.fieldNames.zipWithIndex.toMap, currType.length,
      contribType.fieldNames.zipWithIndex.toMap, contribType.length)
  }
}

class MediaWikiWriterFactory(schema: StructType, opts: MediaWikiWriterOpts,
    dir: String, hadoopConf: Map[String, String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new MediaWikiDataWriter(schema, opts, dir, hadoopConf, partitionId, taskId)
}

/** Task-side writer. MEMORY BOUND: at most one revision's metadata
  * fragment is ever buffered (`frag`); revision TEXT streams
  * byte-escaped directly into the open page-group bz2 stream, whose
  * [[Bz2OutputStream]] holds one filling block plus a constant
  * look-ahead of queued blocks (6 × 900 KB) — under the default
  * (sorted) distribution nothing in this writer grows with page size,
  * page count, or revision count (the contiguity check is an O(1)
  * monotonic page_id comparison; r15 verdict #1). Index lines wait
  * only for their stream's offset, which is known once the blocks
  * queued before it are written, so they too are bounded by the
  * look-ahead. Only `assumeGrouped` — where page order is arbitrary —
  * keeps a revisit set, a primitive long set at ~11 bytes/page.
  * The READER's signature property (one revision pair per task,
  * `Probe giant read`) holds symmetrically on the write side
  * (`Probe giant write`; a whole-page `StringBuilder` here held
  * multi-GB char[] for GB-scale revision histories — r14 verdict #1).
  * A page group is still ONE complete bz2 stream, its blocks
  * compressed in parallel on the JVM-wide bz2 pool (one giant page
  * uses every core). Blocks are cut by the bytes alone, at the block
  * size's capacity, so incremental `write()` granularity cannot change
  * the emitted bytes — streaming exactly-once determinism is
  * unaffected.
  *
  * The archive is finished at the end of [[writeAll]], before Spark
  * takes the task's final [[currentMetricsValues]], so the write
  * metrics count every byte and block. */
class MediaWikiDataWriter(schema: StructType, opts: MediaWikiWriterOpts,
    dir: String, hadoopConf: Map[String, String], partitionId: Int, taskId: Long,
    stemOverride: Option[String] = None)
  extends DataWriter[InternalRow] {
  import MediaWikiWrite._

  private val ord = MediaWikiWriterFactory.resolveOrdinals(schema)
  private val pagesPerStream = opts.pagesPerStream
  private val streamBytes = opts.streamBytes
  private val header = opts.header
  private val blockSize = opts.blockSize

  private val conf = {
    val c = new Configuration(false)
    hadoopConf.foreach { case (k, v) => c.set(k, v) }
    if (hadoopConf.isEmpty) new Configuration() else c
  }

  // %05d partition in the name keeps directory listings in write order.
  // Batch stems carry a uuid (parallel jobs into one dir never collide);
  // streaming passes a DETERMINISTIC part-e<epoch>-p<partition> stem so
  // a replayed epoch overwrites itself. Temp names always get their own
  // attempt uuid — two speculative attempts of one task must not share.
  private val stem = stemOverride.getOrElse(
    f"part-$partitionId%05d-${java.util.UUID.randomUUID().toString.take(8)}")
  private val attempt = java.util.UUID.randomUUID().toString.take(8)
  private val idxSuffix = if (opts.indexBz2) "-index.txt.bz2" else "-index.txt"
  private val finalDump = new Path(dir, stem + ".xml.bz2")
  private val finalIdx = new Path(dir, stem + idxSuffix)
  private val tmpDump = new Path(dir, "." + stem + "-" + attempt + ".xml.bz2.tmp")
  private val tmpIdx = new Path(dir, "." + stem + "-" + attempt + idxSuffix + ".tmp")

  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  private var z: Bz2OutputStream = _ // every stream of the dump, header to footer
  private var iout: org.apache.hadoop.fs.FSDataOutputStream = _ // index temp file handle
  private var idxOut: java.io.OutputStream = _ // = iout, or a bz2 layer over it
  private var finished = false
  // index lines of the OPEN page-group stream (null between streams)
  private var streamIdx: StreamIndex = _
  private var streamFrom = 0L // z.bytesIn when the open stream started
  private var pagesInStream = 0
  // ONE fragment (page head / one revision's metadata) — the only
  // buffered XML; revision text bypasses it via writeEscaped
  private val frag = new java.lang.StringBuilder()
  private var curPageId = Long.MinValue
  private var pageOpen = false
  // Page-contiguity sanity check. Under the default
  // RequiresDistributionAndOrdering route rows arrive SORTED by page_id,
  // so a strictly-greater check against the last started page_id is a
  // COMPLETE revisit detector in O(1) — nothing grows with page count
  // (the class's memory-bound claim stays true). `assumeGrouped` drops
  // the sort, so page order is arbitrary and revisit detection needs a
  // set: a primitive open-addressing long set (~11 bytes/page at 0.7
  // load — the documented bound; the caller opted out of the shuffle
  // that would make it free).
  private var lastPageId = Long.MinValue
  private val seenPages: LongIdSet =
    if (opts.assumeGrouped) new LongIdSet() else null

  private def checkNewPage(pid: Long): Unit = {
    val fresh =
      if (seenPages == null) { val ok = pid > lastPageId; lastPageId = pid; ok }
      else seenPages.add(pid)
    require(fresh,
      s"page $pid is not contiguous in partition $partitionId — write with the " +
        "default distribution (drop assumeGrouped) or group the input by page_id")
  }

  private def openFile(): Unit = {
    out = tmpDump.getFileSystem(conf).create(tmpDump, true)
    z = new Bz2OutputStream(out, blockSize)
    iout = tmpIdx.getFileSystem(conf).create(tmpIdx, true)
    // a bz2 index is a STANDARD .bz2 file (one stream) — readable by the
    // Hadoop codec the index parser opens .txt.bz2 siblings with
    idxOut = if (opts.indexBz2) new Bz2OutputStream(iout, blockSize) else iout
    writeWholeStream(header)
  }

  /** One COMPLETE bz2 stream (header / footer — always small). */
  private def writeWholeStream(xml: String): Unit = {
    z.startStream()
    z.write(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    z.endStream()
  }

  /** Index lines of one page-group stream: held until the stream's
    * offset is known, then written in page order. */
  private final class StreamIndex {
    private var offset = -1L
    private val waiting = new java.util.ArrayList[String]()
    def add(line: String): Unit = if (offset >= 0) writeIdx(line) else waiting.add(line)
    def started(at: Long): Unit = {
      offset = at
      waiting.forEach(l => writeIdx(l))
      waiting.clear()
    }
    private def writeIdx(line: String): Unit =
      idxOut.write(s"$offset:$line\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def openStream(): Unit = {
    val s = new StreamIndex
    streamIdx = s
    z.startStream(s.started)
    streamFrom = z.bytesIn
    pagesInStream = 0
  }

  private def finishStream(): Unit = if (streamIdx != null) {
    z.endStream()
    streamIdx = null
  }

  /** Encode and write the pending fragment into the open stream, then
    * reset it. The stream budget is a BYTE budget (it bounds
    * reader-side per-stream decompression memory), counted by the bz2
    * stream in encoded bytes — exact where char counts would
    * under-count CJK 3× (review r14). */
  private def writeFrag(): Unit = {
    if (frag.length > 0) {
      val b = frag.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      z.write(b)
      frag.setLength(0)
    }
  }

  /** Stream a UTF8String's bytes into the open stream, escaped: UTF-8
    * passes through byte-identical except `&`, `<`, `>` (the same
    * subset [[MediaWikiWrite.esc]] rewrites) — no String or byte-copy
    * materialization of the (potentially multi-MB) revision text. The
    * backing array is read within this call only, never retained
    * (UTF8String buffers are reused across rows — r8 lesson). */
  private def writeEscaped(u: org.apache.spark.unsafe.types.UTF8String): Unit = {
    // the row's own bytes where they are on-heap, not a copy
    val bb = u.getByteBuffer
    val b = bb.array
    var i = bb.arrayOffset + bb.position()
    val n = i + bb.remaining
    var runStart = i
    while (i < n) {
      val c = b(i)
      if (c == '&' || c == '<' || c == '>') {
        if (i > runStart) z.write(b, runStart, i - runStart)
        val rep = if (c == '&') MediaWikiWrite.AmpBytes
          else if (c == '<') MediaWikiWrite.LtBytes else MediaWikiWrite.GtBytes
        z.write(rep)
        runStart = i + 1
      }
      i += 1
    }
    if (n > runStart) z.write(b, runStart, n - runStart)
  }

  private def closePage(): Unit = if (pageOpen) {
    frag.append("  </page>\n")
    writeFrag()
    pagesInStream += 1
    pageOpen = false
    if (pagesInStream >= pagesPerStream ||
      (streamBytes > 0 && z.bytesIn - streamFrom >= streamBytes)) finishStream()
  }

  private def startPage(row: InternalRow): Unit = {
    val pid = row.getLong(ord.pageId)
    checkNewPage(pid)
    require(!row.isNullAt(ord.title), s"NULL title for page $pid")
    val title = row.getUTF8String(ord.title).toString
    // '\r' breaks the index as surely as '\n': BufferedReader.readLine
    // treats a bare CR as a line terminator, so a CR title writes an
    // index line that parses as a malformed fragment — plan() would
    // abandon the whole index (ADVICE r14)
    require(title.indexOf('\n') < 0 && title.indexOf('\r') < 0,
      s"title of page $pid contains a line terminator")
    if (out == null) openFile()
    if (streamIdx == null) openStream()
    curPageId = pid
    pageOpen = true
    // the page's stream is the open one; its line is written as soon as
    // that stream's offset is known
    streamIdx.add(s"$pid:$title")
    frag.append("  <page>\n    <title>").append(esc(title)).append("</title>\n")
    if (ord.ns >= 0 && !row.isNullAt(ord.ns))
      frag.append("    <ns>").append(row.getInt(ord.ns)).append("</ns>\n")
    frag.append("    <id>").append(pid).append("</id>\n")
    if (ord.redirect >= 0 && !row.isNullAt(ord.redirect))
      frag.append("    <redirect title=\"")
        .append(escAttr(row.getUTF8String(ord.redirect).toString)).append("\" />\n")
  }

  private def appendRevision(row: InternalRow): Unit = {
    require(!row.isNullAt(ord.curr), s"NULL curr revision on page $curPageId")
    val r = row.getStruct(ord.curr, ord.nCurr)
    val f = ord.currFields
    def has(name: String): Boolean = f.get(name).exists(i => !r.isNullAt(i))
    frag.append("    <revision>\n")
    frag.append("      <id>").append(r.getLong(f("rev_id"))).append("</id>\n")
    if (has("parent_id"))
      frag.append("      <parentid>").append(r.getLong(f("parent_id"))).append("</parentid>\n")
    if (has("timestamp"))
      frag.append("      <timestamp>").append(isoTimestamp(r.getLong(f("timestamp")))).append("</timestamp>\n")
    if (has("contributor")) {
      val c = r.getStruct(f("contributor"), ord.nContrib)
      val cf = ord.contribFields
      def chas(n: String): Boolean = cf.get(n).exists(i => !c.isNullAt(i))
      if (cf.get("deleted").exists(i => !c.isNullAt(i) && c.getBoolean(i)))
        frag.append("      <contributor deleted=\"deleted\" />\n")
      else {
        frag.append("      <contributor>")
        if (chas("username"))
          frag.append("<username>").append(esc(c.getUTF8String(cf("username")).toString)).append("</username>")
        if (chas("id"))
          frag.append("<id>").append(c.getLong(cf("id"))).append("</id>")
        if (chas("ip"))
          frag.append("<ip>").append(esc(c.getUTF8String(cf("ip")).toString)).append("</ip>")
        frag.append("</contributor>\n")
      }
    }
    if (f.get("minor").exists(i => !r.isNullAt(i) && r.getBoolean(i)))
      frag.append("      <minor />\n")
    if (has("comment"))
      frag.append("      <comment>").append(esc(r.getUTF8String(f("comment")).toString)).append("</comment>\n")
    if (has("model"))
      frag.append("      <model>").append(esc(r.getUTF8String(f("model")).toString)).append("</model>\n")
    if (has("format"))
      frag.append("      <format>").append(esc(r.getUTF8String(f("format")).toString)).append("</format>\n")
    val bytesAttr = if (has("bytes")) s" bytes=\"${r.getLong(f("bytes"))}\"" else ""
    if (has("text")) {
      frag.append("      <text").append(bytesAttr).append(" xml:space=\"preserve\">")
      // flush the metadata fragment, then stream the text itself —
      // the one column that can be MBs — without materializing it
      writeFrag()
      writeEscaped(r.getUTF8String(f("text")))
      frag.append("</text>\n")
    } else
      // NULL text is the RevisionDelete marker — exactly what the
      // reader turns back into a NULL text column (q169 semantics)
      frag.append("      <text").append(bytesAttr).append(" deleted=\"deleted\" />\n")
    if (has("sha1"))
      frag.append("      <sha1>").append(esc(r.getUTF8String(f("sha1")).toString)).append("</sha1>\n")
    frag.append("    </revision>\n")
    writeFrag()
  }

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(ord.pageId), "NULL page_id")
    val pid = row.getLong(ord.pageId)
    if (!pageOpen || pid != curPageId) {
      closePage()
      startPage(row)
    }
    appendRevision(row)
  }

  override def writeAll(rows: java.util.Iterator[InternalRow]): Unit = {
    while (rows.hasNext) write(rows.next())
    finish()
  }

  /** Close the last page, write the footer and every queued block, and
    * the index; the files stay open for [[commit]]. */
  private def finish(): Unit = if (out != null && !finished) {
    closePage()
    finishStream()
    writeWholeStream("</mediawiki>\n")
    z.finish()
    idxOut match {
      case b: Bz2OutputStream => b.finish()
      case _ =>
    }
    finished = true
  }

  override def commit(): WriterCommitMessage = {
    if (out == null) { // empty partition: no file at all
      return MediaWikiCommitMessage(null, null, null, null)
    }
    finish()
    out.close()
    out = null
    iout.close()
    idxOut = null
    iout = null
    MediaWikiCommitMessage(tmpDump.toString, finalDump.toString,
      tmpIdx.toString, finalIdx.toString)
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val (xml, bz2, blocks, nanos) =
      if (z == null) (0L, 0L, 0L, 0L) else (z.bytesIn, z.bytesOut, z.blocksOut, z.encodeNanos)
    Array(TaskMetric("xmlBytesWritten", xml), TaskMetric("bz2BytesWritten", bz2),
      TaskMetric("bz2BlocksWritten", blocks), TaskMetric("bz2EncodeTime", nanos / 1000000))
  }

  override def abort(): Unit = {
    close()
    val fs = tmpDump.getFileSystem(conf)
    Seq(tmpDump, tmpIdx).foreach { t =>
      try fs.delete(t, false) catch { case _: java.io.IOException => }
    }
  }

  override def close(): Unit = {
    // abort path: the open bz2 streams need no finish (the temp files
    // are deleted); drop their queued blocks and release the handles
    if (out != null) {
      z.discard()
      idxOut match {
        case b: Bz2OutputStream => b.discard()
        case _ =>
      }
      out.close()
      out = null
    }
    idxOut = null
    if (iout != null) {
      try iout.close() catch { case _: java.io.IOException => }
      iout = null
    }
  }
}

/** Open-addressing hash set of primitive longs (linear probing,
  * power-of-two capacity, grow at 0.7 load) — 8 bytes/slot vs ~50 for
  * a boxed `java.util.HashSet[java.lang.Long]`. Used only for the
  * `assumeGrouped` contiguity check; Spark's own `OpenHashSet` is
  * `private[spark]` and not worth a bridge for 40 lines. */
private[sources] final class LongIdSet(initialCapacity: Int = 1 << 10) {
  private val Empty = Long.MinValue // sentinel: never a slot value
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity) * 2 - 1)
  private var table = {
    val t = new Array[Long](cap); java.util.Arrays.fill(t, Empty); t
  }
  private var used = 0
  private var hasEmpty = false

  /** true iff `v` was NOT already present. */
  def add(v: Long): Boolean = {
    if (v == Empty) {
      if (hasEmpty) return false
      hasEmpty = true; return true
    }
    if (used >= cap - (cap >> 2) - (cap >> 4)) grow() // > ~0.69 load
    val mask = cap - 1
    val h = v * -7046029254386353131L // Stafford mix13 multiplier
    var i = ((h ^ (h >>> 32)).toInt) & mask
    while (true) {
      val s = table(i)
      if (s == Empty) { table(i) = v; used += 1; return true }
      if (s == v) return false
      i = (i + 1) & mask
    }
    false // unreachable
  }

  private def grow(): Unit = {
    val old = table
    cap = cap << 1
    table = new Array[Long](cap)
    java.util.Arrays.fill(table, Empty)
    used = 0
    var j = 0
    val mask = cap - 1
    while (j < old.length) {
      val v = old(j)
      if (v != Empty) {
        val h = v * -7046029254386353131L
        var i = ((h ^ (h >>> 32)).toInt) & mask
        while (table(i) != Empty) i = (i + 1) & mask
        table(i) = v
        used += 1
      }
      j += 1
    }
  }
}
