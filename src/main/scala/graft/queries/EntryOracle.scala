package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end oracle for the flagship `entry()` dataflow — the one §2
  * surface that q143/q146/q152 do not cover: the XML SOURCE + prev/curr
  * PAIRING feeding the diff kernel. A deterministic mini-dump is
  * generated from a construction (pages, revisions, texts with provably
  * unique minimal diffs — [[TextQueries.diffPlant]]'s uniqueness
  * argument), read through `format("mediawiki")` → `diffdb` exactly as
  * `SparkEntry.entry` does, and every output field — rev_id, page_id,
  * namespace resolution (both the dump's `<ns>` element and the
  * siteinfo-driven title-prefix fallback), normalized title, timestamp,
  * comment (incl. XML entity unescape and absent-element NULL), minor
  * flag, user id/text (username and IP contributors), and the full
  * nested op rows — is compared against VALUES computed by STRING
  * ARITHMETIC on the construction, never by calling any kernel.
  *
  * Reference semantics: the dump fields are `fileformat.rst:4-27`'s
  * columns; pairing is the reference's prev/curr revision streaming
  * (`README.rst:22-27`); a page's FIRST revision diffs against the
  * empty text, which tokenizes to nothing, so its provably unique
  * minimal diff is one add op of the entire text at position 0. */
object EntryOracle {

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private final case class Rev(revId: Long, ts: String, comment: Option[String],
      minor: Boolean, user: Either[String, (String, Long)], text: String)
  private final case class Pg(pageId: Long, title: String, ns: Option[Int],
      revs: Seq[Rev])

  private val NumPlants = 10

  /** The planted pages: title/namespace shape cycles through plain
    * (ns 0 from the dump), Talk-prefixed (ns element present AND
    * prefix), and Category-prefixed with the `<ns>` element OMITTED —
    * namespace must then come from siteinfo-driven title
    * normalization. Contributors alternate username/IP; the minor
    * flag and an absent comment element are both exercised. */
  private def pages: Seq[Pg] = (0 until NumPlants).map { id =>
    val (o, n, _) = TextQueries.diffPlant(id)
    val (title, ns) = id % 3 match {
      case 0 => (s"Plant page $id", Some(0))
      case 1 => (s"Talk:Plant page $id", Some(1))
      case _ => (s"Category:Plant $id", None)
    }
    def user(seq: Int): Either[String, (String, Long)] =
      if ((id + seq) % 2 == 0) Right((s"Editor$id", 7000L + id))
      else Left(s"10.0.0.$id")
    val r1 = Rev(1000L + 2 * id, tsOf(id, 0),
      if (id % 4 == 3) None else Some(s"create & <x> 'q' $id"),
      minor = false, user(0), o)
    val r2 = Rev(1001L + 2 * id, tsOf(id, 1), Some(s"edit $id"),
      minor = id % 2 == 1, user(1), n)
    Pg(100L + id, title, ns, Seq(r1, r2))
  }

  private def tsOf(id: Int, seq: Int): String =
    f"2021-02-${1 + id}%02dT${3 + seq}%02d:30:00Z"

  private def epochOf(id: Int, seq: Int): Long =
    java.time.Instant.parse(tsOf(id, seq)).getEpochSecond

  /** Render the construction as a MediaWiki export XML document. */
  private[graft] def dumpXml: String = renderDump(pages)

  private def renderDump(ps: Seq[Pg]): String = {
    val sb = new StringBuilder
    sb ++= """<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" version="0.10" xml:lang="en">
      |  <siteinfo>
      |    <sitename>PlantWiki</sitename>
      |    <namespaces>
      |      <namespace key="0" case="first-letter" />
      |      <namespace key="1" case="first-letter">Talk</namespace>
      |      <namespace key="14" case="first-letter">Category</namespace>
      |    </namespaces>
      |  </siteinfo>
      |""".stripMargin
    ps.foreach { p =>
      sb ++= "  <page>\n"
      sb ++= s"    <title>${xmlEscape(p.title)}</title>\n"
      p.ns.foreach(n => sb ++= s"    <ns>$n</ns>\n")
      sb ++= s"    <id>${p.pageId}</id>\n"
      var parent: Option[Long] = None
      p.revs.foreach { r =>
        sb ++= "    <revision>\n"
        sb ++= s"      <id>${r.revId}</id>\n"
        parent.foreach(pid => sb ++= s"      <parentid>$pid</parentid>\n")
        sb ++= s"      <timestamp>${r.ts}</timestamp>\n"
        sb ++= "      <contributor>\n"
        r.user match {
          case Right((name, uid)) =>
            sb ++= s"        <username>${xmlEscape(name)}</username>\n"
            sb ++= s"        <id>$uid</id>\n"
          case Left(ip) =>
            sb ++= s"        <ip>$ip</ip>\n"
        }
        sb ++= "      </contributor>\n"
        if (r.minor) sb ++= "      <minor/>\n"
        r.comment.foreach(c => sb ++= s"      <comment>${xmlEscape(c)}</comment>\n")
        sb ++= "      <model>wikitext</model>\n"
        sb ++= "      <format>text/x-wiki</format>\n"
        sb ++= s"""      <text xml:space="preserve" bytes="${r.text.getBytes("UTF-8").length}">${xmlEscape(r.text)}</text>\n"""
        sb ++= "    </revision>\n"
        parent = Some(r.revId)
      }
      sb ++= "  </page>\n"
    }
    sb ++= "</mediawiki>\n"
    sb.result()
  }

  /** Write the dump to a deterministic temp path (atomic move; content
    * is a pure function of the construction, so rewriting is cheap and
    * always safe). */
  private[graft] def ensureDump(): String = {
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val target = dir.resolve("graft_entry_oracle_dump.xml")
    val tmp = java.nio.file.Files.createTempFile(dir, "graft_entry_oracle", ".xml")
    java.nio.file.Files.write(tmp, dumpXml.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    target.toString
  }

  /** Write the same dump bz2-COMPRESSED (one stream, recognized by
    * extension) so the flagship oracle can also drive the compressed
    * reader path end-to-end. */
  private[graft] def ensureDumpBz2(): String = {
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val target = dir.resolve("graft_entry_oracle_dump.xml.bz2")
    val tmp = java.nio.file.Files.createTempFile(dir, "graft_entry_oracle", ".xml.bz2")
    val fos = new java.io.FileOutputStream(tmp.toFile)
    try {
      val z = new graft.sources.Bz2OutputStream(fos, 1)
      z.write(dumpXml.getBytes("UTF-8"))
      z.finish()
    } finally fos.close()
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    target.toString
  }

  /** Write the same dump in the -MULTISTREAM layout (header stream with
    * the siteinfo, one complete bz2 stream PER PAGE, footer stream) plus
    * the published index sibling (`offset:page_id:title`, raw titles) —
    * so [[graft.sources.MultistreamIndex]]'s stream-aligned planning and
    * filter skip-planning sit under the oracle gate, not only the specs. */
  private[graft] def ensureDumpMultistream(): String = {
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val target = dir.resolve("graft_entry_oracle_multistream.xml.bz2")
    val idxTarget = dir.resolve("graft_entry_oracle_multistream-index.txt")
    val tmp = java.nio.file.Files.createTempFile(dir, "graft_entry_oracle_ms", ".xml.bz2")
    val idxTmp = java.nio.file.Files.createTempFile(dir, "graft_entry_oracle_ms", ".txt")
    val ps = pages
    graft.sources.MultistreamWriter.writeGrouped(dumpXml, tmp.toFile,
      idxTmp.toFile, pagesPerStream = 1,
      pageIdOf = i => ps(i).pageId, titleOf = i => ps(i).title)
    java.nio.file.Files.move(idxTmp, idxTarget,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    target.toString
  }

  /** Write the same dump gzip-COMPRESSED (standard gzip container;
    * Hadoop's GzipCodec recognizes the `.gz` extension) so the
    * NON-SPLITTABLE-codec whole-file fallback — the reference's
    * `StreamWikiDumpInputFormat.java:265-266` /
    * `SeekableInputStream.java:58-66` path — also sits inside the
    * correctness gate. Real users do hit gzipped exports. */
  private[graft] def ensureDumpGz(): String = {
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val target = dir.resolve("graft_entry_oracle_dump.xml.gz")
    val tmp = java.nio.file.Files.createTempFile(dir, "graft_entry_oracle", ".xml.gz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(tmp.toFile))
    try { out.write(dumpXml.getBytes("UTF-8")); out.finish() }
    finally out.close()
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    target.toString
  }

  /** Expected diffdb rows, one per (revision, op) — computed purely
    * from the construction. `None` op fields model a revision whose
    * diff is empty (the identity edit shape, id % 5 == 0). */
  private def expectedRows: Seq[(Long, Long, Int, String, Long, Option[String],
      Boolean, Option[Long], String, Option[(Int, Int, Int, String)])] =
    pages.zipWithIndex.flatMap { case (p, id) =>
      val (o, _, ops2) = TextQueries.diffPlant(id)
      val nsExpected = id % 3 match {
        case 0 => 0
        case 1 => 1
        case _ => 14 // from siteinfo title normalization, no <ns> element
      }
      val titleExpected = id % 3 match {
        case 0 => s"Plant page $id"
        case 1 => s"Plant page $id" // "Talk:" prefix stripped
        case _ => s"Plant $id"      // "Category:" prefix stripped
      }
      p.revs.zipWithIndex.flatMap { case (r, seq) =>
        val (uid, utext) = r.user match {
          case Right((name, u)) => (Some(u), name)
          case Left(ip) => (None, ip)
        }
        val ops: Seq[(Int, Int, String)] =
          if (seq == 0) Seq((0, 1, o)) else ops2
        val base = (r.revId, p.pageId, nsExpected, titleExpected,
          epochOf(id, seq), r.comment, r.minor, uid, utext)
        if (ops.isEmpty) Seq((base._1, base._2, base._3, base._4, base._5,
          base._6, base._7, base._8, base._9,
          None: Option[(Int, Int, Int, String)]))
        else ops.zipWithIndex.map { case ((pos, act, content), i) =>
          (base._1, base._2, base._3, base._4, base._5, base._6, base._7,
            base._8, base._9, Some((i, pos, act, content)))
        }
      }
    }

  /** Flatten a diffdb frame for comparison: one output row per
    * (revision, op). */
  private def flatten(db: DataFrame): DataFrame = {
    import db.sparkSession.implicits._
    db
      .select($"rev_id", $"page_id", $"namespace".cast("long").as("namespace"),
        $"title", $"timestamp", $"comment", $"minor",
        $"user_id", $"user_text", $"diffs")
      .select($"rev_id", $"page_id", $"namespace", $"title", $"timestamp",
        $"comment", $"minor", $"user_id", $"user_text",
        posexplode_outer($"diffs"))
      .select($"rev_id", $"page_id", $"namespace", $"title", $"timestamp",
        $"comment", $"minor", $"user_id", $"user_text",
        $"pos".cast("long").as("op_idx"),
        $"col.position".cast("long").as("position"),
        $"col.action".cast("long").as("action"),
        $"col.content".as("content"))
      .orderBy($"rev_id", $"op_idx")
  }

  // ---------------------------------------------------------------- q153
  /** The flagship dataflow, flattened for comparison: source → pair →
    * diff → diffdb, one output row per (revision, op). */
  def q153EntryDiffdb(s: SparkSession, dir: String): DataFrame =
    flatten(graft.SparkEntry.entryFor(s, ensureDump()))

  // ---------------------------------------------------------------- q163
  /** The same flagship oracle through the bz2-COMPRESSED reader: the
    * identical dump bz2-compressed, identical
    * expected VALUES — so the compressed-stream scan path sits inside
    * the correctness gate, not only the specs. */
  def q163EntryDiffdbBz2(s: SparkSession, dir: String): DataFrame =
    flatten(graft.SparkEntry.entryFor(s, ensureDumpBz2()))

  // ---------------------------------------------------------------- q183
  /** The flagship oracle through the -MULTISTREAM layout WITH its
    * published index: stream-aligned planning (one partition per page
    * stream, asserted — index planning provably engaged, not the
    * size-based fallback), identical VALUES to q153. */
  def q183EntryMultistream(s: SparkSession, dir: String): DataFrame = {
    val path = ensureDumpMultistream()
    val fromDump =
      try graft.MediaWiki.namespacesByName(
        graft.MediaWiki.siteinfoNamespaces(s, path))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val src = s.read.format("mediawiki")
      .option("multistreamTargetBytes", "1")
      .load(path)
    require(src.rdd.getNumPartitions == NumPlants,
      s"index planning must yield one partition per page stream, got ${src.rdd.getNumPartitions}")
    flatten(graft.functions.GraftFunctions.diffdb(src, nsByName = fromDump))
  }

  // ---------------------------------------------------------------- q184
  /** q164's exclusion through the index SKIP-planner: the literal
    * `<title>Category:` excludePagesWith is proven dead per stream AT
    * PLANNING (the three Category streams are never decompressed —
    * partition count asserted), and the output still matches q164's
    * VALUES exactly. Exclusion skipping is OPT-IN
    * (`multistreamSkipExcluded` — the raw-regex vs decoded-index
    * equivalence needs the standard-escaper contract, ADVICE r12;
    * this construction's writer IS the standard escaper). */
  def q184EntryMultistreamExcluded(s: SparkSession, dir: String): DataFrame = {
    val path = ensureDumpMultistream()
    val fromDump =
      try graft.MediaWiki.namespacesByName(
        graft.MediaWiki.siteinfoNamespaces(s, path))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val src = s.read.format("mediawiki")
      .option("multistreamTargetBytes", "1")
      .option("excludePagesWith", "<title>Category:")
      .option("multistreamSkipExcluded", "true")
      .load(path)
    val nLive = NumPlants - (0 until NumPlants).count(_ % 3 == 2)
    require(src.rdd.getNumPartitions == nLive,
      s"skip planning must drop the Category streams, got ${src.rdd.getNumPartitions} (want $nLive)")
    flatten(graft.functions.GraftFunctions.diffdb(src, nsByName = fromDump))
  }

  // ---------------------------------------------------------------- q186
  /** Random access to ONE page's history — the multistream index's
    * original purpose: a pushed `page_id = 103` predicate reaches the
    * index SKIP-planner (exactly one stream decompressed, asserted)
    * and the reader, and the diffdb output matches q153's VALUES
    * restricted to that page (construction id 3). */
  def q186EntryMsPageLookup(s: SparkSession, dir: String): DataFrame = {
    val path = ensureDumpMultistream()
    val fromDump =
      try graft.MediaWiki.namespacesByName(
        graft.MediaWiki.siteinfoNamespaces(s, path))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val src = s.read.format("mediawiki")
      .option("multistreamTargetBytes", "1")
      .load(path)
      .where(col("page_id") === 103L)
    require(src.rdd.getNumPartitions == 1,
      s"page_id lookup must decompress ONE stream, got ${src.rdd.getNumPartitions}")
    flatten(graft.functions.GraftFunctions.diffdb(src, nsByName = fromDump))
  }

  // ---------------------------------------------------------------- q188
  /** The reference's canonical exclude — namespace exclusion
    * (`README.rst:225-230`) — as an articles-only read through the ns
    * SKIP-planner: a pushed `ns = 0` predicate is answered from the
    * indexed titles' siteinfo namespace prefixes (Talk:/Category:
    * streams are never decompressed — partition count asserted), the
    * reader re-applies the same predicate to the parsed `<ns>`, and the
    * output matches q153's VALUES restricted to the main-namespace
    * pages. The construction's Category pages OMIT `<ns>` — the planner
    * classifies them ns 14 and skips them, which is provably safe: the
    * reader drops absent-`<ns>` pages under any pushed ns predicate
    * regardless (NULL matches nothing). */
  def q188EntryMsArticlesOnly(s: SparkSession, dir: String): DataFrame = {
    val path = ensureDumpMultistream()
    val fromDump =
      try graft.MediaWiki.namespacesByName(
        graft.MediaWiki.siteinfoNamespaces(s, path))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val src = s.read.format("mediawiki")
      .option("multistreamTargetBytes", "1")
      .load(path)
      .where(col("ns") === 0)
    val nMain = (0 until NumPlants).count(_ % 3 == 0)
    require(src.rdd.getNumPartitions == nMain,
      s"ns skip-planning must leave only the $nMain main-ns streams, got ${src.rdd.getNumPartitions}")
    flatten(graft.functions.GraftFunctions.diffdb(src, nsByName = fromDump))
  }

  // ---------------------------------------------------------------- q190
  /** The WRITE side closes the loop: the flagship construction is read
    * from the plain dump, written through `df.write.format("mediawiki")`
    * (multistream layout, one page per stream, the original siteinfo
    * header preserved), and the ENGINE-WRITTEN archive is read back via
    * per-stream index planning (partition count asserted — the written
    * index drives the planner, not the size fallback) into the same
    * diffdb flatten. VALUES are q153's verbatim: writer escaping,
    * timestamp rendering, contributor/minor/comment/parentid forms, and
    * the index side-file all sit inside the correctness gate. */
  def q190EntryWriteRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = ensureDump()
    val outDir = OracleTmp.fresh("q190_ms_write").toString
    val header = dumpXml.substring(0, dumpXml.indexOf("  <page>"))
    s.read.format("mediawiki").option("previousRevision", "false").load(path)
      .write.format("mediawiki")
      .option("assumeGrouped", "true") // reader output is page-contiguous
      .option("multistreamPagesPerStream", "1")
      .option("multistreamHeader", header)
      .mode("append").save(outDir)
    val src = s.read.format("mediawiki")
      .option("multistreamTargetBytes", "1")
      .load(outDir)
    require(src.rdd.getNumPartitions == NumPlants,
      s"the written index must drive per-stream planning, got ${src.rdd.getNumPartitions}")
    // namespaces parse from the WRITTEN archive's own header — the
    // header option must preserve siteinfo end-to-end
    val part = new java.io.File(outDir).listFiles()
      .find(_.getName.endsWith(".xml.bz2")).get
    val fromWritten = graft.MediaWiki.namespacesByName(
      graft.MediaWiki.siteinfoNamespaces(s, part.getAbsolutePath))
    require(fromWritten.nonEmpty, "written archive lost the siteinfo header")
    flatten(graft.functions.GraftFunctions.diffdb(src, nsByName = fromWritten))
  }

  // ---------------------------------------------------------------- q193
  /** q190's round-trip with the PUBLISHED index layout: the writer
    * emits the sibling as `-index.txt.bz2` (`multistreamIndexBz2`,
    * exactly how Wikimedia ships multistream indexes) and the read
    * back must be driven by THAT compressed index — per-stream
    * partition count asserted, plain-text sibling asserted absent.
    * VALUES are q153's verbatim: the compressed index file sits inside
    * the correctness gate end-to-end (write → codec open → line parse
    * → stream-aligned planning → reader). */
  def q193EntryWriteIdxBz2(s: SparkSession, dir: String): DataFrame = {
    val path = ensureDump()
    val outDir = OracleTmp.fresh("q193_ms_write_idxbz2").toString
    val header = dumpXml.substring(0, dumpXml.indexOf("  <page>"))
    s.read.format("mediawiki").option("previousRevision", "false").load(path)
      .write.format("mediawiki")
      .option("assumeGrouped", "true")
      .option("multistreamPagesPerStream", "1")
      .option("multistreamHeader", header)
      .option("multistreamIndexBz2", "true")
      .mode("append").save(outDir)
    val names = new java.io.File(outDir).listFiles().map(_.getName)
    require(names.exists(_.endsWith("-index.txt.bz2")) &&
      !names.exists(_.endsWith("-index.txt")),
      s"q193: expected only a compressed index sibling, got ${names.mkString(",")}")
    val src = s.read.format("mediawiki")
      .option("multistreamTargetBytes", "1")
      .load(outDir)
    require(src.rdd.getNumPartitions == NumPlants,
      s"the written .bz2 index must drive per-stream planning, got ${src.rdd.getNumPartitions}")
    val part = new java.io.File(outDir).listFiles()
      .find(_.getName.endsWith(".xml.bz2")).get
    val fromWritten = graft.MediaWiki.namespacesByName(
      graft.MediaWiki.siteinfoNamespaces(s, part.getAbsolutePath))
    require(fromWritten.nonEmpty, "written archive lost the siteinfo header")
    flatten(graft.functions.GraftFunctions.diffdb(src, nsByName = fromWritten))
  }

  // ---------------------------------------------------------------- q192
  /** The STREAMING write side (`df.writeStream.format("mediawiki")`):
    * the flagship construction split into two plain dump parts is
    * streamed (noprev schema, one file per trigger → two epochs)
    * straight into the mediawiki SINK — each epoch commits its own
    * deterministic `part-e<epoch>-p<partition>` multistream archive +
    * index sibling — and the engine-written directory is read back via
    * per-stream index planning (partition count asserted) into the
    * same diffdb flatten as q190. VALUES are q153's verbatim. Closes
    * the read/write × batch/streaming matrix: every quadrant now sits
    * inside the oracle gate. */
  def q192EntryMsWriteStream(s: SparkSession, dir: String): DataFrame = {
    import OracleTmp.fresh
    val dumpDir = fresh("graft_q192_dump")
    val p1 = dumpDir.resolve("part1.xml")
    val p2 = dumpDir.resolve("part2.xml")
    java.nio.file.Files.write(p1,
      renderDump(pages.take(NumPlants / 2)).getBytes("UTF-8"))
    java.nio.file.Files.write(p2,
      renderDump(pages.drop(NumPlants / 2)).getBytes("UTF-8"))
    val t0 = System.currentTimeMillis()
    require(p1.toFile.setLastModified(t0 - 120000) &&
      p2.toFile.setLastModified(t0 - 60000),
      "q192: setLastModified failed — epoch order would be undefined")
    val header = dumpXml.substring(0, dumpXml.indexOf("  <page>"))
    val ckpt = fresh("graft_q192_ckpt")
    val out = fresh("graft_q192_out")
    val q = s.readStream.format("mediawiki")
      .option("previousRevision", "false")
      .option("maxFilesPerTrigger", "1")
      .load(dumpDir.toString)
      .writeStream.format("mediawiki")
      .option("assumeGrouped", "true") // reader partitions are page-contiguous
      .option("multistreamPagesPerStream", "1")
      .option("multistreamHeader", header)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(out.toString)
    val finished = try q.awaitTermination(300000) finally q.stop()
    if (!finished) throw new IllegalStateException(
      "q192: streaming query did not terminate within 300 s")
    val dumps = new java.io.File(out.toString).listFiles()
      .filter(_.getName.endsWith(".xml.bz2")).map(_.getName).sorted
    require(dumps.length == 2 && dumps.forall(_.startsWith("part-e")),
      s"expected one deterministic epoch archive per micro-batch, got ${dumps.toSeq}")
    val src = s.read.format("mediawiki")
      .option("multistreamTargetBytes", "1")
      .load(out.toString)
    require(src.rdd.getNumPartitions == NumPlants,
      s"the stream-written indexes must drive per-stream planning, got ${src.rdd.getNumPartitions}")
    val fromWritten = graft.MediaWiki.namespacesByName(
      graft.MediaWiki.siteinfoNamespaces(
        s, new java.io.File(out.toString, dumps.head).getAbsolutePath))
    require(fromWritten.nonEmpty, "stream-written archive lost the siteinfo header")
    flatten(graft.functions.GraftFunctions.diffdb(src, nsByName = fromWritten))
  }

  // ---------------------------------------------------------------- q187
  /** The multistream+index layout through the STREAMING source gate:
    * the q183 construction split into TWO multistream archives (each
    * with its published index sibling) read via
    * `readStream.format("mediawiki")` with `maxFilesPerTrigger=1` +
    * `Trigger.AvailableNow` — two micro-batches through q165's
    * file-sink harness. `partitionsForFile` is shared between batch and
    * micro-batch planning, and the require below pins that the STREAM's
    * props drive index planning to one partition per page stream for
    * each archive; the directory listing must also skip the index
    * siblings as dumps (ADVICE r12) or the output would gain zero-page
    * file scans. Output order across batches is free (each archive is a
    * self-contained dump; pairing is within-page), so no mtime forcing
    * is needed — the VALUES oracle is q153's. */
  def q187EntryMsStream(s: SparkSession, dir: String): DataFrame = {
    import OracleTmp.fresh
    val dumpDir = fresh("graft_q187_dump")
    val partsOf = Seq(pages.take(NumPlants / 2), pages.drop(NumPlants / 2))
    partsOf.zipWithIndex.foreach { case (ps, i) =>
      graft.sources.MultistreamWriter.writeGrouped(
        renderDump(ps),
        dumpDir.resolve(s"part$i.xml.bz2").toFile,
        dumpDir.resolve(s"part$i-index.txt").toFile,
        pagesPerStream = 1,
        pageIdOf = j => ps(j).pageId, titleOf = j => ps(j).title)
    }
    // the micro-batch planner delegates to this exact call per file
    val conf = s.sessionState.newHadoopConf()
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    partsOf.indices.foreach { i =>
      val p = new org.apache.hadoop.fs.Path(
        dumpDir.resolve(s"part$i.xml.bz2").toString)
      val planned = graft.sources.MediaWikiScan.partitionsForFile(
        p.getFileSystem(conf), codecs, p, 128L * 1024 * 1024,
        Map("multistreamTargetBytes" -> "1"))
      require(planned.length == partsOf(i).length,
        s"part$i: stream planning must yield one partition per page stream, got ${planned.length}")
    }
    val fromDump =
      try graft.MediaWiki.namespacesByName(graft.MediaWiki.siteinfoNamespaces(
        s, dumpDir.resolve("part0.xml.bz2").toString))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val ns = if (fromDump.nonEmpty) fromDump
             else Map("talk" -> 1, "user" -> 2, "category" -> 14)
    val ckpt = fresh("graft_q187_ckpt")
    val out = fresh("graft_q187_out")
    val stream = graft.functions.GraftFunctions.diffdb(
      s.readStream.format("mediawiki")
        .option("maxFilesPerTrigger", "1")
        .option("multistreamTargetBytes", "1")
        .load(dumpDir.toString), nsByName = ns)
    val q = stream.writeStream
      .format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val finished = try q.awaitTermination(300000) finally q.stop()
    if (!finished) throw new IllegalStateException(
      "q187: streaming query did not terminate within 300 s")
    flatten(s.read.parquet(out.toString))
  }

  // ---------------------------------------------------------------- q189
  /** Articles-only STREAMING read of the multistream layout — the
    * combination Catalyst cannot serve: V2 filter pushdown only covers
    * batch relations (a `.where` above `readStream` is evaluated
    * post-scan, every stream decompressed — measured), so the `nsIn`
    * source option carries the predicate instead, with exactly the
    * pushed-form semantics: the reader drops non-matching pages before
    * parsing AND the index planner skips non-main streams before
    * decompression, inside each micro-batch. q187's two-archive
    * construction; per-archive planning asserted through the same
    * option-translation + partitionsForFile path the micro-batch
    * planner uses; VALUES = q188's (q153 restricted to main ns). */
  def q189EntryMsStreamArticles(s: SparkSession, dir: String): DataFrame = {
    import OracleTmp.fresh
    val dumpDir = fresh("graft_q189_dump")
    val partsOf = Seq(pages.take(NumPlants / 2), pages.drop(NumPlants / 2))
    partsOf.zipWithIndex.foreach { case (ps, i) =>
      graft.sources.MultistreamWriter.writeGrouped(
        renderDump(ps),
        dumpDir.resolve(s"part$i.xml.bz2").toFile,
        dumpDir.resolve(s"part$i-index.txt").toFile,
        pagesPerStream = 1,
        pageIdOf = j => ps(j).pageId, titleOf = j => ps(j).title)
    }
    val conf = s.sessionState.newHadoopConf()
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    val streamProps = Map("multistreamTargetBytes" -> "1", "nsIn" -> "0")
    val planProps = streamProps ++
      graft.sources.MediaWikiTable.optionFilterProps(streamProps)
    partsOf.zipWithIndex.foreach { case (ps, i) =>
      val p = new org.apache.hadoop.fs.Path(
        dumpDir.resolve(s"part$i.xml.bz2").toString)
      val planned = graft.sources.MediaWikiScan.partitionsForFile(
        p.getFileSystem(conf), codecs, p, 128L * 1024 * 1024, planProps)
      val nMain = ps.count(pg => (pg.pageId - 100L) % 3 == 0)
      require(planned.length == nMain,
        s"part$i: ns skip must leave the $nMain main-ns streams, got ${planned.length}")
    }
    val fromDump =
      try graft.MediaWiki.namespacesByName(graft.MediaWiki.siteinfoNamespaces(
        s, dumpDir.resolve("part0.xml.bz2").toString))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val ns = if (fromDump.nonEmpty) fromDump
             else Map("talk" -> 1, "user" -> 2, "category" -> 14)
    val ckpt = fresh("graft_q189_ckpt")
    val out = fresh("graft_q189_out")
    val stream = graft.functions.GraftFunctions.diffdb(
      s.readStream.format("mediawiki")
        .option("maxFilesPerTrigger", "1")
        .option("multistreamTargetBytes", "1")
        .option("nsIn", "0")
        .load(dumpDir.toString), nsByName = ns)
    val q = stream.writeStream
      .format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val finished = try q.awaitTermination(300000) finally q.stop()
    if (!finished) throw new IllegalStateException(
      "q189: streaming query did not terminate within 300 s")
    flatten(s.read.parquet(out.toString))
  }

  // ---------------------------------------------------------------- q191
  /** Intra-file rate limiting (`maxPartitionsPerTrigger`): ONE
    * multistream archive (10 single-page streams, indexed) whose plan is
    * 10 partitions must drain across ≥3 micro-batches when the option
    * caps each trigger at 4 planned partitions — the capability
    * `maxFilesPerTrigger` cannot provide (a 30 GB archive is one file
    * unit). Batch boundaries are asserted from the checkpoint's own
    * offset log: exactly ceil(10/4)=3 committed offsets, the first two
    * MID-FILE (`part` 4 then 8 of fileIndex 0), the last at the
    * file-complete position (fileIndex 1, part 0). Output order across
    * batches is free (each planned partition is a self-contained page
    * stream; pairing is within-page), so the VALUES oracle is q153's
    * verbatim; exactly-once via the parquet sink's metadata log. */
  def q191EntryMsRateLimited(s: SparkSession, dir: String): DataFrame = {
    import OracleTmp.fresh
    val dumpDir = fresh("graft_q191_dump")
    val ps = pages
    graft.sources.MultistreamWriter.writeGrouped(
      renderDump(ps),
      dumpDir.resolve("dump.xml.bz2").toFile,
      dumpDir.resolve("dump-index.txt").toFile,
      pagesPerStream = 1,
      pageIdOf = j => ps(j).pageId, titleOf = j => ps(j).title)
    val fromDump =
      try graft.MediaWiki.namespacesByName(graft.MediaWiki.siteinfoNamespaces(
        s, dumpDir.resolve("dump.xml.bz2").toString))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val ns = if (fromDump.nonEmpty) fromDump
             else Map("talk" -> 1, "user" -> 2, "category" -> 14)
    val ckpt = fresh("graft_q191_ckpt")
    val out = fresh("graft_q191_out")
    val stream = graft.functions.GraftFunctions.diffdb(
      s.readStream.format("mediawiki")
        .option("multistreamTargetBytes", "1")
        .option("maxPartitionsPerTrigger", "4")
        .load(dumpDir.toString), nsByName = ns)
    val q = stream.writeStream
      .format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val finished = try q.awaitTermination(300000) finally q.stop()
    if (!finished) throw new IllegalStateException(
      "q191: streaming query did not terminate within 300 s")
    // the offset log is the proof the single file was rate-limited:
    // each offsets/<batchId> entry's last line is the source offset json
    val offDir = ckpt.resolve("offsets").toFile
    val offs = offDir.listFiles().filter(_.getName.forall(_.isDigit))
      .sortBy(_.getName.toInt)
      .map { f =>
        val lines = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split("\n").filter(_.contains("fileIndex"))
        require(lines.length == 1, s"q191: offset entry ${f.getName} " +
          s"should carry one source offset, got ${lines.length}")
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(lines.head)
        (node.get("fileIndex").asLong(),
          Option(node.get("part")).map(_.asLong()).getOrElse(0L))
      }.toSeq
    require(offs == Seq((0L, 4L), (0L, 8L), (1L, 0L)),
      s"q191: expected three rate-limited batches (0,4)(0,8)(1,0), got $offs")
    flatten(s.read.parquet(out.toString))
  }

  // ---------------------------------------------------------------- q182
  /** The same flagship oracle through a NON-SPLITTABLE codec (gzip):
    * planning must fall back to ONE whole-file partition (asserted in
    * MediaWikiSourceSpec) and the reader to the whole-stream
    * decompression path — the reference's gzip fallback
    * (`StreamWikiDumpInputFormat.java:265-266`), previously
    * spec-only, now under the oracle gate with q153's VALUES. */
  def q182EntryDiffdbGz(s: SparkSession, dir: String): DataFrame =
    flatten(graft.SparkEntry.entryFor(s, ensureDumpGz()))

  // ---------------------------------------------------------------- q164
  /** The flagship pipeline with the reference's `excludePagesWith`
    * header filter (F1, `org.wikimedia.wikihadoop.excludePagesWith`):
    * Category pages are excluded AT THE READER (never parsed past the
    * header), and the expected VALUES drop exactly those pages'
    * rows — source-level filtering oracled end-to-end. */
  def q164EntryExcluded(s: SparkSession, dir: String): DataFrame = {
    val path = ensureDump()
    val fromDump =
      try graft.MediaWiki.namespacesByName(
        graft.MediaWiki.siteinfoNamespaces(s, path))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val src = s.read.format("mediawiki")
      .option("excludePagesWith", "<title>Category:")
      .load(path)
    flatten(graft.functions.GraftFunctions.diffdb(src, nsByName = fromDump))
  }

  // ---------------------------------------------------------------- q165
  /** The flagship oracle through the STREAMING source: the identical
    * construction, split into TWO dump parts and read via
    * `readStream.format("mediawiki")` with `maxFilesPerTrigger=1`
    * (two micro-batches, so the offset log actually advances),
    * `Trigger.AvailableNow`, diffdb applied per batch, appended to a
    * parquet file sink (exactly-once via the sink's own metadata log;
    * the memory sink cannot resume checkpoints), read back and
    * compared against the SAME VALUES oracle as q153. This puts the
    * micro-batch source (`MediaWikiDataSource`'s offset/file log,
    * per-trigger caps) inside the correctness gate the way q163 did
    * for the compressed reader. */
  def q165EntryDiffdbStream(s: SparkSession, dir: String): DataFrame = {
    // fixed deterministic paths, wiped per invocation (the q153
    // ensureDump pattern) — Bench calls every query several times and
    // createTempDirectory would leak dump/offset-log/parquet trees
    import OracleTmp.fresh
    val dumpDir = fresh("graft_q165_dump")
    val p1 = dumpDir.resolve("part1.xml")
    val p2 = dumpDir.resolve("part2.xml")
    java.nio.file.Files.write(p1,
      renderDump(pages.take(NumPlants / 2)).getBytes("UTF-8"))
    java.nio.file.Files.write(p2,
      renderDump(pages.drop(NumPlants / 2)).getBytes("UTF-8"))
    val fromDump =
      try graft.MediaWiki.namespacesByName(
        graft.MediaWiki.siteinfoNamespaces(s, p1.toString))
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, Int] }
    val ns = if (fromDump.nonEmpty) fromDump
             else Map("talk" -> 1, "user" -> 2, "category" -> 14)
    val ckpt = fresh("graft_q165_ckpt")
    val out = fresh("graft_q165_out")
    val stream = graft.functions.GraftFunctions.diffdb(
      s.readStream.format("mediawiki")
        .option("maxFilesPerTrigger", "1")
        .load(dumpDir.toString), nsByName = ns)
    val q = stream.writeStream
      .format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // a hung stream must FAIL, not hand a partial (correct-looking)
    // frame to the gate
    val finished = try q.awaitTermination(300000) finally q.stop()
    if (!finished) throw new IllegalStateException(
      "q165: streaming query did not terminate within 300 s")
    flatten(s.read.parquet(out.toString))
  }

  // ---------------------------------------------------------------- q166
  /** The reference's `previousRevision=false` mode (F2, conf
    * `org.wikimedia.wikihadoop.previousRevision`) oracled end-to-end:
    * the same construction dump read WITHOUT pairing — the `prev`
    * column is absent at the SOURCE (no carry state, a pure scan) —
    * and every raw per-revision field the reader exposes is compared
    * against VALUES from the construction: dump-order title (NOT
    * normalized) and `ns` including the omitted-`<ns>` NULL, the
    * parent_id chain, epoch-micros timestamp, the contributor
    * username/ip/id split, minor, absent-comment NULL, model, format,
    * text characters, and the `bytes` attribute. Complements q153
    * (which oracles the PAIRED diffdb projection of the same dump). */
  def q166EntryNoPrev(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = s.read.format("mediawiki")
      .option("previousRevision", "false")
      .load(ensureDump())
    require(!src.columns.contains("prev"),
      "previousRevision=false must drop the prev column at the source")
    src.select(
      $"page_id",
      $"title",
      $"ns".cast("long").as("ns"),
      $"rev_seq".cast("long").as("rev_seq"),
      $"curr.rev_id".as("rev_id"),
      $"curr.parent_id".as("parent_id"),
      expr("unix_micros(curr.timestamp)").as("ts_us"),
      $"curr.minor".as("minor"),
      $"curr.comment".as("comment"),
      $"curr.contributor.username".as("username"),
      $"curr.contributor.ip".as("ip"),
      $"curr.contributor.id".as("user_id"),
      $"curr.model".as("model"),
      $"curr.format".as("format"),
      length($"curr.text").cast("long").as("text_chars"),
      $"curr.bytes".as("bytes"))
      .orderBy($"rev_id")
  }

  val q166Sql: String = {
    val rows = pages.zipWithIndex.flatMap { case (p, id) =>
      p.revs.zipWithIndex.map { case (r, seq) =>
        val (username, ip, uid) = r.user match {
          case Right((n, u)) => (sqlStr(n), "NULL", u.toString)
          case Left(i) => ("NULL", sqlStr(i), "NULL")
        }
        val parent = if (seq == 0) "NULL" else (r.revId - 1).toString
        val chars = r.text.codePointCount(0, r.text.length)
        s"(${p.pageId}, ${sqlStr(p.title)}, ${p.ns.fold("NULL")(_.toString)}, " +
          s"$seq, ${r.revId}, $parent, ${epochOf(id, seq)}000000, ${r.minor}, " +
          s"${sqlStrOpt(r.comment)}, $username, $ip, $uid, 'wikitext', " +
          s"'text/x-wiki', $chars, ${r.text.getBytes("UTF-8").length})"
      }
    }
    s"""WITH exp(page_id, title, ns, rev_seq, rev_id, parent_id, ts_us, minor,
       |         comment, username, ip, user_id, model, format, text_chars, bytes) AS (VALUES
       |  ${rows.mkString(",\n  ")})
       |SELECT CAST(page_id AS BIGINT) AS page_id, title,
       |  CAST(ns AS BIGINT) AS ns, CAST(rev_seq AS BIGINT) AS rev_seq,
       |  CAST(rev_id AS BIGINT) AS rev_id,
       |  CAST(parent_id AS BIGINT) AS parent_id,
       |  CAST(ts_us AS BIGINT) AS ts_us, CAST(minor AS BOOLEAN) AS minor,
       |  CAST(comment AS VARCHAR) AS comment,
       |  CAST(username AS VARCHAR) AS username, CAST(ip AS VARCHAR) AS ip,
       |  CAST(user_id AS BIGINT) AS user_id, model, format,
       |  CAST(text_chars AS BIGINT) AS text_chars,
       |  CAST(bytes AS BIGINT) AS bytes
       |FROM exp ORDER BY rev_id""".stripMargin
  }

  // ---------------------------------------------------------------- q167
  /** The PRUNED reader path (F3) through the oracle gate: a
    * metadata-only projection — no `text`, no `prev` — which the DSv2
    * pruneColumns pushdown turns into the head-bounded metadata scan
    * (RevMetaFields mask; the text body is never captured, absent
    * elements resolve from the pre-`<text>` head only). The spec pins
    * prune ≡ full read structurally; this row value-checks the pruned
    * path itself against construction VALUES, exercising the
    * absent-comment NULL and username/IP split on that code path. */
  def q167EntryPruned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("mediawiki").load(ensureDump())
      .select(
        $"page_id",
        $"rev_seq".cast("long").as("rev_seq"),
        $"curr.rev_id".as("rev_id"),
        expr("unix_micros(curr.timestamp)").as("ts_us"),
        $"curr.minor".as("minor"),
        $"curr.comment".as("comment"),
        $"curr.contributor.username".as("username"),
        $"curr.model".as("model"))
      .orderBy($"rev_id")
  }

  val q167Sql: String = {
    val rows = pages.zipWithIndex.flatMap { case (p, id) =>
      p.revs.zipWithIndex.map { case (r, seq) =>
        val username = r.user match {
          case Right((n, _)) => sqlStr(n)
          case Left(_) => "NULL"
        }
        s"(${p.pageId}, $seq, ${r.revId}, ${epochOf(id, seq)}000000, " +
          s"${r.minor}, ${sqlStrOpt(r.comment)}, $username, 'wikitext')"
      }
    }
    s"""WITH exp(page_id, rev_seq, rev_id, ts_us, minor, comment, username,
       |         model) AS (VALUES
       |  ${rows.mkString(",\n  ")})
       |SELECT CAST(page_id AS BIGINT) AS page_id,
       |  CAST(rev_seq AS BIGINT) AS rev_seq,
       |  CAST(rev_id AS BIGINT) AS rev_id, CAST(ts_us AS BIGINT) AS ts_us,
       |  CAST(minor AS BOOLEAN) AS minor, CAST(comment AS VARCHAR) AS comment,
       |  CAST(username AS VARCHAR) AS username, model
       |FROM exp ORDER BY rev_id""".stripMargin
  }

  // ---------------------------------------------------------------- q169
  /** Deleted-revision fields (RevisionDelete) through the oracle gate —
    * the one flagship corner q153 does not plant. The reference fixture
    * carries `<contributor deleted="deleted" />` revisions
    * (`python/page_sample.xml:45`) and the downstream differ maps an
    * absent contributor to null user id/text
    * (`python/revision_differ.py:144-148`); the export format deletes
    * comments and text the same way. The construction plants every
    * shape and the VALUES oracle carries the NULLs:
    *
    *  - deleted contributor + deleted comment on a MIDDLE revision:
    *    null `user_id`/`user_text`/`comment` while the diff against the
    *    previous revision stays a normal forced-unique edit;
    *  - deleted text after a live revision: the suppressed text reads
    *    as empty, so the provably unique minimal diff REMOVES the whole
    *    previous text at position 0;
    *  - the revision AFTER a deleted text diffs from empty: one whole
    *    add at 0 (deleted text is carried as empty prev, never skipped);
    *  - a page whose FIRST revision has deleted text AND deleted
    *    contributor: empty-to-empty diff = zero ops — flatten's
    *    `posexplode_outer` must keep the revision as one all-NULL op
    *    row, not drop it. */
  private final case class DRev(revId: Long, ts: String,
      comment: Option[String], commentDeleted: Boolean,
      user: Option[Either[String, (String, Long)]], // None = deleted
      text: Option[String], minor: Boolean)

  private def delPages: Seq[(Long, String, Option[Int], Seq[DRev])] = {
    val (o, n, _) = TextQueries.diffPlant(901) // 901 % 5 == 1: replace edit
    val t3 = "z900a z900b  z900c"
    val t4 = "q901x  q901y q901z"
    Seq(
      (900L, "Deleted page 0", Some(0), Seq(
        DRev(9001L, "2021-03-01T04:00:00Z", Some("create"),
          commentDeleted = false,
          Some(Right(("DelEditor", 7900L))), Some(o), minor = false),
        DRev(9002L, "2021-03-01T05:00:00Z", None, commentDeleted = true,
          None, Some(n), minor = true),
        DRev(9003L, "2021-03-01T06:00:00Z", Some("oversight"),
          commentDeleted = false,
          Some(Left("10.1.1.9")), None, minor = false),
        DRev(9004L, "2021-03-01T07:00:00Z", Some("restore"),
          commentDeleted = false,
          Some(Right(("DelEditor", 7900L))), Some(t3), minor = false))),
      (901L, "Talk:Deleted page 1", Some(1), Seq(
        DRev(9011L, "2021-03-02T04:00:00Z", None, commentDeleted = true,
          None, None, minor = false),
        DRev(9012L, "2021-03-02T05:00:00Z", Some("first visible"),
          commentDeleted = false,
          Some(Right(("DelEditor2", 7901L))), Some(t4), minor = false))))
  }

  private def renderDelDump: String = {
    val sb = new StringBuilder
    sb ++= """<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" version="0.10" xml:lang="en">
      |  <siteinfo>
      |    <sitename>PlantWiki</sitename>
      |    <namespaces>
      |      <namespace key="0" case="first-letter" />
      |      <namespace key="1" case="first-letter">Talk</namespace>
      |      <namespace key="14" case="first-letter">Category</namespace>
      |    </namespaces>
      |  </siteinfo>
      |""".stripMargin
    delPages.foreach { case (pageId, title, ns, revs) =>
      sb ++= "  <page>\n"
      sb ++= s"    <title>${xmlEscape(title)}</title>\n"
      ns.foreach(x => sb ++= s"    <ns>$x</ns>\n")
      sb ++= s"    <id>$pageId</id>\n"
      var parent: Option[Long] = None
      revs.foreach { r =>
        sb ++= "    <revision>\n"
        sb ++= s"      <id>${r.revId}</id>\n"
        parent.foreach(pid => sb ++= s"      <parentid>$pid</parentid>\n")
        sb ++= s"      <timestamp>${r.ts}</timestamp>\n"
        r.user match {
          case None =>
            sb ++= "      <contributor deleted=\"deleted\" />\n"
          case Some(Right((name, uid))) =>
            sb ++= "      <contributor>\n"
            sb ++= s"        <username>${xmlEscape(name)}</username>\n"
            sb ++= s"        <id>$uid</id>\n"
            sb ++= "      </contributor>\n"
          case Some(Left(ip)) =>
            sb ++= s"      <contributor>\n        <ip>$ip</ip>\n      </contributor>\n"
        }
        if (r.minor) sb ++= "      <minor/>\n"
        if (r.commentDeleted) sb ++= "      <comment deleted=\"deleted\" />\n"
        else r.comment.foreach(c => sb ++= s"      <comment>${xmlEscape(c)}</comment>\n")
        sb ++= "      <model>wikitext</model>\n"
        sb ++= "      <format>text/x-wiki</format>\n"
        r.text match {
          case Some(t) =>
            sb ++= s"""      <text xml:space="preserve" bytes="${t.getBytes("UTF-8").length}">${xmlEscape(t)}</text>\n"""
          case None =>
            sb ++= "      <text deleted=\"deleted\" />\n"
        }
        sb ++= "    </revision>\n"
        parent = Some(r.revId)
      }
      sb ++= "  </page>\n"
    }
    sb ++= "</mediawiki>\n"
    sb.result()
  }

  private[graft] def ensureDelDump(): String = {
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val target = dir.resolve("graft_entry_oracle_del_dump.xml")
    val tmp = java.nio.file.Files.createTempFile(dir, "graft_entry_oracle_del", ".xml")
    java.nio.file.Files.write(tmp, renderDelDump.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    target.toString
  }

  def q169EntryDeleted(s: SparkSession, dir: String): DataFrame =
    flatten(graft.SparkEntry.entryFor(s, ensureDelDump()))

  val q169Sql: String = {
    val (o, n, ops2) = TextQueries.diffPlant(901)
    val t3 = "z900a z900b  z900c"
    val t4 = "q901x  q901y q901z"
    // expected ops per revision, by string arithmetic on the
    // construction (see q169EntryDeleted's uniqueness notes)
    val opsByRev: Map[Long, Seq[(Int, Int, String)]] = Map(
      9001L -> Seq((0, 1, o)),
      9002L -> ops2,
      9003L -> Seq((0, -1, n)), // deleted text reads empty: remove all
      9004L -> Seq((0, 1, t3)), // prev was deleted: whole add
      9011L -> Seq.empty,       // empty -> empty: zero ops
      9012L -> Seq((0, 1, t4)))
    val titleOf = Map(900L -> "Deleted page 0", 901L -> "Deleted page 1")
    val nsOf = Map(900L -> 0, 901L -> 1)
    val rows = delPages.flatMap { case (pageId, _, _, revs) =>
      revs.flatMap { r =>
        val (uid, utext) = r.user match {
          case Some(Right((name, u))) => (u.toString, sqlStr(name))
          case Some(Left(ip)) => ("NULL", sqlStr(ip))
          case None => ("NULL", "NULL")
        }
        val ts = java.time.Instant.parse(r.ts).getEpochSecond
        val base = s"(${r.revId}, $pageId, ${nsOf(pageId)}, " +
          s"${sqlStr(titleOf(pageId))}, $ts, ${sqlStrOpt(r.comment)}, " +
          s"${r.minor}, $uid, $utext, "
        val ops = opsByRev(r.revId)
        if (ops.isEmpty) Seq(base + "NULL, NULL, NULL, NULL)")
        else ops.zipWithIndex.map { case ((pos, act, content), i) =>
          base + s"$i, $pos, $act, ${sqlStr(content)})"
        }
      }
    }
    s"""WITH exp(rev_id, page_id, namespace, title, ts, comment, minor,
       |         user_id, user_text, op_idx, position, action, content) AS (VALUES
       |  ${rows.mkString(",\n  ")})
       |SELECT CAST(rev_id AS BIGINT) AS rev_id,
       |  CAST(page_id AS BIGINT) AS page_id,
       |  CAST(namespace AS BIGINT) AS namespace, title,
       |  CAST(ts AS BIGINT) AS "timestamp",
       |  CAST(comment AS VARCHAR) AS comment,
       |  CAST(minor AS BOOLEAN) AS minor,
       |  CAST(user_id AS BIGINT) AS user_id,
       |  CAST(user_text AS VARCHAR) AS user_text,
       |  CAST(op_idx AS BIGINT) AS op_idx,
       |  CAST(position AS BIGINT) AS position,
       |  CAST(action AS BIGINT) AS action,
       |  CAST(content AS VARCHAR) AS content
       |FROM exp ORDER BY rev_id, op_idx""".stripMargin
  }

  private def sqlStr(s: String): String = s"'${s.replace("'", "''")}'"
  private def sqlStrOpt(s: Option[String]): String =
    s.fold("NULL")(sqlStr)

  /** Pure-VALUES oracle (independent of the parquet tables — the dump
    * is self-contained). Every numeric column is CAST to BIGINT for
    * dtype parity with the Spark side. `keep` filters by construction
    * index (pageId − 100), for the source-filter variants. */
  private def sqlFor(keep: Int => Boolean): String = {
    val rows = expectedRows
      .filter { r => keep((r._2 - 100L).toInt) }
      .map { case (revId, pageId, ns, title, ts,
        comment, minor, uid, utext, op) =>
      val (opIdx, pos, act, content) = op match {
        case Some((i, p, a, c)) => (i.toString, p.toString, a.toString, sqlStr(c))
        case None => ("NULL", "NULL", "NULL", "NULL")
      }
      s"($revId, $pageId, $ns, ${sqlStr(title)}, $ts, ${sqlStrOpt(comment)}, " +
        s"$minor, ${uid.fold("NULL")(_.toString)}, ${sqlStr(utext)}, " +
        s"$opIdx, $pos, $act, $content)"
    }
    s"""WITH exp(rev_id, page_id, namespace, title, ts, comment, minor,
       |         user_id, user_text, op_idx, position, action, content) AS (VALUES
       |  ${rows.mkString(",\n  ")})
       |SELECT CAST(rev_id AS BIGINT) AS rev_id,
       |  CAST(page_id AS BIGINT) AS page_id,
       |  CAST(namespace AS BIGINT) AS namespace, title,
       |  CAST(ts AS BIGINT) AS "timestamp",
       |  CAST(comment AS VARCHAR) AS comment,
       |  CAST(minor AS BOOLEAN) AS minor,
       |  CAST(user_id AS BIGINT) AS user_id, user_text,
       |  CAST(op_idx AS BIGINT) AS op_idx,
       |  CAST(position AS BIGINT) AS position,
       |  CAST(action AS BIGINT) AS action,
       |  CAST(content AS VARCHAR) AS content
       |FROM exp ORDER BY rev_id, op_idx""".stripMargin
  }

  val q153Sql: String = sqlFor(_ => true)

  /** q163 reads the SAME construction through the compressed reader. */
  val q163Sql: String = q153Sql

  /** q182 reads the SAME construction through the gzip whole-file path. */
  val q182Sql: String = q153Sql

  /** q183 reads the SAME construction through index-planned multistream. */
  val q183Sql: String = q153Sql

  /** q190 round-trips the SAME construction through the WRITE sink
    * (engine-written multistream archive + index, read back via its own
    * index planning). Below q153Sql by the r12 init-order rule. */
  val q190Sql: String = q153Sql

  /** q164 excludes the Category pages at the reader (id % 3 == 2). */
  val q164Sql: String = sqlFor(id => id % 3 != 2)

  /** q184 = q164's exclusion, enforced by the index skip-planner. */
  val q184Sql: String = q164Sql

  /** q186 = q153 restricted to the looked-up page (construction id 3 →
    * page_id 103). */
  val q186Sql: String = sqlFor(id => id == 3)

  /** q165 reads the SAME construction through the streaming source. */
  val q165Sql: String = q153Sql

  /** q187 reads the SAME construction through the STREAMING source over
    * the multistream+index layout (two archives, two micro-batches). */
  val q187Sql: String = q153Sql

  /** q191 rate-limits WITHIN the single archive; the union of its
    * micro-batches is the whole dump, so q153's VALUES verbatim. */
  val q191Sql: String = q153Sql

  /** q193 round-trips through the PUBLISHED compressed-index layout
    * (`multistreamIndexBz2`); the result is q153's, so the oracle is
    * q153's verbatim. (Below q153Sql — derived vals must follow their
    * base, r12 lesson.) */
  val q193Sql: String = q153Sql

  /** q192 streams the construction INTO the sink across two epochs;
    * the written directory unions to the whole dump — q153's VALUES. */
  val q192Sql: String = q153Sql

  /** q188 = q153 restricted to the main-namespace pages (id % 3 == 0),
    * enforced by the ns skip-planner + the reader's pushed ns filter. */
  val q188Sql: String = sqlFor(id => id % 3 == 0)

  /** q189 = q188's restriction through the STREAMING source via the
    * `nsIn` option (streaming has no Catalyst filter pushdown). */
  val q189Sql: String = sqlFor(id => id % 3 == 0)
}
