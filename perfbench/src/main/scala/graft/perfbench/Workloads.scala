package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Generated input of one run: where it lives and what it must yield. */
final case class Input(file: File, expect: Gen.Expect) {
  /** A directory holding `k` hard links to the input, named as the
    * parts of a multi-file dump (created once). */
  def parts(k: Int): File = {
    val dir = new File(file.getParentFile, s"parts-$k")
    if (!dir.isDirectory) {
      val tmp = new File(file.getParentFile, s"parts-$k.tmp")
      Main.deleteTree(tmp)
      tmp.mkdirs()
      val dot = file.getName.indexOf('.')
      for (i <- 1 to k) java.nio.file.Files.createLink(
        new File(tmp, file.getName.substring(0, dot) + i + file.getName.substring(dot)).toPath, file.toPath)
      require(tmp.renameTo(dir))
    }
    dir
  }
}

/** A workload with its input in place: what one pass runs and how its
  * output is checked. */
trait Job {
  /** Run one pass, writing any output under `out` (absent on entry). */
  def pass(spark: SparkSession, out: File): Unit
  /** Check the pass's output; returns the failures found. */
  def check(spark: SparkSession, out: File): Seq[String]
  /** On-disk bytes one pass reads. */
  def inputBytes: Long
  /** Revisions (dump workloads) or result rows (query mix) one pass
    * commits. */
  def committed: Long
  /** JSON fields describing the input, for the run-context line. */
  def inputInfo: String
}

/** A named workload. */
sealed trait Workload {
  def name: String
  /** Passes of the fixed warm-up that ends set-up. */
  def warmupPasses: Int
  /** `spark.sql.files.maxPartitionBytes` for the workload's session. */
  def maxPartitionBytes: Long
}

/** A workload over a generated dump. */
sealed trait DumpWorkload extends Workload {
  /** bz2 single-stream input when true, plain XML otherwise. */
  def bz2: Boolean
  /** Options of the workload's `spark.read.format("mediawiki")`. */
  def readOptions: Map[String, String]
  /** Revisions the pass commits. */
  def revisions(e: Gen.Expect): Long
  /** The file or directory one pass reads. */
  def readPath(in: Input): File = in.file
  /** On-disk bytes one pass reads. */
  def inputBytes(in: Input): Long = in.file.length()
  def pass(spark: SparkSession, in: Input, out: File): Unit
  def check(spark: SparkSession, in: Input, out: File): Seq[String]

  def read(spark: SparkSession, in: Input): DataFrame =
    spark.read.format("mediawiki").options(readOptions).load(readPath(in).getAbsolutePath)

  def job(in: Input): Job = {
    val w = this
    new Job {
      def pass(spark: SparkSession, out: File): Unit = w.pass(spark, in, out)
      def check(spark: SparkSession, out: File): Seq[String] = w.check(spark, in, out)
      def inputBytes: Long = w.inputBytes(in)
      def committed: Long = w.revisions(in.expect)
      def inputInfo: String = {
        val e = in.expect
        s""""file":"${in.file.getName}","on_disk_bytes":${in.file.length},"bytes_per_pass":$inputBytes,""" +
          s""""bz2_ratio":${if (bz2) e.xmlBytes.toDouble / in.file.length else 1.0},${e.fingerprint},""" +
          s""""committed_revisions":$committed"""
      }
    }
  }
}

object Workloads {
  /** Split size for the multistream write's plain XML input. The
    * generated dump is ~90 MB of XML, so Spark's 128 MB default would
    * give one task; 4 MB gives a few splits per core, as a real dump
    * gives on a cluster. */
  val MaxPartitionBytes: Long = 4L * 1024 * 1024
  /** bz2 splits: a level-9 block of this history compresses to ~40 KB,
    * so a 512 KB split spans about a dozen blocks. */
  val Bz2SplitBytes: Long = 512L * 1024

  val all: Seq[Workload] = Seq(HistoryBz2Diffdb, HistoryXmlMeta, ArticlesMultistreamWrite, QueryMix)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** The paper's job: bz2 full history -> diffdb -> parquet. */
object HistoryBz2Diffdb extends DumpWorkload {
  val name = "history_bz2_diffdb"
  val warmupPasses = 2
  val bz2 = true
  val readOptions = Map("minSplitBytes" -> Workloads.Bz2SplitBytes.toString)
  val maxPartitionBytes = Workloads.Bz2SplitBytes
  def revisions(e: Gen.Expect): Long = e.revisions
  def diffdb(spark: SparkSession, in: Input): DataFrame =
    GraftFunctions.diffdb(read(spark, in), Gen.NsByName)
  def pass(spark: SparkSession, in: Input, out: File): Unit =
    GraftFunctions.writeDiffdb(diffdb(spark, in), out.getAbsolutePath)
  def check(spark: SparkSession, in: Input, out: File): Seq[String] =
    Check.diffdb(spark.read.parquet(out.getAbsolutePath), in.expect)
}

/** Metadata-only scan: page-boundary scanner and field extraction.
  * The scan is fast enough that Spark's fixed per-query cost would
  * dominate one copy of the history, so a pass reads it as [[Copies]]
  * dump parts (hard links to the same file), in 32 MB splits so that
  * Spark's per-task cost does not dominate either. */
object HistoryXmlMeta extends DumpWorkload {
  val name = "history_xml_meta"
  /** A pass is ~2 s and falls until the fourth. */
  val warmupPasses = 3
  val bz2 = false
  val Copies = 30
  val readOptions = Map("excludePagesWith" -> Gen.ExcludePagesWith)
  val maxPartitionBytes = 32L * 1024 * 1024
  def revisions(e: Gen.Expect): Long = Copies * e.meta.valuesIterator.map(_._1).sum
  override def inputBytes(in: Input): Long = Copies * in.file.length()
  override def readPath(in: Input): File = in.parts(Copies)

  def aggregate(spark: SparkSession, in: Input): DataFrame =
    read(spark, in)
      .select(col("page_id"), col("ns"), col("curr.contributor").as("c"),
        col("curr.timestamp").as("t"), col("prev.timestamp").as("pt"))
      .groupBy(col("ns"), coalesce(col("c.username"), col("c.ip"), lit("#deleted")).as("who"))
      .agg(count(lit(1)).as("revisions"),
        sum(unix_seconds(col("t")) - unix_seconds(col("pt"))).as("gaps"),
        sum(col("page_id")).as("page_ids"))

  /** The pass's committed output is the collected aggregate; it is
    * kept here for the check. */
  @volatile private var last: Array[org.apache.spark.sql.Row] = Array.empty
  def pass(spark: SparkSession, in: Input, out: File): Unit = { last = aggregate(spark, in).collect() }
  def check(spark: SparkSession, in: Input, out: File): Seq[String] =
    Check.meta(last.toSeq, in.expect, Copies)
}

/** Write side: articles re-written as a multistream bz2 archive. */
object ArticlesMultistreamWrite extends DumpWorkload {
  val name = "articles_multistream_write"
  val warmupPasses = 1
  val bz2 = false
  val readOptions = Map("previousRevision" -> "false", "nsIn" -> "0")
  val maxPartitionBytes = Workloads.MaxPartitionBytes
  def revisions(e: Gen.Expect): Long = e.nsRevisions.getOrElse(0, 0L)
  def pass(spark: SparkSession, in: Input, out: File): Unit =
    read(spark, in).write.format("mediawiki").option("assumeGrouped", "true")
      .mode("append").save(out.getAbsolutePath)
  def check(spark: SparkSession, in: Input, out: File): Seq[String] =
    Check.multistream(spark, out, in.expect)
}

/** Registry queries through `SparkEntry.queries` over the read-only
  * scale-factor-0.1 tables (`TESTDATA.md`). The tables are fixed, so
  * the seed does not change the work. */
object QueryMix extends Workload {
  val name = "query_mix"
  /** One pass of the mix takes ~15 s on 4 cores; one pass warms it. */
  val warmupPasses = 1
  val maxPartitionBytes = 128L * 1024 * 1024
  val Queries: Seq[String] = Seq("q3_top_orders", "q69_pagerank", "q81_bpe_train", "q83_perceptron_train",
    "q88_mmr_rerank", "q95_hits", "q104_repeated_sequences", "q105_triangles", "q109_kcore",
    "q113_verified_clusters", "q122_copurchase", "q149_lpa_communities", "q202_pq_adc")

  /** Order-independent digest of a result: row count and the sum of
    * the rows' 64-bit hashes. */
  final case class Digest(rows: Long, hashSum: java.math.BigDecimal)

  def digest(df: DataFrame): Digest = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }

  /** Run one query to its result digest. */
  def run(spark: SparkSession, dir: File, q: String): Digest =
    digest(graft.SparkEntry.queries(q)(spark, dir.getAbsolutePath))

  final class MixJob(dir: File) extends Job {
    /** Wraps each query of a pass (the traced run times it here). */
    @volatile var around: (String, () => Digest) => Digest = (_, run) => run()
    /** Digests of the first pass; every later pass must match them. */
    private var first: Map[String, Digest] = null
    private var last: Map[String, Digest] = Map.empty
    private val files = Option(dir.listFiles()).toSeq.flatten
    def pass(spark: SparkSession, out: File): Unit = {
      last = Queries.map(q => q -> around(q, () => run(spark, dir, q))).toMap
      if (first == null) first = last
    }
    def check(spark: SparkSession, out: File): Seq[String] = Queries.flatMap { q =>
      (first.get(q), last.get(q)) match {
        case (Some(a), Some(b)) if a == b => None
        case (a, b) => Some(s"$q returned ${b.map(_.rows)} rows (digest ${b.map(_.hashSum)}), " +
          s"first pass ${a.map(_.rows)} rows (digest ${a.map(_.hashSum)})")
      }
    }
    def inputBytes: Long = files.map(Traced.treeBytes).sum
    def committed: Long = last.valuesIterator.map(_.rows).sum
    def inputInfo: String =
      s""""dir":"${dir.getName}","on_disk_bytes":$inputBytes,"bytes_per_pass":$inputBytes,""" +
        s""""tables":${files.map(f => "\"" + f.getName + "\"").sorted.mkString("[", ",", "]")},""" +
        s""""result_rows":${Queries.map(q => s""""$q":${last.get(q).map(_.rows).getOrElse(-1L)}""").mkString("{", ",", "}")}"""
  }
}
