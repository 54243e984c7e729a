package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed entry points to the dump pipeline — `Dataset[T]` with
  * case-class Encoders for compile-time field checks where the schema
  * is static. */
object MediaWiki {

  /** Flat, analysis-friendly revision record. */
  case class FlatRevision(
      page_id: Long, title: String, ns: Option[Int], rev_seq: Int,
      rev_id: Long, parent_id: Option[Long], timestamp_us: Option[Long],
      username: Option[String], ip: Option[String], minor: Boolean,
      comment: Option[String], text: Option[String],
      prev_rev_id: Option[Long], prev_text: Option[String])

  /** Read a dump as a typed Dataset (nested pruning still applies when
    * downstream operators drop the text columns). */
  def revisions(spark: SparkSession, path: String): Dataset[FlatRevision] = {
    import spark.implicits._
    spark.read.format("mediawiki").load(path)
      .selectExpr(
        "page_id", "title", "ns", "rev_seq",
        "curr.rev_id as rev_id", "curr.parent_id as parent_id",
        "unix_micros(curr.timestamp) as timestamp_us",
        "curr.contributor.username as username", "curr.contributor.ip as ip",
        "curr.minor as minor", "curr.comment as comment", "curr.text as text",
        "prev.rev_id as prev_rev_id", "prev.text as prev_text")
      .as[FlatRevision]
  }

  /** Parse the dump's `<siteinfo>` namespaces map (key → name; the main
    * namespace key 0 has an empty name) — the dimension the reference's
    * consumer uses for title normalization (`revision_differ.py:94-117`).
    * Reads only the dump prefix, never the page stream. */
  def siteinfoNamespaces(spark: SparkSession, path: String): Map[Int, String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    // lenient: a truncated head still yields whatever parsed (the
    // caller treats the map as best-effort dimension data); the skip
    // planner uses the strict/complete form instead
    val (head, _) = graft.sources.XmlFields.siteinfoHead(p.getFileSystem(conf),
      new org.apache.hadoop.io.compress.CompressionCodecFactory(conf), p)
    graft.sources.XmlFields.siteinfoNamespacesFromHead(head)
  }

  /** Inverse lookup (lowercased name → key) for normalizeTitle.
    * Locale.ROOT on BOTH build and lookup sides (normalizeTitle, the
    * multistream ns skip-planner) — a default-locale lowercase here
    * with ROOT there would split the map under locales like tr_TR. */
  def namespacesByName(ns: Map[Int, String]): Map[String, Int] =
    ns.collect { case (k, v) if v.nonEmpty =>
      v.toLowerCase(java.util.Locale.ROOT) -> k }

  /** Typed diffdb row. */
  case class DiffRow(rev_id: Long, page_id: Long, namespace: Int, title: String,
      timestamp: Option[Long], comment: Option[String], minor: Boolean,
      user_id: Option[Long], user_text: Option[String],
      diffs: Seq[graft.functions.DiffOp], diff_error: Option[String])

  def diffdb(spark: SparkSession, path: String,
             nsByName: Map[String, Int] = Map.empty): Dataset[DiffRow] = {
    import spark.implicits._
    graft.functions.GraftFunctions.diffdb(
      spark.read.format("mediawiki").load(path), nsByName).as[DiffRow]
  }
}
