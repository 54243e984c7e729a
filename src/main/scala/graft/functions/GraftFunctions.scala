package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** SQL/Column exposure of the graft function surface.
  *
  * [[sqlFunctions]] is the one table of graft's native SQL functions.
  * `GraftExtensions` injects it into every session it builds;
  * `register(spark)` installs the same table into a session built
  * without the extensions. Among them:
  *  - `wiki_tokenize(text) -> array<string>`
  *  - `wiki_diff(old, new) -> array<struct<position int, action int, content string>>`
  *  - `wiki_edit_distance(old, new) -> bigint` (token-level)
  *  - `wiki_diff_safe(old, new) -> struct<diffs, error>` (the diffdb column)
  *  - `doc_fingerprint64(text) -> bigint` (rolling min-hash fingerprint)
  *
  * [[diffdb]] builds its expressions directly, so it needs neither.
  */
object GraftFunctions {

  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn[E <: Expression: ClassTag](name: String, arity: Int)(
      build: Seq[Expression] => E): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(classTag[E].runtimeClass.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$name expects exactly $arity argument${if (arity == 1) "" else "s"}")
        build(children)
      })

  /** (name, arity, builder) of every native SQL function. */
  val sqlFunctions: Seq[FunctionDescription] = Seq(
    fn("float_dot", 2)(c => FloatDot(c(0), c(1))),
    fn("float_sub", 2)(c => FloatSub(c(0), c(1))),
    fn("shingles", 2)(c => TokenShingles(c(0), c(1))),
    fn("token_spans", 2)(c => TokenSpans(c(0), c(1))),
    fn("token_windows", 2)(c => TokenWindows(c(0), c(1))),
    fn("token_chunks", 2)(c => TokenChunks(c(0), c(1))),
    fn("cut_spans", 3)(c => CutSpans(c(0), c(1), c(2))),
    fn("long_pairs", 1)(c => LongPairs(c(0))),
    fn("doc_fingerprint64", 1)(c => DocFingerprint64(c(0))),
    fn("int8_quantize", 1)(c => Int8Quantize(c(0))),
    fn("hashed_margin", 3)(c => HashedMargin(c(0), c(1), c(2))),
    fn("bpe_merge", 3)(c => BpeMerge(c(0), c(1), c(2))),
    fn("normalize_title", 2)(c => NormalizeTitle(c(0), c(1))),
    fn("wiki_diff_safe", 2)(c => WikiDiffSafe(c(0), c(1))),
    fn("wiki_tokenize", 1)(c => WikiTokenize(c(0))),
    fn("wiki_diff", 2)(c => WikiDiff(c(0), c(1))),
    fn("wiki_edit_distance", 2)(c => WikiEditDistance(c(0), c(1))))

  /** Install [[sqlFunctions]] into `spark` — for sessions built without
    * `GraftExtensions`, which already carry them. */
  def register(spark: SparkSession): Unit =
    ColumnBridge.registerFunctions(spark, sqlFunctions)

  /** 64-bit document fingerprint: minimum FNV-1a rolling hash over
    * char 8-grams (winnowing-style content fingerprint — robust to
    * reordering of large blocks, unlike a whole-text hash). */
  def rollingFingerprint(text: String, k: Int = 8): Long = {
    if (text == null || text.isEmpty) return 0L
    val n = text.length
    if (n <= k) return fnv1a(text, 0, n)
    var min = Long.MaxValue
    var i = 0
    while (i + k <= n) {
      val h = fnv1a(text, i, k)
      if (h < min) min = h
      i += 1
    }
    min
  }

  private def fnv1a(s: String, off: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = off
    val end = off + len
    while (i < end) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h & Long.MaxValue // keep non-negative for readability
  }

  private def native(e: Expression): Column = ColumnBridge.column(e)
  private def expression(c: Column): Expression = ColumnBridge.expression(c)

  /** Title namespace resolution against a (lowercased name → id) map;
    * default namespace 0 when no recognized prefix. Underscores are
    * canonicalized to spaces. */
  def normalizeTitle(title: String, nsByName: Map[String, Int]): (Int, String) = {
    if (title == null) return (0, null)
    val t = title.replace('_', ' ')
    val idx = t.indexOf(':')
    if (idx > 0) {
      val prefix = t.substring(0, idx).trim.toLowerCase(java.util.Locale.ROOT)
      nsByName.get(prefix) match {
        case Some(ns) => (ns, t.substring(idx + 1).trim)
        case None => (0, t)
      }
    } else (0, t)
  }

  /** The reference's end product: the diffdb dataset
    * (`fileformat.rst:4-27`) as a DataFrame — one row per revision with
    * nested diff ops (ArrayType replaces the reference's trailing TSV
    * columns), computed from a mediawiki-source DataFrame with
    * `prev`/`curr` columns. */
  def diffdb(revisions: DataFrame, nsByName: Map[String, Int] = Map.empty): DataFrame = {
    // the native expressions are built directly, not looked up by name:
    // the plan, and so the output, is the same on every session (the
    // ns map rides the plan as a foldable literal)
    val normCol = native(NormalizeTitle(expression(col("title")),
      expression(lit(NormalizeTitle.encodeMap(nsByName)))))
    val diffCol = native(WikiDiffSafe(
      expression(coalesce(col("prev.text"), lit(""))),
      expression(coalesce(col("curr.text"), lit("")))))
    revisions
      .withColumn("__norm", normCol)
      .select(
        col("curr.rev_id").as("rev_id"),
        col("page_id"),
        coalesce(col("ns"), col("__norm.ns")).as("namespace"),
        col("__norm.title").as("title"),
        (unix_micros(col("curr.timestamp")) / 1000000L).cast("long").as("timestamp"),
        col("curr.comment").as("comment"),
        col("curr.minor").as("minor"),
        col("curr.contributor.id").as("user_id"),
        coalesce(col("curr.contributor.username"), col("curr.contributor.ip")).as("user_text"),
        diffCol.as("__d"))
      .withColumn("diffs", col("__d.diffs"))
      .withColumn("diff_error", col("__d.error"))
      .drop("__d")
  }

  /** Scale-designed diffdb sink: parquet partitioned by namespace
    * (query-pruned: per-namespace analyses touch one directory) with
    * rows clustered by `(page_id, rev_id)` inside each file — the
    * sorted layout the reference produced with an external
    * `sort -n -k2 -k1 -u` over >400 GB of TSV (`fileformat.rst:39-41`),
    * obtained here for free from the shuffle+sort that writes the
    * files. `repartition(ns)` keeps one writer task per namespace
    * directory (no small-file explosion: files-per-namespace =
    * writer tasks that own it, not tasks × namespaces). */
  def writeDiffdb(db: DataFrame, path: String,
      mode: String = "overwrite"): Unit = {
    db.repartition(col("namespace"))
      .sortWithinPartitions(col("namespace"), col("page_id"), col("rev_id"))
      .write.mode(mode)
      .partitionBy("namespace")
      .parquet(path)
  }
}
