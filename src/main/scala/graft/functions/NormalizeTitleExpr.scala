package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native title-namespace resolution: `normalize_title(title, nsEnc)`
  * → `struct<ns int, title string>`, the diffdb title column
  * (semantics: the reference resolves page namespaces from the dump's
  * own `<siteinfo>` map before grouping, `python/example.py:87-92`).
  *
  * `nsEnc` must be a FOLDABLE string encoding of the (lowercased
  * namespace name → id) map, `nameidnameid…`
  * ([[NormalizeTitle.encodeMap]]) — namespace names cannot contain
  * the separators (MediaWiki forbids control characters in names).
  * The map is decoded once per expression instance, broadcast to
  * executors inside the serialized plan, and referenced from
  * generated code via `addReferenceObj`, so per-row work is one
  * static call inside the whole-stage-codegen span — no
  * Catalyst↔Scala encoder round trip.
  *
  * A NULL title yields `(0, null)` (never a NULL struct): diffdb
  * coalesces the ns field against the source's own `ns` column and a
  * null struct would silently turn namespace 0 rows into NULLs. */
case class NormalizeTitle(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        "normalize_title requires a foldable namespace-map literal")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"normalize_title requires (string, string), got $l and $r")
    }

  override def dataType: DataType = NormalizeTitle.outputType
  override def nullable: Boolean = false
  override def prettyName: String = "normalize_title"

  @transient private lazy val nsByName: Map[String, Int] = {
    val enc = right.eval(null)
    if (enc == null) Map.empty else NormalizeTitle.decodeMap(enc.toString)
  }

  override def eval(input: InternalRow): Any =
    NormalizeTitle.norm(left.eval(input).asInstanceOf[UTF8String], nsByName)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("normKernel", NormalizeTitle,
      NormalizeTitle.getClass.getName)
    val mapRef = ctx.addReferenceObj("nsByName", nsByName,
      "scala.collection.immutable.Map")
    val childGen = left.genCode(ctx)
    val titleVal = ctx.freshName("title")
    ev.copy(
      code = code"""
        |${childGen.code}
        |UTF8String $titleVal = ${childGen.isNull} ? null : ${childGen.value};
        |InternalRow ${ev.value} = $kernel.norm($titleVal, $mapRef);
        |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NormalizeTitle =
    copy(left = newLeft, right = newRight)
}

object NormalizeTitle {
  val outputType: StructType = StructType(Seq(
    StructField("ns", IntegerType, nullable = false),
    StructField("title", StringType, nullable = true)))

  // separators are control characters MediaWiki forbids in names
  private final val KV = '\u0001'
  private final val REC = '\u0002'

  def encodeMap(nsByName: Map[String, Int]): String =
    nsByName.iterator.map { case (k, v) => s"$k$KV$v" }.mkString(REC.toString)

  def decodeMap(enc: String): Map[String, Int] =
    if (enc.isEmpty) Map.empty
    else enc.split(REC).iterator.map { kv =>
      val i = kv.indexOf(KV.toInt)
      kv.substring(0, i) -> kv.substring(i + 1).toInt
    }.toMap

  /** Row kernel, shared by eval and generated code; semantics are
    * [[GraftFunctions.normalizeTitle]]'s exactly (parity-pinned by
    * DiffdbSpec). */
  def norm(title: UTF8String, nsByName: Map[String, Int]): InternalRow = {
    if (title == null) return InternalRow(0, null)
    val (ns, t) = GraftFunctions.normalizeTitle(title.toString, nsByName)
    InternalRow(ns, if (t == null) null else UTF8String.fromString(t))
  }
}
