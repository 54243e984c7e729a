package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native error-capturing token diff: `wiki_diff_safe(old, new)` →
  * `struct<diffs: array<struct<position int, action int, content
  * string>>, error: string>` with exactly one side set.
  *
  * A native expression, not a Scala UDF: a UDF pays a Catalyst↔Scala
  * encoder round trip per row (UTF8String→String→case classes→
  * InternalRow re-encoding of the nested array) which measured
  * comparable to the diff itself. This expression builds the result
  * `InternalRow`/`GenericArrayData` directly. CodegenFallback costs one
  * virtual call per row — noise next to a ~100 µs kernel call.
  *
  * Failure semantics follow the reference's per-record failure rows
  * (`revision_differ.py:167-170`): a kernel exception yields an
  * `error` string, never a dead job. Fatal errors (an
  * `OutOfMemoryError`, say) are not a row's failure and propagate.
  */
case class WikiDiffSafe(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"wiki_diff_safe requires (string, string), got $l and $r")
    }

  override def dataType: DataType = WikiDiffSafe.outputType

  override def prettyName: String = "wiki_diff_safe"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    // byte-native kernel: no UTF8String→String decode of either text
    // and op content is emitted as UTF8String directly
    try InternalRow(WikiDiffSafe.opsData(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String]), null)
    catch {
      case NonFatal(e) => InternalRow(
        new GenericArrayData(Array.empty[Any]),
        UTF8String.fromString(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WikiDiffSafe =
    copy(left = newLeft, right = newRight)
}

object WikiDiffSafe {
  val opType: StructType = StructType(Seq(
    StructField("position", IntegerType, nullable = false),
    StructField("action", IntegerType, nullable = false),
    StructField("content", StringType, nullable = false)))
  val opsType: ArrayType = ArrayType(opType, containsNull = false)
  val outputType: StructType = StructType(Seq(
    StructField("diffs", opsType, nullable = false),
    StructField("error", StringType, nullable = true)))

  /** The kernel's ops for (old, new) as a Catalyst array of op structs. */
  def opsData(oldText: UTF8String, newText: UTF8String): GenericArrayData = {
    val ops = DiffKernelU8.diffOps(oldText, newText)
    val arr = new Array[Any](ops.length)
    var i = 0
    while (i < ops.length) {
      val op = ops(i)
      arr(i) = InternalRow(op.position, op.action, op.content)
      i += 1
    }
    new GenericArrayData(arr)
  }

  /** Analysis-time check of the SQL diff functions: every argument is a
    * string or an untyped NULL literal. */
  def stringArgs(name: String, args: Seq[Expression]): TypeCheckResult =
    if (args.forall(a => a.dataType == StringType || a.dataType == NullType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires string arguments, got ${args.map(_.dataType.simpleString).mkString(", ")}")
}

/** `wiki_tokenize(text)` → `array<string>`: the kernel's wikitext
  * tokens. A NULL text tokenizes as "" (an empty array, never NULL). */
case class WikiTokenize(child: Expression) extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    WikiDiffSafe.stringArgs(prettyName, children)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "wiki_tokenize"

  override def eval(input: InternalRow): Any = {
    val toks = DiffKernelU8.tokenize(child.eval(input).asInstanceOf[UTF8String])
    new GenericArrayData(toks.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): WikiTokenize =
    copy(child = newChild)
}

/** `wiki_diff(old, new)` → `array<struct<position int, action int,
  * content string>>`: the kernel's remove/add ops. A NULL text reads as
  * "", so `wiki_diff(NULL, 'x')` is one insert op. Unlike
  * `wiki_diff_safe`, a kernel failure fails the query. */
case class WikiDiff(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    WikiDiffSafe.stringArgs(prettyName, children)
  override def dataType: DataType = WikiDiffSafe.opsType
  override def nullable: Boolean = false
  override def prettyName: String = "wiki_diff"

  override def eval(input: InternalRow): Any = WikiDiffSafe.opsData(
    left.eval(input).asInstanceOf[UTF8String], right.eval(input).asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WikiDiff =
    copy(left = newLeft, right = newRight)
}

/** `wiki_edit_distance(old, new)` → `bigint`: the token diff's removed
  * plus added content, in UTF-16 units. A NULL text reads as "". */
case class WikiEditDistance(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    WikiDiffSafe.stringArgs(prettyName, children)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "wiki_edit_distance"

  override def eval(input: InternalRow): Any = DiffKernelU8.editDistance(
    left.eval(input).asInstanceOf[UTF8String], right.eval(input).asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WikiEditDistance =
    copy(left = newLeft, right = newRight)
}
