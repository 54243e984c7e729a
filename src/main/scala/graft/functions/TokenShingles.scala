package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a whitespace-tokenized text, as
  * one `array<string>` per row.
  *
  * Replaces the declarative pipeline `array_distinct(transform(
  * sequence(1, size(ts)-1), i -> concat(element_at(ts,i), ' ',
  * element_at(ts,i+1))))`: Catalyst higher-order functions are
  * CodegenFallback with one interpreted lambda dispatch (plus object
  * churn) per element — measured ~1 s per pass over a 5 000-doc ×
  * 53-bigram corpus, i.e. the lambda machinery costs more than the
  * actual work. This expression makes ONE call per row and runs the
  * whole tokenize → shingle → dedupe loop as JIT-compiled code.
  * (CodegenFallback here costs one virtual call per ROW, not per
  * element, which is in the noise.)
  *
  * Semantics match `split(text, ' ')` bigrams joined by a single
  * space, first-occurrence order, exact-string dedupe. Texts with
  * fewer than n tokens yield an empty array (explode drops the row —
  * same as a `size(ts) >= n` pre-filter).
  */
case class TokenShingles(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable => SpaceTokens.checkWindow("shingles", right)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"shingles requires (string, foldable int), got $l and $r")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "shingles"

  override protected def nullSafeEval(text: Any, n: Any): Any = {
    val toks = SpaceTokens(text.asInstanceOf[UTF8String].toString)
    val k = n.asInstanceOf[Int]
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var j = 0
    val sb = new java.lang.StringBuilder(64)
    while (j + k <= toks.length) {
      sb.setLength(0)
      var t = 0
      while (t < k) {
        if (t > 0) sb.append(' ')
        sb.append(toks(j + t))
        t += 1
      }
      seen.add(sb.toString)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenShingles =
    copy(left = newLeft, right = newRight)
}
