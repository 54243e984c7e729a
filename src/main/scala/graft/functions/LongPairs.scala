package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** All unordered pairs of a DISTINCT bigint array, each emitted once
  * as `struct(a, b)` with `a < b` — the market-basket pair unit
  * (q122): explode per-group item sets into co-occurrence pairs
  * without a self-join, so the grouped table is scanned ONCE instead
  * of twice and no join ever re-materializes the Σ·b² pair stream
  * from two exchanges.
  *
  * Output pair VALUES are a pure function of the input SET — `(min,
  * max)` per unordered pair — so a nondeterministically-ordered
  * `collect_set` input yields a deterministic pair multiset (array
  * ORDER follows input order; consumers aggregate, which is
  * order-free). Equal elements never pair (callers pass sets); a
  * defensive `a == b` skip keeps duplicates from fabricating
  * self-pairs. Same native-expression rationale as [[TokenShingles]]:
  * one JIT-compiled call per row instead of interpreted HOF lambda
  * dispatch per element. */
case class LongPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  /** Elements are read with `getLong`, so an array that may hold NULLs
    * is rejected here rather than paired as garbage. */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      "long_pairs requires array<bigint> without NULL elements, got an array that may hold NULLs")
    case t => TypeCheckResult.TypeCheckFailure(
      s"long_pairs requires array<bigint>, got $t")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "long_pairs"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // one row's pairs materialize at once, so they get the same bound
    // as a driver finish: 16 B per pair (two longs) within the budget
    val pairs = n.toLong * (n - 1) / 2
    if (pairs * 16 > graft.operators.DriverFinish.BudgetBytes)
      throw new IllegalArgumentException(
        s"long_pairs: a basket of $n elements has $pairs pairs, over the " +
        s"${graft.operators.DriverFinish.BudgetBytes} B budget at 16 B per pair")
    val out = new scala.collection.mutable.ArrayBuffer[Any](pairs.toInt)
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        val y = arr.getLong(j)
        if (x != y) {
          val r = new GenericInternalRow(2)
          if (x < y) { r.update(0, x); r.update(1, y) }
          else { r.update(0, y); r.update(1, x) }
          out += r
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): LongPairs =
    copy(child = newChild)
}
