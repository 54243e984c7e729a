package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared whitespace tokenizer for the token expressions — identical
  * to Spark's `split(text, ' ')` including empty tokens (Java's
  * `String.split` drops trailing empties, so scan manually) — and
  * their shared check of the window argument n; kept in one place so
  * the expressions cannot drift. */
private[functions] object SpaceTokens {
  /** The window argument n of `fn` (already typed as a foldable int)
    * must be a non-null literal of at least 1: 0 divided by zero in
    * `token_chunks` and made `token_spans` emit empty spans, and a
    * NULL unboxed to 0. The registered callers pass only n >= 1. */
  def checkWindow(fn: String, n: Expression): TypeCheckResult = n.eval() match {
    case v: Int if v >= 1 => TypeCheckResult.TypeCheckSuccess
    case v => TypeCheckResult.TypeCheckFailure(
      s"$fn requires a non-null window n >= 1, got ${if (v == null) "NULL" else v}")
  }

  def apply(s: String): Array[String] = {
    val toks = new scala.collection.mutable.ArrayBuffer[String](64)
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        toks += s.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    toks.toArray
  }

  def join(toks: Array[String], from: Int, until: Int): UTF8String = {
    val sb = new java.lang.StringBuilder(64)
    var t = from
    while (t < until) {
      if (t > from) sb.append(' ')
      sb.append(toks(t))
      t += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** ALL word n-gram spans of a whitespace-tokenized text, in document
  * order and WITH multiplicity — unlike [[TokenShingles]], which
  * dedupes (set semantics for Jaccard/MinHash). Position-preserving
  * spans are what exact substring-level dedup needs (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better"): the
  * array index IS the span's token start offset. Texts with fewer
  * than n tokens yield an empty array.
  *
  * Same rationale as [[TokenShingles]] for being a native expression
  * rather than `transform(sequence(...), ...)`: Catalyst HOFs are
  * CodegenFallback with one interpreted lambda dispatch per element;
  * this runs the whole loop in one JIT-compiled call per row. */
case class TokenSpans(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable => SpaceTokens.checkWindow("token_spans", right)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"token_spans requires (string, foldable int), got $l and $r")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "token_spans"

  override protected def nullSafeEval(text: Any, n: Any): Any = {
    val toks = SpaceTokens(text.asInstanceOf[UTF8String].toString)
    val k = n.asInstanceOf[Int]
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - k + 1)
    var j = 0
    while (j + k <= toks.length) {
      out(j) = SpaceTokens.join(toks, j, j + k)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenSpans =
    copy(left = newLeft, right = newRight)
}

/** Rebuild a whitespace-tokenized text with the n-token spans at the
  * given start offsets removed: every token index covered by some
  * `[start, start+n)` window is dropped, survivors re-join with single
  * spaces — the cutting half of substring-level dedup (the marking
  * half produces the starts; see
  * [[graft.operators.SpanDedup.removeSpans]]). Overlapping windows
  * union (coverage is a boolean mark per token, order-insensitive, so
  * the starts array needs no particular order). Out-of-range and NULL
  * starts are ignored (the array type may hold NULLs: an empty
  * `cast(array() as array<bigint>)` is typed nullable). Everything-cut
  * yields the empty string. */
case class CutSpans(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, ArrayType(org.apache.spark.sql.types.LongType, _), IntegerType)
          if third.foldable => SpaceTokens.checkWindow("cut_spans", third)
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"cut_spans requires (string, array<bigint>, foldable int), got $a, $b, $c")
    }

  override def dataType: DataType = StringType

  override def prettyName: String = "cut_spans"

  override protected def nullSafeEval(text: Any, starts: Any, n: Any): Any = {
    val toks = SpaceTokens(text.asInstanceOf[UTF8String].toString)
    val arr = starts.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val covered = new Array[Boolean](toks.length)
    val k = n.asInstanceOf[Int]
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val p = arr.getLong(i)
        var j = math.max(p, 0L).toInt
        val end = math.min(p + k, toks.length.toLong).toInt
        while (j < end) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var t = 0
    var firstTok = true
    while (t < toks.length) {
      if (!covered(t)) {
        if (!firstTok) sb.append(' ')
        sb.append(toks(t))
        firstTok = false
      }
      t += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CutSpans =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** ALL suffix windows of a whitespace-tokenized text: element `j`
  * (0-based) is tokens `j .. min(j+n, nTokens)-1` joined by single
  * spaces — i.e. the output of `array_join(slice(split(text,' '),
  * j+1, n), ' ')` for every position, including the truncated tail
  * windows (unlike [[TokenSpans]], which stops at the last FULL
  * n-gram). This is the suffix-window unit of corpus-level
  * repeated-sequence mining ([[graft.operators.RepeatedSequences]]):
  * the declarative form carries the whole token array through the
  * Generate and pays a fresh `slice` array + `array_join` string per
  * POSITION; this expression makes one call per row and — because
  * consecutive tokens joined by ' ' are byte-identical to the
  * original text between their offsets — emits each window as one
  * byte-range copy of the input, no token array at all.
  *
  * Byte scanning is exact: ' ' (0x20) can never occur inside a UTF-8
  * multibyte sequence. Every window is an OWNED copy
  * (`Arrays.copyOfRange`) — never a view of the caller's buffer,
  * which Spark reuses across rows (the r8 DiffKernelU8 lesson). */
case class TokenWindows(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable => SpaceTokens.checkWindow("token_windows", right)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"token_windows requires (string, foldable int), got $l and $r")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "token_windows"

  override protected def nullSafeEval(text: Any, n: Any): Any = {
    val bytes = text.asInstanceOf[UTF8String].getBytes
    val len = bytes.length
    // token starts: offset 0 plus one past every space; sentinel one
    // past a virtual trailing space so token i spans
    // [starts(i), starts(i+1)-1) uniformly, tail included
    var count = 1
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) count += 1; i += 1 }
    val starts = new Array[Int](count + 1)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(count) = len + 1
    val k = n.asInstanceOf[Int]
    val out = new Array[Any](count)
    var j = 0
    while (j < count) {
      val endTok = math.min(j + k, count)
      out(j) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, starts(j), starts(endTok) - 1))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenWindows =
    copy(left = newLeft, right = newRight)
}

/** Non-overlapping n-token chunks of a whitespace-tokenized text, in
  * document order; the final chunk keeps the partial tail. The array
  * index is the chunk ordinal (token offset = index · n). This is the
  * paragraph/window unit for chunk-level dedup (CCNet-style dedupes
  * paragraph hashes; fixed token windows are the analog for text with
  * no paragraph structure). Empty text yields one empty-string chunk,
  * matching `split(text,' ')` producing `[""]`. */
case class TokenChunks(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable => SpaceTokens.checkWindow("token_chunks", right)
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"token_chunks requires (string, foldable int), got $l and $r")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "token_chunks"

  override protected def nullSafeEval(text: Any, n: Any): Any = {
    val toks = SpaceTokens(text.asInstanceOf[UTF8String].toString)
    val k = n.asInstanceOf[Int]
    val nChunks = (toks.length + k - 1) / k
    val out = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      out(c) = SpaceTokens.join(toks, c * k, math.min((c + 1) * k, toks.length))
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenChunks =
    copy(left = newLeft, right = newRight)
}
