package graft.functions

import java.util.regex.Pattern
import scala.collection.mutable

/** The String (UTF-16) form of the token diff kernel, kept as the
  * differential oracle for the byte kernel [[DiffKernelU8]]: the
  * reference's tokenizer regex (`python/revision_differ.py:30-50`), a
  * hand-rolled char scanner pinned to it, a char-region interner, and
  * op emission with the reference's position accounting
  * (`revision_differ.py:78-84`) over the same [[Myers]] core. Also the
  * home of [[replay]], the reconstruction invariant every diff spec
  * checks. A supplementary character is two surrogate-half tokens
  * here and one token in the byte kernel.
  */
object DiffKernel {

  /** Wikitext tokenizer: same token classes and leftmost-first
    * alternation order as the reference (`revision_differ.py:30-50`),
    * including its quirks (the `{{{`/`}}}` branches are dead because
    * `{{`/`}}` precede them). (?s) lets `.` match carriage returns as
    * Python's does; `\n+` still wins for newlines by alternation order. */
  private val tokenPattern: Pattern = Pattern.compile(
    "(?s)[\\w]+" +  // word
    "|\\[\\[" +     // opening internal link
    "|\\]\\]" +     // closing internal link
    "|\\{\\{" +     // opening template
    "|\\}\\}" +     // closing template
    "|\\{\\{\\{" +  // opening template var (dead branch, parity)
    "|\\}\\}\\}" +  // closing template var (dead branch, parity)
    "|\\n+" +       // line breaks
    "| +" +         // spaces
    "|&\\w+;" +     // HTML escape sequence
    "|'''" +        // bold
    "|''" +         // italics
    "|=+" +         // header
    "|\\{\\|" +     // opening table
    "|\\|\\}" +     // closing table
    "|\\|\\-" +     // table row
    "|.")           // any other character

  /** Regex form — retained as the differential-testing reference for
    * the hand-rolled scanner below. */
  def tokenizeRegex(content: String): Array[String] = {
    val m = tokenPattern.matcher(content)
    val out = mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** Token boundary scanner over UTF-16 chars: exactly the
    * alternation-order behavior of the regex (verified by a differential
    * property test). Every token is a contiguous region of `content`;
    * returns flat (start, end) pairs. */
  private def tokenBounds(content: String): Array[Int] = {
    val n = content.length
    val out = new mutable.ArrayBuilder.ofInt
    out.sizeHint(n / 2 + 8)
    var i = 0
    while (i < n) {
      val c = content.charAt(i)
      var j = i + 1 // token end (exclusive), adjusted per case
      if (isWordChar(c)) {
        while (j < n && isWordChar(content.charAt(j))) j += 1
      } else c match {
        case '[' =>
          if (j < n && content.charAt(j) == '[') j += 1
        case ']' =>
          if (j < n && content.charAt(j) == ']') j += 1
        case '{' =>
          if (j < n && (content.charAt(j) == '{' || content.charAt(j) == '|')) j += 1
        case '}' =>
          if (j < n && content.charAt(j) == '}') j += 1
        case '\n' =>
          while (j < n && content.charAt(j) == '\n') j += 1
        case ' ' =>
          while (j < n && content.charAt(j) == ' ') j += 1
        case '&' =>
          var k = j
          while (k < n && isWordChar(content.charAt(k))) k += 1
          if (k > j && k < n && content.charAt(k) == ';') j = k + 1
        case '\'' =>
          if (j + 1 < n && content.charAt(j) == '\'' && content.charAt(j + 1) == '\'') j += 2
          else if (j < n && content.charAt(j) == '\'') j += 1
        case '=' =>
          while (j < n && content.charAt(j) == '=') j += 1
        case '|' =>
          if (j < n && (content.charAt(j) == '}' || content.charAt(j) == '-')) j += 1
        case _ => ()
      }
      out += i; out += j
      i = j
    }
    out.result()
  }

  def tokenize(content: String): Array[String] = {
    if (content == null) return Array.empty
    val b = tokenBounds(content)
    Array.tabulate(b.length / 2)(k => content.substring(b(2 * k), b(2 * k + 1)))
  }

  /** Intern tokens to ids using a shared dictionary across both texts
    * (the reference shares its dict the same way,
    * `revision_differ.py:68-70`). Open-addressing table keyed by a
    * char-region hash so lookups compare in place — a substring is
    * allocated only the first time a token is seen. Full hashes are
    * stored beside the slot ids so a probe chain skips mismatched
    * entries without a char-by-char compare. */
  private final class Interner {
    val tokens = mutable.ArrayBuffer.empty[String]
    private var mask = (1 << 12) - 1
    private var ids = Array.fill(mask + 1)(-1)
    private var hashes = new Array[Int](mask + 1)

    private def regionHash(s: String, from: Int, until: Int): Int = {
      var h = 0
      var i = from
      while (i < until) { h = h * 31 + s.charAt(i); i += 1 }
      h
    }

    private def eqRegion(tok: String, s: String, from: Int, until: Int): Boolean = {
      if (tok.length != until - from) return false
      var i = 0
      while (i < tok.length) {
        if (tok.charAt(i) != s.charAt(from + i)) return false
        i += 1
      }
      true
    }

    private def grow(): Unit = {
      val old = ids
      val oldHashes = hashes
      mask = mask * 2 + 1
      ids = Array.fill(mask + 1)(-1)
      hashes = new Array[Int](mask + 1)
      var slot = 0
      while (slot < old.length) {
        val id = old(slot)
        if (id >= 0) {
          val h = oldHashes(slot)
          var idx = (h & 0x7fffffff) & mask
          while (ids(idx) >= 0) idx = (idx + 1) & mask
          ids(idx) = id
          hashes(idx) = h
        }
        slot += 1
      }
    }

    def internRegion(s: String, from: Int, until: Int): Int = {
      val h = regionHash(s, from, until)
      var idx = (h & 0x7fffffff) & mask
      while (true) {
        val id = ids(idx)
        if (id < 0) {
          val t = s.substring(from, until)
          val newId = tokens.length
          tokens += t
          ids(idx) = newId
          hashes(idx) = h
          if (tokens.length * 10 >= (mask + 1) * 7) grow()
          return newId
        }
        if (hashes(idx) == h && eqRegion(tokens(id), s, from, until)) return id
        idx = (idx + 1) & mask
      }
      -1 // unreachable
    }
  }

  /** Per-thread diff context: a persistent interner plus a one-entry
    * memo of the last tokenized text. In the ingest pipeline every
    * revision text is diffed twice — as `curr` of one pair, then as
    * `prev` of the next — and rows arrive page-ordered within a task,
    * so the memo halves tokenization work.
    * Sharing the interner across calls is behavior-neutral — diff
    * output depends only on id-equality ⇔ token-string equality, which
    * any interner preserves — and the context resets once the
    * dictionary tops ~1M tokens, bounding memory on long-lived
    * executor threads. */
  private final class DiffContext {
    var interner = new Interner
    private var lastText: String = null
    private var lastBounds: Array[Int] = null
    private var lastIds: Array[Int] = null
    def reset(): Unit = {
      interner = new Interner; lastText = null; lastBounds = null; lastIds = null
    }
    def ids(text: String): Array[Int] = {
      if (lastText != null && ((text eq lastText) || text == lastText)) return lastIds
      val bounds = tokenBounds(text)
      val out =
        if (lastText == null) internRange(text, bounds, 0, bounds.length / 2, null, 0)
        else sharedIntern(text, bounds)
      lastText = text; lastBounds = bounds; lastIds = out
      out
    }

    /** Intern `text` reusing the previous text's ids for the common
      * token prefix/suffix: revision pairs share most of their tokens
      * in place, and an exact sequential char-compare against the
      * memoized text is ~3× cheaper than hash+probe+verify per token.
      * Only the middle (the edit region) goes through the dictionary. */
    private def sharedIntern(text: String, bounds: Array[Int]): Array[Int] = {
      val pText = lastText
      val pBounds = lastBounds
      val pIds = lastIds
      val n = bounds.length / 2
      val pn = pIds.length
      val maxCommon = math.min(n, pn)
      var k = 0
      while (k < maxCommon && regionEq(pText, pBounds(2 * k), pBounds(2 * k + 1),
          text, bounds(2 * k), bounds(2 * k + 1))) k += 1
      var s = 0
      val maxS = maxCommon - k
      while (s < maxS && regionEq(
          pText, pBounds(2 * (pn - 1 - s)), pBounds(2 * (pn - 1 - s) + 1),
          text, bounds(2 * (n - 1 - s)), bounds(2 * (n - 1 - s) + 1))) s += 1
      val out = new Array[Int](n)
      System.arraycopy(pIds, 0, out, 0, k)
      var j = 0
      while (j < s) { out(n - 1 - j) = pIds(pn - 1 - j); j += 1 }
      internRange(text, bounds, k, n - s, out, k)
      out
    }

    private def regionEq(a: String, aFrom: Int, aUntil: Int,
                         b: String, bFrom: Int, bUntil: Int): Boolean = {
      val len = aUntil - aFrom
      if (len != bUntil - bFrom) return false
      var i = 0
      while (i < len) {
        if (a.charAt(aFrom + i) != b.charAt(bFrom + i)) return false
        i += 1
      }
      true
    }

    /** Intern tokens [from, until) of `bounds` into `out` starting at
      * `outAt`; allocates `out` when null (full-text case). */
    private def internRange(text: String, bounds: Array[Int], from: Int, until: Int,
                            out0: Array[Int], outAt: Int): Array[Int] = {
      val out = if (out0 != null) out0 else new Array[Int](until - from)
      var k = from
      var o = outAt
      while (k < until) {
        out(o) = interner.internRegion(text, bounds(2 * k), bounds(2 * k + 1))
        k += 1; o += 1
      }
      out
    }
  }

  private val MaxDictTokens = 1 << 20

  private val contexts = new ThreadLocal[DiffContext] {
    override def initialValue(): DiffContext = new DiffContext
  }

  /** Full pipeline: tokenize, intern, diff, un-intern, emit ops with the
    * reference's position accounting (`revision_differ.py:78-84`). */
  def diffOps(oldText: String, newText: String,
              reportRemove: Boolean = true, reportAdd: Boolean = true,
              reportEqual: Boolean = false): Array[DiffOp] = {
    val ctx = contexts.get()
    if (ctx.interner.tokens.length > MaxDictTokens) ctx.reset()
    val interner = ctx.interner
    // ids() memoizes each text as it goes: a memo hit on `old` skips
    // its tokenization entirely (it was the previous call's `new`),
    // and `new` reuses ids for the token prefix/suffix it shares with
    // `old` — only the edit region touches the dictionary
    val aIds = ctx.ids(if (oldText == null) "" else oldText)
    val bIds = ctx.ids(if (newText == null) "" else newText)
    val runs = Myers.computeRuns(aIds, bIds)
    val acts = runs.acts
    val los = runs.los
    val his = runs.his
    val out = mutable.ArrayBuffer.empty[DiffOp]
    var position = 0

    // canonicalization happens directly over the region runs (the same
    // segment-wise delete-then-insert, merged-equals shape `merge`
    // produces): pending run indices per kind, flushed at region
    // boundaries. Unreported runs advance `position` by a dictionary
    // length sum without materializing content strings — equal runs
    // span most of the text.
    def runStr(sb: java.lang.StringBuilder, src: Array[Int], r: Int): Unit = {
      var k = los(r)
      while (k < his(r)) { sb.append(interner.tokens(src(k))); k += 1 }
    }
    def runLen(src: Array[Int], r: Int): Int = {
      var len = 0
      var k = los(r)
      while (k < his(r)) { len += interner.tokens(src(k)).length; k += 1 }
      len
    }
    val del = mutable.ArrayBuffer.empty[Int]
    val ins = mutable.ArrayBuffer.empty[Int]
    val eqs = mutable.ArrayBuffer.empty[Int]
    def flushDelIns(): Unit = {
      if (del.nonEmpty) {
        if (reportRemove) {
          val sb = new java.lang.StringBuilder
          del.foreach(runStr(sb, aIds, _))
          out += DiffOp(position, -1, sb.toString)
        }
        del.clear()
      }
      if (ins.nonEmpty) {
        if (reportAdd) {
          val sb = new java.lang.StringBuilder
          ins.foreach(runStr(sb, bIds, _))
          val content = sb.toString
          out += DiffOp(position, 1, content)
          position += content.length
        } else ins.foreach(r => position += runLen(bIds, r))
        ins.clear()
      }
    }
    def flushEq(): Unit = {
      if (eqs.nonEmpty) {
        if (reportEqual) {
          val sb = new java.lang.StringBuilder
          eqs.foreach(runStr(sb, aIds, _))
          val content = sb.toString
          out += DiffOp(position, 0, content)
          position += content.length
        } else eqs.foreach(r => position += runLen(aIds, r))
        eqs.clear()
      }
    }
    var i = 0
    while (i < runs.size) {
      if (acts(i) == 0) { flushDelIns(); eqs += i }
      else { flushEq(); if (acts(i) == -1) del += i else ins += i }
      i += 1
    }
    flushDelIns()
    flushEq()
    out.toArray
  }

  /** Replay ops (report=[-1,1]) against the old text to reconstruct the
    * new text — the invariant documented by `python/example.py:67-107`. */
  def replay(oldText: String, ops: Seq[DiffOp]): String = {
    val buff = new java.lang.StringBuilder
    var oldPos = 0
    var lastPos = 0
    for (op <- ops) {
      val equal = oldText.substring(oldPos, math.min(oldText.length, oldPos + op.position - lastPos))
      buff.append(equal)
      lastPos += equal.length
      oldPos += equal.length
      if (op.action == 1) { buff.append(op.content); lastPos += op.content.length }
      else if (op.action == -1) oldPos += op.content.length
    }
    buff.append(oldText.substring(math.min(oldPos, oldText.length)))
    buff.toString
  }
}
