package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DiffKernel, DiffKernelU8, DiffOp}

class DiffKernelSpec extends AnyFunSuite {

  /** The production byte kernel and its String oracle, both as
    * (old, new) → ops: the diff cases below run on each. */
  private val kernels: Seq[(String, (String, String) => Seq[DiffOp])] = Seq(
    "DiffKernel" -> ((a, b) => DiffKernel.diffOps(a, b).toSeq),
    "DiffKernelU8" -> ((a, b) => DiffKernelU8.diffOps(UTF8String.fromString(a),
      UTF8String.fromString(b)).map(o => DiffOp(o.position, o.action, o.content.toString)).toSeq))

  test("tokenizer classes and ordering") {
    assert(DiffKernel.tokenize("foo bar").toList == List("foo", " ", "bar"))
    assert(DiffKernel.tokenize("[[link]]").toList == List("[[", "link", "]]"))
    assert(DiffKernel.tokenize("{{tpl}}").toList == List("{{", "tpl", "}}"))
    // dead-branch parity: {{{ tokenizes as {{ then {
    assert(DiffKernel.tokenize("{{{x}}}").toList == List("{{", "{", "x", "}}", "}"))
    assert(DiffKernel.tokenize("a\n\nb").toList == List("a", "\n\n", "b"))
    assert(DiffKernel.tokenize("a  b").toList == List("a", "  ", "b"))
    assert(DiffKernel.tokenize("&amp;x").toList == List("&amp;", "x"))
    assert(DiffKernel.tokenize("'''b''' ''i''").toList ==
      List("'''", "b", "'''", " ", "''", "i", "''"))
    assert(DiffKernel.tokenize("== h ==").toList == List("==", " ", "h", " ", "=="))
    assert(DiffKernel.tokenize("{| |- |}").toList == List("{|", " ", "|-", " ", "|}"))
    assert(DiffKernel.tokenize("").toList == Nil)
  }

  test("hand-rolled tokenizer equals the regex reference (differential)") {
    val vocab = "abc Z9_ [ ] [[ ]] { } {{ }} {| |} |- | ' '' ''' = == &amp; &x &y; & \n \n\n   . , \r é 中"
      .split(" ", -1)
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 2000) {
      val s = Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length))).mkString
      val got = DiffKernel.tokenize(s).toList
      val exp = DiffKernel.tokenizeRegex(s).toList
      assert(got == exp, s"tokenizer diverged on ${s.replace("\n", "\\n")}")
    }
  }

  test("diffOps is call-order independent (per-thread cache is invisible)") {
    // the kernel memoizes the last tokenized text and shares a
    // dictionary across calls on a thread — output must not depend on
    // what was diffed before (ids are internal; only strings surface)
    val rnd = new scala.util.Random(41)
    val vocab = Array("alpha", "beta", "[[", "]]", "{{", "}}", "\n", " ", "''", "w1", "w2", "w3")
    def mk() = Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val pairs = Seq.fill(30) {
      val a = mk()
      val b = if (rnd.nextBoolean()) a.replace("alpha", "beta") else mk()
      (a, b)
    }
    // revision-stream order (prev = last curr: hits the memo), then the
    // same pairs reversed and interleaved with unrelated diffs (misses)
    for ((kernel, diff) <- kernels) {
      val inOrder = pairs.map { case (a, b) => diff(a, b).toList }
      val reversed = pairs.reverse.map { case (a, b) =>
        diff(mk(), mk())  // pollute the memo + dictionary
        diff(a, b).toList
      }.reverse
      assert(inOrder == reversed, kernel)
      // and on a fresh thread (fresh context)
      var fresh: Seq[List[DiffOp]] = null
      val t = new Thread(() => fresh = pairs.map { case (a, b) => diff(a, b).toList })
      t.start(); t.join()
      assert(inOrder == fresh, kernel)
    }
  }

  test("simple diffs") {
    for ((kernel, diff) <- kernels) {
      // identical → no reported ops
      assert(diff("same text", "same text").isEmpty, kernel)
      // pure insert at end
      val ins = diff("a b", "a b c")
      assert(ins.forall(_.action == 1), kernel)
      assert(ins.map(_.content).mkString == " c", kernel)
      // pure delete
      val del = diff("a b c", "a b")
      assert(del.forall(_.action == -1), kernel)
      // from empty
      assert(diff("", "new page").toList == List(DiffOp(0, 1, "new page")), kernel)
      // to empty
      assert(diff("gone", "").toList == List(DiffOp(0, -1, "gone")), kernel)
    }
  }

  test("position semantics: advances over equal and add, not remove") {
    // old: "x y z", new: "x q z" → remove "y" at pos 2, add "q" at pos 2
    for ((kernel, diff) <- kernels)
      assert(diff("x y z", "x q z").map(o => (o.position, o.action, o.content)).toSet ==
        Set((2, -1, "y"), (2, 1, "q")), kernel)
  }

  test("replay invariant on hand cases") {
    val cases = Seq(
      ("", "hello world"),
      ("hello world", ""),
      ("the quick brown fox", "the slow brown wolf"),
      ("a [[b]] {{c}}", "a [[b2]] {{c}} d"),
      ("line1\nline2\nline3", "line1\nline2a\nline3\nline4"),
      ("''italic'' and '''bold'''", "'''bold''' and ''italic''"),
      ("== Header ==\ntext &amp; more", "== Header2 ==\ntext &lt; more"))
    for ((o, n) <- cases; (kernel, diff) <- kernels)
      assert(DiffKernel.replay(o, diff(o, n)) == n, s"$kernel replay failed for ($o, $n)")
  }

  test("replay invariant (property): random wikitext-ish strings") {
    val vocab = Array("word", "x", "42", " ", "\n", "[[", "]]", "{{", "}}",
      "'''", "''", "==", "&amp;", ".", ",", "{|", "|}")
    val rnd = new scala.util.Random(23)
    def gen(): String =
      Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString
    for (_ <- 1 to 500) {
      val o = gen(); val n = gen()
      for ((kernel, diff) <- kernels)
        assert(DiffKernel.replay(o, diff(o, n)) == n, s"$kernel replay failed: o=$o n=$n")
    }
  }

  test("replay invariant (property): random edits of a base text") {
    val base = "the quick brown fox jumps over the lazy dog " * 20
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val words = base.split(" ").toBuffer
      // random splice
      val at = rnd.nextInt(words.length)
      val del = rnd.nextInt(math.min(10, words.length - at))
      val ins = Seq.fill(rnd.nextInt(5))("w" + rnd.nextInt(100))
      val edited = (words.take(at) ++ ins ++ words.drop(at + del)).mkString(" ")
      for ((kernel, diff) <- kernels)
        assert(DiffKernel.replay(base, diff(base, edited)) == edited, kernel)
    }
  }

  test("many distinct tokens (beyond the reference's 65k unichr cap)") {
    // one pair, then a chain of 20 pairs with disjoint vocabularies: 1.4M
    // distinct tokens on one thread, past the per-thread dictionary's 2^20
    // reset, which must not change any pair's ops
    for ((kernel, diff) <- kernels; p <- "" +: (1 to 20).map(j => s"p$j")) {
      val o = (1 to 70000).map(i => s"${p}tok$i").mkString(" ")
      val n = (1 to 70000).map(i => if (i == 35000) "CHANGED" else s"${p}tok$i").mkString(" ")
      val ops = diff(o, n)
      val at = o.indexOf(s" ${p}tok35000 ") + 1
      assert(ops == Seq(DiffOp(at, -1, s"${p}tok35000"), DiffOp(at, 1, "CHANGED")), kernel)
      assert(DiffKernel.replay(o, ops) == n, kernel)
    }
  }

  test("edit distance is symmetric-ish and zero for identical") {
    assert(DiffKernel.diffOps("abc", "abc").map(_.content.length).sum == 0)
    val d1 = DiffKernel.diffOps("a b c", "a x c").map(_.content.length).sum
    assert(d1 == 2) // "b" removed + "x" added
    // the byte kernel's distance (wiki_edit_distance) counts UTF-16 units too
    def u(t: String) = UTF8String.fromString(t)
    assert(DiffKernelU8.editDistance(u("abc"), u("abc")) == 0)
    assert(DiffKernelU8.editDistance(u("a b c"), u("a x c")) == 2)
    assert(DiffKernelU8.editDistance(u("a é b"), u("a 😀 b")) == 3)
  }
}
