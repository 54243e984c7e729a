package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** [[Sais]] against a comparison sort of suffixes ending in a virtual
  * sentinel (a proper prefix sorts first), on the byte level and on the
  * int level the reduced problems use. */
class SaisSpec extends AnyFunSuite {

  private def naive(t: Array[Byte]): Array[Int] =
    (0 until t.length).toArray.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(t, a, t.length, t, b, t.length) < 0)

  private def naive(t: Array[Int]): Array[Int] =
    (0 until t.length).toArray.sortWith((a, b) => java.util.Arrays.compare(t, a, t.length, t, b, t.length) < 0)

  /** The byte sort's suffix array, with `spare` scratch slots past `n`. */
  private def bytes(t: Array[Byte], spare: Int = 0): Array[Int] = {
    val sa = new Array[Int](t.length + spare)
    Sais.sort(t, t.length, sa, new Array[Int](512))
    sa.take(t.length)
  }

  /** The int sort's suffix array, the text after `free` scratch slots. */
  private def ints(t: Array[Int], k: Int, free: Int): Array[Int] = {
    val n = t.length
    val sa = new Array[Int](2 * n + free)
    System.arraycopy(t, 0, sa, n + free, n)
    Sais.sort(sa, n + free, n, k)
    assert(java.util.Arrays.equals(sa.slice(n + free, 2 * n + free), t), "text clobbered")
    sa.take(n)
  }

  private def check(name: String, t: Array[Byte]): Unit = {
    val want = naive(t)
    for (spare <- Seq(0, t.length / 2 + 7))
      assert(java.util.Arrays.equals(bytes(t, spare), want), s"$name (n=${t.length}, spare $spare)")
  }

  /** Levels SA-IS recurses on `t`: name the LMS substrings (symbols and
    * types up to the next LMS symbol, the sentinel last and smallest)
    * and reduce while names repeat. */
  private def depth(t0: Array[Int]): Int = {
    import scala.math.Ordering.Implicits.seqOrdering
    var t = t0
    var d = 0
    while (t.nonEmpty) {
      val n = t.length
      val s = new Array[Boolean](n + 1) // types; the sentinel is S
      s(n) = true
      for (i <- n - 2 to 0 by -1) s(i) = t(i) < t(i + 1) || (t(i) == t(i + 1) && s(i + 1))
      val lms = (1 to n).filter(i => s(i) && !s(i - 1))
      def sym(i: Int) = if (i == n) (-1, 1) else (t(i), if (s(i)) 1 else 0)
      val subs = lms.zip(lms.tail).map { case (p, q) => (p to q).map(sym) }
      val names = subs.distinct.sorted.zipWithIndex.toMap
      if (names.size == subs.size) return d
      d += 1
      t = subs.map(names).toArray
    }
    d
  }

  private def fibonacci(n: Int): Array[Byte] = {
    var (a, b) = ("b", "a")
    while (b.length < n) { val c = b + a; a = b; b = c }
    b.take(n).getBytes("US-ASCII")
  }

  test("every binary string of length 1 to 12") {
    for (n <- 1 to 12; bits <- 0 until (1 << n)) {
      val t = Array.tabulate[Byte](n)(i => ((bits >>> i) & 1).toByte)
      assert(java.util.Arrays.equals(bytes(t), naive(t)), s"n=$n bits=$bits")
    }
  }

  test("random strings over 1, 2, 4, 26 and 256 symbols, length 1 to 5000") {
    val rnd = new scala.util.Random(11)
    for (k <- Seq(1, 2, 4, 26, 256)) {
      val lengths = (1 to 40) ++ Seq(255, 256, 257, 4999, 5000) ++ Seq.fill(40)(1 + rnd.nextInt(5000))
      for (n <- lengths) {
        val base = if (k == 26) 'a' else if (k == 256) 0 else 200 // high bytes test the unsigned reads
        check(s"k=$k", Array.fill[Byte](n)((base + rnd.nextInt(k)).toByte))
      }
    }
  }

  test("texts that recurse three levels or more: Fibonacci words, periodic, runs and near-identical repeats") {
    val rnd = new scala.util.Random(12)
    val block = Array.fill[Byte](400)(rnd.nextInt(256).toByte)
    val repeats = Array.concat(Seq.tabulate(25) { c =>
      val b = block.clone(); b(rnd.nextInt(b.length)) = c.toByte; b
    }: _*)
    val pattern = Seq.fill(60)(Array.fill[Byte](1 + rnd.nextInt(6))(('a' + rnd.nextInt(3)).toByte))
    val runs = Array.concat(Seq.fill(25)(pattern).flatten: _*)
    val period = fibonacci(34) // (ab)^k itself recurses once: one LMS symbol per period
    val periodic = Array.tabulate[Byte](6000)(i => period(i % period.length))
    val deep = Seq("fib" -> fibonacci(10946), "fib-1" -> fibonacci(10945), "repeats" -> repeats,
      "runs" -> runs, "periodic" -> periodic)
    for ((name, t) <- deep) {
      val d = depth(t.map(_ & 0xff))
      info(s"$name: ${t.length} bytes, $d levels")
      assert(d >= 3, s"$name recurses only $d levels")
      check(name, t)
    }
    check("aaaa", Array.fill[Byte](5000)('a'.toByte))
    check("abab", Array.tabulate[Byte](5000)(i => if (i % 2 == 0) 'a' else 'b'))
  }

  test("the int level with a large alphabet, with and without room for its counters") {
    val rnd = new scala.util.Random(13)
    val k = 1 << 16
    val random = Array.fill(60000)(rnd.nextInt(k))
    val period = Array.fill(3000)(rnd.nextInt(k))
    val repeated = Array.tabulate(60000)(i => period(i % period.length))
    repeated(rnd.nextInt(repeated.length)) = k - 1
    for ((name, t) <- Seq("random" -> random, "repeated" -> repeated); free <- Seq(0, 2 * k)) {
      assert(java.util.Arrays.equals(ints(t, k, free), naive(t)), s"$name, $free free")
    }
    val fib = fibonacci(10946).map(b => (b & 0xff) * 300)
    assert(depth(fib) >= 3)
    assert(java.util.Arrays.equals(ints(fib, 'b' * 300 + 1, 0), naive(fib)), "Fibonacci over spread symbols")
  }
}
