package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverFinish, Triangles}

class TrianglesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Brute force: canonicalize, count triangles by enumeration. */
  private def brute(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val ce = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b))
    }.distinct
    val adj = (ce.map { case (a, b) => (a, b) } ++ ce.map { case (a, b) => (b, a) })
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val triOf = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      Seq(x, y, z) <- nodes.combinations(3)
      if adj(x)(y) && adj(y)(z) && adj(x)(z)
      n <- Seq(x, y, z)
    } triOf(n) += 1
    nodes.map(n => n -> (adj(n).size.toLong, triOf(n))).toMap
  }

  test("matches brute-force enumeration on a mixed graph") {
    // K4 on 1-4 (4 triangles), a pendant (5), a square 6-7-8-9 with one
    // diagonal (2 triangles), duplicate + reversed + self-loop noise
    val edges = Seq[(Long, Long)](
      (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5),
      (6, 7), (7, 8), (8, 9), (9, 6), (6, 8),
      (2, 1), (3, 3), (1, 2))
    val exp = brute(edges)
    // distributed joins forced; GraphDriverFinishSpec pins the r16
    // driver path equal
    val got = DriverFinish.forceDistributed(
        Triangles.perNode(edges.toDF("src", "dst")).collect())
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == exp.keySet)
    for ((n, (d, t)) <- exp) {
      val (gd, gt, gc) = got(n)
      assert(gd == d, s"deg of $n")
      assert(gt == t, s"tri of $n")
      val expC = if (d >= 2) 2.0 * t / (d * (d - 1)) else 0.0
      assert(gc == expC, s"coeff of $n")
    }
    // K4 members touch 3 triangles each with coeff 1.0
    assert(got(1L) == ((3L, 3L, 1.0)))
    // pendant node: degree 1, no triangle
    assert(got(5L) == ((1L, 0L, 0.0)))
  }

  test("triangle-free graph yields all zeros") {
    val path = Seq[(Long, Long)]((1, 2), (2, 3), (3, 4))
    val got = DriverFinish.forceDistributed(
        Triangles.perNode(path.toDF("src", "dst")).collect())
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.values.forall(_ == 0L) && got.size == 4)
  }
}
