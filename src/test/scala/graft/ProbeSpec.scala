package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

class ProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Synthesizes one dump shape, reads it back and checks what the
    * construction implies: page ids 1..P in file order, small page p
    * with 1 + p % 7 revisions, at most one page titled "Giant" with
    * `giant.revs` revisions of ~`giant.revMb` MB, a size that reaches
    * the target by less than one small page, and a diffdb with no diff
    * error. Returns the giant page's id, if any. */
  private def checkShape(targetBytes: Long, giant: Option[Bench.Giant]): Option[Long] = {
    var dir: java.io.File = null
    val giantId = Bench.withSynthDump(targetBytes, giant) { f =>
      dir = f.getParentFile
      val path = f.getAbsolutePath
      val revs = spark.read.format("mediawiki").option("previousRevision", "false").load(path)
      val pages = revs.groupBy($"page_id", $"title")
        .agg(org.apache.spark.sql.functions.count("*"),
          org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.length($"curr.text")))
        .as[(Long, String, Long, Int)].collect().sortBy(_._1)
      assert(pages.map(_._1).toSeq == (1L to pages.length.toLong))
      val (giants, small) = pages.partition(_._2 == "Giant")
      small.foreach { case (id, title, n, _) =>
        assert(title == s"Page $id")
        assert(n == 1 + id % 7, s"revisions of page $id")
      }
      assert(giants.map(_._3).toSeq == giant.map(_.revs.toLong).toSeq)
      giants.zip(giant).foreach { case ((_, _, _, maxLen), g) =>
        val mb = maxLen.toDouble / (1 << 20)
        assert(mb > 0.9 * g.revMb && mb < 1.3 * g.revMb, s"giant revision of $mb MB")
      }
      assert(f.length() >= targetBytes)
      assert(f.length() < targetBytes + 64 * 1024 + giant.fold(0L)(g => 2L * g.revs * g.revMb << 20))
      val nRevs = small.map(p => 1 + p._1 % 7).sum + giant.fold(0)(_.revs)
      assert(revs.count() == nRevs)
      val db = GraftFunctions.diffdb(spark.read.format("mediawiki").load(path))
      assert(db.count() == nRevs)
      assert(db.where($"diff_error".isNotNull).count() == 0)
      giants.headOption.map(_._1)
    }
    assert(dir != null && !dir.exists(), s"$dir left behind")
    giantId
  }

  test("synthesized small pages read back with the counts their construction implies") {
    assert(checkShape(3L << 20, None).isEmpty)
  }

  test("a giant-only dump is one page of N revisions of about M MB") {
    assert(checkShape(0L, Some(Bench.Giant(3, 1))).contains(1L))
  }

  test("a mixed dump carries the giant page mid-file between small pages") {
    val id = checkShape(8L << 20, Some(Bench.Giant(3, 1)))
    assert(id.exists(_ > 100), s"giant page id $id")
  }

  test("withSynthDump deletes the dump and its directory when the body throws") {
    var dir: java.io.File = null
    val ex = intercept[IllegalStateException] {
      Bench.withSynthDump(64 * 1024) { f =>
        dir = f.getParentFile
        assert(f.isFile && f.length() >= 64 * 1024)
        throw new IllegalStateException("body failed")
      }
    }
    assert(ex.getMessage == "body failed")
    assert(dir != null && !dir.exists(), s"$dir left behind")
  }

  test("Probe rejects an unknown or missing command with a usage message listing the commands") {
    for (args <- Seq(Array("nope"), Array.empty[String])) {
      val ex = intercept[IllegalArgumentException](Probe.main(args))
      for (cmd <- Seq("dedup", "graph", "vector", "ingest", "write", "giant read|write",
          "sweep", "buckets"))
        assert(ex.getMessage.linesIterator.map(_.trim).exists(l => l == cmd || l.startsWith(s"$cmd ")),
          s"usage lacks $cmd: ${ex.getMessage}")
    }
  }
}
