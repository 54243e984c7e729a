package graft.perfbench

import java.io.{ByteArrayOutputStream, File}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark itself: the generator is deterministic
  * per seed, its bz2 framing decodes to the plain XML, and every output
  * check rejects a planted fault (one row dropped, one row duplicated,
  * one diff op altered, one aggregate value changed, one read-back
  * revision missing, one query-mix result row dropped, duplicated or
  * changed).
  *
  * `graft.perfbench.SelfTest --work DIR`; prints one `[selftest]` line
  * per case and exits non-zero if any case fails. */
object SelfTest {
  private var failures = 0

  private def report(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) failures += 1
    println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name${if (detail.nonEmpty) s" ($detail)" else ""}")
  }

  /** A planted fault must make the check report at least one failure. */
  private def rejects(name: String, errs: => Seq[String]): Unit = {
    val e = try errs catch { case t: Exception => Seq(t.toString) }
    report(s"check rejects $name", e.nonEmpty, e.headOption.getOrElse("accepted"))
  }

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def generate(seed: Long): (Array[Byte], Gen.Expect) = {
    val bo = new ByteArrayOutputStream()
    val e = Gen.write(Gen.TinyShape, seed, bo)
    (bo.toByteArray, e)
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args.sliding(2).collectFirst { case Array("--work", d) => d }.getOrElse("perfbench/.work"), "selftest")
    Main.deleteTree(work)
    work.mkdirs()

    // generator determinism
    val (a, ea) = generate(7)
    val (b, eb) = generate(7)
    val (c, _) = generate(8)
    report("same seed gives the same bytes", sha(a) == sha(b))
    report("same seed gives the same fingerprint", ea.fingerprint == eb.fingerprint, ea.fingerprint)
    report("same seed gives the same expectations", ea == eb)
    report("another seed gives other bytes", sha(a) != sha(c))
    val threads1 = { val bo = new ByteArrayOutputStream(); Gen.write(Gen.TinyShape, 7, bo, threads = 1); bo.toByteArray }
    report("bytes do not depend on the generator's thread count", sha(a) == sha(threads1))

    // bz2 framing: one stream, decodes to the XML
    val bz2 = new File(work, "tiny.xml.bz2")
    val xml = new File(work, "tiny.xml")
    val eBz2 = Main.generate(Gen.TinyShape, 7, bz2, bz2 = true)
    val eXml = Main.generate(Gen.TinyShape, 7, xml, bz2 = false)
    val decoded = {
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(new org.apache.hadoop.conf.Configuration())
      val in = codec.createInputStream(new java.io.FileInputStream(bz2))
      try in.readAllBytes() finally in.close()
    }
    report("bz2 input decodes to the XML input", sha(decoded) == sha(java.nio.file.Files.readAllBytes(xml.toPath)))
    report("bz2 and XML inputs expect the same", eBz2 == eXml)

    val spark = graft.Bench.benchSession("2")
    try checks(spark, work, Input(bz2, eBz2), Input(xml, eXml))
    finally spark.stop()
    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def checks(spark: SparkSession, work: File, bz2: Input, xml: Input): Unit = {
    // diffdb
    val out = new File(work, "diffdb")
    HistoryBz2Diffdb.pass(spark, bz2, out)
    val db = spark.read.parquet(out.getAbsolutePath).cache()
    val base = Check.diffdb(db, bz2.expect)
    report("diffdb check accepts the engine's output", base.isEmpty, base.mkString("; "))
    val sample = bz2.expect.diffSamples.find(s => s.prev != s.curr && s.prev.nonEmpty).get.revId
    rejects("a diffdb with one row dropped", Check.diffdb(db.where(col("rev_id") =!= sample), bz2.expect))
    rejects("a diffdb with one row duplicated",
      Check.diffdb(db.union(db.where(col("rev_id") === sample)), bz2.expect))
    val altered = db.withColumn("diffs", when(col("rev_id") === sample,
      expr("transform(diffs, (o, i) -> if(i = 0, named_struct('position', o.position, " +
        "'action', o.action, 'content', concat(o.content, 'x')), o))")).otherwise(col("diffs")))
    rejects("a diffdb with one diff op altered", Check.diffdb(altered, bz2.expect))
    rejects("a diffdb with a diff_error", Check.diffdb(
      db.withColumn("diff_error", when(col("rev_id") === sample, lit("boom")).otherwise(col("diff_error"))),
      bz2.expect))
    db.unpersist()

    // metadata aggregate
    val rows = HistoryXmlMeta.aggregate(spark, xml).collect().toSeq
    val metaBase = Check.meta(rows, xml.expect, HistoryXmlMeta.Copies)
    report("metadata check accepts the engine's output", metaBase.isEmpty, metaBase.mkString("; "))
    val bumped = rows.head match { case r => Row(r.getInt(0), r.getString(1), r.getLong(2) + 1, r.get(3), r.getLong(4)) }
    rejects("an aggregate with one count changed", Check.meta(bumped +: rows.tail, xml.expect, HistoryXmlMeta.Copies))
    rejects("an aggregate with one key dropped", Check.meta(rows.tail, xml.expect, HistoryXmlMeta.Copies))

    // query-mix result digest: order-independent, and moved by one row
    // dropped, duplicated or changed
    val res = spark.range(0, 500).selectExpr("id", "cast(id * 7 as string) as s", "array(id, id + 1) as a")
    val d = QueryMix.digest(res)
    report("query-mix digest ignores row order", QueryMix.digest(res.orderBy(desc("id")).repartition(3)) == d)
    report("query-mix digest changes with one row dropped", QueryMix.digest(res.where("id <> 17")) != d)
    report("query-mix digest changes with one row duplicated", QueryMix.digest(res.union(res.where("id = 17"))) != d)
    report("query-mix digest changes with one value changed",
      QueryMix.digest(res.withColumn("s", when(col("id") === 17, lit("x")).otherwise(col("s")))) != d)

    // multistream write and read-back
    val archive = new File(work, "archive")
    ArticlesMultistreamWrite.pass(spark, xml, archive)
    val msBase = Check.multistream(spark, archive, xml.expect)
    report("multistream check accepts the engine's output", msBase.isEmpty, msBase.mkString("; "))
    val df: DataFrame = spark.read.format("mediawiki").option("previousRevision", "false").load(archive.getAbsolutePath)
    val (page, revs) = xml.expect.readBack.head
    rejects("a read-back with one revision missing",
      Check.readBack(df.where(col("curr.rev_id") =!= revs.last._1), xml.expect))
    rejects("a read-back of a page with its text changed",
      Check.readBack(df.withColumn("curr", col("curr").withField("text",
        when(col("page_id") === page, lit("changed")).otherwise(col("curr.text")))), xml.expect))
  }
}
