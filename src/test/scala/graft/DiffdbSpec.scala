package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DiffKernel, DiffOp, GraftFunctions}

class DiffdbSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("entry produces the diffdb table end-to-end") {
    val db = SparkEntry.entry(spark).orderBy($"rev_id")
    val rows = db.collect()
    assert(rows.length == 6)
    val first = rows(0)
    assert(first.getAs[Long]("rev_id") == 101L)
    assert(first.getAs[Long]("page_id") == 11L)
    assert(first.getAs[Int]("namespace") == 0)
    assert(first.getAs[Long]("timestamp") ==
      java.time.Instant.parse("2020-01-05T10:00:00Z").getEpochSecond)
    assert(first.getAs[String]("user_text") == "EditorOne")
    // first revision of a page: diff from empty = one big add at pos 0
    val diffs0 = first.getSeq[Row](first.fieldIndex("diffs"))
    assert(diffs0.length == 1)
    assert(diffs0.head.getAs[Int]("action") == 1)
    assert(diffs0.head.getAs[Int]("position") == 0)

    // namespace resolved from title prefix for ns-less normalization path
    val talk = rows.find(_.getAs[Long]("rev_id") == 201L).get
    assert(talk.getAs[Int]("namespace") == 1) // from <ns>, title normalized
    assert(talk.getAs[String]("title") == "Talk:Beta Decay" || talk.getAs[String]("title") == "Beta Decay")

    // revision 102: replaying its diffs over rev 101's text gives 102's text
    val revs = spark.read.format("mediawiki").load(Main.sampleDumpPath())
    val texts = revs.select($"curr.rev_id", $"curr.text").as[(Long, String)]
      .collect().toMap
    val r102 = rows.find(_.getAs[Long]("rev_id") == 102L).get
    val ops = r102.getSeq[Row](r102.fieldIndex("diffs")).map(r =>
      DiffOp(r.getAs[Int]("position"), r.getAs[Int]("action"), r.getAs[String]("content")))
    assert(DiffKernel.replay(texts(101L), ops) == texts(102L))
  }

  test("siteinfo namespaces parse from the dump prefix") {
    val ns = MediaWiki.siteinfoNamespaces(spark, Main.sampleDumpPath())
    assert(ns(0) == "")
    assert(ns(1) == "Talk")
    assert(ns(2) == "User")
    assert(ns(14) == "Category")
    assert(ns(-2) == "Media")
    val byName = MediaWiki.namespacesByName(ns)
    assert(byName("talk") == 1)
    // full loop: siteinfo-driven diffdb resolves Talk: titles
    val db = graft.functions.GraftFunctions.diffdb(
      spark.read.format("mediawiki").load(Main.sampleDumpPath()), byName)
    val talk = db.filter($"rev_id" === 201L).head()
    assert(talk.getAs[Int]("namespace") == 1)
  }

  test("entry resolves namespaces from the dump's own siteinfo, not the fallback") {
    // a namespace the static fallback map does NOT know: entry must
    // learn it from <siteinfo> to strip the title prefix
    val xml =
      """<mediawiki xml:lang="en">
        |<siteinfo><namespaces>
        |  <namespace key="0" />
        |  <namespace key="99">Custom</namespace>
        |</namespaces></siteinfo>
        |<page>
        |  <title>Custom:Thing</title>
        |  <id>1</id>
        |  <revision>
        |    <id>10</id>
        |    <timestamp>2020-01-01T00:00:00Z</timestamp>
        |    <contributor><username>U</username></contributor>
        |    <text>hello world</text>
        |  </revision>
        |</page>
        |</mediawiki>""".stripMargin
    val f = java.io.File.createTempFile("custom_ns", ".xml")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, xml.getBytes("UTF-8"))
    val row = SparkEntry.entryFor(spark, f.getAbsolutePath).head()
    assert(row.getAs[Int]("namespace") == 99)
    assert(row.getAs[String]("title") == "Thing")
  }

  test("typed Dataset facade") {
    val revs = MediaWiki.revisions(spark, Main.sampleDumpPath())
    val collected = revs.collect().sortBy(_.rev_id)
    assert(collected.map(_.rev_id).toList == List(101L, 102L, 103L, 201L, 301L, 302L))
    assert(collected(1).prev_rev_id == Some(101L))
    assert(collected(1).ip == Some("192.0.2.55"))
    assert(collected(2).text == None) // deleted
    val db = MediaWiki.diffdb(spark, Main.sampleDumpPath())
    assert(db.collect().forall(_.diff_error.isEmpty))
  }

  test("SQL function registration") {
    GraftFunctions.register(spark)
    val n = spark.sql(
      "SELECT size(wiki_diff('a b c', 'a x c')) AS n").as[Int].head()
    assert(n == 2)
    val toks = spark.sql("SELECT wiki_tokenize('[[link]] text')").as[Seq[String]].head()
    assert(toks == Seq("[[", "link", "]]", " ", "text"))
  }

  /** A two-page dump: one page whose revisions edit one astral code
    * point into another sharing its high surrogate (U+1F600 → U+1F601,
    * both D83D), and a ns-less Talk: page whose namespace comes from the
    * title. */
  private lazy val astralDump: String = {
    def page(title: String, id: Int, texts: Seq[String]) =
      s"<page><title>$title</title><id>$id</id>" + texts.zipWithIndex.map { case (t, i) =>
        s"<revision><id>${id * 10 + i}</id><timestamp>2020-01-0${i + 1}T00:00:00Z</timestamp>" +
          s"<contributor><username>U</username></contributor><text>$t</text></revision>"
      }.mkString + "</page>"
    val xml = "<mediawiki xml:lang=\"en\">" +
      page("Astral", 1, Seq("a 😀 b", "a 😁 b", "a 😁 b c")) +
      page("Talk:Beta_Decay", 2, Seq("x y", "x q y")) + "</mediawiki>"
    val f = java.io.File.createTempFile("astral", ".xml")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, xml.getBytes("UTF-8"))
    f.getAbsolutePath
  }

  test("diffdb rows are identical on a session without GraftExtensions") {
    val bare = org.apache.spark.sql.graft.BareSession.of(spark)
    assert(!bare.catalog.functionExists("wiki_diff_safe"))
    def rows(s: org.apache.spark.sql.SparkSession, path: String) =
      GraftFunctions.diffdb(s.read.format("mediawiki").load(path), Map("talk" -> 1))
        .orderBy("rev_id").collect().toSeq
    assert(rows(bare, Main.sampleDumpPath()) == rows(spark, Main.sampleDumpPath()))
    val astral = rows(bare, astralDump)
    assert(astral == rows(spark, astralDump))
    // the shared-high-surrogate edit keeps whole code points
    val r11 = astral.find(_.getAs[Long]("rev_id") == 11L).get
    assert(r11.getSeq[Row](r11.fieldIndex("diffs")) == Seq(Row(2, -1, "😀"), Row(2, 1, "😁")))
    val talk = astral.find(_.getAs[Long]("rev_id") == 20L).get
    assert(talk.getAs[Int]("namespace") == 1 && talk.getAs[String]("title") == "Beta Decay")
    // the SQL functions come with register(spark)
    GraftFunctions.register(bare)
    assert(bare.sql("SELECT size(wiki_diff('a b c', 'a x c'))").head().getInt(0) == 2)
    assert(bare.sql("SELECT wiki_tokenize('[[link]] text')").head().getSeq[String](0) ==
      Seq("[[", "link", "]]", " ", "text"))
  }

  private def analysisError(sql: String): String =
    intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql)).getMessage

  test("wiki_tokenize: NULL tokenizes as empty; a non-string fails analysis") {
    assert(spark.sql("SELECT wiki_tokenize(NULL)").head().getSeq[String](0).isEmpty)
    assert(spark.sql("SELECT wiki_tokenize(CAST(NULL AS STRING))").head().getSeq[String](0).isEmpty)
    assert(spark.sql("SELECT wiki_tokenize('a 😀')").head().getSeq[String](0) == Seq("a", " ", "😀"))
    val e = analysisError("SELECT wiki_tokenize(42)")
    assert(e.contains("wiki_tokenize requires string arguments"), e)
  }

  test("wiki_diff: NULL reads as empty; a non-string fails analysis") {
    def ops(sql: String) = spark.sql(sql).head().getSeq[Row](0)
    assert(ops("SELECT wiki_diff(NULL, 'x')") == Seq(Row(0, 1, "x")))
    assert(ops("SELECT wiki_diff('x', CAST(NULL AS STRING))") == Seq(Row(0, -1, "x")))
    assert(ops("SELECT wiki_diff(NULL, NULL)").isEmpty)
    val e = analysisError("SELECT wiki_diff('a', array('b'))")
    assert(e.contains("wiki_diff requires string arguments"), e)
  }

  test("wiki_edit_distance: NULL reads as empty; a non-string fails analysis") {
    def dist(sql: String) = spark.sql(sql).head().getLong(0)
    assert(dist("SELECT wiki_edit_distance(NULL, 'a b')") == 3L)
    assert(dist("SELECT wiki_edit_distance('a b c', 'a x c')") == 2L)
    assert(dist("SELECT wiki_edit_distance(NULL, NULL)") == 0L)
    val e = analysisError("SELECT wiki_edit_distance(1, 'a')")
    assert(e.contains("wiki_edit_distance requires string arguments"), e)
  }

  test("writeDiffdb: namespace-partitioned, (page_id, rev_id)-sorted sink") {
    val out = java.nio.file.Files.createTempDirectory("diffdb-sink").toString
    val db = SparkEntry.entry(spark)
    GraftFunctions.writeDiffdb(db, out)
    // partition directories per namespace
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("namespace=")))
    assert(dirs.length >= 2) // ns 0 and 1 in the sample dump
    // reading back with a namespace filter prunes to one directory and
    // preserves full content
    val back = spark.read.parquet(out)
    assert(back.count() == db.count())
    val ns0 = back.filter($"namespace" === 0)
    assert(ns0.count() == db.filter($"namespace" === 0).count())
    // rows inside each file are clustered by (page_id, rev_id): reading
    // a single file yields a sorted sequence
    val oneFile = new java.io.File(out).listFiles().filter(_.isDirectory).head
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val rows = spark.read.parquet(oneFile.getAbsolutePath)
      .select($"page_id", $"rev_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.sortBy(identity).toSeq == rows.toSeq)
  }

  test("native normalize_title expression ≡ the Scala function (parity)") {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    val nsMap = Map("talk" -> 1, "user" -> 2, "user talk" -> 3)
    val titles = Seq(
      "Plain Title", "Talk:Something", "User_talk:Alice_B",
      "talk:lower case prefix", "Unknown:Prefix kept", "No_Colon_Here",
      ":Leading colon", "Talk: spaced ", "A:B:C", "")
    val df = spark.createDataFrame(titles.map(Tuple1(_))).toDF("title")
    val got = df.select(col("title"), call_function("normalize_title",
        col("title"), lit(graft.functions.NormalizeTitle.encodeMap(nsMap))).as("n"))
      .select(col("title"), col("n.ns"), col("n.title"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    for ((t, ns, norm) <- got) {
      val (ens, enorm) = GraftFunctions.normalizeTitle(t, nsMap)
      assert(ns == ens && norm == enorm, s"mismatch for '$t': got ($ns,$norm) want ($ens,$enorm)")
    }
    // null title → (0, null), never a NULL struct (diffdb coalesces ns)
    val nullRow = spark.sql("SELECT CAST(NULL AS STRING) AS title")
      .select(call_function("normalize_title", col("title"),
        lit(graft.functions.NormalizeTitle.encodeMap(nsMap))).as("n"))
      .select(col("n.ns"), col("n.title")).collect().head
    assert(!nullRow.isNullAt(0) && nullRow.getInt(0) == 0 && nullRow.isNullAt(1))
  }
}
