package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(graft.plans.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("every registered query runs and matches its oracle's column set") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed to run")
      assert(df.columns.distinct.length == df.columns.length,
        s"$name has duplicate column names")
    }
  }

  test("q33 sketches stay within their accuracy contracts vs exact") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val approx = graft.queries.Relational.q33ApproxSketches(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"),
           expr("percentile(value, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> r).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      val nExact = e.getLong(1)
      val nApprox = a.getLong(a.fieldIndex("approx_users"))
      assert(math.abs(nApprox - nExact).toDouble / nExact <= 0.05,
        s"$k: approx distinct $nApprox vs exact $nExact")
      val p50e = e.getDouble(2)
      val p50a = a.getDouble(a.fieldIndex("p50_value"))
      // percentile_approx guarantees rank accuracy; on this data value
      // accuracy within 10% of the exact median is a safe contract
      assert(math.abs(p50a - p50e) <= math.abs(p50e) * 0.1 + 1.0,
        s"$k: approx p50 $p50a vs exact $p50e")
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("fixtureQueries is a subset of queries keys (a typo here silently corrupts engine_total)") {
    val ghosts = SparkEntry.fixtureQueries -- SparkEntry.queries.keySet
    assert(ghosts.isEmpty, s"fixture tag without a registered query: $ghosts")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q27 fingerprints natively — no ScalaUDF encoder round trip in the plan") {
    val plan = SparkEntry.queries("q27_rolling_fingerprint")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    val viaSql = spark.sql(
      "SELECT doc_fingerprint64('the quick brown fox jumps') AS f").head().getLong(0)
    assert(viaSql == graft.functions.GraftFunctions
      .rollingFingerprint("the quick brown fox jumps"))
  }

  test("long_pairs: unordered (min,max) pairs, order-invariant, no self-pairs") {
    import spark.implicits._
    val got = Seq(Seq(3L, 1L, 2L), Seq(2L, 1L, 3L), Seq(7L), Seq.empty[Long],
        Seq(5L, 5L, 9L))
      .toDF("ps").selectExpr("long_pairs(ps) AS p").collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1))).toSet)
    // pair SET is invariant to input order
    assert(got(0) == Set((1L, 3L), (2L, 3L), (1L, 2L)))
    assert(got(1) == got(0))
    assert(got(2).isEmpty && got(3).isEmpty)
    // duplicates never fabricate self-pairs
    assert(got(4) == Set((5L, 9L)))
  }

  test("long_pairs rejects arrays that may hold NULL elements at analysis") {
    import spark.implicits._
    val df = Seq(Seq(1L, 2L)).toDF("ps")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.selectExpr("long_pairs(array(1L, CAST(NULL AS BIGINT))) AS p"))
    assert(e.getMessage.contains("without NULL elements"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](
      df.selectExpr("long_pairs(transform(ps, x -> IF(x > 1, NULL, x))) AS p"))
    // a non-null array of bigint still analyses and pairs
    assert(df.selectExpr("size(long_pairs(ps))").head().getInt(0) == 1)
  }

  test("long_pairs fails on a basket whose pairs exceed the driver-finish budget") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // 50,000 elements: n(n-1)/2 overflows Int; the bound is checked in
    // Long before any pair is built
    val basket = Literal.create((0L until 50000L).toArray,
      ArrayType(LongType, containsNull = false))
    val e = intercept[IllegalArgumentException](graft.functions.LongPairs(basket).eval())
    assert(e.getMessage.contains("50000 elements"), e.getMessage)
    assert(e.getMessage.contains("1249975000 pairs"), e.getMessage)
  }

  test("q122 collect_set+long_pairs shape ≡ the former distinct self-join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val dir = "/root/testdata/sf0.001"
    val newShape = graft.queries.Relational.queries("q122_copurchase")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val op = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val old = op.as("x").join(op.as("y"), $"x.ok" === $"y.ok" && $"x.pk" < $"y.pk")
      .groupBy($"x.pk".as("part_a"), $"y.pk".as("part_b"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 3L)
      .orderBy($"support".desc, $"part_a", $"part_b").limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(newShape == old)
    assert(newShape.nonEmpty)
  }

  test("q1 aggregates are consistent") {
    val rows = graft.queries.Relational.q1PricingSummary(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("count_order") > 0)
      assert(r.getAs[Double]("sum_base_price") >= r.getAs[Double]("sum_disc_price"))
    }
  }
}

class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("backward as-of join picks latest right row at-or-before left ts") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"), (3L, 7L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 101L), (2L, 6L, 102L))
      .toDF("rk", "rt", "payload")
    val out = graft.operators.AsOfJoin.backward(
      left, right, "k", "rk", "t", "rt", Seq("payload"))
      .select("tag", "payload").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("a") == Some(100L))   // equal ts is inclusive
    assert(out("b") == Some(101L))   // latest at-or-before 20
    assert(out("c") == None)         // right row is after left ts
    assert(out("d") == None)         // no right rows for key 3
  }

  test("forward as-of join picks earliest right row at-or-after left ts") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 16L, "b"), (2L, 5L, "c"), (3L, 7L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 101L), (2L, 4L, 102L))
      .toDF("rk", "rt", "payload")
    val out = graft.operators.AsOfJoin.forward(
      left, right, "k", "rk", "t", "rt", Seq("payload"))
      .select("tag", "payload").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("a") == Some(100L))   // equal ts is inclusive
    assert(out("b") == None)         // no right at-or-after 16
    assert(out("c") == None)         // right row is before left ts
    assert(out("d") == None)         // no right rows for key 3
  }

  test("tolerance bounds the as-of match distance (row kept, payload nulled)") {
    import spark.implicits._
    val left = Seq((1L, 100L, "near"), (1L, 200L, "far")).toDF("k", "t", "tag")
    val right = Seq((1L, 95L, 7L)).toDF("rk", "rt", "payload")
    val out = graft.operators.AsOfJoin.backward(
      left, right, "k", "rk", "t", "rt", Seq("payload"),
      tolerance = Some(org.apache.spark.sql.functions.lit(10L)))
      .select("tag", "payload").collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("near") == Some(7L))  // 5 ticks back, within 10
    assert(out("far") == None)       // 105 ticks back, beyond 10
  }

  test("hot key: one key holding the whole input stays correct (single-task sort)") {
    // AQE splits skewed JOIN partitions but not window/sort partitions —
    // a pathological key sorts on one task here. No pair blow-up, just
    // an O(n log n) sort: 50k rows on one key must come back exact.
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val left = spark.range(50000).select(lit(1L).as("k"),
      $"id".as("t"), $"id".as("row_id"))
    val right = spark.range(5000).select(lit(1L).as("rk"),
      ($"id" * 10).as("rt"), ($"id" * 10).as("payload"))
    val out = graft.operators.AsOfJoin.backward(
      left, right, "k", "rk", "t", "rt", Seq("payload")).collect()
    assert(out.length == 50000)
    out.foreach { r =>
      val t = r.getLong(r.fieldIndex("t"))
      val expected = t - t % 10 // latest multiple of 10 at-or-before t
      assert(r.getLong(r.fieldIndex("payload")) == expected,
        s"t=$t got ${r.get(r.fieldIndex("payload"))}")
    }
  }

  test("as-of join returns the as-of row's genuine null payload, not a stale value") {
    import spark.implicits._
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "tag")
    val right = Seq((1L, 1L, Some(100L)), (1L, 5L, None))
      .toDF("rk", "rt", "payload")
    val out = graft.operators.AsOfJoin.backward(
      left, right, "k", "rk", "t", "rt", Seq("payload")).collect()
    // the ts=5 row is the as-of match; its payload is genuinely null
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("payload")))
  }
}
