package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DriverFinish, DriverFinishDecision}

/** The [[DriverFinishDecision]]s a body posts, as a listener sees them. */
object DriverFinishEvents {
  def capture[A](spark: SparkSession)(body: => A): (A, Seq[DriverFinishDecision]) = {
    val sc = spark.sparkContext
    ListenerBusBridge.flush(sc)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[DriverFinishDecision]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case d: DriverFinishDecision => got.add(d)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusBridge.flush(sc)
      (out, got.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

/** [[DriverFinish]]'s knob and event: `forceDistributed` runs the
  * distributed path for every input, the empty one included, and each
  * decision reaches a listener with its probe and budget. */
class DriverFinishSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Rows (sorted) and column names and types of a frame. */
  private def shape(df: DataFrame) =
    (df.collect().map(_.toString).sorted.toSeq,
      df.schema.map(f => f.name -> f.dataType))

  /** q20's 8-slice MinHash signatures of a shingle frame. */
  private def minhashSigs(sh: DataFrame): DataFrame = {
    import spark.implicits._
    val hs = sh.withColumn("m1", md5($"shingle"))
      .withColumn("m2", md5(concat(lit("x"), $"shingle")))
    val slices = (0 until 4).map(i => min(substring($"m1", i * 8 + 1, 8)).as(s"h$i")) ++
      (0 until 4).map(i => min(substring($"m2", i * 8 + 1, 8)).as(s"h${i + 4}"))
    hs.groupBy($"doc_id").agg(slices.head, slices.tail: _*)
  }

  test("forceDistributed runs the distributed path on an empty edge set and an empty vector corpus") {
    import spark.implicits._
    import graft.operators._
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val ab = edges.select($"src".as("a"), $"dst".as("b"))
    val nodes = Seq(1L, 2L).toDF("node")
    val corpus = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pagerank" -> (() => PageRank.ranksInt(edges, iters = 2)),
      "hits" -> (() => Hits.hubsAuthsInt(edges, iters = 2)),
      "triangles" -> (() => Triangles.perNode(edges)),
      "kcore" -> (() => KCore.core(edges, k = 2)),
      "labelprop" -> (() => LabelProp.communities(nodes, ab, rounds = 2)),
      "connected_components" -> (() => ConnectedComponents.labels(
        nodes.select($"node".as("doc_id")),
        edges.select($"src".as("doc_a"), $"dst".as("doc_b")))),
      "mmr" -> (() => Mmr.rerank(corpus, corpus, nCand = 3, k = 2)),
      "kmeans" -> (() => KMeans.assignTrajectory(corpus, k = 2, iters = 1).last),
      "semdedup" -> (() => SemDeDup.dropVerdicts(corpus, k = 2, threshold = 0.9)),
      "pq_codebooks" -> (() => ProductQuantize.codebooks(corpus, m = 2, dsub = 2,
        ksub = 2, iters = 1))) ++ {
      // the shingle-pair family, called directly: q19/q111 memoize the
      // probe per (session, dir), so a second registry run decides nothing
      val none = Seq.empty[(Long, String)].toDF("doc_id", "shingle")
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", explode(expr("shingles(text, 2)")).as("shingle"))
      Seq(none, docs).flatMap { sh => Seq(
        "shingle_probe" -> (() => JaccardPairs.pairs(sh, 0.5)),
        "shingle_probe" -> (() => Containment.pairs(sh, 0.8)),
        "minhash_sweep" -> (() => MinHashLsh.pairs(minhashSigs(sh), k = 8, minEst = 0.25)))
      }
    }
    for ((op, run) <- ops) {
      val (dist, events) = DriverFinishEvents.capture(spark) {
        DriverFinish.forceDistributed(shape(run()))
      }
      assert(events.exists(_.op == op), s"$op posted no decision: $events")
      assert(events.forall(_.path == "distributed"), s"$op: $events")
      assert(shape(run()) == dist, s"$op: driver and distributed paths differ")
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("each decision reaches a listener: q69 and q104 take the driver path at sf0.001") {
    for (q <- Seq("q69_pagerank", "q104_repeated_sequences")) {
      def run() = SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq
      val (drv, onDriver) = DriverFinishEvents.capture(spark)(run())
      assert(onDriver.nonEmpty && onDriver.forall(_.path == "driver"), s"$q: $onDriver")
      assert(onDriver.forall(d => d.probeBytes >= 0 &&
        d.budgetBytes == DriverFinish.BudgetBytes), s"$q: $onDriver")
      val (dist, forced) = DriverFinishEvents.capture(spark) {
        DriverFinish.forceDistributed(run())
      }
      assert(forced.map(_.op) == onDriver.map(_.op), s"$q: $forced")
      assert(forced.forall(d => d.path == "distributed" && d.budgetBytes == -1L), s"$q: $forced")
      assert(dist.sorted == drv.sorted, s"$q: paths differ")
    }
  }
}
