package graft

/** Plan-inspection CLI: prints the formatted physical plan of the named
  * queries (default: a representative set) — the `.explain` feedback
  * loop for partitioning/broadcast/pushdown review.
  *
  * Usage: runMain graft.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Bench.benchSession("4")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q2_revenue_by_nation", "q6_forecast", "q1_pricing_summary", "q13_asof_join")
    for (q <- names) {
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
