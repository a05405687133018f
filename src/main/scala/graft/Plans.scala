package graft

/** Plan-audit diagnostic: prints the formatted physical plan of selected
  * queries so pushdown/pruning/codegen properties can be inspected
  * (`sbt "runMain graft.Plans [query ...]"`). Not part of the driver
  * contract.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q6_forecast_revenue", "q_range_filter", "q5_local_supplier",
        "q_window_topn", "sim_topk")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
