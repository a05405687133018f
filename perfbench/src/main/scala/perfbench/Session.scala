package perfbench

import org.apache.spark.sql.SparkSession

/** The one SparkSession every workload runs on: `graft.Bench`'s settings
  * at `local[cores]` (cores = the host's processors), with no environment
  * knobs. The data-plane scheme of the ingest workload is registered
  * here, so every Hadoop conf the program derives from the session sees it.
  */
object Session {
  def build(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "300")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config(s"spark.hadoop.fs.${BenchFs.Scheme}.impl", classOf[BenchFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Latency summaries. The tail is the highest percentile that still has
  * at least ten samples beyond it.
  */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** (percentile, value) of the tail: the percentile 1 - 10/n, never
    * below the median.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = math.max(0.5, 1 - 10.0 / math.max(xs.length, 1))
    (q * 100, quantile(xs, q))
  }
}
