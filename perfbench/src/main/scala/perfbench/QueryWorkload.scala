package perfbench

import java.util.concurrent.Executors

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The `queries` workload: one client runs a fixed list of queries, a
  * pass at a time, in a seeded order per pass. Each timed result is
  * consumed by `count()` and checked against the expected row count; the
  * untimed warm pass checks full content.
  *
  * Analytics queries are ops of kind `query`, table reads (`tr_*`) of
  * kind `read`. The reads are the primary op: their latency is the fixed
  * per-query cost, while the analytics queries, whose latencies differ by
  * up to 40 times, are measured by the pass time. A pass runs each read
  * twice, so a run's two passes give 36 read samples, enough for a tail
  * percentile with ten samples beyond it.
  */
final class QueryWorkload(ops: Ops, queries: Seq[(String, () => DataFrame)],
    expected: Map[String, Expected.Entry], seed: Long) extends Workload {
  val primary = "read"
  private val rng = new Random(seed)
  val names: Seq[String] = queries.map(_._1)
  /** One pass: every analytics query once, every table read twice. */
  val pass: Seq[String] = names ++ names.filter(isRead)
  private def isRead(n: String) = n.startsWith("tr_")
  private def kind(n: String) = if (isRead(n)) "read" else "query"
  private val fns: Map[String, () => DataFrame] = queries.toMap

  /** Wall time (ms) of each query's warm run, fixture builds included. */
  val warmMs = TrieMap[String, Double]()

  /** One untimed pass: it builds every fixture the queries use, checks
    * full content, and warms the JVM before timing starts. Its queries
    * run four at a time, which takes about 10 s off set-up on a 4-core
    * host; the table reads share one client, so they run in turn.
    */
  def setup(): Unit = {
    val (tables, analytics) = names.partition(isRead)
    val pool = Executors.newFixedThreadPool(4)
    val tasks = (() => tables.foreach(checkedOnce)) +: analytics.map(n => () => checkedOnce(n))
    try tasks.map(f => pool.submit(new Runnable { def run(): Unit = f() })).foreach(_.get())
    finally pool.shutdown()
  }

  private def checkedOnce(n: String): Unit = {
    val t0 = System.nanoTime()
    ops.run(kind(n), n) {
      val df = fns(n)()
      val rows = df.collect().toSeq
      val hash = ResultHash.of(df.columns.toSeq, rows)
      expected.get(n) match {
        case None => Some("no expected result")
        case Some(e) if e.source == "duckdb-mismatch" =>
          Some(s"program disagrees with the DuckDB oracle (${e.hash})")
        case Some(e) if rows.length != e.rows || hash != e.hash =>
          Some(s"content: ${rows.length} rows hash $hash, expected ${e.rows} rows hash ${e.hash}")
        case _ => None
      }
    }
    warmMs(n) = (System.nanoTime() - t0) / 1e6
  }

  private def timedOne(n: String): Unit = ops.run(kind(n), n) {
    val df = Trace.span("queries.construct")(fns(n)())
    val rows = Trace.span("queries.exec")(df.count())
    Counters.add("scan.rows_returned", rows.toDouble)
    expected.get(n) match {
      case Some(e) if e.source == "duckdb-mismatch" =>
        Some("program disagrees with the DuckDB oracle")
      case Some(e) if rows == e.rows => None
      case Some(e) => Some(s"rows: $rows, expected ${e.rows}")
      case None => Some("no expected result")
    }
  }

  /** Passes in seeded order. */
  def run(seconds: Double, minPasses: Int): Seq[Double] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val walls = mutable.ArrayBuffer[Double]()
    var stop = false
    while (!stop) {
      val t0 = System.nanoTime()
      val order = rng.shuffle(pass)
      val done = order.forall { n =>
        val go = walls.length < minPasses || System.nanoTime() < deadline
        if (go) timedOne(n)
        go
      }
      if (done) walls += (System.nanoTime() - t0) / 1e9
      stop = !done || (walls.length >= minPasses && System.nanoTime() >= deadline)
    }
    walls.toSeq
  }
}

object QueryWorkload {
  /** The most expensive query of each analytics family at sf0.01 on a
    * 4-core host (a `graft.Bench` pass), leaving out queries with a
    * one-time fixture: the corpus family's materialized dedup closure
    * (every corpus query but `corpus_shard`), the stream-built sketches
    * and the trained ANN tables cost 5 to 20 s of set-up each in a fresh
    * JVM. These nine take about 10 s a pass there; all 134 take about a
    * minute, more than one bench run can spend.
    */
  val Analytics: Seq[String] = Seq(
    "dedup_clusters", "sim_ann_ivfpq", "text_lm_score", "sketch_kmv_jaccard",
    "graph_pagerank", "corpus_shard", "mm_quantize", "q21_waiting_supp",
    "q_events_mad_outliers")

  def analytics(spark: SparkSession, dataDir: String): Seq[(String, () => DataFrame)] =
    Analytics.map(n => n -> (() => SparkEntry.queries(n)(spark, dataDir)))

  /** Query family by name prefix. */
  def family(n: String): String =
    if (n.startsWith("tx_sql_") || n.startsWith("tr_sql_")) "sql"
    else if (Seq("tx_source_", "tr_source_", "src_").exists(n.startsWith)) "sources"
    else if (n.startsWith("tx_") || n.startsWith("tr_")) "tx"
    else Seq("dedup_" -> "dedup", "sim_" -> "similarity", "text_" -> "text",
      "sketch_" -> "sketch", "graph_" -> "graph", "corpus_" -> "corpus",
      "mm_" -> "multimodal", "q_events_" -> "events")
      .collectFirst { case (p, f) if n.startsWith(p) => f }
      .getOrElse("relational")

  val AnalyticsFamilies: Seq[String] = Seq("dedup", "similarity", "text",
    "sketch", "graph", "corpus", "multimodal", "relational", "events")
}
