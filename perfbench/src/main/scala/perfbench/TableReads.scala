package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.LocalObjectStore
import graft.streaming.StreamingSink
import graft.table.GraftClient
import graft.util.Tables

/** The table-read half of the `queries` workload: a fixture and its reads. Set-up builds one graft
  * table from the sf `orders` table in six commits: two appends, a merge
  * that adds newer versions of 1 key in 50, a copy-on-write delete, a
  * deletion-vector delete and a bloom index. The queries then read it
  * through each read path of the table layer: client scans (MVCC scan,
  * latest-wins state, a bloom- and stats-pruned point read, time travel,
  * change feed), a filtered DSv1 `format("graft")` read, and a DSv2
  * catalog SQL aggregate and `VERSION AS OF` read.
  *
  * Set-up also folds the sf `documents` into HyperLogLog registers through
  * the streaming sink, three micro-batches of one commit each, as the
  * registry's `sketch_hll_stream` fixture does; `tr_stream_hll` reads the
  * registers back with that query's projection, so its result must equal
  * `sketch_hll_stream`'s.
  *
  * The registry's own `tx_*` queries each build a larger fixture on first
  * use (about 100 s of set-up for a 20-query selection on a 4-core host);
  * this fixture builds in seconds, and its log store is the bench's
  * metered decorator, so the tx and store layers are measured here too.
  */
final class TableReads(spark: SparkSession, dataDir: String, root: String) {
  private val table = "orders"
  private val keys = Seq("o_orderkey")
  private val client = new GraftClient(spark, root,
    logStore = Some(new MeteredStore(new LocalObjectStore(root))))
  private val catalog = "perfbench"

  private var vAppended, vMerged, vLast = 0L
  /** Wall time (ms) of the streaming fold at set-up. */
  var streamFoldMs = 0.0

  private def commit(body: GraftClient => Unit): Long = {
    client.newTx()
    body(client)
    client.commitTxRetrying()
    client.history().map(_._1).max
  }

  def build(): Unit = {
    val orders = spark.read.parquet(s"$dataDir/orders.parquet")
    commit { c =>
      c.createTable(table, orders.schema)
      c.insert(table, orders.filter(col("o_orderkey") % 4 =!= 3).repartition(4))
    }
    vAppended = commit(_.insert(table, orders.filter(col("o_orderkey") % 4 === 3)))
    vMerged = commit(_.merge(table, orders.filter(col("o_orderkey") % 50 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1), keys))
    commit(_.deleteWhere(table, col("o_orderstatus") === "P"))
    commit(_.deleteWhereDV(table, col("o_custkey").between(100, 199)))
    vLast = commit(_.buildBloom(table, "o_custkey"))
    val t0 = System.nanoTime()
    val sink = StreamingSink.hllInto(client, "regs", "perfbench_hll")
    val docs = Tables.t(spark, dataDir, "documents")
    (0 until 3).foreach(b => sink(docs.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong))
    streamFoldMs = (System.nanoTime() - t0) / 1e6
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
  }


  /** A client read: begin a transaction, build the frame, roll back (the
    * frame stays valid: data objects are immutable).
    */
  private def viaClient(f: GraftClient => DataFrame): () => DataFrame = () => {
    Trace.span("tx.begin")(client.newTx())
    try f(client) finally client.rollback()
  }
  private def dsv1 = spark.read.format("graft").option("table", table)

  /** (name, query) pairs; names give the family (see [[QueryWorkload.family]]). */
  def queries: Seq[(String, () => DataFrame)] = Seq(
    "tr_scan" -> viaClient(_.scan(table)),
    "tr_state" -> viaClient(_.currentState(table, keys)),
    "tr_point" -> viaClient(_.scanEquals(table, "o_custkey", 1000L)),
    "tr_as_of" -> viaClient(_.scanAsOf(table, vAppended)),
    "tr_cdf" -> viaClient(_.changesBetween(table, keys, vAppended, vLast)),
    "tr_stream_hll" -> viaClient(_.currentState("regs", Seq("lang", "reg"))
      .select(col("lang"), col("reg"), col("m").cast("long").as("m"))
      .orderBy(col("lang"), col("reg"))),
    "tr_source_filter" -> (() => dsv1.load(root).filter(col("o_totalprice") > 300000)),
    "tr_sql_agg" -> (() => spark.sql(s"SELECT o_orderstatus, count(*) AS n, " +
      s"sum(o_totalprice) AS total FROM $catalog.$table GROUP BY o_orderstatus")),
    "tr_sql_as_of" -> (() => spark.sql(s"SELECT * FROM $catalog.$table VERSION AS OF $vMerged")))
}
