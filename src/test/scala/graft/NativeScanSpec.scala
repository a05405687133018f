package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftClient

/** The native DSv2 read path (round 15 — the V1Scan bridge replaced by
  * a real `Batch` scan): the two planner integrations Spark's
  * V1ScanWrapper structurally hid, each pinned end-to-end.
  *
  *   - [[org.apache.spark.sql.connector.read.SupportsReportStatistics]]:
  *     pre-AQE join planning sees log-derived table sizes, so a
  *     dimension-sized graft table broadcasts STATICALLY (AQE off);
  *   - [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]:
  *     a SQL star join with a selective dim predicate dynamically
  *     file-prunes the graft fact side — the collected dim keys route
  *     through the client's point-set tiers, and the scan opens only
  *     the matched fact objects, with NO scanSemi call anywhere (this
  *     was previously Scala-API-only).
  */
class NativeScanSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def newCatalog(): (String, String) = {
    val root = Files.createTempDirectory("graft_native").toString
    val cat = s"nsc${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 16 stat-disjoint fact objects: object p holds k in [10p, 10p+9). */
  private def factAndDim(root: String): Unit = {
    val c = new GraftClient(spark, root)
    c.newTx()
    val fact = spark.range(0, 160).select(
      (col("id") / 10).cast("long").as("k"), col("id").as("v"))
    c.createTable("fact", fact.schema)
    c.insertPartitioned("fact", fact, "k")
    val dim = spark.range(0, 16).select(col("id").as("k"),
      when(col("id").isin(3L, 12L), lit("keep"))
        .otherwise(lit("drop")).as("x"))
    c.createTable("dim", dim.schema)
    c.insert("dim", dim)
    c.commitTx()
  }

  test("static stats: a dimension-sized graft table broadcasts WITHOUT " +
    "AQE (SupportsReportStatistics through the native scan)") {
    val (cat, root) = newCatalog()
    factAndDim(root)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.table(s"$cat.fact")
        .join(spark.table(s"$cat.dim"), "k")
      val bhj = finalPlan(joined.queryExecution.executedPlan).collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty,
        s"static planning should broadcast the graft dim:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.count() === 160L)
    }
  }

  test("runtime V2 filtering: a SQL star join opens only the fact " +
    "objects matching the dim predicate (no scanSemi)") {
    val (cat, root) = newCatalog()
    factAndDim(root)
    val q = s"""SELECT f.k, f.v FROM $cat.fact f
      JOIN $cat.dim d ON f.k = d.k WHERE d.x = 'keep'"""
    val df = spark.sql(q)
    val rows = df.collect()
    assert(rows.length === 20)
    assert(rows.map(_.getLong(0)).toSet === Set(3L, 12L))
    // the fact scan planned LAST (the dim broadcast feeds the runtime
    // filter first): 2 of 16 objects opened
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 2,
      s"fact scan should open 2 objects:\n${df.queryExecution.executedPlan}")
    // and the plan carries the runtime filter on the scan node
    val explained = df.queryExecution.executedPlan.toString
    assert(explained.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic pruning filter in:\n$explained")
  }

  test("runtime filter values past the narrow cap still prune " +
    "(distributed point-set tier through SQL)") {
    val (cat, root) = newCatalog()
    val c = new GraftClient(spark, root)
    c.newTx()
    val fact = spark.range(0, 1600).select(
      (col("id") / 100).cast("long").as("k"), col("id").as("v"))
    c.createTable("bigfact", fact.schema)
    c.insertPartitioned("bigfact", fact, "k")
    // dim: 100 distinct join keys (> InListNarrowCap = 64) after the
    // selective predicate, but only keys 2 and 9 exist in the fact
    val dim = spark.range(0, 100).select(
      when(col("id") < 2, col("id") * 7 + 2) // 2, 9
        .otherwise(col("id") + 10000).as("k"),
      lit("keep").as("x"))
    c.createTable("bigdim", dim.schema)
    c.insert("bigdim", dim)
    c.commitTx()
    val df = spark.sql(s"""SELECT f.k, f.v FROM $cat.bigfact f
      JOIN $cat.bigdim d ON f.k = d.k WHERE d.x = 'keep'""")
    assert(df.count() === 200L)
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 2,
      "wide runtime key set should still open only matched objects")
  }

  test("column statistics reach CBO: post-ANALYZE NDV/min/max/nulls " +
    "land in attributeStats; un-analyzed columns report nothing wrong") {
    val (cat, root) = newCatalog()
    val c = new GraftClient(spark, root)
    c.newTx()
    val df = spark.range(0, 1000).select(
      (col("id") % 100).as("k"), col("id").as("v"),
      when(col("id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("n"))
    c.createTable("cs", df.schema)
    c.insert("cs", df)
    c.commitTx()
    c.newTx()
    c.analyzeNdv("cs", Seq("k", "v", "n"))
    c.commitTx()
    withConf("spark.sql.cbo.enabled" -> "true") {
      val plan = spark.table(s"$cat.cs").queryExecution.optimizedPlan
      val stats = plan.stats
      assert(stats.rowCount.exists(_.toLong === 1000L))
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      val k = byName("k")
      // HLL estimate of 100 distinct: within a few percent
      assert(k.distinctCount.exists(d =>
        d.toLong >= 90 && d.toLong <= 110), k)
      assert(k.min.contains(0L) && k.max.contains(99L), k)
      val n = byName("n")
      assert(n.nullCount.exists(_.toLong === 100L), n)
    }
    // a table never analyzed still gets the FREE footer-derived stats
    // (min/max/nullCount — exact from the log), just no NDV
    spark.sql(s"CREATE TABLE $cat.raw AS SELECT 1L AS x")
    withConf("spark.sql.cbo.enabled" -> "true") {
      val raw = spark.table(s"$cat.raw").queryExecution.optimizedPlan
        .stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(raw("x").distinctCount.isEmpty)
      assert(raw("x").min.contains(1L) && raw("x").max.contains(1L))
      assert(raw("x").nullCount.exists(_.toLong === 0L))
    }
  }

  test("CBO histograms: equi-height bins turn a skewed column's filter " +
    "selectivity from the uniform guess into a bin-resolution estimate") {
    val (cat, root) = newCatalog()
    val c = new GraftClient(spark, root)
    c.newTx()
    // heavy skew: 900 rows of s=1, 100 rows spread over 2..101
    val df = spark.range(0, 1000).select(
      when(col("id") < 900, lit(1L)).otherwise(col("id") - 898).as("s"),
      col("id").as("v"))
    c.createTable("skew", df.schema)
    c.insert("skew", df)
    c.commitTx()
    c.newTx(); c.analyzeNdv("skew", Seq("s")); c.commitTx()
    def estimate(): BigInt = withConf("spark.sql.cbo.enabled" -> "true") {
      spark.table(s"$cat.skew").filter(col("s") === 1L)
        .queryExecution.optimizedPlan.stats.rowCount.get
    }
    // NDV-only: the uniform assumption splits 1000 rows over ~101
    // distinct values — a ~10-row guess for the 900-row value
    val uniform = estimate()
    assert(uniform < BigInt(100), s"uniform guess expected, got $uniform")
    c.newTx(); c.analyzeHistogram("skew", Seq("s")); c.commitTx()
    // the 64-bin equi-height histogram puts ~57 bins on s=1: the
    // estimate must now land near the actual 900
    val hist = estimate()
    assert(hist > BigInt(500), s"histogram estimate expected, got $hist")
    // SQL surface: CALL analyze_histogram round-trips
    val called = spark.sql(
      s"CALL $cat.system.analyze_histogram('skew', 'v', 32)").collect()
    assert(called.map(_.getString(0)).toSeq === Seq("v"))
  }

  test("CBO histograms cover DATE columns: bins live in Spark's " +
    "internal days space, min/max box as Int days") {
    val (cat, root) = newCatalog()
    val c = new GraftClient(spark, root)
    c.newTx()
    // 900 rows on one day, 100 rows over the following 100 days
    val df = spark.range(0, 1000).select(
      when(col("id") < 900, lit(java.sql.Date.valueOf("2024-01-01")))
        .otherwise(expr(
          "date_add(DATE '2024-02-01', CAST(id - 900 AS INT))")).as("d"),
      col("id").as("v"))
    c.createTable("dskew", df.schema)
    c.insert("dskew", df)
    c.commitTx()
    c.newTx(); c.analyzeNdv("dskew", Seq("d")); c.commitTx()
    def estimate(): BigInt = withConf("spark.sql.cbo.enabled" -> "true") {
      spark.table(s"$cat.dskew")
        .filter(col("d") === lit(java.sql.Date.valueOf("2024-01-01")))
        .queryExecution.optimizedPlan.stats.rowCount.get
    }
    val uniform = estimate()
    assert(uniform < BigInt(100), s"uniform guess expected, got $uniform")
    c.newTx(); c.analyzeHistogram("dskew", Seq("d")); c.commitTx()
    val hist = estimate()
    assert(hist > BigInt(500), s"histogram estimate expected, got $hist")
  }

  test("metadata-aggregate answers still ride the native rows scan") {
    val (cat, root) = newCatalog()
    factAndDim(root)
    assert(spark.sql(s"SELECT count(*), min(v), max(v) FROM $cat.fact")
      .collect().toSeq === Seq(Row(160L, 0L, 159L)))
  }

  test("columnar fast path: a pure parquet scan serves ColumnarBatches " +
    "with file pruning intact; DVs and time travel fall back to rows " +
    "with identical answers") {
    val (cat, root) = newCatalog()
    factAndDim(root)
    val q = s"SELECT k, v FROM $cat.fact WHERE k >= 14 ORDER BY v"
    val pure = spark.sql(q).collect()
    assert(graft.sql.GraftCatalog.lastScanColumnar, "pure scan must serve batches")
    assert(pure.length === 20 && pure.head === Row(14L, 140L))
    val prunedObjects = graft.sql.GraftCatalog.lastScanObjectCount
    assert(prunedObjects > 0 &&
      prunedObjects < 16, "static file pruning must still engage")
    // a live DV forces the row pipeline — same rows minus the deletes
    val c = new GraftClient(spark, root)
    c.newTx(); c.deleteRowsDV("fact", "v", 140L, 144L); c.commitTx()
    val afterDv = spark.sql(q).collect()
    assert(!graft.sql.GraftCatalog.lastScanColumnar, "DV apply must run as rows")
    assert(afterDv.length === 15 && afterDv.head === Row(14L, 145L))
    // time travel (pre-DV) reads the historical snapshot as rows
    val v = c.latestVersion - 1
    assert(spark.sql(s"SELECT count(*) FROM $cat.fact VERSION AS OF $v")
      .collect() === Array(Row(160L)))
    c.newTx(); c.compact("fact"); c.commitTx() // retire the DV: pure again
    assert(spark.sql(q).collect() === afterDv)
    assert(graft.sql.GraftCatalog.lastScanColumnar,
      "post-compact scan must be pure (columnar) again")
  }

  test("time travel and buffered-tx reads survive the native scan") {
    val (cat, root) = newCatalog()
    factAndDim(root)
    val c = new GraftClient(spark, root)
    c.newTx()
    c.deleteWhere("fact", col("k") === 3L)
    c.commitTx()
    assert(spark.sql(s"SELECT count(*) FROM $cat.fact").collect()
      === Array(Row(150L)))
    val v = c.latestVersion - 1
    assert(spark.sql(s"SELECT count(*) FROM $cat.fact VERSION AS OF $v")
      .collect() === Array(Row(160L)))
  }
}
