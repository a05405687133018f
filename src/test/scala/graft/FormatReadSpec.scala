package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.RowDataSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.GraftBatchScan
import graft.table.GraftClient

/** `spark.read.format("graft")` has one batch read path: a plain or
  * time-travel read of an existing table plans the SQL catalog's DSv2
  * `GraftBatchScan`, while the change feed, writes and reads of a missing
  * table keep the V1 provider methods.
  */
class FormatReadSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def graftScans(df: DataFrame): Seq[GraftBatchScan] = {
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case s: RowDataSourceScanExec => s }.isEmpty,
      s"DSv1 scan in\n$plan")
    plan.collect { case b: BatchScanExec => b.scan }.collect {
      case s: GraftBatchScan => s
    }
  }

  private def keys(df: DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  test("format(graft) plans plain and time-travel reads on the DSv2 " +
    "GraftBatchScan; change feed, writes and missing tables keep V1") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_format_read").toString
    val cat = s"fmtread${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    def read = spark.read.format("graft").option("table", "t")

    // append onto a missing table creates it; a second append lands on
    // the existing table and refreshes a cached read of it
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write
      .format("graft").option("table", "t").mode("append").save(root)
    val vFull = new GraftClient(spark, root).latestVersion
    Thread.sleep(15) // commit timestamps are millisecond wall-clock
    val tsFull = System.currentTimeMillis()
    Thread.sleep(15)
    val cached = read.load(root).cache()
    assert(cached.count() === 3L)
    Seq((4L, "d")).toDF("k", "v").write
      .format("graft").option("table", "t").mode("append").save(root)
    assert(cached.count() === 4L, "the write must re-cache the read")
    cached.unpersist()
    spark.sql(s"DELETE FROM $cat.t WHERE k = 2")

    val plain = read.load(root)
    assert(graftScans(plain).length === 1)
    assert(keys(plain) === Seq(1L, 3L, 4L))

    val sqlAsOf = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $vFull")
      .collect().toSet
    assert(sqlAsOf.map(_.getLong(0)) === Set(1L, 2L, 3L))
    val byVersion = read.option("versionAsOf", vFull.toString).load(root)
    assert(graftScans(byVersion).length === 1)
    assert(byVersion.collect().toSet === sqlAsOf)
    val byTs = read.option("timestampAsOf", tsFull.toString).load(root)
    assert(graftScans(byTs).length === 1)
    assert(byTs.collect().toSet === sqlAsOf)

    val both = intercept[IllegalArgumentException] {
      read.option("versionAsOf", vFull.toString)
        .option("timestampAsOf", tsFull.toString).load(root)
    }
    assert(both.getMessage.contains("mutually exclusive"), both.getMessage)

    val changes = read.option("changeFeed", "true").option("keyColumns", "k")
      .option("startingVersion", vFull.toString).load(root)
    assert(changes.select("k", "_change").collect().toSet ===
      Set(Row(2L, "delete"), Row(4L, "insert")))

    val missing = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("table", "nope").load(root)
    }
    assert(missing.getMessage.contains("no such table: nope"),
      missing.getMessage)
  }
}
