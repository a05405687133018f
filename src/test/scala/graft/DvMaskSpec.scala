package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{InMemoryObjectStore, ObjectStore}
import graft.table.GraftClient

/** A local Hadoop scheme (`graftdvc://`) that counts the files it opens
  * inside deletion-vector objects (`_table_<t>_dv_<uuid>` directories).
  */
final class DvOpenCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftdvc"
  override def getUri: java.net.URI = java.net.URI.create("graftdvc:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (Option(f.getParent).exists(_.getName.contains("_dv_")))
      DvOpenCountingFs.dvOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object DvOpenCountingFs {
  val dvOpens = new AtomicInteger(0)
}

/** Deletion vectors masked inside the scan: under the broadcast gate a
  * read takes its DV keys from a JVM-wide cache ([[graft.table.DvKeys]])
  * and filters rows in place, so a DV'd read costs the Spark jobs of a
  * read without DVs, a repeat read opens no DV object, and every DV
  * reader returns the rows the shuffled anti join past the gate returns.
  */
class DvMaskSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val GateKey = "spark.graft.broadcastKeyRowGate"

  /** `t` (k, v) written by two transactions (k 0..99, then 100..199),
    * then two DV deletes: k 50..149, whose keys span both tx ids, and
    * k 10..19. Returns the client and the versions before and after the
    * deletes.
    */
  private def dvTable(root: String,
      logStore: Option[ObjectStore] = None): (GraftClient, Long, Long) = {
    val c = new GraftClient(spark, root, logStore = logStore)
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id").as("k"), (col("id") * 3).as("v"))
    c.newTx()
    c.createTable("t", rows(0, 1).schema)
    c.insert("t", rows(0, 100))
    c.commitTx()
    c.newTx()
    c.insert("t", rows(100, 200))
    c.commitTx()
    val before = c.latestVersion
    c.newTx()
    c.deleteRowsDV("t", "k", 50L, 149L)
    c.commitTx()
    c.newTx()
    c.deleteRowsDV("t", "k", 10L, 19L)
    c.commitTx()
    (c, before, c.latestVersion)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  test("with the DV keys cached, a DV'd scan count runs no more Spark " +
    "jobs than the same read of a table without DVs") {
    val (c, _, _) = dvTable(Files.createTempDirectory("graft_dvjobs").toString)
    c.newTx()
    c.createTable("plain", c.schemaOf("t"))
    c.insert("plain", spark.range(0, 90).select(col("id").as("k"),
      (col("id") * 3).as("v")))
    c.commitTx()
    def count(table: String): Long = {
      c.newTx()
      try c.scan(table).count() finally c.commitTx()
    }
    assert(count("t") === 90L) // loads the DV keys
    assert(count("plain") === 90L)
    val withDvs = SparkTestSession.jobsDuring(count("t"))
    val withoutDvs = SparkTestSession.jobsDuring(count("plain"))
    assert(withDvs > 0)
    assert(withDvs <= withoutDvs)
  }

  test("a repeat read of the same DVs opens no DV object") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftdvc.impl", classOf[DvOpenCountingFs].getName)
    val local = Files.createTempDirectory("graft_dvopens").toString
    val (c, _, _) = dvTable(s"graftdvc:$local",
      logStore = Some(new InMemoryObjectStore))
    def read(): Seq[Row] = {
      c.newTx()
      try sorted(c.scan("t").select("k")) finally c.commitTx()
    }
    val opened = DvOpenCountingFs.dvOpens.get
    val first = read()
    // the second delete's DV is new (the first was read by that delete)
    assert(DvOpenCountingFs.dvOpens.get > opened)
    val again = DvOpenCountingFs.dvOpens.get
    assert(read() === first)
    assert(DvOpenCountingFs.dvOpens.get === again)
    assert(first.map(_.getLong(0)) ===
      ((0L until 10L) ++ (20L until 50L) ++ (150L until 200L)))
  }

  test("scan, currentState, changesBetween, merge and compact give the " +
    "same rows on both sides of the gate, over DVs from two tx ids") {
    def run(gate: Option[String]): Seq[Seq[Row]] = {
      val (c, before, after) =
        dvTable(Files.createTempDirectory("graft_dvgate").toString)
      gate.foreach(spark.conf.set(GateKey, _))
      try {
        c.newTx()
        val scanned = sorted(c.scan("t").select("k", "v"))
        val state = sorted(c.currentState("t", Seq("k")))
        c.commitTx()
        val changes = sorted(c.changesBetween("t", Seq("k"), before, after))
        // merge: keys 0..4 and 15..24 update (10..19 are deleted, so 15..19
        // insert again), keys 145..154 straddle the first DV's edge
        c.newTx()
        c.merge("t", spark.range(0, 5).union(spark.range(15, 25))
          .union(spark.range(145, 155))
          .select(col("id").as("k"), (-col("id")).as("v")), Seq("k"))
        c.commitTx()
        c.newTx()
        val merged = sorted(c.currentState("t", Seq("k")))
        c.commitTx()
        c.newTx()
        c.compact("t")
        c.commitTx()
        c.newTx()
        val compacted = sorted(c.currentState("t", Seq("k")))
        c.commitTx()
        Seq(scanned, state, changes, merged, compacted)
      } finally gate.foreach(_ => spark.conf.unset(GateKey))
    }
    val masked = run(None)
    val joined = run(Some("0")) // every DV key past the gate
    assert(masked === joined)
    val Seq(scanned, _, changes, merged, compacted) = masked
    assert(scanned.map(_.getLong(0)) ===
      ((0L until 10L) ++ (20L until 50L) ++ (150L until 200L)))
    assert(changes.size === 110) // the deleted keys, nothing else
    assert(merged.size === 90 + 10) // 15..19 and 145..149 come back
    assert(compacted === merged)
  }
}
