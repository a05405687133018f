package graft

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftClient

/** Round-12 pins: restart-free streaming schema adoption behind the
  * opt-in `schemaTrackingLocation` (Delta's contract) — an ADDITIVE
  * evolution keeps the stream running across the micro-batch boundary
  * (batches projected to the planned shape, the new column adopted on
  * the next restart, null-filled for pre-evolution objects), a
  * non-additive evolution fails ONCE with the tracked schema persisted
  * so a plain restart resumes with no operator step. Without the
  * option, round 11's loud-failure contract is untouched (pinned
  * there).
  */
class Round12Spec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  /** foreachBatch collector (memory sink can't recover a checkpoint):
    * rows land as (schema column names, row tuples).
    */
  private class Collected {
    val batches =
      new scala.collection.mutable.ArrayBuffer[(Seq[String], Seq[Seq[Any]])]
    def add(df: org.apache.spark.sql.DataFrame): Unit = synchronized {
      batches += ((df.columns.toSeq,
        df.collect().toSeq.map(_.toSeq)))
    }
    def rows: Seq[Seq[Any]] = synchronized(batches.flatMap(_._2).toSeq)
    def shapes: Seq[Seq[String]] = synchronized(batches.map(_._1).toSeq)
  }

  test("schemaTrackingLocation: an additive evolution crosses the " +
    "micro-batch boundary without stopping; the restart adopts it") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r12_track").toString
    val ckpt = Files.createTempDirectory("graft_r12_track_ck").toString
    val trk = Files.createTempDirectory("graft_r12_track_loc").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", LongType, nullable = false))))
    c.insert("t", Seq(1L, 2L).toDF("k"))
    c.commitTx()

    def stream(into: Collected) = ss.readStream.format("graft")
      .option("table", "t")
      .option("schemaTrackingLocation", trk)
      .load(root)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        into.add(df))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val got1 = new Collected
    val q = stream(got1)
    try {
      q.processAllAvailable()
      assert(got1.rows.map(_.head).toSet == Set(1L, 2L))
      // ADDITIVE evolution between micro-batches + more rows: the
      // stream must NOT stop — the batch is projected to the planned
      // shape and row 3 flows through at the old schema
      c.newTx(); c.addColumn("t", StructField("v", StringType)); c.commitTx()
      c.newTx()
      import scala.jdk.CollectionConverters._
      c.insert("t", ss.createDataFrame(
        Seq(org.apache.spark.sql.Row(3L, "x")).asJava, c.schemaOf("t")))
      c.commitTx()
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"additive evolution must not stop a tracked stream: ${q.exception}")
      assert(got1.rows.map(_.head).toSet == Set(1L, 2L, 3L),
        "the post-evolution batch crossed the boundary")
      assert(got1.shapes.forall(_ == Seq("k")),
        s"the running plan keeps its shape: ${got1.shapes}")
    } finally q.stop()

    // the evolution was tracked: a PLAIN restart (same checkpoint, no
    // operator step) plans at the evolved schema and resumes from the
    // checkpointed offset
    val got2 = new Collected
    val q2 = stream(got2)
    try {
      c.newTx()
      import scala.jdk.CollectionConverters._
      c.insert("t", ss.createDataFrame(
        Seq(org.apache.spark.sql.Row(4L, "y")).asJava, c.schemaOf("t")))
      c.commitTx()
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"restart must adopt: ${q2.exception}")
      assert(got2.shapes.nonEmpty && got2.shapes.forall(_ == Seq("k", "v")),
        s"restart plans at the evolved schema: ${got2.shapes}")
      assert(got2.rows.map(r => (r.head, r(1))).toSet == Set((4L, "y")),
        s"resumed from the checkpointed offset: ${got2.rows}")
    } finally q2.stop()
  }

  test("schemaTrackingLocation: a non-additive evolution fails ONCE " +
    "with the schema tracked; the plain restart resumes at it") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r12_trackn").toString
    val ckpt = Files.createTempDirectory("graft_r12_trackn_ck").toString
    val trk = Files.createTempDirectory("graft_r12_trackn_loc").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))))
    import scala.jdk.CollectionConverters._
    c.insert("t", ss.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, "a")).asJava, c.schemaOf("t")))
    c.commitTx()

    def stream(into: Collected) = ss.readStream.format("graft")
      .option("table", "t")
      .option("schemaTrackingLocation", trk)
      .load(root)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        into.add(df))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val got1 = new Collected
    val q = stream(got1)
    try {
      q.processAllAvailable()
      // dropColumn is NOT additive: the running plan cannot keep its
      // shape — one loud failure naming the tracking location
      c.newTx(); c.dropColumn("t", "v"); c.commitTx()
      c.newTx(); c.insert("t", Seq(2L).toDF("k")); c.commitTx()
      val e = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Option(e.getCause).map(_.getMessage).getOrElse("") +
        e.getMessage
      assert(msg.contains("non-additive") && msg.contains("tracked at"),
        s"named tracked-evolution error expected, got: $msg")
    } finally q.stop()

    // no operator step: same checkpoint, and the stream resumes at the
    // dropped-column schema from the checkpointed offset
    val got2 = new Collected
    val q2 = stream(got2)
    try {
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"restart must resume: ${q2.exception}")
      assert(got2.shapes.forall(_ == Seq("k")),
        s"restart plans at the tracked (dropped) schema: ${got2.shapes}")
      assert(got2.rows.map(_.head).toSet == Set(2L),
        s"the failed batch replays at the new schema: ${got2.rows}")
    } finally q2.stop()
  }

  // --- retention vs over-held readers -------------------------------------
  // The contract: a reader whose snapshot outlives vacuum's retention
  // either completes or fails LOUDLY — never a silently-wrong answer.
  // The sharp edge is `spark.sql.files.ignoreMissingFiles=true`, a
  // common cluster-wide setting on object stores: under it a reclaimed
  // deletion vector would silently UN-delete rows, a reclaimed data
  // object silently drop them, a reclaimed CDF spill page silently
  // truncate a change feed. Log-governed reads pin the per-source
  // option to false (GraftClient.strictRead), so the session conf
  // cannot buy convenience with transactional correctness.

  private def deleteDir(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete()
  }

  private def withIgnoreMissing[A](body: => A): A = {
    val ss = spark
    ss.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try body finally ss.conf.unset("spark.sql.files.ignoreMissingFiles")
  }

  test("a reclaimed deletion vector fails the over-held reader loudly " +
    "(never un-deletes) even under ignoreMissingFiles=true") {
    val ss = spark
    import ss.implicits._
    // Past the broadcast gate the reader anti-joins the DV object when
    // it runs, so a reclaimed DV must fail it. Under the gate the DV keys
    // are taken while planning and masked inside the scan, so the held
    // reader has nothing left to miss: it must complete, still masked.
    def heldAfterReclaim(gate: Option[String]): org.apache.spark.sql.DataFrame = {
      val root = Files.createTempDirectory("graft_r12_dvret").toString
      val c = new GraftClient(ss, root)
      c.newTx()
      c.createTable("t", StructType(Seq(StructField("k", LongType))))
      c.insert("t", (0L until 10L).toDF("k"))
      c.commitTx()
      c.newTx()
      c.deleteRowsDV("t", "k", 0, 4)
      c.commitTx()
      c.newTx()
      gate.foreach(ss.conf.set("spark.graft.broadcastKeyRowGate", _))
      val held = try c.scan("t")
        finally ss.conf.unset("spark.graft.broadcastKeyRowGate")
      assert(held.count() == 5)
      c.rollback()
      // reclaim the DV out from under the planned DataFrame (what a
      // vacuum past this reader's retention does to the store)
      val dvDirs = new java.io.File(root).listFiles()
        .filter(_.getName.contains("_dv_"))
      assert(dvDirs.nonEmpty, "fixture must have a DV object")
      dvDirs.foreach(deleteDir)
      held
    }
    val joined = heldAfterReclaim(Some("0"))
    withIgnoreMissing {
      val e = intercept[Exception](joined.count())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
        t.isInstanceOf[java.io.FileNotFoundException] ||
          t.getMessage != null && t.getMessage.contains("does not exist")),
        s"expected a missing-file failure, got: $e")
    }
    val masked = heldAfterReclaim(None)
    withIgnoreMissing {
      assert(masked.select("k").as[Long].collect().sorted.toSeq ==
        (5L until 10L))
    }
  }

  test("a reclaimed data object fails the over-held historical reader " +
    "loudly (never drops rows) even under ignoreMissingFiles=true") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r12_objret").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(StructField("k", LongType))))
    c.insert("t", (0L until 10L).toDF("k"))
    c.commitTx()
    val v1 = c.latestVersion
    c.newTx()
    c.deleteRows("t", "k", 0, 4) // CoW rewrite supersedes the v1 object
    c.commitTx()
    val held = c.scanAsOf("t", v1)
    assert(held.count() == 10)
    assert(c.vacuum(retainVersions = 0) > 0,
      "vacuum must reclaim the superseded object")
    withIgnoreMissing {
      intercept[Exception](held.count())
    }
    // the CURRENT reader is untouched by the reclaim
    c.newTx()
    assert(c.scan("t").count() == 5)
    c.rollback()
  }

  test("a reclaimed CDF spill page fails the in-flight change feed " +
    "loudly (never truncates) even under ignoreMissingFiles=true") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r12_spillret").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(StructField("k", LongType))))
    c.setTableProperties("t", Map("graft.enableChangeDataFeed" -> "true"))
    c.commitTx()
    (0 until 4).foreach { i =>
      c.newTx()
      c.insert("t", Seq(i.toLong).toDF("k"))
      c.commitTx()
    }
    ss.conf.set("spark.graft.cdf.unionPageSize", "2")
    val held =
      try {
        c.newTx()
        val df = c.changesByFile("t", 0, c.latestVersion)
        c.rollback()
        df
      } finally ss.conf.unset("spark.graft.cdf.unionPageSize")
    assert(held.count() == 4)
    assert(new java.io.File(root).listFiles()
      .exists(_.getName.startsWith("_cdfspill_")),
      "the wide window must have spilled")
    // age the page out and reclaim it while the DataFrame is held
    ss.conf.set("spark.graft.cdf.spillRetainMs", "0")
    try c.vacuum(retainVersions = 0)
    finally ss.conf.unset("spark.graft.cdf.spillRetainMs")
    assert(!new java.io.File(root).listFiles()
      .exists(_.getName.startsWith("_cdfspill_")))
    withIgnoreMissing {
      intercept[Exception](held.count())
    }
  }

  test("wide scanSemi probes EXECUTOR-side: past the IN-list cap the " +
    "distributed stats+bloom probe prunes to the true objects instead " +
    "of falling back to a full scan") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r12_wide").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", StringType), StructField("x", LongType))))
    c.registerBlooms("t", Seq("k"), numBits = 1 << 16)
    c.commitTx()
    // 8 objects of SCATTERED keys: every object's (min,max) spans any
    // probe, so only the bloom tier can prune
    (0 until 8).foreach { o =>
      c.newTx()
      c.insert("t", (0 until 300).map { i =>
        val k = if (i == 0) "aaa" else if (i == 299) "zzz"
          else s"k_${o}_$i"
        (k, o * 1000L + i)
      }.toDF("k", "x").coalesce(1))
      c.commitTx()
    }
    c.newTx()
    // 20 distinct keys against an explicit maxKeys=8 cap → the WIDE
    // (distributed) path. EVERY key probes EVERY object, and at ~1 %
    // FP/key an untrue object survives with 1 − 0.99²⁰ ≈ 18 % — so the
    // key count stays small enough that expected extra openings are
    // ~1 of 6 (a large IN-list compounds per-object FP by design; the
    // fix at scale is more bits/key, not fewer probes).
    val keys = ((0 until 5).map(i => s"absent_$i") ++
      (1 to 10).map(i => s"k_2_$i") ++ (1 to 5).map(i => s"k_5_$i"))
      .toDF("key")
    val got = c.scanSemi("t", "k", keys, maxKeys = 8)
    assert(got.count() == 15)
    assert(got.select("x").as[Long].collect().toSet ==
      ((1 to 10).map(2000L + _) ++ (1 to 5).map(5000L + _)).toSet)
    val opened = got.inputFiles.flatMap(
      _.split('/').find(_.startsWith("_table_t_"))).toSet
    assert(opened.size <= 5,
      s"wide probe must prune (2 true objects + ~1 expected FP), " +
        s"opened: ${opened.size} of 8")
    c.rollback()
  }
}
