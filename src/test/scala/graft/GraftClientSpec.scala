package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftClient
import graft.tx.CommitConflictException

object SparkTestSession {
  /** The shared session's builder: [[GraftSession]]'s at 4 cores plus
    * the one test-only setting. Single-maintainer test fixtures vacuum
    * the orphans they just made; the concurrent-writer age gate is
    * exercised explicitly (VacuumSafetySpec sets it nonzero locally). */
  def builder: SparkSession.Builder = GraftSession.builder(4)
    .config("spark.graft.vacuum.orphanRetainMs", "0")

  lazy val spark: SparkSession = {
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val Before = "marker-before"
  private val After = "marker-after"

  /** Runs `f` between two marker jobs and returns what reached `events`
    * between the markers' job starts. Listeners on the bus's shared
    * queue get its events in order, one at a time, so what arrives
    * between the markers is exactly what `f` caused.
    */
  private def marked(events: LinkedBlockingQueue[AnyRef])
      (f: => Unit): Seq[AnyRef] = {
    val sc = spark.sparkContext
    def marker(id: String): Unit = {
      sc.setJobGroup(id, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    marker(Before)
    f
    marker(After)
    Iterator.continually(Option(events.poll(60, TimeUnit.SECONDS))
      .getOrElse(throw new AssertionError(
        "the marker job never reached the listener")))
      .takeWhile(_ != After).toVector.dropWhile(_ != Before).drop(1)
  }

  /** Puts each job start on `events`: a marker's as its group id. */
  private def jobStarts(events: LinkedBlockingQueue[AnyRef]) =
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(g => g == Before || g == After)
          .getOrElse(e))
    }

  /** Spark jobs started while `f` runs. */
  def jobsDuring(f: => Unit): Int = jobStartsDuring(f).size

  /** The start events of the Spark jobs started while `f` runs. */
  def jobStartsDuring(f: => Unit): Seq[SparkListenerJobStart] = {
    val events = new LinkedBlockingQueue[AnyRef]()
    val listener = jobStarts(events)
    spark.sparkContext.addSparkListener(listener)
    try marked(events)(f).collect { case e: SparkListenerJobStart => e }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Optimized plans of the Dataset actions `f` runs, as a
    * `QueryExecutionListener` on this session receives them (it listens
    * on the shared queue too).
    */
  def plansDuring(f: => Unit): Seq[LogicalPlan] = {
    val events = new LinkedBlockingQueue[AnyRef]()
    val listener = jobStarts(events)
    val plans = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution,
          ns: Long): Unit = events.put(qe.optimizedPlan)
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(plans)
    try marked(events)(f).collect { case p: LogicalPlan => p }
    finally {
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}

/** The reference's four test scenarios (main_test.go), ported against the
  * Spark-backed GraftClient, plus regressions the reference couldn't hit.
  * The reverse-chronological iterator-order pin (main_test.go:121-131)
  * becomes explicit (_tx_id, _row_idx) descending order — a DataFrame is an
  * unordered set, so chronology is data, not iteration order.
  */
class GraftClientSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val xSchema = StructType(Seq(
    StructField("a", StringType), StructField("b", IntegerType)))

  private def tmp(): String =
    Files.createTempDirectory("graft_client").toString

  /** Rows of `table` ordered newest-version-first, as (a, b) pairs. */
  private def scanOrdered(c: GraftClient, table: String): Seq[(String, Int)] =
    c.scan(table)
      .orderBy(col(c.TxIdCol).desc, col(c.RowIdxCol).desc)
      .collect().toSeq
      .map(r => (r.getString(0), r.getInt(1)))

  // --- main_test.go:14-59 ---------------------------------------------------
  test("concurrent table writers: first committer wins") {
    val dir = tmp()
    val c1 = new GraftClient(spark, dir)
    val c2 = new GraftClient(spark, dir)

    c2.newTx() // c2 snapshots first...
    c1.newTx() // ...but c1 commits first
    c1.createTable("x", xSchema)
    c1.writeRow("x", Seq("Joey", 1))
    c1.writeRow("x", Seq("Yue", 2))
    c1.commitTx()

    c2.createTable("x", xSchema)
    c2.writeRow("x", Seq("Holly", 1))
    intercept[CommitConflictException] { c2.commitTx() }
    assert(!c2.hasOpenTx, "failed commit must discard the tx")
  }

  // --- main_test.go:61-175 --------------------------------------------------
  test("reader sees its snapshot; writer reads its own uncommitted writes") {
    val dir = tmp()
    val c1 = new GraftClient(spark, dir)
    val c2 = new GraftClient(spark, dir)

    c1.newTx()
    c1.createTable("x", xSchema)
    c1.writeRow("x", Seq("Joey", 1))
    c1.writeRow("x", Seq("Yue", 2))
    c1.commitTx()

    c1.newTx() // second write tx...
    c2.newTx() // ...reader snapshots before it commits
    c1.writeRow("x", Seq("Ada", 3))

    // reader: exactly the committed two rows, newest first
    assert(scanOrdered(c2, "x") == Seq(("Yue", 2), ("Joey", 1)))
    // writer: sees its own unflushed row first (read-your-own-writes)
    assert(scanOrdered(c1, "x") == Seq(("Ada", 3), ("Yue", 2), ("Joey", 1)))

    c1.commitTx()
    c2.commitTx() // read-only commit writes nothing and must succeed
  }

  // --- main_test.go:199-261 -------------------------------------------------
  test("range deletes: unflushed, committed, and flushed again") {
    val dir = tmp()
    val c1 = new GraftClient(spark, dir)

    c1.newTx()
    c1.createTable("x", xSchema)
    c1.writeRow("x", Seq("Joey", 1))
    c1.writeRow("x", Seq("Yue", 2))
    c1.writeRow("x", Seq("Alice", 3))

    // delete from the unflushed buffer
    c1.deleteRows("x", "b", 2, 2)
    assert(scanOrdered(c1, "x") == Seq(("Alice", 3), ("Joey", 1)))

    // delete from committed data objects (copy-on-write)
    c1.commitTx()
    c1.newTx()
    c1.deleteRows("x", "b", 2, 4)
    assert(scanOrdered(c1, "x") == Seq(("Joey", 1)))

    // and it stays deleted after the delete itself commits
    c1.commitTx()
    c1.newTx()
    assert(scanOrdered(c1, "x") == Seq(("Joey", 1)))
    c1.commitTx()
  }

  // --- regression: VERDICT r1 "what's wrong #2" -----------------------------
  test("bulk insert stamps contiguous row indexes; later writes win MVCC") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    val schema = StructType(Seq(
      StructField("idx", IntegerType), StructField("val", IntegerType)))

    c.newTx()
    c.createTable("t", schema)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 100).map(i => Row(i, 1)), 3),
      schema)
    c.insert("t", df) // multi-partition bulk insert
    c.writeRow("t", Seq(5, 999)) // same-tx update of a bulk-inserted key

    // the writeRow version must out-order every bulk row
    val idxs = c.scan("t").agg(max(col(c.RowIdxCol)), count(lit(1))).head()
    assert(idxs.getLong(0) == 100L, "row indexes must be contiguous 0..100")
    assert(idxs.getLong(1) == 101L)

    val cur = c.currentState("t", Seq("idx")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(cur(5) == 999, "latest same-tx write must win over bulk insert")
    assert(cur.size == 100)
    c.commitTx()

    // a second tx's bulk insert also out-orders everything prior
    c.newTx()
    val df2 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5, 111), Row(6, 222)), 2), schema)
    c.insert("t", df2)
    val cur2 = c.currentState("t", Seq("idx")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(cur2(5) == 111 && cur2(6) == 222)
    c.commitTx()
  }

  test("insert rejects mismatched column types") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", StructType(Seq(StructField("idx", IntegerType))))
    val wrong = spark.createDataFrame(
      java.util.List.of(Row("oops")),
      StructType(Seq(StructField("idx", StringType))))
    intercept[IllegalArgumentException] { c.insert("t", wrong) }
    c.rollback()
  }

  test("compaction merges objects but preserves MVCC semantics") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx(); c.createTable("x", xSchema)
    c.writeRow("x", Seq("Joey", 1)); c.commitTx()
    c.newTx(); c.writeRow("x", Seq("Yue", 2)); c.commitTx()
    c.newTx(); c.writeRow("x", Seq("Joey", 3)); c.commitTx() // newer version
    c.newTx(); c.deleteRows("x", "b", 2, 2); c.commitTx()

    c.newTx()
    val before = c.currentState("x", Seq("a")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(before == Set(("Joey", 3)))
    // the delete dropped the Yue object wholesale (all its rows matched),
    // leaving the two Joey-version objects
    assert(objectDirs(c, "x") == 2, "two live objects before compaction")
    c.compact("x")
    c.commitTx()

    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    assert(objectDirs(c2, "x") == 1, "one merged object after compaction")
    val after = c2.currentState("x", Seq("a")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(after == before)
    assert(scanOrdered(c2, "x") == Seq(("Joey", 3), ("Joey", 1)),
      "provenance ordering survives the merge")
    c2.commitTx()
  }

  private def objectDirs(c: GraftClient, table: String): Int =
    c.scan(table).inputFiles.map(_.split('/').dropRight(1).last).distinct
      .count(_.startsWith(s"_table_${table}_"))

  test("log checkpoint: replay from the fold matches full replay") {
    val dir = tmp()
    val c = new GraftClient(spark, dir, checkpointInterval = 5)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("idx", IntegerType), StructField("val", IntegerType))))
    c.writeRow("t", Seq(0, 0)); c.commitTx()
    (1 to 11).foreach { i =>
      c.newTx(); c.writeRow("t", Seq(i % 4, i)); c.commitTx()
    }
    assert(c.store.listPrefixOrdered(graft.tx.TxLog.CkptPrefix).nonEmpty,
      "12 commits at interval 5 must have produced a checkpoint")

    // a fresh client (which replays ckpt + tail) sees the same state as a
    // no-checkpoint client replaying the full log
    val viaCkpt = new GraftClient(spark, dir, checkpointInterval = 5)
    viaCkpt.newTx()
    val got = viaCkpt.currentState("t", Seq("idx")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((0, 8), (1, 9), (2, 10), (3, 11)))

    // and committing on top of a checkpointed log keeps working
    viaCkpt.writeRow("t", Seq(9, 99)); viaCkpt.commitTx()
    viaCkpt.newTx()
    assert(viaCkpt.currentState("t", Seq("idx")).count() == 5)
    viaCkpt.commitTx()
  }

  test("deletion vectors suppress rows without rewriting data objects") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx(); c.createTable("x", xSchema)
    c.writeRow("x", Seq("Joey", 1)); c.commitTx() // v0
    c.newTx(); c.writeRow("x", Seq("Yue", 2)); c.commitTx() // v1
    c.newTx(); c.writeRow("x", Seq("Alice", 3)); c.commitTx() // v2

    def dataDirs(paths: Array[String]): Set[String] =
      paths.map(_.split('/').dropRight(1).last)
        .filter(p => p.startsWith("_table_x_") && !p.contains("_dv_")).toSet

    c.newTx()
    c.deleteRowsDV("x", "b", 2, 2) // v3
    assert(scanOrdered(c, "x") == Seq(("Alice", 3), ("Joey", 1)))
    assert(dataDirs(c.scan("x").inputFiles).size == 3,
      "DV delete must not rewrite any data object")
    c.commitTx()

    // a fresh client sees the DV through the log
    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    assert(scanOrdered(c2, "x") == Seq(("Alice", 3), ("Joey", 1)))
    // time travel to before the delete still sees Yue
    assert(c2.scanAsOf("x", 3).count() == 3)

    // compaction applies and retires the DV
    c2.compact("x"); c2.commitTx()
    val c3 = new GraftClient(spark, dir)
    c3.newTx()
    assert(scanOrdered(c3, "x") == Seq(("Alice", 3), ("Joey", 1)))
    val files = c3.scan("x").inputFiles
    assert(dataDirs(files).size == 1, "compaction merged the objects")
    assert(!files.exists(_.contains("_dv_")), "compaction retired the DV")
    c3.rollback()
  }

  test("vacuum reclaims orphans and superseded objects, keeps live data") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx(); c.createTable("x", xSchema)
    c.writeRow("x", Seq("Joey", 1)); c.commitTx() // v0
    c.newTx(); c.writeRow("x", Seq("Yue", 2)); c.commitTx() // v1

    // an aborted transaction leaves an orphan object on disk
    c.newTx()
    c.insert("x", spark.createDataFrame(
      java.util.List.of(Row("Ghost", 9)), xSchema))
    c.rollback()

    // a copy-on-write delete supersedes the Yue object
    c.newTx(); c.deleteRows("x", "b", 2, 2); c.commitTx() // v2
    // and a DV delete that compaction then retires
    c.newTx(); c.deleteRowsDV("x", "b", 99, 99); c.commitTx() // v3 (empty DV)

    def fsDirs(): Set[String] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("_table_")).toSet
    val before = fsDirs()
    val removed = c.vacuum(retainVersions = 0)
    assert(removed >= 2, s"expected orphan+superseded reclaimed, got $removed")
    assert(fsDirs().size == before.size - removed)

    // live data unaffected, historical replay gone (retention 0)
    c.newTx()
    assert(scanOrdered(c, "x") == Seq(("Joey", 1)))
    c.rollback()
    intercept[Exception] { c.scanAsOf("x", 2).count() }
  }

  test("time travel: scanAsOf replays any historical version") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx(); c.createTable("x", xSchema)
    c.writeRow("x", Seq("Joey", 1)); c.commitTx() // commits as v0
    c.newTx(); c.writeRow("x", Seq("Yue", 2)); c.commitTx() // v1
    c.newTx(); c.deleteRows("x", "b", 1, 1); c.commitTx() // v2
    c.newTx(); c.compact("x"); c.commitTx() // v3

    def stateAt(v: Long) = c.currentStateAsOf("x", Seq("a"), v).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(stateAt(1) == Set(("Joey", 1)))
    assert(stateAt(2) == Set(("Joey", 1), ("Yue", 2)))
    assert(stateAt(3) == Set(("Yue", 2)), "delete visible at v3")
    assert(stateAt(4) == Set(("Yue", 2)), "compaction preserves state")
    intercept[IllegalArgumentException] { c.scanAsOf("x", 0) } // before DDL
    // and the historical scan still carries provenance columns
    assert(c.scanAsOf("x", 2)
      .orderBy(col(c.TxIdCol).desc, col(c.RowIdxCol).desc).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("Yue", 2), ("Joey", 1)))
  }

  test("schema evolution: added column reads null from pre-widening files") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx(); c.createTable("x", xSchema)
    c.writeRow("x", Seq("Joey", 1)); c.writeRow("x", Seq("Yue", 2))
    c.commitTx()

    c.newTx()
    c.addColumn("x", StructField("flag", IntegerType, nullable = true))
    c.writeRow("x", Seq("Ada", 3, 7))
    c.commitTx()

    // fresh client: metadata replay must land on the widened schema
    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    val rows = c2.scan("x").collect()
      .map(r => (r.getString(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(rows == Set(("Joey", 1, None), ("Yue", 2, None),
      ("Ada", 3, Some(7))))

    // range delete on the NEW column never matches pre-widening rows
    c2.deleteRows("x", "flag", 0, 100)
    assert(c2.scan("x").count() == 2)
    // and deletes on an original column still work across schema versions
    c2.deleteRows("x", "b", 2, 2)
    assert(scanOrdered(c2, "x") == Seq(("Joey", 1)))
    c2.commitTx()
  }

  // --- main_test.go:263-344 -------------------------------------------------
  test("randomized operations match an in-memory model (seed 42)") {
    val numRows = 20
    // 500 matches the reference's randomized workload (main_test.go:265);
    // log checkpointing + periodic compaction keep per-op cost flat
    val numOps = sys.env.getOrElse("GRAFT_MODEL_OPS", "500").toInt
    val dir = tmp()
    val random = new Random(42)
    val c = new GraftClient(spark, dir)
    val schema = StructType(Seq(
      StructField("idx", IntegerType),
      StructField("username", StringType),
      StructField("val", IntegerType)))

    c.newTx()
    c.createTable("users", schema)
    (0 until numRows).foreach(i => c.writeRow("users", Seq(i, s"User$i", 2 * i)))
    c.commitTx()

    val model = scala.collection.mutable.Map[Int, Int]() ++=
      (0 until numRows).map(i => i -> 2 * i)

    var checks = 0
    (0 until numOps).foreach { op =>
      if (op % 80 == 79) { // periodic maintenance, as a real writer would
        c.newTx(); c.compact("users"); c.commitTx()
      }
      c.newTx()
      random.nextInt(3) match {
        case 0 => // write a new version
          val idx = random.nextInt(numRows)
          val v = random.nextInt(1000)
          c.writeRow("users", Seq(idx, s"User$idx", v))
          model(idx) = v
        case 1 => // delete one key (removes every version); the two delete
          // mechanisms (copy-on-write, deletion vector) must be
          // observationally identical, so the model exercises both
          val idx = random.nextInt(numRows)
          if (random.nextBoolean()) c.deleteRows("users", "idx", idx, idx)
          else c.deleteRowsDV("users", "idx", idx, idx)
          model.remove(idx)
        case 2 => // read current state and compare with the model
          val got = c.currentState("users", Seq("idx")).collect()
            .map(r => r.getInt(0) -> r.getInt(2)).toMap
          if (got != model.toMap) {
            val files = c.scan("users").inputFiles
              .map(_.split('/').dropRight(1).last).distinct
            fail(s"state diverged at op $op (check $checks): got=$got " +
              s"model=${model.toMap} scanRows=${c.scan("users").count()} " +
              s"inputDirs=${files.length} " +
              s"dvDirs=${files.count(_.contains("_dv_"))}")
          }
          checks += 1
      }
      c.commitTx()
    }
    assert(checks > 0)
    // final full check
    c.newTx()
    val fin = c.currentState("users", Seq("idx")).collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(fin == model.toMap)
    c.commitTx()
  }

  test("a writeRow commit runs no Spark job and writes what insert writes") {
    val ss = spark
    import ss.implicits._
    val rows = (1 to 8).map(i => (s"r$i", i * 10))
    Seq(None, Some("b > 0")).foreach { check =>
      val dir = tmp()
      val c = new GraftClient(spark, dir)
      c.newTx()
      c.createTable("buffered", xSchema)
      c.createTable("inserted", xSchema)
      c.commitTx()
      check.foreach { e =>
        c.newTx()
        c.addConstraint("buffered", "b_pos", e)
        c.addConstraint("inserted", "b_pos", e)
        c.commitTx()
      }
      val jobs = SparkTestSession.jobsDuring {
        c.newTx()
        rows.foreach { case (a, b) => c.writeRow("buffered", Seq(a, b)) }
        c.commitTx()
      }
      assert(jobs == 0, s"CHECK $check: the commit ran $jobs Spark jobs")
      c.newTx()
      c.insert("inserted", spark.createDataFrame(
        rows.map { case (a, b) => Row(a, b) }.asJava, xSchema).coalesce(1))
      c.commitTx()

      c.newTx()
      val Seq(buffered) = c.objects("buffered")
      val Seq(inserted) = c.objects("inserted")
      def parts(obj: String): Seq[String] =
        new java.io.File(s"$dir/$obj").list()
          .filter(_.endsWith(".parquet")).toSeq
      assert(parts(buffered.path).size == 1 &&
        parts(buffered.path).head.startsWith("part-00000-c000"),
        parts(buffered.path))
      assert(parts(buffered.path) == parts(inserted.path))
      // same parquet schema, key-value metadata and codec as the job wrote
      def footer(obj: String) = {
        val file = new Path(s"$dir/$obj/${parts(obj).head}")
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(file, new Configuration()))
        try {
          val meta = r.getFooter.getFileMetaData
          (meta.getSchema, meta.getKeyValueMetaData.asScala.toMap,
            r.getFooter.getBlocks.asScala
              .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet)
        } finally r.close()
      }
      assert(footer(buffered.path) == footer(inserted.path))
      assert(buffered.numRows == 8 && buffered.stats == inserted.stats)
      def read(t: String) =
        c.scan(t).select("a", "b").as[(String, Int)].collect().toSet
      assert(read("buffered") == rows.toSet)
      assert(read("buffered") == read("inserted"))
      c.rollback()
    }
  }
}
