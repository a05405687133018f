package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftClient

/** Round-5 surface: RESTORE (rollback-as-commit), the format("graft")
  * batch connector (pushdown → stats pruning, projection, versionAsOf,
  * statistics), and the format("graft") streaming source over the tx log.
  */
class Round5Spec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val kvSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("v", StringType)))

  private def tmp(): String =
    Files.createTempDirectory("graft_r5").toString

  private def kvDf(rows: (Int, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (k, v) => Row(k, v) }.toList.asJava, kvSchema)
  }

  private def stateOf(c: GraftClient, table: String): Map[Int, String] = {
    c.newTx()
    try c.currentState(table, Seq("k")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    finally c.rollback()
  }

  test("restore rolls back deletes and later inserts, metadata-only") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1 to 10).map(k => (k, s"v$k")): _*))
    c.commitTx()
    val v = c.latestVersion

    c.newTx()
    c.deleteRows("t", "k", 1, 3) // copy-on-write rewrite of the object
    c.insert("t", kvDf((11, "x11"), (12, "x12")))
    c.commitTx()
    assert(stateOf(c, "t").keySet === ((4 to 12).toSet))

    c.newTx()
    c.restore("t", v)
    c.commitTx()
    assert(stateOf(c, "t") === (1 to 10).map(k => k -> s"v$k").toMap)

    // the restore is itself history: restoring to the post-delete version
    // rolls the rollback back (fill commit = v-1, delete commit = v, so
    // the post-delete state is beginAt(v+1))
    c.newTx()
    c.restore("t", v + 1)
    c.commitTx()
    assert(stateOf(c, "t").keySet === ((4 to 12).toSet))
  }

  test("restore reverts schema evolution and DV deletes") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "a"), (2, "b")))
    c.commitTx()
    val v = c.latestVersion

    c.newTx()
    c.addColumn("t", StructField("w", IntegerType))
    c.deleteRowsDV("t", "k", 2, 2)
    c.commitTx()
    assert(stateOf(c, "t") === Map(1 -> "a"))

    c.newTx()
    c.restore("t", v)
    c.commitTx()
    c.newTx()
    assert(c.schemaOf("t").fieldNames.toSeq === Seq("k", "v"))
    c.rollback()
    assert(stateOf(c, "t") === Map(1 -> "a", 2 -> "b"))
  }

  test("restore past a vacuumed object fails up front") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "a"), (2, "b")))
    c.commitTx()
    val v = c.latestVersion
    c.newTx()
    c.deleteRows("t", "k", 1, 1) // rewrites the original object away
    c.commitTx()
    c.vacuum() // physically reclaims the superseded original
    c.newTx()
    val ex = intercept[IllegalArgumentException] { c.restore("t", v) }
    assert(ex.getMessage.contains("vacuum"))
    c.rollback()
  }

  test("format(graft) pushdown prunes objects; projection and values hold") {
    val dir = tmp()
    // one object per k-decade via the partitioned path: 11 objects with
    // tight k stats
    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    c2.createTable("t", StructType(Seq(
      StructField("dec", IntegerType), StructField("k", IntegerType),
      StructField("v", StringType))))
    import scala.jdk.CollectionConverters._
    c2.insertPartitioned("t", spark.createDataFrame(
      (1 to 100).map(k => Row(k / 10, k, s"v$k")).toList.asJava,
      StructType(Seq(StructField("dec", IntegerType),
        StructField("k", IntegerType), StructField("v", StringType)))), "dec")
    c2.commitTx()

    val df = spark.read.format("graft").option("table", "t").load(dir)
      .filter(col("k").between(35, 44)).select("k", "v")
    val rows = df.collect().map(r => r.getInt(0) -> r.getString(1)).toSet
    assert(rows === (35 to 44).map(k => k -> s"v$k").toSet)
    // 100 keys over 11 decade-objects; k∈[35,44] overlaps exactly 2
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 2,
      s"expected 2 objects after pruning, got ${graft.sql.GraftCatalog.lastScanObjectCount}")

    // a non-range filter prunes nothing but stays correct
    val all = spark.read.format("graft").option("table", "t").load(dir)
      .filter(col("v").endsWith("7")).count()
    assert(all === 10)

    // scattered IN prunes per VALUE: dec ∈ {0, 10} spans all 11 objects
    // but only 2 contain a listed value
    val scattered = spark.read.format("graft").option("table", "t")
      .load(dir).filter(col("dec").isin(0, 10)).select("k").collect()
    assert(scattered.map(_.getInt(0)).sorted.toSeq ===
      ((1 to 9) ++ Seq(100)), "dec 0 holds k 1..9, dec 10 holds k 100")
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 2,
      s"IN should open 2 objects, got ${graft.sql.GraftCatalog.lastScanObjectCount}")
  }

  test("format(graft) versionAsOf reads the historical snapshot") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "a"), (2, "b")))
    c.commitTx()
    val v = c.latestVersion
    c.newTx()
    c.deleteRows("t", "k", 1, 1)
    c.commitTx()

    val now = spark.read.format("graft").option("table", "t").load(dir)
    assert(now.count() === 1)
    val old = spark.read.format("graft").option("table", "t")
      .option("versionAsOf", v.toString).load(dir)
    assert(old.collect().map(_.getInt(0)).toSet === Set(1, 2))
  }

  test("format(graft) reports real sizeInBytes for join planning") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1 to 50).map(k => (k, s"v$k")): _*))
    c.commitTx()
    val sz = spark.read.format("graft").option("table", "t").load(dir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz > 100 && sz < 1000000, s"implausible sizeInBytes: $sz")
  }

  test("shallow clone: zero-copy fork, copy-on-write divergence, safe vacuum") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("s", kvSchema)
    c.insert("s", kvDf((1 to 10).map(k => (k, s"v$k")): _*))
    c.addConstraint("s", "k_pos", "k > 0")
    c.commitTx()

    c.newTx()
    c.shallowClone("s", "d")
    c.commitTx()

    c.newTx()
    // the clone shares the source's objects byte-for-byte
    assert(c.objects("d").map(_.path) === c.objects("s").map(_.path))
    assert(c.currentState("d", Seq("k")).count() === 10)
    // constraints travel with the clone
    val ex = intercept[Throwable] { c.insert("d", kvDf((-1, "bad"))) }
    assert(chainContains(ex, "CHECK constraint violated"), ex.toString)
    c.rollback()

    // mutate the clone: the source is untouched (copy-on-write)
    c.newTx()
    c.deleteRows("d", "k", 1, 5)
    c.commitTx()
    c.newTx()
    assert(c.currentState("d", Seq("k")).count() === 5)
    assert(c.currentState("s", Seq("k")).count() === 10)
    c.rollback()

    // vacuum keeps shared objects alive while either table uses them
    c.vacuum()
    c.newTx()
    assert(c.currentState("s", Seq("k")).count() === 10)
    assert(c.currentState("d", Seq("k")).count() === 5)
    c.rollback()
  }

  test("bloom sidecars prune point lookups that stats cannot") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    // 8 objects whose string-value ranges all span ~the whole id space:
    // min/max stats are useless for a value probe, only blooms prune
    (0 until 8).foreach { g =>
      c.insert("t", kvDf((g * 125 until (g + 1) * 125)
        .map(i => (i, f"id${(i * 37) % 1000}%04d")): _*))
    }
    c.commitTx()
    c.newTx()
    c.buildBloom("t", "v")
    c.commitTx()

    // a fresh client proves the blooms round-trip through the JSON log
    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    assert(c2.objects("t").forall(c2.hasBloom(_, "v")))
    val hit = c2.scanEquals("t", "v", "id0111")
    // (i*37)%1000 == 111 has exactly one solution in [0,1000)
    assert(hit.collect().map(_.getString(1)).toSeq === Seq("id0111"))
    val opened = hit.inputFiles.map(_.split('/').dropRight(1).last).distinct
    assert(opened.length < 8,
      s"bloom pruned nothing: ${opened.length} objects opened")
    assert(c2.scanEquals("t", "v", "no-such-id").count() === 0)
    c2.rollback()

    // the connector's EqualTo pushdown reaches the bloom tier too
    val viaSource = spark.read.format("graft").option("table", "t").load(dir)
      .filter(col("v") === "id0111")
    assert(viaSource.collect().map(_.getString(1)).toSeq === Seq("id0111"))
    assert(graft.sql.GraftCatalog.lastScanObjectCount === opened.length,
      "connector pruned differently than scanEquals")
  }

  test("streaming source: each commit becomes a micro-batch; appends accumulate") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "a"), (2, "b")))
    c.commitTx()

    val q = spark.readStream.format("graft").option("table", "t").load(dir)
      .groupBy().count()
      .writeStream.format("memory").queryName("graft_stream_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_stream_counts").collect()
        .head.getLong(0) === 2L)

      c.newTx()
      c.insert("t", kvDf((3, "c"), (4, "d"), (5, "e")))
      c.commitTx()
      q.processAllAvailable()
      assert(spark.table("graft_stream_counts").collect()
        .head.getLong(0) === 5L)
    } finally q.stop()
  }

  private val dkvSchema = StructType(Seq(
    StructField("dec", IntegerType), StructField("k", IntegerType),
    StructField("v", StringType)))

  private def dkvTable(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", dkvSchema)
    c.insertPartitioned("t", spark.createDataFrame(
      (0 until 40).map(k => Row(k / 10, k, s"v$k")).toList.asJava,
      dkvSchema), "dec")
    c.commitTx()
  }

  test("object-level conflicts: partition-disjoint deletes both commit") {
    val dir = tmp()
    dkvTable(dir) // 4 objects, one per decade, tight k stats
    val a = new GraftClient(spark, dir)
    val b = new GraftClient(spark, dir)
    a.newTx()
    b.newTx()
    a.deleteRows("t", "k", 0, 9) // rewrites only the decade-0 object
    b.deleteRows("t", "k", 30, 39) // rewrites only the decade-3 object
    b.commitTx()
    a.commitTxRetrying() // disjoint removes: rebases instead of aborting
    val c = new GraftClient(spark, dir)
    c.newTx()
    assert(c.scan("t").collect().map(_.getInt(1)).toSet === (10 to 29).toSet)
    c.rollback()
  }

  test("4 threads: partition-disjoint deletes on ONE table all commit") {
    val dir = tmp()
    dkvTable(dir)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { g =>
      new Thread(() => {
        try {
          val c = new GraftClient(spark, dir)
          c.newTx()
          c.deleteRows("t", "k", g * 10, g * 10 + 9)
          c.commitTxRetrying()
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"thread failures: ${errors.toArray.mkString(";")}")
    val c = new GraftClient(spark, dir)
    c.newTx()
    assert(c.scan("t").count() === 0)
    c.rollback()
  }

  test("object-level conflicts: same-object mutations still abort") {
    val dir = tmp()
    dkvTable(dir)
    val a = new GraftClient(spark, dir)
    val b = new GraftClient(spark, dir)
    a.newTx()
    b.newTx()
    a.deleteRows("t", "k", 0, 5) // decade-0 object
    b.deleteRows("t", "k", 6, 9) // the SAME decade-0 object
    b.commitTx()
    intercept[graft.tx.CommitConflictException] { a.commitTxRetrying() }
  }

  test("randomized restore: every recorded version is exactly recoverable") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    val rnd = new scala.util.Random(42)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1 to 20).map(k => (k, s"v$k")): _*))
    c.commitTx()
    var model: Map[Int, String] = (1 to 20).map(k => k -> s"v$k").toMap
    // version -> expected latest-wins state at that version
    var byVersion = Map[Long, Map[Int, String]](c.latestVersion -> model)
    (0 until 14).foreach { step =>
      c.newTx()
      rnd.nextInt(5) match {
        case 0 => // upsert: newer version wins per key
          val k = rnd.nextInt(30) + 1
          c.insert("t", kvDf((k, s"u$step")))
          model += k -> s"u$step"
        case 1 => // copy-on-write range delete (kills ALL versions)
          val lo = rnd.nextInt(30); val hi = lo + rnd.nextInt(5)
          c.deleteRows("t", "k", lo, hi)
          model --= (lo to hi)
        case 2 => // deletion-vector delete, same semantics
          val lo = rnd.nextInt(30); val hi = lo + rnd.nextInt(5)
          c.deleteRowsDV("t", "k", lo, hi)
          model --= (lo to hi)
        case 3 => // restore to a random recorded version (incl. restores)
          val vs = byVersion.keys.toVector.sorted
          val v = vs(rnd.nextInt(vs.length))
          c.restore("t", v)
          model = byVersion(v)
        case 4 => // compaction: a semantic no-op
          c.compact("t")
      }
      c.commitTx()
      byVersion += c.latestVersion -> model
    }
    c.newTx()
    val got = c.currentState("t", Seq("k")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === model)
    // and history stays intact THROUGH restores: every recorded version
    // replays to its recorded state via time travel
    byVersion.foreach { case (v, want) =>
      val at = c.currentStateAsOf("t", Seq("k"), v).collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(at === want, s"divergence at version $v")
    }
    c.rollback()
  }

  private def chainContains(t: Throwable, needle: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains(needle)))

  test("CHECK constraints enforce at write time, free on reads") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "a"), (2, "b")))
    c.addConstraint("t", "k_pos", "k > 0")
    c.commitTx()

    // violating bulk insert fails the writing job, nothing registers
    c.newTx()
    val ex = intercept[Throwable] { c.insert("t", kvDf((-1, "bad"))) }
    assert(chainContains(ex, "CHECK constraint violated"), ex.toString)
    c.rollback()

    // violating buffered row fails at flush (inside commit)
    c.newTx()
    c.writeRow("t", Seq(-2, "bad"))
    val ex2 = intercept[Throwable] { c.commitTx() }
    assert(chainContains(ex2, "CHECK constraint violated"), ex2.toString)

    // valid rows and NULL (SQL CHECK semantics) still pass; the
    // constraint survives a fresh client's log replay
    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    assert(c2.constraintsOf("t") === Map("k_pos" -> "k > 0"))
    c2.insert("t", kvDf((3, "c")))
    c2.writeRow("t", Seq(null, "n"))
    c2.commitTx()
    c2.newTx()
    assert(c2.scan("t").count() === 4)

    // evolution guard: the constrained column cannot be dropped/renamed
    val ex3 = intercept[IllegalArgumentException] { c2.dropColumn("t", "k") }
    assert(ex3.getMessage.contains("k_pos"))
    c2.rollback()

    // adding a constraint existing rows violate is rejected
    c2.newTx()
    val ex4 = intercept[IllegalArgumentException] {
      c2.addConstraint("t", "v_upper", "v = upper(v)")
    }
    assert(ex4.getMessage.contains("existing rows violate"))
    c2.rollback()

    // dropConstraint lifts enforcement
    c2.newTx()
    c2.dropConstraint("t", "k_pos")
    c2.insert("t", kvDf((-5, "now ok")))
    c2.commitTx()
  }

  test("constraints and sink watermarks survive checkpoint folds") {
    val dir = tmp()
    val c = new GraftClient(spark, dir, checkpointInterval = 1)
    c.newTx()
    c.createTable("t", kvSchema)
    c.addConstraint("t", "k_pos", "k > 0")
    c.setTxn("appX", 7)
    c.commitTx()
    c.newTx() // second commit forces a checkpoint covering the first
    c.insert("t", kvDf((1, "a")))
    c.commitTx()

    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    assert(c2.constraintsOf("t") === Map("k_pos" -> "k > 0"))
    assert(c2.lastTxn("appX") === Some(7L))
    c2.rollback()
  }

  test("streaming sink: one commit per micro-batch, exactly-once on retry") {
    val dir = tmp()
    val ckpt = tmp()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    val in = MemoryStream[Int](s)
    val q = in.toDF().withColumnRenamed("value", "k")
      .withColumn("v", concat(lit("s"), col("k")))
      .writeStream.format("graft")
      .option("path", dir).option("table", "t")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData(1, 2, 3)
      q.processAllAvailable()
      in.addData(4, 5)
      q.processAllAvailable()
    } finally q.stop()

    val c = new GraftClient(spark, dir)
    c.newTx()
    assert(c.scan("t").count() === 5)
    assert(c.objects("t").length === 2) // one object per micro-batch commit
    c.rollback()

    // a redelivered batch id must be a no-op: the SetTxn watermark rides
    // in the same commit as the rows
    val sink = new graft.sources.GraftSink(spark.sqlContext, dir, "t",
      "sink_t")
    sink.addBatch(1, kvDf((99, "dup")))
    c.newTx()
    assert(c.scan("t").count() === 5) // batch 1 already committed: skipped
    c.rollback()
    sink.addBatch(2, kvDf((6, "s6")))
    c.newTx()
    assert(c.scan("t").count() === 6) // a NEW batch id still lands
    c.rollback()
  }

  test("sink autoCompact keeps the object count bounded as batches land") {
    val dir = tmp()
    val ckpt = tmp()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    val in = MemoryStream[Int](s)
    val q = in.toDF().withColumnRenamed("value", "k")
      .withColumn("v", concat(lit("s"), col("k")))
      .writeStream.format("graft")
      .option("path", dir).option("table", "t")
      .option("autoCompact", "3")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      (0 until 6).foreach { b =>
        in.addData(b * 10, b * 10 + 1)
        q.processAllAvailable()
      }
    } finally q.stop()
    val c = new GraftClient(spark, dir)
    c.newTx()
    assert(c.scan("t").count() === 12) // compaction loses nothing
    val n = c.objects("t").length
    assert(n <= 4, s"autoCompact failed to bound objects: $n")
    c.rollback()
  }

  test("streaming change feed: per-commit keyed diffs with _change labels") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "a"), (2, "b")))
    c.commitTx()

    val q = spark.readStream.format("graft")
      .option("table", "t").option("changeFeed", "true")
      .option("keyColumns", "k").load(dir)
      .writeStream.format("memory").queryName("graft_cdf")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table("graft_cdf").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
      assert(first === Set((1, "a", "insert"), (2, "b", "insert")))

      c.newTx()
      c.insert("t", kvDf((1, "a2"))) // latest-wins upsert
      c.deleteRows("t", "k", 2, 2)
      c.commitTx()
      q.processAllAvailable()
      val all = spark.table("graft_cdf").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
      assert(all === first ++ Set((1, "a2", "update"), (2, "b", "delete")))
    } finally q.stop()
  }

  test("streaming source fails on non-append commits unless ignoreChanges") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1 to 10).map(k => (k, s"v$k")): _*))
    c.commitTx()
    c.newTx()
    c.deleteRows("t", "k", 1, 3) // remove + rewrite in the window
    c.commitTx()

    val failing = spark.readStream.format("graft").option("table", "t")
      .load(dir).writeStream.format("memory")
      .queryName("graft_stream_fail").outputMode("append").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      failing.processAllAvailable()
      failing.awaitTermination(10000)
    }
    assert(ex.getMessage.contains("append-only") ||
      Option(ex.getCause).exists(_.getMessage.contains("append-only")))

    // at-least-once opt-in: the rewritten object replays its survivors
    val q = spark.readStream.format("graft").option("table", "t")
      .option("ignoreChanges", "true").load(dir)
      .writeStream.format("memory").queryName("graft_stream_ic")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ks = spark.table("graft_stream_ic").collect()
        .map(_.getInt(0)).toSeq
      // original 10 rows + the rewrite's 7 survivors
      assert(ks.length === 17)
      assert(ks.toSet === (1 to 10).toSet)
    } finally q.stop()
  }
}
