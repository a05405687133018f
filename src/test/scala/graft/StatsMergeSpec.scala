package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.{GraftClient, ParquetFooters}
import graft.tx.{ColStats, Json, TxLog, AddDataObject}

/** Column stats + file skipping, partitioned inserts, MERGE, and the
  * change data feed — the round-3 scale features over the tx core.
  */
class StatsMergeSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val kvSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("v", StringType)))

  private def tmp(): String =
    Files.createTempDirectory("graft_stats").toString

  private def kvDf(rows: (Int, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (k, v) => Row(k, v) }.toList.asJava, kvSchema)
  }

  test("ColStats.mayOverlap: bounds, unknown columns, unknown types") {
    val stats = Map("k" -> ColStats(10L, 20L), "v" -> ColStats("b", "f"))
    assert(ColStats.mayOverlap(stats, "k", 15, 25))
    assert(ColStats.mayOverlap(stats, "k", 20, 99)) // inclusive max edge
    assert(ColStats.mayOverlap(stats, "k", 0, 10)) // inclusive min edge
    assert(!ColStats.mayOverlap(stats, "k", 21, 99))
    assert(!ColStats.mayOverlap(stats, "k", 0, 9))
    assert(ColStats.mayOverlap(stats, "k", 12.5, 12.6)) // double vs long
    assert(!ColStats.mayOverlap(stats, "k", 20.5, 99.0))
    assert(ColStats.mayOverlap(stats, "v", "a", "c"))
    assert(!ColStats.mayOverlap(stats, "v", "g", "z"))
    assert(ColStats.mayOverlap(stats, "nostats", 1, 2)) // unknown col: keep
    // un-normalizable bound type: conservative keep
    assert(ColStats.mayOverlap(stats, "k", new Object, new Object))
  }

  test("insert stamps footer stats; they survive the log JSON round-trip") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((5, "ee"), (9, "aa"), (7, "zz")))
    c.commitTx()

    // fresh client: stats must come back from the serialized log
    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    val objs = c2.objects("t")
    assert(objs.length === 1)
    assert(objs.head.stats("k") === ColStats(5L, 9L, Some(0L)))
    assert(objs.head.stats("v") === ColStats("aa", "zz", Some(0L)))
    c2.rollback()
  }

  test("a footer scan reads through the caller's conf in milliseconds") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((5, "ee"), (9, "aa"), (7, "zz")).coalesce(1))
    c.commitTx()
    c.newTx()
    val Seq(obj) = c.objects("t")
    c.rollback()
    val conf = spark.sessionState.newHadoopConf()
    val objDir = s"$dir/${obj.path}"
    val (rows, stats) = ParquetFooters.scan(conf, objDir, kvSchema)
    assert(rows === 3)
    assert(stats === Map("k" -> ColStats(5L, 9L, Some(0L)),
      "v" -> ColStats("aa", "zz", Some(0L))))
    // parquet's no-argument read options build a fresh Configuration,
    // which reloads Hadoop's defaults from the classpath on every footer:
    // about 13 ms a read with Spark's jars on a 4-vCPU host, against
    // about 1 ms through `conf` once the JIT has compiled the read path
    // (the first few hundred calls)
    def scan() = ParquetFooters.scan(conf, objDir, kvSchema)
    (1 to 300).foreach(_ => scan())
    val ms = S3StoreSpec.medianMs(50)(scan())
    assert(ms < 3.0, f"median footer scan $ms%.2f ms (limit 3 ms)")
  }

  test("log entries without stats (older writers) parse to empty stats") {
    val a = TxLog.actionFromJson(Json.parse(
      """{"type":"add","table":"t","path":"p","txId":"3","numRows":"4"}"""))
    assert(a === AddDataObject("t", "p", 3L, 4L, Map.empty))
  }

  test("scanRange skips objects whose stats can't overlap") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "a"), (2, "b")))
    c.insert("t", kvDf((10, "c"), (12, "d")))
    c.insert("t", kvDf((20, "e"), (22, "f")))
    c.commitTx()

    c.newTx()
    val pruned = c.scanRange("t", "k", 9, 13)
    val full = c.scan("t").filter(col("k").between(9, 13))
    assert(pruned.select("k", "v").collect().toSet ===
      full.select("k", "v").collect().toSet)
    assert(pruned.inputFiles.length < c.scan("t").inputFiles.length)
    // only the middle object is opened
    assert(c.objects("t").count(a =>
      ColStats.mayOverlap(a.stats, "k", 9, 13)) === 1)
    // buffered (unflushed) rows still flow through the same predicate
    c.writeRow("t", Seq(11, "buffered"))
    assert(c.scanRange("t", "k", 9, 13).select("k", "v").collect().toSet ===
      Set(Row(10, "c"), Row(12, "d"), Row(11, "buffered")))
    c.rollback()
  }

  test("insertPartitioned: one self-contained object per partition value") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insertPartitioned("t",
      kvDf((1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")), "v")
    c.commitTx()

    c.newTx()
    val objs = c.objects("t")
    assert(objs.length === 3) // one per distinct v
    assert(objs.map(_.numRows).sum === 5)
    // each object's stats pin v to a single value => partition pruning
    objs.foreach(a => assert(a.stats("v").min === a.stats("v").max))
    // the partition column is still IN the files (self-contained objects)
    assert(c.scan("t").select("k", "v").collect().toSet ===
      Set(Row(1, "a"), Row(2, "a"), Row(3, "b"), Row(4, "b"), Row(5, "c")))
    val prunedFiles = c.scanRange("t", "v", "b", "b").inputFiles.length
    assert(prunedFiles < c.scan("t").inputFiles.length)
    c.rollback()
  }

  test("ranged delete leaves non-overlapping partitions' objects untouched") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insertPartitioned("t",
      kvDf((1, "a"), (2, "a"), (3, "b"), (10, "b"), (5, "c")), "v")
    c.commitTx()

    c.newTx()
    val before = c.objects("t").map(_.path).toSet
    c.deleteRows("t", "k", 8, 99) // only partition "b" contains k in range
    val after = c.objects("t").map(_.path).toSet
    // exactly one object rewritten: the other two paths survive as-is
    assert((before -- after).size === 1)
    assert((after -- before).size === 1)
    assert(c.currentState("t", Seq("k")).select("k", "v").collect().toSet ===
      Set(Row(1, "a"), Row(2, "a"), Row(3, "b"), Row(5, "c")))
    c.commitTx()
  }

  test("merge: matched update, unmatched insert, delete clause") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "one"), (2, "two"), (3, "three"), (4, "four")))
    c.commitTx()

    c.newTx()
    // update 1, insert 9, delete 3 (row payload for the delete is a marker)
    c.merge("t",
      kvDf((1, "ONE"), (9, "nine"), (3, "DEL")),
      Seq("k"), deleteCond = col("v") === "DEL")
    c.commitTx()

    c.newTx()
    assert(c.currentState("t", Seq("k")).collect().toSet ===
      Set(Row(1, "ONE"), Row(2, "two"), Row(4, "four"), Row(9, "nine")))
    // no copy-on-write: the original object is still live (DV mechanism)
    assert(c.objects("t").length === 2)
    c.rollback()
  }

  test("merge delete clause covers this tx's own buffered (unflushed) rows") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.writeRow("t", Seq(3, "buffered")) // never flushed before the merge
    c.merge("t", kvDf((3, "DEL"), (4, "four")),
      Seq("k"), deleteCond = col("v") === "DEL")
    c.commitTx()
    c.newTx()
    assert(c.currentState("t", Seq("k")).collect().toSet ===
      Set(Row(4, "four")), "buffered row with a deleted key must not survive")
    c.rollback()
  }

  test("merge delete of a key absent from the target is a no-op") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "one")))
    c.merge("t", kvDf((99, "DEL")), Seq("k"), deleteCond = col("v") === "DEL")
    c.commitTx()
    c.newTx()
    assert(c.currentState("t", Seq("k")).collect().toSet === Set(Row(1, "one")))
    c.rollback()
  }

  test("changesBetween classifies inserts, updates, deletes; skips unchanged") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx() // v0
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "one"), (2, "two"), (3, "three")))
    c.commitTx()
    c.newTx() // v1
    c.insert("t", kvDf((2, "TWO"), (4, "four"))) // update 2, insert 4
    c.deleteRows("t", "k", 3, 3) // delete 3
    c.commitTx()

    val changes = c.changesBetween("t", Seq("k"), 1, 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(changes === Set(
      (2, "TWO", "update"),
      (4, "four", "insert"),
      (3, "three", "delete")))
    // no-change window: empty feed
    assert(c.changesBetween("t", Seq("k"), 2, 2).collect().isEmpty)
  }

  test("commitTxRetrying: disjoint-table concurrent writers both commit") {
    val dir = tmp()
    val c1 = new GraftClient(spark, dir)
    val c2 = new GraftClient(spark, dir)
    c2.newTx() // c2 snapshots first...
    c1.newTx()
    c1.createTable("t1", kvSchema)
    c1.writeRow("t1", Seq(1, "one"))
    c1.commitTx() // ...but c1 takes log id 0
    c2.createTable("t2", kvSchema)
    c2.writeRow("t2", Seq(2, "two"))
    c2.commitTxRetrying() // loses the race, rebases, succeeds
    val c3 = new GraftClient(spark, dir)
    c3.newTx()
    assert(c3.scan("t1").select("k", "v").collect().toSet === Set(Row(1, "one")))
    assert(c3.scan("t2").select("k", "v").collect().toSet === Set(Row(2, "two")))
    c3.rollback()
  }

  test("commitTxRetrying: 4 threads racing on disjoint tables all commit") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmp()
    val n = 4
    val fs = (0 until n).map { i =>
      Future {
        val c = new GraftClient(spark, dir)
        c.newTx()
        c.createTable(s"t$i", kvSchema)
        c.writeRow(s"t$i", Seq(i, s"v$i"))
        c.commitTxRetrying(maxAttempts = 10)
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    val c = new GraftClient(spark, dir)
    c.newTx()
    (0 until n).foreach { i =>
      assert(c.scan(s"t$i").select("k", "v").collect().toSet ===
        Set(Row(i, s"v$i")), s"table t$i")
    }
    c.rollback()
  }

  test("commitTxRetrying: same-table blind appends BOTH commit (footprint rebase)") {
    val dir = tmp()
    val seed = new GraftClient(spark, dir)
    seed.newTx()
    seed.createTable("t", kvSchema)
    seed.writeRow("t", Seq(0, "zero"))
    seed.commitTx()
    val c1 = new GraftClient(spark, dir)
    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    c1.newTx()
    c1.writeRow("t", Seq(1, "one"))
    c1.commitTx()
    c2.writeRow("t", Seq(2, "two"))
    // append-only footprint vs concurrent append: immutable new objects
    // can't invalidate each other — the multi-writer ingest shape
    c2.commitTxRetrying()
    val c3 = new GraftClient(spark, dir)
    c3.newTx()
    assert(c3.scan("t").select("k", "v").collect().toSet ===
      Set(Row(0, "zero"), Row(1, "one"), Row(2, "two")))
    c3.rollback()
  }

  test("commitTxRetrying: single-attempt commitTx still conflicts on any race") {
    val dir = tmp()
    val seed = new GraftClient(spark, dir)
    seed.newTx()
    seed.createTable("t", kvSchema)
    seed.commitTx()
    val c1 = new GraftClient(spark, dir)
    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    c1.newTx()
    c1.writeRow("t", Seq(1, "one"))
    c1.commitTx()
    c2.writeRow("t", Seq(2, "two"))
    intercept[graft.tx.CommitConflictException] { c2.commitTx() }
    val c3 = new GraftClient(spark, dir)
    c3.newTx()
    assert(c3.scan("t").select("k", "v").collect().toSet === Set(Row(1, "one")))
    c3.rollback()
  }

  test("randomized merge/partitioned-insert/scanRange ops match a model") {
    import scala.util.Random
    val numOps = sys.env.getOrElse("GRAFT_MERGE_MODEL_OPS", "120").toInt
    val numKeys = 30
    val dir = tmp()
    val random = new Random(42)
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", IntegerType),
      StructField("part", StringType)))
    def df(rows: Seq[(Int, Int)]) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        rows.map { case (k, v) => Row(k, v, s"p${math.floorMod(v, 3)}") }
          .toList.asJava, schema)
    }
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", schema)
    c.insert("t", df((0 until numKeys).map(i => i -> i)))
    c.commitTx()
    val model = scala.collection.mutable.Map[Int, Int]() ++=
      (0 until numKeys).map(i => i -> i)

    def latestByKey(rows: Array[Row]): Map[Int, Int] =
      rows.groupBy(_.getInt(0)).map { case (k, vs) =>
        k -> vs.maxBy(r => (r.getLong(3), r.getLong(4))).getInt(1)
      } // (k, v, part, _tx_id, _row_idx)

    var checks = 0
    var gateChecks = 0
    var appendOnly = false
    val landings = scala.collection.mutable.Buffer[String]()
    (0 until numOps).foreach { op =>
      if (op % 40 == 39) { c.newTx(); c.compact("t"); c.commitTx() }
      c.newTx()
      random.nextInt(6) match {
        case 0 => // merge: upsert two distinct keys, delete a third —
          // refused wholesale under the appendOnly gate (model unchanged)
          val ks = random.shuffle((0 until numKeys).toList).take(3)
          val (u1, u2, del) = (ks(0), ks(1), ks(2))
          val (v1, v2) = (random.nextInt(1000), random.nextInt(1000))
          def go() = c.merge("t", df(Seq(u1 -> v1, u2 -> v2, del -> -1)),
            Seq("k"), deleteCond = col("v") === -1)
          if (appendOnly) {
            intercept[IllegalArgumentException](go()); gateChecks += 1
          } else {
            go()
            model(u1) = v1; model(u2) = v2; model.remove(del)
          }
        case 1 => // partitioned bulk insert of distinct keys
          val ks = random.shuffle((0 until numKeys).toList)
            .take(1 + random.nextInt(4))
          val rows = ks.map(k => k -> random.nextInt(1000))
          c.insertPartitioned("t", df(rows), "part")
          rows.foreach { case (k, v) => model(k) = v }
        case 2 => // pruned range scan vs model (latest version per key)
          val a = random.nextInt(numKeys)
          val b = math.min(numKeys - 1, a + random.nextInt(8))
          val got = latestByKey(c.scanRange("t", "k", a, b).collect())
          val want = model.filter { case (k, _) => k >= a && k <= b }.toMap
          assert(got === want, s"scanRange [$a,$b] diverged at op $op")
          checks += 1
        case 3 => // range delete (both mechanisms); refused under the gate
          val a = random.nextInt(numKeys)
          val b = math.min(numKeys - 1, a + random.nextInt(4))
          def go() =
            if (random.nextBoolean()) c.deleteRows("t", "k", a, b)
            else c.deleteRowsDV("t", "k", a, b)
          if (appendOnly) {
            intercept[IllegalArgumentException](go()); gateChecks += 1
          } else {
            go()
            (a to b).foreach(model.remove)
          }
        case 4 => // COPY INTO: fresh landing file, or a re-point at an
          // already-drained one (must load nothing)
          if (landings.nonEmpty && random.nextBoolean()) {
            val d = landings(random.nextInt(landings.size))
            assert(c.copyInto("t", d).isEmpty,
              s"re-pointed landing $d must be drained at op $op")
          } else {
            val ks = random.shuffle((0 until numKeys).toList)
              .take(1 + random.nextInt(3))
            val rows = ks.map(k => k -> random.nextInt(1000))
            val d = tmp()
            df(rows).coalesce(1).write.mode("append").parquet(d)
            assert(c.copyInto("t", d).nonEmpty)
            landings += d
            rows.foreach { case (k, v) => model(k) = v }
          }
        case 5 => // toggle the appendOnly gate (durable TBLPROPERTIES)
          appendOnly = !appendOnly
          if (appendOnly)
            c.setTableProperties("t", Map("graft.appendOnly" -> "true"))
          else c.unsetTableProperties("t", Seq("graft.appendOnly"))
      }
      c.commitTx()
    }
    assert(checks > 0)
    assert(gateChecks > 0, "the op mix never exercised the appendOnly gate")
    c.newTx()
    val finalState = c.currentState("t", Seq("k")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(finalState === model.toMap)
    c.rollback()
  }

  test("clusterBy re-layouts objects so range scans prune effectively") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    // three inserts, each spanning the WHOLE key range: every object's
    // stats overlap every range, so nothing prunes before clustering
    (0 until 3).foreach { i =>
      c.insert("t", kvDf((0 until 30).map(k => (k, s"v$i-$k")): _*))
    }
    c.deleteRowsDV("t", "k", 7, 7) // a DV that clustering must apply+retire
    c.commitTx()

    c.newTx()
    val before = c.objects("t")
      .count(a => ColStats.mayOverlap(a.stats, "k", 25, 29))
    assert(before === 3) // unclustered: every object may contain [25,29]
    c.clusterBy("t", "k", numBuckets = 4)
    c.commitTx()

    c.newTx()
    val objs = c.objects("t")
    assert(objs.length > 1)
    assert(objs.map(_.numRows).sum === 87) // 90 - 3 DV-deleted versions
    val after = objs.count(a => ColStats.mayOverlap(a.stats, "k", 25, 29))
    assert(after < objs.length, "clustering must make ranges prunable")
    // semantics unchanged: latest version per key, key 7 deleted
    val state = c.currentState("t", Seq("k")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(state.keySet === (0 until 30).toSet - 7)
    assert((0 until 30).filter(_ != 7).forall(k => state(k) == s"v2-$k"))
    c.rollback()
  }

  test("dropColumn narrows schema, sheds bytes, keeps layout; re-add nulls") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType),
      StructField("extra", StringType)))
    import scala.jdk.CollectionConverters._
    c.newTx()
    c.createTable("t", schema)
    c.insertPartitioned("t", spark.createDataFrame(List(
      Row(1, "a", "x"), Row(2, "a", "y"), Row(3, "b", "z"),
      Row(4, "c", "w")).asJava, schema), "v")
    c.commitTx()

    c.newTx()
    val beforeObjs = c.objects("t").length
    assert(beforeObjs === 3) // one per partition value
    c.dropColumn("t", "extra")
    c.commitTx()

    c.newTx()
    assert(c.schemaOf("t").fieldNames.toSeq === Seq("k", "v"))
    // object-for-object rewrite: the partitioned layout SURVIVES the drop
    // (a compacting rewrite would flatten it into one stats-useless object)
    val objs = c.objects("t")
    assert(objs.length === beforeObjs)
    objs.foreach(a => assert(a.stats("v").min === a.stats("v").max))
    // re-adding the same name must NOT resurrect the old values —
    // the drop physically rewrote the files without the column
    c.addColumn("t", StructField("extra", StringType, nullable = true))
    assert(c.scan("t").select("k", "extra").collect().toSet ===
      Set(Row(1, null), Row(2, null), Row(3, null), Row(4, null)))
    c.commitTx()
  }

  test("history lists every commit; createView exposes SQL over the store") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "one"), (2, "two")))
    c.commitTx() // v0
    c.newTx()
    c.insert("t", kvDf((2, "TWO")))
    c.commitTx() // v1

    val h = c.history()
    assert(h.map(_._1) === Vector(0L, 1L))
    assert(h(0)._2.exists(_.isInstanceOf[graft.tx.ChangeMetadata]))
    assert(h(1)._2.collect { case a: AddDataObject => a }.nonEmpty)

    c.newTx()
    // a buffered row must NOT leak into the view: the view reflects the
    // latest COMMITTED state, so rolling back cannot produce a phantom
    c.writeRow("t", Seq(99, "uncommitted"))
    c.createView("t", Seq("k"), "t_view")
    c.rollback()
    val viaSql = spark.sql(
      "SELECT k, v FROM t_view ORDER BY k").collect().toSeq
    assert(viaSql === Seq(Row(1, "one"), Row(2, "TWO")))
  }

  test("clusterByZOrder makes BOTH columns prunable") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", IntegerType)))
    import scala.jdk.CollectionConverters._
    // 32x32 grid, inserted in row-major slices: before re-layout, b spans
    // the full range in EVERY object, so b never prunes
    val grid = for (a <- 0 until 32; b <- 0 until 32) yield Row(a, b)
    c.newTx()
    c.createTable("t", schema)
    grid.grouped(256).foreach { slice =>
      c.insert("t", spark.createDataFrame(slice.toList.asJava, schema))
    }
    c.commitTx()

    c.newTx()
    def prunable(column: String): Int = {
      val objs = c.objects("t")
      objs.length - objs.count(a =>
        graft.tx.ColStats.mayOverlap(a.stats, column, 0, 3))
    }
    assert(prunable("b") === 0, "pre-layout: b must span every object")
    c.clusterByZOrder("t", "a", "b", numBuckets = 16)
    c.commitTx()

    c.newTx()
    assert(c.objects("t").map(_.numRows).sum === 32L * 32L)
    assert(prunable("a") > 0, "z-order: a ranges must prune")
    assert(prunable("b") > 0, "z-order: b ranges must prune")
    // semantics unchanged
    assert(c.scanRange("t", "b", 5, 5).count() === 32L)
    assert(c.currentState("t", Seq("a", "b")).count() === 32L * 32L)
    c.rollback()
  }

  test("renameColumn is metadata-only; old name re-adds as nulls") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "one"), (2, "two")))
    c.writeRow("t", Seq(3, "buffered")) // positional: rename must not lose it
    c.renameColumn("t", "v", "name")
    c.commitTx()

    c.newTx()
    assert(c.schemaOf("t").fieldNames.toSeq === Seq("k", "name"))
    assert(c.scan("t").select("k", "name").collect().toSet ===
      Set(Row(1, "one"), Row(2, "two"), Row(3, "buffered")))
    assert(c.objects("t").length === 2)
    // column mapping: stats stay keyed by the stable PHYSICAL name, and
    // pruning on the NEW logical name still works through the mapping
    assert(c.objects("t").head.stats.contains("v"))
    assert(c.scanRange("t", "name", "one", "one").count() === 1L)
    // the old name re-added reads null — fresh physical name, so the
    // still-on-disk bytes of the renamed column can't resurrect
    c.addColumn("t", StructField("v", StringType, nullable = true))
    assert(c.scan("t").select("v").collect().forall(_.isNullAt(0)))
    c.commitTx()
  }

  test("rename/drop stage ZERO data-object actions; files still read") {
    import graft.tx.{AddDataObject, RemoveDataObject}
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((1, "one"), (2, "two")))
    c.commitTx()
    val before = c.latestVersion
    c.newTx()
    c.renameColumn("t", "v", "name")
    c.dropColumn("t", "name") // -> table is just (k)
    c.commitTx()
    val actions = c.historyBetween(before, before + 1).flatMap(_._2)
    assert(actions.nonEmpty)
    assert(!actions.exists(a => a.isInstanceOf[AddDataObject] ||
      a.isInstanceOf[RemoveDataObject]),
      s"rename/drop must be metadata-only, staged: $actions")
    c.newTx()
    assert(c.schemaOf("t").fieldNames.toSeq === Seq("k"))
    assert(c.scan("t").select("k").collect().map(_.getInt(0)).toSet ===
      Set(1, 2))
    // materializeSchema purges the dropped bytes and re-keys stats
    c.materializeSchema("t")
    c.commitTx()
    c.newTx()
    assert(c.scan("t").select("k").collect().map(_.getInt(0)).toSet ===
      Set(1, 2))
    assert(c.objects("t").forall(_.stats.contains("k")))
    c.rollback()
  }

  test("column stats survive the checkpoint fold and replay from it") {
    val dir = tmp()
    // interval 1: every commit checkpoints, so the next begin() replays
    // from the folded snapshot, not the raw log entries
    val c = new GraftClient(spark, dir, checkpointInterval = 1)
    c.newTx()
    c.createTable("t", kvSchema)
    c.insert("t", kvDf((5, "ee"), (9, "aa")))
    c.commitTx()
    c.newTx()
    c.insert("t", kvDf((20, "zz")))
    c.commitTx()

    val c2 = new GraftClient(spark, dir)
    c2.newTx()
    val objs = c2.objects("t")
    assert(objs.length === 2)
    assert(objs.flatMap(_.stats.get("k")).toSet ===
      Set(ColStats(5L, 9L, Some(0L)), ColStats(20L, 20L, Some(0L))))
    // and pruning still works off the checkpoint-replayed stats
    assert(c2.scanRange("t", "k", 0, 10).inputFiles.length <
      c2.scan("t").inputFiles.length)
    c2.rollback()
  }

  test("footer stats: all-null column yields no stats entry, no pruning") {
    val dir = tmp()
    val c = new GraftClient(spark, dir)
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("s", StringType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      List(Row(1, null), Row(2, null)).asJava, schema)
    c.newTx()
    c.createTable("t", schema)
    c.insert("t", df)
    c.commitTx()
    c.newTx()
    val st = c.objects("t").head.stats
    assert(st.contains("k"))
    assert(!st.contains("s"))
    assert(ColStats.mayOverlap(st, "s", "a", "b")) // conservative
    c.rollback()
  }
}
