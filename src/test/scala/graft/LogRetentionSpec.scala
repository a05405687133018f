package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.InMemoryObjectStore
import graft.streaming.StreamingSink
import graft.table.GraftClient
import graft.tx.TxLog

/** Pins for log retention and the `_last_checkpoint` pointer: a
  * long-lived table's `_log_*` / `_ckpt_*` population must stay BOUNDED
  * (the unbounded-accumulation gap flagged in round 7), begin() must
  * locate the newest checkpoint from the pointer instead of an
  * ever-growing listing, and reclaimed history must fail loudly — never
  * silently partial — for time travel, change feeds, and history.
  */
class LogRetentionSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def df(rows: (Int, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def logObjects(c: GraftClient): Seq[String] =
    c.store.listPrefixOrdered(TxLog.LogPrefix) ++
      c.store.listPrefixOrdered(TxLog.CkptPrefix) ++
      c.store.listPrefixOrdered(TxLog.CkptPartPrefix)

  test("checkpoint + vacuum bounds the log; begin replays from the pointer") {
    val dir = tmp("graft_ret")
    val c = new GraftClient(spark, dir, checkpointInterval = 0)
    c.newTx(); c.createTable("t", schema); c.commitTx() // v0
    (1 to 40).foreach { i =>
      c.newTx(); c.insert("t", df((i, i.toLong))); c.commitTx()
    }
    assert(c.store.listPrefixOrdered(TxLog.LogPrefix).size === 41)

    val ckptV = c.checkpointNow()
    assert(ckptV === 41)
    // the pointer names the newest checkpoint
    val ptr = new String(c.store.read(TxLog.LastCkptPtr), "UTF-8")
    assert(ptr.contains("41"), s"pointer should name version 41: $ptr")

    c.vacuum(retainVersions = 0)
    // everything below the checkpoint is reclaimed: the whole log
    // population is now the manifest + its parts (no _log_ entries)
    assert(c.store.listPrefixOrdered(TxLog.LogPrefix).isEmpty)
    assert(c.store.listPrefixOrdered(TxLog.CkptPrefix).size === 1)

    // replay from the pointer alone reconstructs the full state, and
    // the version survives (next commit id comes from the checkpoint)
    assert(c.latestVersion === 41)
    c.newTx()
    assert(c.currentState("t", Seq("k")).count() === 40)
    c.rollback()

    // the table keeps working: new commits append past the checkpoint
    c.newTx(); c.insert("t", df((99, 99L))); c.commitTx()
    assert(c.latestVersion === 42)
    c.newTx()
    assert(c.currentState("t", Seq("k")).count() === 41)
    c.rollback()
  }

  test("time travel inside the horizon works; outside it errors loudly") {
    val dir = tmp("graft_ret_tt")
    val c = new GraftClient(spark, dir, checkpointInterval = 0)
    c.newTx(); c.createTable("t", schema); c.commitTx() // v0 -> version 1
    (1 to 20).foreach { i =>
      c.newTx(); c.insert("t", df((i, i.toLong))); c.commitTx()
    }
    // checkpoints at versions 10 and 21; retention keeps the last ~6
    val log = new TxLog(c.store)
    log.checkpoint(log.beginAt(10))
    c.checkpointNow() // version 21
    c.vacuum(retainVersions = 6) // horizon = newest ckpt <= 15 -> 10

    // inside the horizon: exact historical state
    val at16 = c.currentStateAsOf("t", Seq("k"), 16).count()
    assert(at16 === 15, s"version 16 must hold 15 rows, got $at16")

    // outside: loud, named error — not a silently partial snapshot
    val e = intercept[IllegalStateException] {
      c.currentStateAsOf("t", Seq("k"), 5).count()
    }
    assert(e.getMessage.contains("reclaimed"),
      s"expected a reclaimed-history error, got: ${e.getMessage}")

    // raw-entry windows below the horizon refuse too (change feeds,
    // conflict rebase), naming the reclaimed part of the window
    val log2 = new TxLog(c.store)
    def reclaimed(from: Long, to: Long) =
      s"log entries [$from, $to) were reclaimed by vacuum's log " +
        "retention; the oldest retained entry is 10 — restart the " +
        "consumer from a current snapshot"
    val e2 = intercept[IllegalStateException] { log2.entriesBetween(2, 8) }
    assert(e2.getMessage === reclaimed(2, 8))
    val e3 = intercept[IllegalStateException] { log2.actionsBetween(5, 15) }
    assert(e3.getMessage === reclaimed(5, 10))
    val e4 = intercept[IllegalStateException] {
      log2.entriesDetailedBetween(9, 12)
    }
    assert(e4.getMessage === reclaimed(9, 10))
    // a window from the oldest retained entry on reads as before
    assert(log2.entriesBetween(10, 13).map(_._1) === Seq(10L, 11L, 12L))
    assert(log2.entriesBetween(19, 99).map(_._1) === Seq(19L, 20L))
    assert(log2.entriesBetween(21, 99).isEmpty)
  }

  test("a window read refuses a gap inside the retained log") {
    val store = new InMemoryObjectStore
    val c = new GraftClient(spark, tmp("graft_ret_gap"),
      checkpointInterval = 0, logStore = Some(store))
    c.newTx(); c.createTable("t", schema); c.commitTx()
    (1 to 4).foreach { i =>
      c.newTx(); c.insert("t", df((i, i.toLong))); c.commitTx()
    }
    store.delete(TxLog.logName(2))
    val log = new TxLog(store)
    assert(log.entriesBetween(0, 2).map(_._1) === Seq(0L, 1L))
    assert(log.entriesBetween(3, 5).map(_._1) === Seq(3L, 4L))
    Seq((1L, 4L), (2L, 4L)).foreach { case (from, until) =>
      val e = intercept[IllegalStateException] {
        log.entriesBetween(from, until)
      }
      assert(e.getMessage === "transaction log is not contiguous: " +
        "expected id 2, found 3 — the log is corrupt")
    }
  }

  test("vacuum after a deeper prune clamps to available history") {
    val dir = tmp("graft_ret_clamp")
    val c = new GraftClient(spark, dir, checkpointInterval = 0)
    c.newTx(); c.createTable("t", schema); c.commitTx()
    (1 to 10).foreach { i =>
      c.newTx(); c.insert("t", df((i, i.toLong))); c.commitTx()
    }
    c.checkpointNow()
    c.vacuum(retainVersions = 0) // prunes everything below version 11
    // asking for MORE history than remains must not crash or resurrect
    assert(c.vacuum(retainVersions = 100) === 0)
    c.newTx()
    assert(c.currentState("t", Seq("k")).count() === 10)
    c.rollback()
  }

  test("streaming sink table stays bounded across many micro-batches") {
    val dir = tmp("graft_ret_stream")
    // production shape: auto-checkpoint every 5 commits, retain 10
    // versions of log history; the sink commits once per micro-batch
    val c = new GraftClient(spark, dir, checkpointInterval = 5,
      logRetainVersions = 10)
    c.newTx(); c.createTable("t", schema); c.commitTx()
    val sink = StreamingSink.upsertIntoTable(c, "t", Seq("k"), "app_ret")
    (0 until 60).foreach { b => sink(df((b % 7, b.toLong)), b.toLong) }

    val objs = logObjects(c)
    assert(objs.size <= 30,
      s"log population must stay bounded (got ${objs.size}: $objs)")
    c.newTx()
    val rows = c.currentState("t", Seq("k")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    c.rollback()
    // every key holds its LAST batch's value — retention never ate state
    assert(rows === (0 until 7).map(k =>
      k -> (0 until 60).filter(_ % 7 == k).max.toLong).toMap)

    // 60 more batches: the bound holds (it is a bound, not slow growth)
    (60 until 120).foreach { b => sink(df((b % 7, b.toLong)), b.toLong) }
    assert(logObjects(c).size <= 30, "bound must hold at 2x the batches")
  }

  test("pointer survives store round-trip and lags safely (in-memory store)") {
    val store = new InMemoryObjectStore
    val dir = tmp("graft_ret_ptr")
    val c = new GraftClient(spark, dir, checkpointInterval = 0,
      logStore = Some(store))
    c.newTx(); c.createTable("t", schema); c.commitTx()
    c.newTx(); c.insert("t", df((1, 1L))); c.commitTx()
    c.checkpointNow()
    // a stale (older) pointer must not win over a newer checkpoint
    store.put(TxLog.LastCkptPtr, """{"version":0}""".getBytes("UTF-8"))
    val log = new TxLog(store)
    assert(log.newestCheckpointVersion === Some(2L),
      "listing fallback must beat an invalid/stale pointer")
    // a pointer to a missing checkpoint falls back to the listing
    store.put(TxLog.LastCkptPtr, """{"version":999}""".getBytes("UTF-8"))
    assert(log.newestCheckpointVersion === Some(2L))
  }
}
