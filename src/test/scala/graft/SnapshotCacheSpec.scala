package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{LocalObjectStore, ObjectStore}
import graft.table.GraftClient
import graft.tx.TxLog

/** The JVM-wide snapshot cache: begin() re-validates freshness against
  * the store every time (external writers are always seen) but re-reads
  * only the log entries committed since the cached version — the
  * S3-round-trip budget of a transaction begin is O(new commits), not
  * O(retained log).
  */
class SnapshotCacheSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  /** Local store that counts whole-object log reads (in total and per
    * entry) and log listings (full and ranged, with the ranged listing's
    * start key); SAME cacheKey as the wrapped store so the cache engages.
    */
  private class CountingStore(root: String) extends ObjectStore {
    private val under = new LocalObjectStore(root)
    val logReads = new AtomicInteger(0)
    val readsOf = new ConcurrentHashMap[String, AtomicInteger]()
    val fullLogLists = new AtomicInteger(0)
    val rangedLogLists = new ConcurrentLinkedQueue[String]()
    def reset(): Unit = {
      logReads.set(0); readsOf.clear(); fullLogLists.set(0)
      rangedLogLists.clear()
    }
    override def putIfAbsent(name: String, data: Array[Byte]): Boolean =
      under.putIfAbsent(name, data)
    override def listPrefixOrdered(prefix: String): Seq[String] = {
      if (prefix == TxLog.LogPrefix) fullLogLists.incrementAndGet()
      under.listPrefixOrdered(prefix)
    }
    override def listPrefixAfter(prefix: String, after: String): Seq[String] = {
      if (prefix == TxLog.LogPrefix) rangedLogLists.add(after)
      under.listPrefixAfter(prefix, after)
    }
    override def read(name: String): Array[Byte] = {
      if (name.startsWith(TxLog.LogPrefix)) {
        logReads.incrementAndGet()
        readsOf.computeIfAbsent(name, _ => new AtomicInteger(0))
          .incrementAndGet()
      }
      under.read(name)
    }
    override def put(name: String, data: Array[Byte]): Unit =
      under.put(name, data)
    override def delete(name: String): Unit = under.delete(name)
    override def cacheKey: Option[String] = under.cacheKey
  }

  test("begin() after warm cache reads ONLY the new entries") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_snapcache").toString
    val store = new CountingStore(root)
    val writer = new GraftClient(spark, root, logStore = Some(store))
    writer.newTx()
    writer.createTable("t", Seq((1, "a")).toDF("k", "v").schema)
    writer.insert("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    writer.commitTx()
    (0 until 5).foreach { i =>
      writer.newTx()
      writer.insert("t", Seq((10 + i, s"x$i")).toDF("k", "v"))
      writer.commitTx()
    }

    // steady state for the SAME process: its own commits advanced the
    // cache in place, so a fresh tx re-lists but re-reads nothing
    store.logReads.set(0)
    writer.newTx()
    assert(writer.scan("t").count() == 7)
    writer.rollback()
    assert(store.logReads.get() == 0,
      s"warm begin must read zero log bodies, read ${store.logReads.get()}")

    // an EXTERNAL writer commits — through an uncacheable store, so it
    // cannot advance the shared cache (a same-key client would: the
    // cache is shared by canonical root on purpose). The next begin
    // sees it via the tail listing and reads exactly the new entries.
    val foreign = new CountingStore(root) {
      override def cacheKey: Option[String] = None
    }
    val other = new GraftClient(spark, root, logStore = Some(foreign))
    other.newTx()
    other.insert("t", Seq((99, "ext")).toDF("k", "v"))
    other.commitTx()
    store.logReads.set(0)
    writer.newTx()
    assert(writer.scan("t").count() == 8,
      "the cached snapshot must see the external commit")
    writer.rollback()
    assert(store.logReads.get() == 1,
      s"one new commit => one body read, got ${store.logReads.get()}")
  }

  test("cached and cold snapshots agree exactly (post-checkpoint too)") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_snapcache2").toString
    val c = new GraftClient(spark, root)
    c.newTx()
    c.createTable("t", Seq((1L, "a")).toDF("k", "v").schema)
    c.insert("t", (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    c.commitTx()
    c.newTx(); c.deleteRows("t", "k", 10, 19); c.commitTx()
    c.checkpointNow()
    c.newTx(); c.insert("t", Seq((100L, "z")).toDF("k", "v")); c.commitTx()

    val warm = { c.newTx(); val r = c.scan("t").orderBy("k").collect().toSeq
      c.rollback(); r }
    TxLog.clearSnapshotCache()
    val cold = { c.newTx(); val r = c.scan("t").orderBy("k").collect().toSeq
      c.rollback(); r }
    assert(warm == cold, "rolled-forward and cold-replayed snapshots " +
      "must be indistinguishable")
    assert(warm.map(_.getLong(0)) ==
      ((0L until 10L) ++ (20L until 50L) :+ 100L))
  }

  test("a reclaimed tail entry falls back to full replay, never phantom") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_snapcache3").toString
    val c = new GraftClient(spark, root)
    c.newTx()
    c.createTable("t", Seq((1, "a")).toDF("k", "v").schema)
    c.insert("t", Seq((1, "a")).toDF("k", "v"))
    c.commitTx()
    (0 until 3).foreach { i =>
      c.newTx(); c.insert("t", Seq((i, "b")).toDF("k", "v")); c.commitTx()
    }
    // checkpoint + retention prune the entries the cache rolled through;
    // the authentication listing no longer sees the last applied name's
    // predecessor region — begin must re-base, not trust the cache blind
    c.checkpointNow()
    c.vacuum(retainVersions = 0)
    c.newTx()
    assert(c.scan("t").count() == 4)
    c.rollback()
  }

  test("a losing commitTxRetrying rebases with ranged listings only") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_snapcache4").toString
    val store = new CountingStore(root)
    val c = new GraftClient(spark, root, checkpointInterval = 0,
      logStore = Some(store))
    c.newTx()
    c.createTable("t", Seq((1, "a")).toDF("k", "v").schema)
    c.commitTx()
    (0 until 3).foreach { i =>
      c.newTx(); c.insert("t", Seq((i, "a")).toDF("k", "v")); c.commitTx()
    }
    c.newTx()
    c.writeRow("t", Seq(10, "ours"))
    // a peer takes the slot our snapshot would commit at, through an
    // uncacheable store so our cached snapshot does not see it
    val peer = new GraftClient(spark, root, checkpointInterval = 0,
      logStore = Some(new CountingStore(root) {
        override def cacheKey: Option[String] = None
      }))
    peer.newTx(); peer.insert("t", Seq((20, "peer")).toDF("k", "v"))
    peer.commitTx()
    val lost = TxLog.logName(4)
    assert(store.listPrefixOrdered(TxLog.LogPrefix).last == lost)

    store.reset()
    c.commitTxRetrying()
    assert(store.fullLogLists.get() == 0,
      s"the rebase listed the whole log ${store.fullLogLists.get()} times")
    // begin()'s roll-forward tail, then the conflict window [4, 5)
    assert(store.rangedLogLists.asScala.toSeq ==
      Seq(TxLog.logName(2), TxLog.logName(3)))
    val reads = store.readsOf.asScala.map { case (n, k) => n -> k.get() }
    assert(reads == Map(lost -> 2),
      s"only the peer's entry is read, once a listing: $reads")
    assert(c.latestVersion == 6)
    c.newTx()
    assert(c.scan("t").count() == 5)
    c.rollback()

    // a window read outside a commit: one ranged listing, its bodies
    store.reset()
    val window = new TxLog(store).entriesBetween(1, 4)
    assert(window.map(_._1) == Seq(1L, 2L, 3L))
    assert(store.fullLogLists.get() == 0 &&
      store.rangedLogLists.asScala.toSeq == Seq(TxLog.logName(0)))
    assert(store.logReads.get() == 3)
  }
}
