package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{InMemoryObjectStore, LocalObjectStore, S3DialectServer, S3ObjectStore}
import graft.table.GraftClient

/** The networked-store story beyond the shared contract rows in
  * [[StoreContractSpec]]: the commit protocol's If-None-Match put and
  * paged ordered LIST crossing REAL HTTP sockets in the S3 dialect (the
  * reference's own minio/S3 TODO, README.md:30) — a full table
  * lifecycle with the log on the wire, a commit race where every
  * conditional put is a network round-trip, and server-side failures
  * surfacing as HTTP errors.
  */
class S3StoreSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def withServer[A](f: S3ObjectStore => A): A = {
    val srv = new S3DialectServer(new InMemoryObjectStore)
    try f(new S3ObjectStore(srv.url))
    finally srv.stop()
  }

  test("full client lifecycle with the log on the wire") {
    val ss = spark
    import ss.implicits._
    withServer { store =>
      // data objects on local FS (parquet), every LOG operation an HTTP
      // round-trip — the deployment split a real S3-backed cluster has
      val dir = Files.createTempDirectory("graft_s3_client").toString
      val c = new GraftClient(ss, dir, logStore = Some(store))
      c.newTx()
      c.createTable("t", StructType(Seq(
        StructField("k", IntegerType, nullable = false),
        StructField("v", StringType))))
      c.insert("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
      c.commitTx()
      c.newTx()
      c.insert("t", Seq((3, "c"), (4, "d")).toDF("k", "v"))
      c.commitTx()
      val preDelete = c.latestVersion
      c.newTx()
      c.deleteWhere("t", col("k") === 2)
      c.commitTx()
      c.newTx()
      c.compact("t")
      c.commitTxRetrying()
      c.newTx()
      // time travel BEFORE vacuum: pre-compaction objects still extant
      assert(c.scanAsOf("t", preDelete).count() == 4L,
        "time travel across the wire-logged history")
      c.rollback()
      assert(c.vacuum(retainVersions = 0) >= 0)
      c.newTx()
      assert(c.scan("t").select("k").collect().map(_.getInt(0)).sorted
        .toSeq == Seq(1, 3, 4))
      c.rollback()
    }
  }

  test("commit race through real sockets: one winner per log id") {
    val ss = spark
    import ss.implicits._
    withServer { store =>
      val dir = Files.createTempDirectory("graft_s3_race").toString
      val boot = new GraftClient(ss, dir, logStore = Some(store))
      boot.newTx()
      boot.createTable("t", StructType(Seq(
        StructField("k", IntegerType, nullable = false))))
      boot.commitTx()
      val writers = 4
      val pool = Executors.newFixedThreadPool(writers)
      val start = new CountDownLatch(1)
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            val c = new GraftClient(ss, dir, logStore = Some(store))
            (0 until 3).foreach { i =>
              c.newTx()
              c.insert("t", Seq(w * 100 + i).toDF("k"))
              // socket latency widens the race window: give losers
              // enough rebase attempts to drain a 4-writer pile-up
              c.commitTxRetrying(maxAttempts = 100)
            }
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      val c = new GraftClient(ss, dir, logStore = Some(store))
      c.newTx()
      try assert(c.scan("t").count() == 12L,
        "every racing append must survive 412-mediated rebases")
      finally c.rollback()
    }
  }

  test("server-side faults surface as HTTP errors; commits still linearize") {
    // the S3-model fault store BEHIND the server: injected 503s become
    // real HTTP 500s, and the tx log's commit loop must converge over
    // them with no gap and no duplicate — failure handling exercised
    // through an actual socket, not a same-process throw
    val faulty = new graft.store.FaultInjectingObjectStore(
      failEveryNthPut = 5)
    val srv = new S3DialectServer(faulty)
    try {
      val s = new S3ObjectStore(srv.url)
      val log = new graft.tx.TxLog(s)
      var committed = 0
      var attempts = 0
      while (committed < 12 && attempts < 200) {
        attempts += 1
        try {
          log.commit(log.begin(),
            Seq(graft.tx.AddDataObject("t", s"_table_t_$committed", 0, 1)))
          committed += 1
        } catch {
          case _: java.io.IOException => () // injected 503 over the wire
          case _: graft.tx.CommitConflictException => ()
        }
      }
      assert(committed == 12, s"only $committed commits in $attempts tries")
      assert(attempts > 12, "faults must actually have fired")
      val snap = log.begin()
      assert(snap.version == 12L, "contiguous ids despite wire faults")
      assert(snap.liveFiles("t").map(_.path).toSet ==
        (0 until 12).map(i => s"_table_t_$i").toSet)
    } finally srv.stop()
  }

  test("ambiguous put over the wire: 500 after the write landed, read-back wins") {
    // the S3 timeout-after-commit hazard through a REAL socket: the
    // server-side store persists the object then errors, the client
    // sees HTTP 500, and the commit protocol's read-back recovery must
    // classify it as own-write-landed (success), not a lost race
    val faulty = new graft.store.FaultInjectingObjectStore(
      ambiguousEveryNthPut = 1)
    val srv = new S3DialectServer(faulty)
    try {
      val s = new S3ObjectStore(srv.url)
      val log = new graft.tx.TxLog(s)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.StringType)))
      // every put is ambiguous: commit must still succeed via read-back
      log.commit(log.begin(), Seq(graft.tx.ChangeMetadata("t", schema)))
      val snap = log.begin()
      assert(snap.version == 1L && snap.tables.contains("t"),
        "ambiguous-but-landed commit must read back as success")
    } finally srv.stop()
  }

  test("server fronting a local-FS store: durability tier swaps freely") {
    // same wire protocol, hard-link-atomic backing — the configuration
    // a single-box deployment would run
    val root = Files.createTempDirectory("graft_s3_fs").toString
    val srv = new S3DialectServer(new LocalObjectStore(root))
    try {
      val s = new S3ObjectStore(srv.url)
      assert(s.putIfAbsent("_log_1", "x".getBytes))
      assert(!s.putIfAbsent("_log_1", "y".getBytes))
      // the object is REALLY on disk where the backing store put it
      assert(new String(Files.readAllBytes(
        java.nio.file.Paths.get(root, "_log_1"))) == "x")
    } finally srv.stop()
  }
}

object S3StoreSpec {
  /** Median ms of `n` calls of `f`, after a few warm-up calls. */
  def medianMs(n: Int)(f: => Any): Double = {
    (1 to 5).foreach(_ => f)
    val ms = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ms(n / 2)
  }

  /** The median of 50 GETs of a 600-byte object, and of 50 LISTs, must
    * stay under 10 ms. With Nagle on, each body waited for the client's
    * delayed ACK: 44 ms a call.
    */
  def assertFastReads(s: graft.store.ObjectStore): Unit = {
    s.put("obj_600", Array.fill[Byte](600)(7))
    val get = medianMs(50)(s.read("obj_600"))
    val list = medianMs(50)(s.listPrefixOrdered(""))
    assert(get < 10.0 && list < 10.0,
      f"median GET $get%.1f ms, LIST $list%.1f ms (limit 10 ms)")
  }
}
