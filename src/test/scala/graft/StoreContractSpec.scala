package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{FaultInjectingObjectStore, InMemoryObjectStore, LocalObjectStore, ObjectStore}
import graft.tx._

/** The ObjectStore contract, run against every implementation, plus the
  * tx log exercised over the non-FS store (portability proof) and over
  * the S3-model fault store (the commit protocol under object-storage
  * failure realities: latency, throttling, ambiguous puts, stale lists).
  */
class StoreContractSpec extends AnyFunSuite {

  /** A contract row's store, and what stops the server behind it. */
  private final class Fixture(val store: ObjectStore,
      val stop: () => Unit = () => ())

  private def impls: Seq[(String, () => Fixture)] = Seq(
    "local-fs" -> (() => new Fixture(
      new LocalObjectStore(Files.createTempDirectory("store_c").toString))),
    "in-memory" -> (() => new Fixture(new InMemoryObjectStore)),
    // latency on every verb so the contract holds with real request gaps
    "s3-model" -> (() => new Fixture(new FaultInjectingObjectStore(
      putLatencyMs = 2, listLatencyMs = 1, readLatencyMs = 1))),
    // the S3 REST dialect: 200-on-create conditional PUT, ListObjectsV2
    // XML pages via continuation tokens (pageSize=2 forces pagination in
    // every listing test), and injected 409 conflicts the client's
    // bounded no-effect retry must absorb
    "s3-dialect" -> (() => {
      val srv = new graft.store.S3DialectServer(new InMemoryObjectStore,
        conflict409EveryNth = 5)
      new Fixture(new graft.store.S3ObjectStore(srv.url, pageSize = 2),
        () => srv.stop())
    }),
    // the S3 dialect behind REAL SigV4 verification (round 14): the
    // server recomputes the signature from the wire request — canonical
    // request, the request's own SignedHeaders, sha-256 of the received
    // payload — so the in-repo signer must produce bytes a real
    // endpoint would accept, not just a header that is present
    "s3-sigv4" -> (() => {
      val srv = new graft.store.S3DialectServer(new InMemoryObjectStore,
        requireSigV4 = Some(("AKIDGRAFT", "graft-secret", "us-east-1")))
      new Fixture(new graft.store.S3ObjectStore(srv.url, pageSize = 2,
        sign = graft.store.S3ObjectStore.sigV4("AKIDGRAFT",
          () => "graft-secret", "us-east-1")),
        () => srv.stop())
    }))

  impls.foreach { case (name, mk) =>
    /** Runs `f` on a fresh store of this row, then stops its server. */
    def withStore(f: ObjectStore => Unit): Unit = {
      val fx = mk()
      try f(fx.store) finally fx.stop()
    }

    test(s"$name: putIfAbsent is create-if-absent; read returns the winner") {
      withStore { s =>
        assert(s.putIfAbsent("a", "one".getBytes))
        assert(!s.putIfAbsent("a", "two".getBytes))
        assert(new String(s.read("a")) == "one")
        intercept[java.nio.file.NoSuchFileException](s.read("absent"))
        // a deleted key is free again: the next conditional put wins
        s.delete("a")
        assert(s.putIfAbsent("a", "three".getBytes))
        assert(new String(s.read("a")) == "three")
      }
    }

    test(s"$name: listPrefixOrdered is ascending and prefix-filtered") {
      withStore { s =>
        s.putIfAbsent(TxLog.logName(2), "b".getBytes)
        s.putIfAbsent(TxLog.logName(0), "a".getBytes)
        s.putIfAbsent(TxLog.logName(10), "c".getBytes)
        s.putIfAbsent("_other", "x".getBytes)
        assert(s.listPrefixOrdered(TxLog.LogPrefix) ==
          Seq(TxLog.logName(0), TxLog.logName(2), TxLog.logName(10)))
      }
    }

    test(s"$name: contention admits exactly one winner") {
      withStore { s =>
        val pool = Executors.newFixedThreadPool(8)
        val start = new CountDownLatch(1)
        val futures = (1 to 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              start.await()
              s.putIfAbsent("_log_1", s"w$i".getBytes)
            }
          })
        }
        start.countDown()
        val results = futures.map(_.get(30, TimeUnit.SECONDS))
        pool.shutdown()
        assert(results.count(identity) == 1)
      }
    }
  }

  test("ambiguous put failure: object is visible, read-back disambiguates") {
    val s = new FaultInjectingObjectStore(ambiguousEveryNthPut = 1)
    val ex = intercept[java.io.IOException] {
      s.putIfAbsent("_log_1", "mine".getBytes)
    }
    assert(ex.getMessage.contains("ambiguous"))
    // the write actually landed — the S3 timeout-after-commit hazard; a
    // retry must NOT treat the later "already exists" as a lost race
    // without reading back whose payload won
    assert(new String(s.read("_log_1")) == "mine")
    assert(!s.putIfAbsent("_log_1", "theirs".getBytes))
    assert(new String(s.read("_log_1")) == "mine")
  }

  test("stale lists: a reader commits only after its view converges") {
    val schema = StructType(Seq(StructField("a", StringType)))
    val store = new FaultInjectingObjectStore(staleListWindow = 2)
    val log = new TxLog(store)
    log.commit(log.begin(), Seq(ChangeMetadata("t", schema)))
    // the fresh log entry is hidden for its next 2 list calls: a reader
    // beginning now sees version 0 again and MUST lose the conditional
    // put — stale lists can cost retries, never correctness
    val stale = log.begin()
    assert(stale.version == 0, "list served a stale view")
    intercept[CommitConflictException] {
      log.commit(stale, Seq(ChangeMetadata("u", schema)))
    }
    log.begin() // second stale window elapses
    val fresh = log.begin()
    assert(fresh.version == 1 && fresh.tables.contains("t"))
    log.commit(fresh, Seq(ChangeMetadata("u", schema)))
    log.begin(); log.begin() // drain the new entry's stale window
    val fin = log.begin()
    assert(fin.version == 2 && fin.tables.keySet == Set("t", "u"))
  }

  test("concurrent committers linearize under latency + throttling + stale lists") {
    val schema = StructType(Seq(StructField("a", StringType)))
    val store = new FaultInjectingObjectStore(putLatencyMs = 2,
      listLatencyMs = 1, failEveryNthPut = 7, staleListWindow = 1)
    val log = new TxLog(store)
    var boot = 0
    while (boot == 0) { // bootstrap commit may itself hit an injected 503
      try { log.commit(log.begin(), Seq(ChangeMetadata("t", schema))); boot = 1 }
      catch { case _: java.io.IOException => () }
    }
    val writers = 4
    val perWriter = 8
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val futures = (0 until writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          var committed = 0
          var attempts = 0
          while (committed < perWriter && attempts < 500) {
            attempts += 1
            try {
              log.commit(log.begin(), Seq(AddDataObject("t",
                s"_table_t_w${w}_$committed", 0, 1)))
              committed += 1
            } catch {
              case _: CommitConflictException => () // lost the id race
              case _: java.io.IOException => ()     // injected 503: retry
            }
          }
          committed
        }
      })
    }
    start.countDown()
    val done = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(done.forall(_ == perWriter), s"writers finished: $done")
    (0 until 2).foreach(_ => log.begin()) // drain stale windows
    val snap = log.begin()
    assert(snap.version == (writers * perWriter + 1).toLong,
      "one contiguous log id per committed tx, no gaps, no duplicates")
    assert(snap.liveFiles("t").map(_.path).toSet ==
      (for { w <- 0 until writers; i <- 0 until perWriter }
        yield s"_table_t_w${w}_$i").toSet)
    assert(store.putAttempts > (writers * perWriter).toLong,
      "injected faults + races must have forced retries")
  }

  test("full client commits through the fault store: races + 503s retry clean") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("graft_fault_client").toString
    // one SHARED log store (as S3 would be), data objects on local FS
    val faultStore = new FaultInjectingObjectStore(putLatencyMs = 1,
      failEveryNthPut = 5)
    def client() = new graft.table.GraftClient(spark, dir,
      logStore = Some(faultStore))
    val schema = StructType(Seq(StructField("k", IntegerType)))
    def retrying[A](f: => A): A = {
      var out: Option[A] = None
      var attempts = 0
      while (out.isEmpty && attempts < 50) {
        attempts += 1
        try out = Some(f)
        catch { case _: java.io.IOException => () } // injected 503
      }
      out.getOrElse(fail("50 attempts exhausted"))
    }
    val c0 = client()
    retrying { c0.newTx(); c0.createTable("t", schema); c0.commitTx() }
    val (c1, c2) = (client(), client())
    (0 until 5).foreach { i =>
      import scala.jdk.CollectionConverters._
      def ins(c: graft.table.GraftClient, k: Int): Unit = retrying {
        c.newTx()
        c.insert("t", spark.createDataFrame(
          List(org.apache.spark.sql.Row(k)).asJava, schema))
        c.commitTxRetrying() // rebases past the sibling's appends
      }
      ins(c1, i); ins(c2, 100 + i)
    }
    val c = client()
    retrying { c.newTx() }
    try {
      assert(c.scan("t").count() === 10L,
        "every append survived throttling + append-append races")
      assert(faultStore.putAttempts > 11L, "faults actually fired")
    } finally c.rollback()
  }

  test("s3 dialect: tx log end-to-end (commits, checkpoint, cold replay) " +
    "through XML-paginated listings and injected 409s") {
    val srv = new graft.store.S3DialectServer(new InMemoryObjectStore,
      conflict409EveryNth = 3)
    try {
      val store = new graft.store.S3ObjectStore(srv.url, pageSize = 2)
      val log = new TxLog(store)
      val schema = StructType(Seq(StructField("a", StringType)))
      log.commit(log.begin(), Seq(ChangeMetadata("t", schema)))
      (0 until 9).foreach { i =>
        log.commit(log.begin(),
          Seq(AddDataObject("t", f"_table_t_$i%03d", i.toLong, 1)))
      }
      log.checkpoint(log.begin())
      // a COLD client (fresh instance cache key) replays checkpoint +
      // tail purely through token-paginated LIST + GET
      val cold = new TxLog(new graft.store.S3ObjectStore(srv.url,
        pageSize = 2)).begin()
      assert(cold.version == 10)
      assert(cold.liveFiles("t").map(_.path) ==
        (0 until 9).map(i => f"_table_t_$i%03d").toVector)
    } finally srv.stop()
  }

  test("s3 dialect: an UNSIGNED client against an auth-enforcing " +
    "endpoint fails loudly on every verb — never a silent no-op") {
    val srv = new graft.store.S3DialectServer(new InMemoryObjectStore,
      requireSigV4 = Some(("AK", "sk", "us-east-1")))
    try {
      val signed = new graft.store.S3ObjectStore(srv.url,
        sign = graft.store.S3ObjectStore.sigV4("AK", () => "sk", "us-east-1"))
      assert(signed.putIfAbsent("k", "v".getBytes))
      val unsigned = new graft.store.S3ObjectStore(srv.url)
      intercept[java.io.IOException] { unsigned.read("k") }
      intercept[java.io.IOException] { unsigned.put("k2", "x".getBytes) }
      intercept[java.io.IOException] { unsigned.putIfAbsent("k3", "x".getBytes) }
      intercept[java.io.IOException] { unsigned.delete("k") }
      intercept[java.io.IOException] { unsigned.listPrefixOrdered("") }
      // the signed client still sees intact state afterwards
      assert(new String(signed.read("k")) == "v")
      assert(signed.listPrefixOrdered("") == Vector("k"))
    } finally srv.stop()
  }

  test("s3 dialect: keys with spaces, pluses, and percent signs " +
    "round-trip under their TRUE names (RFC 3986 paths, not form " +
    "encoding) and list under the right prefix") {
    val srv = new graft.store.S3DialectServer(new InMemoryObjectStore)
    try {
      val store = new graft.store.S3ObjectStore(srv.url, pageSize = 2)
      // URLEncoder-style form encoding would ship "a b" as "a+b" — a
      // DIFFERENT physical key to S3 — while listings return the true
      // name, so prefix reads would miss the object entirely
      val keys = Seq("a b_1", "a+b_2", "a%20b_3", "a b+c%d_4")
      keys.foreach(k => assert(store.putIfAbsent(k, k.getBytes("UTF-8"))))
      keys.foreach(k =>
        assert(new String(store.read(k), "UTF-8") == k,
          s"round-trip under the true key: $k"))
      assert(store.listPrefixOrdered("a b").toSet == Set("a b_1", "a b+c%d_4"))
      assert(store.listPrefixOrdered("a+b") == Vector("a+b_2"))
      assert(store.listPrefixOrdered("a%20b") == Vector("a%20b_3"))
    } finally srv.stop()
  }

  test("s3 dialect: a lister paging with continuation tokens stays " +
    "complete while a concurrent writer appends (read-after-list race)") {
    val srv = new graft.store.S3DialectServer(new InMemoryObjectStore)
    try {
      val store = new graft.store.S3ObjectStore(srv.url, pageSize = 2)
      (0 until 10).foreach(i =>
        store.putIfAbsent(TxLog.logName(i), s"v$i".getBytes))
      val writer = new Thread(() =>
        (10 until 30).foreach { i =>
          store.putIfAbsent(TxLog.logName(i), s"v$i".getBytes)
          Thread.sleep(1)
        })
      writer.start()
      try {
        // every key present at LIST start must appear exactly once, in
        // order, regardless of how many pages the listing spans and how
        // many keys land mid-pagination (appended keys sort AFTER the
        // cursor, so they may or may not appear — never duplicated)
        (0 until 20).foreach { _ =>
          val keys = store.listPrefixOrdered(TxLog.LogPrefix)
          assert(keys == keys.sorted && keys.distinct == keys,
            s"pagination produced out-of-order or duplicate keys")
          assert((0 until 10).forall(i => keys.contains(TxLog.logName(i))),
            "a key present at LIST start fell out of a paginated listing")
        }
      } finally writer.join()
    } finally srv.stop()
  }

  test("s3 dialect: persistent 409 surfaces as I/O failure (ambiguity " +
    "stays visible), transient 409 retries to an effectful outcome") {
    val always = new graft.store.S3DialectServer(new InMemoryObjectStore,
      conflict409EveryNth = 1)
    try {
      val s = new graft.store.S3ObjectStore(always.url)
      val e = intercept[java.io.IOException] {
        s.putIfAbsent("_log_1", "x".getBytes)
      }
      assert(e.getMessage.contains("409"))
    } finally always.stop()
    val sometimes = new graft.store.S3DialectServer(new InMemoryObjectStore,
      conflict409EveryNth = 2)
    try {
      val s = new graft.store.S3ObjectStore(sometimes.url)
      // every other conditional PUT 409s first — the bounded retry must
      // absorb it and still arbitrate create-if-absent correctly
      (0 until 6).foreach(i =>
        assert(s.putIfAbsent(s"_log_$i", "a".getBytes)))
      assert(!s.putIfAbsent("_log_3", "b".getBytes))
      assert(new String(s.read("_log_3")) == "a")
    } finally sometimes.stop()
  }

  test("tx log runs unchanged over the in-memory store") {
    val schema = StructType(Seq(StructField("a", StringType)))
    val log = new TxLog(new InMemoryObjectStore)

    val s0 = log.begin()
    assert(s0.version == 0)
    log.commit(s0, Seq(ChangeMetadata("t", schema)))

    val s1 = log.begin()
    assert(s1.version == 1 && s1.tables.contains("t"))
    // stale snapshot loses the race for id 1
    intercept[CommitConflictException] {
      log.commit(s0, Seq(ChangeMetadata("u", schema)))
    }

    log.checkpoint(s1)
    log.commit(s1, Seq(AddDataObject("t", "_table_t_x", 1, 5)))
    val s2 = log.begin() // replays ckpt@1 + log 1
    assert(s2.version == 2)
    assert(s2.liveFiles("t").map(_.path) == Vector("_table_t_x"))
    assert(s2.tables("t") == schema)
  }
}
