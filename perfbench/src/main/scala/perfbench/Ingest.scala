package perfbench

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.store.{InMemoryObjectStore, ObjectStore, S3DialectServer, S3ObjectStore}
import graft.table.GraftClient

/** The `ingest` workload: writes on the production-shaped plane. Each
  * table's log sits on [[S3ObjectStore]] with SigV4 signing against an
  * in-process [[S3DialectServer]] over loopback; data objects sit on the
  * bench-registered Hadoop scheme. Two appenders make small `writeRow`
  * commits to `events` back to back, one reader makes `scanEquals` point
  * reads of `events`, and one mutator runs merge, delete, compact and
  * vacuum on `kv`, a table in its own store that only it writes. A round
  * is the reader's and the mutator's share, run against the appenders'
  * load; it ends when both finish, so a slower op of any kind lengthens
  * it.
  */
final class Ingest(spark: SparkSession, ops: Ops, root: String, seed: Long,
    smoke: Boolean) extends Workload {
  import Ingest._
  val primary = "append"

  private val commitsPerRound = if (smoke) 1 else 8
  private val readsPerRound = if (smoke) 2 else 6
  private val rowsPerCommit = 8
  private val kvKeys = if (smoke) 200 else 2000
  private val mergeRows = 100

  private val secret = "benchsecret"
  private def server() = new S3DialectServer(new InMemoryObjectStore,
    requireSigV4 = Some(("AK", secret, "us-east-1")))
  private val eventsServer = server()
  private val kvServer = server()
  private def store(srv: S3DialectServer, table: String): ObjectStore = new MeteredStore(
    new S3ObjectStore(srv.url, sign = S3ObjectStore.sigV4("AK", () => secret, "us-east-1")), table)

  private val eventsRoot = s"${BenchFs.Scheme}:$root/events"
  private val kvRoot = s"${BenchFs.Scheme}:$root/kv"
  private def client(srv: S3DialectServer, dataRoot: String, table: String) =
    new GraftClient(spark, dataRoot, logStore = Some(store(srv, table)))

  private val appenders = Seq(1, 2).map(w => new Appender(w, client(eventsServer, eventsRoot, "events")))
  private val reader = new Reader(client(eventsServer, eventsRoot, "events"))
  private val mutator = new Mutator(client(kvServer, kvRoot, "kv"))
  private val pool = Executors.newFixedThreadPool(4)

  /** Acknowledged append commits, commits begun, and keys acknowledged. */
  private val acked = new AtomicLong(0)
  private val begun = new AtomicLong(0)
  private val ackedKeys = mutable.ArrayBuffer[Long]()

  def setup(): Unit = {
    val c = appenders.head.c
    c.newTx(); c.createTable("events", EventsSchema); c.commitTxRetrying()
    mutator.load()
    round() // warm: every op kind runs once before timing
  }

  /** Rounds: a round is the ingest workload's pass. The appenders commit
    * back to back while rounds run (a fixed share per round left them
    * idle most of it), which more than doubles the commit samples a run
    * gets for the same time.
    */
  def run(seconds: Double, minRounds: Int): Seq[Double] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val walls = mutable.ArrayBuffer[Double]()
    val stop = new AtomicBoolean(false)
    val appending = appenders.map(a => pool.submit(task(while (!stop.get) a.commit())))
    try while (walls.length < minRounds || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      Seq(task(reader.round()), task(mutator.round())).map(pool.submit(_)).foreach(_.get())
      walls += (System.nanoTime() - t0) / 1e9
    } finally {
      stop.set(true)
      appending.foreach(_.get())
    }
    walls.toSeq
  }

  /** The warm round: every op kind runs its share once. */
  private def round(): Unit = {
    val tasks: Seq[Callable[Unit]] =
      appenders.map(a => task(a.round())) ++ Seq(task(reader.round()), task(mutator.round()))
    tasks.map(pool.submit(_)).foreach(_.get())
  }
  private def task(body: => Unit): Callable[Unit] = () => body

  /** End-state checks against the model the bench keeps. */
  override def verify(): Unit = {
    ops.run("verify", "events_rows") {
      val c = reader.c
      c.newTx()
      val n = try c.scan("events").count() finally c.rollback()
      val want = acked.get * rowsPerCommit
      if (n == want) None else Some(s"events holds $n rows, acknowledged appends wrote $want")
    }
    ops.run("verify", "kv_state") {
      val c = mutator.c
      c.newTx()
      val got = try c.currentState("kv", Seq("k")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap finally c.rollback()
      if (got == mutator.model.toMap) None
      else Some(s"kv holds ${got.size} keys, model ${mutator.model.size}; " +
        s"${got.count { case (k, v) => !mutator.model.get(k).contains(v) }} differ")
    }
  }

  def filesLive: Long = {
    val c = reader.c
    c.newTx()
    try c.objects("events").length.toLong finally c.rollback()
  }

  override def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
    eventsServer.stop()
    kvServer.stop()
  }

  private final class Appender(writer: Int, val c: GraftClient) {
    private val rng = new Random(seed * 31 + writer)
    private var seq = 0L
    def round(): Unit = (1 to commitsPerRound).foreach(_ => commit())
    def commit(): Unit = {
      val keys = (0 until rowsPerCommit).map(_ => { seq += 1; writer * KeySpan + seq })
      ops.run("append", s"append_w$writer") {
        Trace.span("tx.begin")(c.newTx())
        begun.incrementAndGet()
        keys.zipWithIndex.foreach { case (k, i) =>
          Trace.span("table.write_row")(c.writeRow("events",
            Seq(k, if (i == 0) 1 else 0, writer, rng.alphanumeric.take(16 + rng.nextInt(48)).mkString)))
        }
        try Trace.span("tx.commit")(c.commitTxRetrying(maxAttempts = 50))
        catch {
          case e: graft.tx.CommitConflictException =>
            Counters.add("tx.commit.conflict_aborts", 1); throw e
        }
        acked.incrementAndGet()
        ackedKeys.synchronized(ackedKeys ++= keys)
        None
      }
    }
  }

  /** Alternates a read of the marker rows (one per commit, so its count is
    * the number of commits in the snapshot read) with a point read of one
    * acknowledged key (exactly one row).
    */
  private final class Reader(val c: GraftClient) {
    private val rng = new Random(seed * 31 + 7)
    private var lastMarkers = 0L
    private var n = 0
    def round(): Unit = (1 to readsPerRound).foreach { _ =>
      n += 1
      if (n % 2 == 1 || ackedKeys.synchronized(ackedKeys.isEmpty)) ops.run("read", "read_markers") {
        val lo = acked.get
        val got = read("marker", 1)
        val hi = begun.get
        val ok = got >= lo && got <= hi && got >= lastMarkers
        lastMarkers = math.max(lastMarkers, got)
        if (ok) None
        else Some(s"marker count $got outside [$lo, $hi] or below the previous read")
      }
      else {
        val k = ackedKeys.synchronized(ackedKeys(rng.nextInt(ackedKeys.length)))
        ops.run("read", "read_key") {
          val got = read("k", k)
          if (got == 1) None else Some(s"key $k read $got rows, expected 1")
        }
      }
    }
    private def read(column: String, value: Any): Long = {
      Trace.span("tx.begin")(c.newTx())
      try {
        val df = Trace.span("table.scan_equals")(c.scanEquals("events", column, value))
        if (Counters.on) {
          Counters.add("table.point_reads", 1)
          Counters.add("table.files_read", df.inputFiles.length)
          Counters.add("table.files_considered", c.objects("events").length)
        }
        Trace.span("table.count")(df.count())
      } finally c.rollback()
    }
  }

  /** Runs merge, delete, compact and vacuum on `kv`, keeping the
    * latest-wins key model the table must match.
    */
  private final class Mutator(val c: GraftClient) {
    private val rng = new Random(seed * 31 + 11)
    val model = mutable.Map[Long, Long]()
    private var version = 0L

    def load(): Unit = {
      val rows = (0 until kvKeys).map(k => (k.toLong, rng.nextInt(1000000).toLong))
      model ++= rows
      c.newTx()
      c.createTable("kv", KvSchema)
      c.insert("kv", df(rows))
      c.commitTxRetrying()
    }

    private def df(rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v) => Row(k, v) }, 1), KvSchema)

    private def tx(kind: String, span: String)(body: => Unit): Unit =
      ops.run(kind, kind) {
        Trace.span("tx.begin")(c.newTx())
        Trace.span(span)(body)
        Trace.span("tx.commit")(c.commitTxRetrying())
        None
      }

    def round(): Unit = {
      version += 1
      val upserts = (0 until mergeRows).map(_ =>
        rng.nextInt(kvKeys + kvKeys / 4).toLong -> (version * 1000000 + rng.nextInt(1000000)))
        .toMap.toSeq
      tx("merge", "table.merge")(c.merge("kv", df(upserts), Seq("k")))
      model ++= upserts
      val lo = rng.nextInt(kvKeys).toLong
      tx("delete", "table.delete")(c.deleteWhere("kv", col("k").between(lo, lo + 9)))
      (lo to lo + 9).foreach(model.remove)
      tx("compact", "table.compact")(c.compact("kv"))
      ops.run("vacuum", "vacuum") {
        Trace.span("table.vacuum")(c.vacuum(retainVersions = 0))
        None
      }
    }
  }
}

object Ingest {
  /** Writer w appends keys w * KeySpan + 1, 2, ...: increasing per
    * writer, so each small object covers a narrow key range.
    */
  val KeySpan = 1000000000L
  val EventsSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("marker", IntegerType),
    StructField("writer", IntegerType), StructField("payload", StringType)))
  val KvSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))
}
