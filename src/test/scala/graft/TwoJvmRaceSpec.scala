package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{InMemoryObjectStore, ObjectStore, S3DialectServer, S3ObjectStore}
import graft.table.GraftClient

/** The commit protocol across PROCESS boundaries: a second JVM (forked
  * with the same classpath) races `commitTxRetrying` against this one
  * over the same store. Every prior race pin (the 4-thread contention
  * rows, StatsMergeSpec) ran inside one JVM, where the store's
  * atomicity could in principle have been an artifact of JVM memory
  * fences; these tests ground first-writer-wins + rebase in
  *
  *   - OS-level hard-link atomicity (Files.createLink ≙ the reference's
  *     os.Link, objectstorage/localobjectstorage.go:58) for the
  *     local-FS store, and
  *   - a REAL network round-trip per conditional put for the S3
  *     dialect (both JVMs' If-None-Match puts arriving at one
  *     S3DialectServer over sockets),
  *
  * the semantics the reference pins in main_test.go:56-58.
  */
class TwoJvmRaceSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  /** Fork the child, overlap its commits with the parent's, assert no
    * lost commit + contiguous log + cross-process conditional-put
    * winner. `parentStore` None = shared local-FS log; Some = the
    * parent's store with `childUrl` handed to the child JVM.
    */
  private def runRace(parentStore: Option[ObjectStore],
      childUrl: Option[String]): Unit = {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_2jvm").toString
    val parent = new GraftClient(ss, root, logStore = parentStore)
    parent.newTx()
    parent.createTable("t", StructType(Seq(
      StructField("k", IntegerType, nullable = false))))
    parent.commitTx()

    val childCommits = 6
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx3g", "-cp", System.getProperty("java.class.path"),
      "graft.RaceChildMain", root, childCommits.toString) ++
      childUrl.toSeq)
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(false).start()
    val stdout = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    // drain stderr (Spark logs) so the child never blocks on a full pipe
    val drainer = new Thread(() => {
      val buf = new Array[Byte](8192)
      try while (proc.getErrorStream.read(buf) >= 0) () catch {
        case _: java.io.IOException => ()
      }
    })
    drainer.setDaemon(true)
    drainer.start()

    try {
      // hold our writes until the child is actually up, so the two
      // JVMs' commit loops overlap instead of running serially
      var line = stdout.readLine()
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(4)
      while (line != null && !line.contains("CHILD_READY")) {
        assert(System.nanoTime() < deadline, "child never became ready")
        line = stdout.readLine()
      }
      assert(line != null, "child exited before CHILD_READY")

      // parent commits as long as the child is alive (and at least 5),
      // so contention spans the child's entire run
      var parentCommits = 0
      while (proc.isAlive || parentCommits < 5) {
        parent.newTx()
        parent.insert("t", Seq(parentCommits).toDF("k"))
        parent.commitTxRetrying(maxAttempts = 500)
        parentCommits += 1
        assert(parentCommits < 5000, "runaway parent loop")
      }
      assert(proc.waitFor(4, TimeUnit.MINUTES), "child did not exit")
      assert(proc.exitValue() == 0, "child JVM failed")
      var done: String = null
      var l = stdout.readLine()
      while (l != null && done == null) {
        if (l.contains("CHILD_DONE")) done = l else l = stdout.readLine()
      }
      assert(done != null && done.contains("claimed=true"),
        s"child must have won the unclaimed marker: $done")

      // first-writer-wins across processes: the child's conditional put
      // landed first; ours must lose and read back ITS payload
      assert(!parent.store.putIfAbsent("_race_claim", "parent".getBytes))
      assert(new String(parent.store.read("_race_claim")) == "child")

      // no lost commit, no duplicate: every row from both JVMs exactly
      // once, and the log is one contiguous id per committed tx
      parent.newTx()
      val ks = parent.scan("t").select("k").collect()
        .map(_.getInt(0)).sorted.toSeq
      val expect = ((0 until parentCommits) ++
        (0 until childCommits).map(100000 + _)).sorted
      assert(ks == expect, s"rows diverged: got ${ks.length}, " +
        s"expected ${expect.length}")
      assert(parent.latestVersion == (1 + parentCommits + childCommits).toLong,
        "one contiguous log id per commit — no gaps, none lost")
      parent.rollback()
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
    }
  }

  test("two JVMs race commitTxRetrying: no lost commit, contiguous log") {
    runRace(None, None)
  }

  test("two JVMs race through ONE S3-dialect store: 200-on-create " +
    "conditional PUTs + token-paginated listings across processes") {
    val srv = new S3DialectServer(new InMemoryObjectStore,
      conflict409EveryNth = 7)
    try runRace(Some(new S3ObjectStore(srv.url, pageSize = 3)),
      Some(srv.url))
    finally srv.stop()
  }
}
