package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.InMemoryObjectStore
import graft.table.GraftClient

/** A Hadoop FileSystem under a NON-local scheme (`graftfs://`), backed
  * by RawLocalFileSystem: every data-plane byte must cross the Hadoop
  * FS abstraction to reach it — any java.io/NIO shortcut on the data
  * path would miss the scheme and fail loudly. This is the "rootDir on
  * a remote FS" contract pin: with the LOG on the pluggable ObjectStore
  * (here in-memory) and the DATA under this scheme, a full
  * insert/scan/delete/time-travel lifecycle proves the read/write path
  * depends only on `spark.read.parquet` / `df.write.parquet` semantics,
  * exactly the split Delta runs on (LogStore vs Hadoop FS).
  *
  * The MAINTENANCE data plane rides the same abstraction (round 11):
  * staging moves (insertPartitioned/compact/clusterBy/REORG), vacuum
  * deletes, manifest listings, and CDF spill pages all go through the
  * Hadoop FileSystem resolved from rootDir's scheme — pinned below by
  * running the full maintenance lifecycle with rootDir on graftfs://.
  */
final class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** A RENAME-LESS filesystem: every data-plane write must be
  * direct-to-final ([[graft.table.DirectCommitProtocol]]) — one rename
  * anywhere in the lifecycle fails the suite loudly. Also counts bytes
  * created, so a maintenance pass can assert it paid ~1× write I/O for
  * the bytes it laid out (the staged-rename design paid 2× on stores
  * where rename is copy+delete — exactly the S3A-shaped stores this
  * scheme models).
  */
final class GraftNoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftnr"
  override def getUri: java.net.URI = java.net.URI.create("graftnr:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    throw new UnsupportedOperationException(
      s"rename is forbidden on graftnr:// ($src -> $dst)")
  // the NON-permission variant is the funnel: RawLocalFileSystem's
  // permission overload delegates to it virtually, and parquet's
  // HadoopOutputFile reaches it via FileSystem.create(Path, boolean) —
  // overriding only the permission variant counts nothing
  override def create(f: org.apache.hadoop.fs.Path,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize,
      replication, blockSize, progress)
    new org.apache.hadoop.fs.FSDataOutputStream(
      new java.io.FilterOutputStream(out) {
        override def write(b: Int): Unit = {
          out.write(b); GraftNoRenameFs.bytesWritten.incrementAndGet(); ()
        }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          out.write(b, off, len)
          GraftNoRenameFs.bytesWritten.addAndGet(len.toLong); ()
        }
      }, null)
  }
}

object GraftNoRenameFs {
  val bytesWritten = new java.util.concurrent.atomic.AtomicLong(0)
}

class RemoteFsSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  test("full client lifecycle with the data plane on a non-local " +
    "Hadoop scheme: insert, pruned scan, CoW + DV delete, time travel") {
    val ss = spark
    import ss.implicits._
    ss.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = Files.createTempDirectory("graft_remote_fs").toString
    val root = s"graftfs:$local"
    val c = new GraftClient(ss, root,
      logStore = Some(new InMemoryObjectStore))

    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType))))
    c.insert("t", (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    c.insert("t", (50L until 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    c.commitTx()

    c.newTx()
    assert(c.scan("t").count() == 100)
    // stats pruning works through the scheme (footers read via Hadoop FS)
    val hit = c.scanRange("t", "k", 10, 20)
    assert(hit.count() == 11)
    assert(hit.inputFiles.forall(_.startsWith("graftfs:")),
      "scan must read through the non-local scheme")
    assert(hit.inputFiles.map(_.split('/').dropRight(1).last)
      .distinct.length == 1, "range scan must prune to the first object")
    c.rollback()

    // copy-on-write delete: rewrite job writes through the scheme
    c.newTx()
    c.deleteRows("t", "k", 0, 9)
    c.commitTx()
    // DV delete: the vector object also rides the scheme
    c.newTx()
    c.deleteRowsDV("t", "k", 90, 99)
    c.commitTx()

    c.newTx()
    assert(c.scan("t").count() == 80)
    assert(c.currentState("t", Seq("k")).count() == 80)
    // time travel re-reads pre-delete objects that only exist remotely
    assert(c.scanAsOf("t", 1).count() == 100)
    c.rollback()

    // a fresh client replays the in-memory log and reads the same bytes
    val c2 = new GraftClient(ss, root,
      logStore = Some(new InMemoryObjectStore))
    // (fresh in-memory store is EMPTY — this client must see no table)
    c2.newTx()
    assert(!c2.tables.contains("t"),
      "log lives in the store, not on the data filesystem")
    c2.rollback()
  }

  test("maintenance data plane crosses the non-local scheme: " +
    "partitioned insert, compact, cluster, z-order, REORG, manifest, " +
    "wide-window CDF spill, vacuum") {
    val ss = spark
    import ss.implicits._
    ss.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = Files.createTempDirectory("graft_remote_fs_maint").toString
    val root = s"graftfs:$local"
    val c = new GraftClient(ss, root,
      logStore = Some(new InMemoryObjectStore))

    def fixture(i: Long) = (i, (i % 5).toInt, s"v$i", i.toDouble)

    c.newTx()
    c.createTable("m", StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", IntegerType, nullable = false),
      StructField("v", StringType),
      StructField("x", DoubleType, nullable = false))))
    c.setTableProperties("m", Map("graft.enableChangeDataFeed" -> "true"))
    c.commitTx()
    // insertPartitioned: leaf-dir walk + renames on the remote scheme
    c.newTx()
    c.insertPartitioned("m", (0L until 100L).map(fixture)
      .toDF("k", "p", "v", "x"), "p")
    c.commitTx()
    c.newTx()
    assert(c.objects("m").length == 5)
    assert(c.scan("m").count() == 100)
    c.rollback()
    // several small appends to give compact bins, then compact
    (0 until 4).foreach { j =>
      c.newTx()
      c.insert("m", (100L + j * 10 until 110L + j * 10).map(fixture)
        .toDF("k", "p", "v", "x"))
      c.commitTx()
    }
    c.newTx(); c.compact("m", targetRows = 64); c.commitTx()
    c.newTx()
    assert(c.scan("m").count() == 140)
    // clusterBy + z-order: relayout staging rides the scheme
    c.clusterBy("m", "k", numBuckets = 4)
    c.commitTx()
    c.newTx(); c.clusterByZOrder("m", "k", "x", numBuckets = 4); c.commitTx()
    c.newTx()
    assert(c.scan("m").count() == 140)
    // REORG (rewriteObjects) after a metadata-only drop
    c.dropColumn("m", "v")
    c.commitTx()
    c.newTx(); c.materializeSchema("m"); c.commitTx()
    c.newTx()
    assert(c.scan("m").count() == 140)
    assert(c.scan("m").columns.toSet == Set("k", "p", "x", "_tx_id", "_row_idx"))
    // manifest export lists part files through the scheme
    val outDir = Files.createTempDirectory("graft_remote_mf").toString
    val mf = c.generateManifest("m", outDir)
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(mf)))
      .asScala.filter(_.nonEmpty)
    assert(lines.nonEmpty && lines.forall(_.startsWith("graftfs:")),
      s"manifest must list scheme-qualified paths, got: ${lines.take(2)}")
    c.rollback()
    // wide-window CDF with a tiny union page size: spill pages must be
    // written and read through the scheme, under the client's spill root
    ss.conf.set("spark.graft.cdf.unionPageSize", "2")
    try {
      c.newTx()
      val changes = c.changesByFile("m", 0, c.latestVersion)
      assert(changes.count() > 0)
      assert(changes.inputFiles.forall(_.startsWith("graftfs:")),
        "CDF spill pages must live on the data filesystem")
      c.rollback()
    } finally ss.conf.unset("spark.graft.cdf.unionPageSize")
    val spills = new java.io.File(local).listFiles()
      .filter(_.getName.startsWith("_cdfspill_"))
    assert(spills.nonEmpty, "wide-window CDF must spill under rootDir")
    // vacuum reclaims spill roots only past the AGE horizon — a fresh
    // spill may back an in-flight DataFrame (this one does), so the
    // default 1 h retention must SPARE it...
    c.vacuum(retainVersions = 0)
    assert(new java.io.File(local).listFiles().map(_.getName)
      .exists(_.startsWith("_cdfspill_")),
      "a fresh spill must survive vacuum (age horizon)")
    // ...and reclaim it once aged out (tests collapse the horizon to 0)
    ss.conf.set("spark.graft.cdf.spillRetainMs", "0")
    try c.vacuum(retainVersions = 0)
    finally ss.conf.unset("spark.graft.cdf.spillRetainMs")
    val after = new java.io.File(local).listFiles().map(_.getName)
    assert(!after.exists(_.startsWith("_cdfspill_")),
      "vacuum must reclaim CDF spill roots past the age horizon")
    assert(!after.exists(_.startsWith("_staging_")))
    c.newTx()
    assert(c.scan("m").count() == 140, "vacuum must spare the live set")
    c.rollback()
  }

  test("wide scanSemi probes sidecars EXECUTOR-side through a non-local " +
    "scheme: the broadcast Hadoop conf must resolve graftfs:// on the " +
    "task side") {
    val ss = spark
    import ss.implicits._
    ss.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = Files.createTempDirectory("graft_remote_wide").toString
    val root = s"graftfs:$local"
    val c = new GraftClient(ss, root,
      logStore = Some(new InMemoryObjectStore))
    c.newTx()
    c.createTable("w", StructType(Seq(
      StructField("k", StringType), StructField("x", LongType))))
    c.registerBlooms("w", Seq("k"))
    c.commitTx()
    (0 until 4).foreach { o =>
      c.newTx()
      c.insert("w", (0 until 200).map { i =>
        val k = if (i == 0) "aaa" else if (i == 199) "zzz"
          else s"k_${o}_$i"
        (k, o * 1000L + i)
      }.toDF("k", "x").coalesce(1))
      c.commitTx()
    }
    c.newTx()
    // sidecars live under graftfs://; force the EXECUTOR-side load path
    // by clearing the shared JVM cache the driver may have warmed
    GraftClient.bloomSidecarCache.clear()
    val keys = ((1 to 8).map(i => s"k_1_$i") ++
      (1 to 4).map(i => s"absent_$i")).toDF("key")
    val got = c.scanSemi("w", "k", keys, maxKeys = 4)
    assert(got.count() == 8)
    assert(got.select("x").as[Long].collect().toSet ==
      (1 to 8).map(1000L + _).toSet)
    assert(got.inputFiles.forall(_.startsWith("graftfs:")),
      "the pruned scan must stay on the scheme")
    c.rollback()
  }

  test("ZERO renames across the whole lifecycle on a rename-less FS: " +
    "insert, partitioned insert, CoW + DV delete, merge, CDC, compact, " +
    "cluster, z-order, REORG, wide-window CDF spill, vacuum — and " +
    "maintenance pays ~1x write I/O for the bytes it lays out") {
    val ss = spark
    import ss.implicits._
    ss.sparkContext.hadoopConfiguration
      .set("fs.graftnr.impl", classOf[GraftNoRenameFs].getName)
    val local = Files.createTempDirectory("graft_norename").toString
    val root = s"graftnr:$local"
    val c = new GraftClient(ss, root,
      logStore = Some(new InMemoryObjectStore))

    def fixture(i: Long) = (i, (i % 5).toInt, s"v$i", i.toDouble)
    c.newTx()
    c.createTable("m", StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("p", IntegerType, nullable = false),
      StructField("v", StringType),
      StructField("x", DoubleType, nullable = false))))
    c.setTableProperties("m", Map("graft.enableChangeDataFeed" -> "true"))
    c.commitTx()
    c.newTx()
    c.insertPartitioned("m", (0L until 100L).map(fixture)
      .toDF("k", "p", "v", "x"), "p")
    c.commitTx()
    (0 until 4).foreach { j =>
      c.newTx()
      c.insert("m", (100L + j * 10 until 110L + j * 10).map(fixture)
        .toDF("k", "p", "v", "x"))
      c.commitTx()
    }
    // row-level mutations: CoW rewrite, DV, merge (all write objects)
    c.newTx(); c.deleteRows("m", "k", 0, 4); c.commitTx()
    c.newTx(); c.deleteRowsDV("m", "k", 5, 9); c.commitTx()
    c.newTx()
    c.merge("m", Seq((50L, 0, "v50_m", 50.0), (500L, 0, "new", 500.0))
      .toDF("k", "p", "v", "x"), Seq("k"))
    c.commitTx()

    // maintenance write-byte accounting around compact: the direct
    // committer pays the laid-out bytes ONCE (the staged-rename design
    // paid the staging write AND the rename-copy on stores without
    // native rename). Bound loosely — footers/padding vary — but a 2x
    // staging hop cannot pass 1.5x.
    GraftNoRenameFs.bytesWritten.set(0L)
    c.newTx(); c.compact("m", targetRows = 1 << 20); c.commitTx()
    val paid = GraftNoRenameFs.bytesWritten.get()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    c.newTx()
    val laidOut = c.objects("m").map(a => fs.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$root/${a.path}")).getLength).sum
    c.rollback()
    assert(paid > 0 && laidOut > 0)
    assert(paid < (laidOut * 3) / 2,
      s"compact wrote $paid bytes for $laidOut laid-out bytes — " +
        "direct-to-final must pay ~1x, not a staging multiple")

    c.newTx(); c.clusterBy("m", "k", numBuckets = 4); c.commitTx()
    c.newTx(); c.clusterByZOrder("m", "k", "x", numBuckets = 4); c.commitTx()
    c.newTx(); c.dropColumn("m", "v"); c.commitTx()
    c.newTx(); c.materializeSchema("m"); c.commitTx()
    // wide-window CDF spill pages ride the direct committer too
    ss.conf.set("spark.graft.cdf.unionPageSize", "2")
    try {
      c.newTx()
      assert(c.changesByFile("m", 0, c.latestVersion).count() > 0)
      c.rollback()
    } finally ss.conf.unset("spark.graft.cdf.unionPageSize")
    ss.conf.set("spark.graft.cdf.spillRetainMs", "0")
    try c.vacuum(retainVersions = 0)
    finally ss.conf.unset("spark.graft.cdf.spillRetainMs")

    c.newTx()
    // 140 inserted − 10 deleted + 1 merged-in new key + 1 newer version
    // of the merged key = 132 live versions, 131 latest-state keys
    assert(c.scan("m").count() == 132)
    assert(c.currentState("m", Seq("k")).count() == 131)
    c.rollback()
  }

  test("a file: root logs on local disk; any other scheme without a " +
    "logStore is refused, and neither leaves a directory named after " +
    "its scheme in the working directory") {
    val ss = spark
    import ss.implicits._
    val local = Files.createTempDirectory("graft_file_root").toString
    val c = new GraftClient(ss, s"file:$local")
    c.newTx()
    c.createTable("t", StructType(Seq(StructField("k", IntegerType))))
    c.insert("t", Seq(1, 2).toDF("k"))
    c.commitTx()
    // the log sits in the root itself: a plain-path client replays it
    val plain = new GraftClient(ss, local)
    plain.newTx()
    try assert(plain.scan("t").count() == 2L)
    finally plain.rollback()

    val e = intercept[IllegalArgumentException](
      new GraftClient(ss, s"graftnolog:$local"))
    assert(e.getMessage.contains("'graftnolog'") &&
      e.getMessage.contains("logStore"), e.getMessage)
    Seq("file:", "graftnolog:").foreach(d =>
      assert(!Files.exists(java.nio.file.Paths.get(d)),
        s"a directory named $d appeared in the working directory"))
  }
}
