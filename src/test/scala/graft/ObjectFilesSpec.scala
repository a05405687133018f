package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.InMemoryObjectStore
import graft.table.{GraftClient, ObjectFiles}

/** A local Hadoop scheme (`graftlsc://`) that counts the listings of
  * data objects (`_table_<t>_<uuid>` directories).
  */
final class ObjectListCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftlsc"
  override def getUri: java.net.URI = java.net.URI.create("graftlsc:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName.startsWith("_table_"))
      ObjectListCountingFs.objectListings.incrementAndGet()
    super.listStatus(f)
  }
}

object ObjectListCountingFs {
  val objectListings = new AtomicInteger(0)
}

/** Object reads planned from the JVM-wide cache of each object's part
  * files ([[graft.table.ObjectFiles]]): a warm read lists no object and
  * runs no listing job, a read of a reclaimed object fails loudly with
  * the cache cold or warm, and vacuum evicts what it deletes.
  */
class ObjectFilesSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 3).as("v"))

  /** `t` (k, v) with rows 0..99, one object per insert of `objects`. */
  private def table(root: String, objects: Int = 2): GraftClient = {
    val c = new GraftClient(spark, root,
      logStore = Option.when(root.startsWith("graftlsc:"))(
        new InMemoryObjectStore))
    c.newTx()
    c.createTable("t", rows(0, 1).schema)
    val step = 100 / objects
    (0 until objects).foreach { i =>
      c.insert("t", rows(i * step, if (i == objects - 1) 100 else (i + 1) * step))
    }
    c.commitTx()
    c
  }

  private def count(c: GraftClient): Long = {
    c.newTx()
    try c.scan("t").count() finally c.commitTx()
  }

  private def objectDirs(root: String, c: GraftClient, v: Long): Seq[Path] =
    c.objectsAsOf("t", v).map(a => new Path(root, a.path))

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def withIgnoreMissing[A](body: => A): A = {
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try body finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
  }

  /** Fails unless `f` throws with a `FileNotFoundException` in its cause
    * chain.
    */
  private def assertMissingFile(f: => Any): Unit = {
    val e = intercept[Exception](f)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"expected a missing-file failure, got: $e")
  }

  test("a second read of the same objects lists none of them") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftlsc.impl", classOf[ObjectListCountingFs].getName)
    val local = Files.createTempDirectory("graft_objlists").toString
    val c = table(s"graftlsc:$local")
    c.newTx()
    c.insert("t", rows(100, 200))
    c.commitTx()
    val listings = ObjectListCountingFs.objectListings
    val cold = listings.get
    assert(count(c) === 200L)
    assert(listings.get > cold, "the first read lists its objects")
    val warm = listings.get
    assert(count(c) === 200L)
    assert(listings.get === warm)
  }

  test("a warm read of more than 32 objects runs no listing job") {
    val c = table(Files.createTempDirectory("graft_objjobs").toString,
      objects = 40)
    assert(c.objectsAsOf("t", c.latestVersion).size === 40)
    def listingJobs(f: => Unit): (Int, Int) = {
      val starts = SparkTestSession.jobStartsDuring(f)
      (starts.size, starts.count(e => Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .exists(_.startsWith("Listing leaf files"))))
    }
    val (coldJobs, coldListings) = listingJobs(assert(count(c) === 100L))
    assert(coldListings === 1, "past 32 cold objects Spark lists in a job")
    val (warmJobs, warmListings) = listingJobs(assert(count(c) === 100L))
    assert(warmListings === 0)
    assert(warmJobs < coldJobs)
  }

  test("a read planned after its objects were reclaimed fails loudly, " +
    "with the cache cold or warm, under ignoreMissingFiles=true") {
    /** `t` at v1, then truncated: v1's objects are reclaimable. */
    def truncated(): (String, GraftClient, Long) = {
      val root = Files.createTempDirectory("graft_objgone").toString
      val c = table(root)
      val v1 = c.latestVersion
      c.newTx()
      c.truncate("t")
      c.commitTx()
      (root, c, v1)
    }
    withIgnoreMissing {
      // cold: never read before vacuum reclaimed it
      val (neverRoot, never, nv1) = truncated()
      assert(!objectDirs(neverRoot, never, nv1)
        .exists(ObjectFiles.isCached(fsOf(neverRoot), _)))
      assert(never.vacuum(retainVersions = 0) > 0)
      assertMissingFile(never.scanAsOf("t", nv1).count())

      // cold again: read, then evicted by the vacuum that deletes it
      val (_, evicted, ev1) = truncated()
      assert(evicted.scanAsOf("t", ev1).count() === 100L)
      assert(evicted.vacuum(retainVersions = 0) > 0)
      assertMissingFile(evicted.scanAsOf("t", ev1).count())

      // warm: another process reclaimed the objects, so this JVM's
      // cache still lists their part files
      val (staleRoot, stale, sv1) = truncated()
      val fs = fsOf(staleRoot)
      assert(stale.scanAsOf("t", sv1).count() === 100L)
      val dirs = objectDirs(staleRoot, stale, sv1)
      assert(dirs.forall(ObjectFiles.isCached(fs, _)))
      dirs.foreach(d => fs.delete(d, true))
      assertMissingFile(stale.scanAsOf("t", sv1).count())
    }
  }

  test("vacuum evicts the cached listings of the objects it deletes") {
    val root = Files.createTempDirectory("graft_objevict").toString
    val fs = fsOf(root)
    val c = table(root)
    val v1 = c.latestVersion
    c.newTx()
    c.insert("t", rows(100, 200))
    c.commitTx()
    val v2 = c.latestVersion
    assert(count(c) === 200L)
    val old = objectDirs(root, c, v1)
    val all = objectDirs(root, c, v2)
    assert(all.forall(ObjectFiles.isCached(fs, _)))
    c.newTx()
    c.deleteRows("t", "k", 0L, 99L) // drops v1's objects metadata-only
    c.commitTx()
    assert(c.vacuum(retainVersions = 0) > 0)
    assert(!old.exists(ObjectFiles.isCached(fs, _)))
    assert(all.diff(old).forall(ObjectFiles.isCached(fs, _)))
    assert(count(c) === 100L)
  }
}
