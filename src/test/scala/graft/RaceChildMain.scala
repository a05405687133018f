package graft

import graft.table.GraftClient

/** Forked-JVM writer for [[TwoJvmRaceSpec]]: its own SparkSession, its
  * own GraftClient, the SAME on-disk store root as the parent — so every
  * conditional log put races the parent's at real OS atomicity
  * (Files.createLink across processes, matching the reference's os.Link
  * in objectstorage/localobjectstorage.go:58).
  *
  * Protocol on stdout (parent parses):
  *   - `CHILD_READY` once Spark is up, BEFORE the first commit — the
  *     parent holds its own writes until then, so the two JVMs' commit
  *     loops genuinely overlap.
  *   - `CHILD_DONE claimed=<bool> rows=<n>` after the last commit.
  */
object RaceChildMain {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val n = args(1).toInt
    // optional third arg: an http://… endpoint — the LOG then crosses a
    // real socket to the parent's S3DialectServer (200-on-create
    // conditional PUTs, ListObjectsV2 token pagination) while parquet
    // data shares the filesystem root (the S3-deployment split, now
    // ALSO across a process boundary)
    val logStore = args.lift(2).map(new graft.store.S3ObjectStore(_))
    val spark = GraftSession.builder(2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val c = new GraftClient(spark, root, logStore = logStore)
    // cross-process first-writer-wins on a raw conditional put: the
    // parent attempts the same object after this JVM exits and must
    // lose, reading back OUR payload (main_test.go:56-58 semantics at
    // process granularity)
    val claimed = c.store.putIfAbsent("_race_claim", "child".getBytes)
    println("CHILD_READY")
    System.out.flush()
    (0 until n).foreach { i =>
      c.newTx()
      c.insert("t", Seq(100000 + i).toDF("k"))
      // losing a log id to the parent JVM surfaces as a 412-equivalent
      // (FileAlreadyExistsException on the hard link) -> rebase + retry
      c.commitTxRetrying(maxAttempts = 500)
    }
    println(s"CHILD_DONE claimed=$claimed rows=$n")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
