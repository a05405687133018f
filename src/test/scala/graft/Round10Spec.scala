package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{InMemoryObjectStore, ObjectStore}
import graft.table.GraftClient
import graft.tx.TxLog

/** Round-10 hardening pins: abortAndClean must never delete COMMITTED
  * object paths staged as maintenance amendments; the snapshot cache is
  * bounded (per-instance cache keys cannot leak heap); changesByFile
  * pages wide commit windows through a parquet spill so plan depth
  * stays bounded; and the
  * change-feed streaming sources accept startingVersion /
  * startingTimestamp so a stream can begin past a pruned log head.
  */
class Round10Spec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  // ---------------------------------------------------------------- //
  // abortAndClean vs maintenance amendments (ADVICE r9, medium)
  // ---------------------------------------------------------------- //

  test("abortAndClean spares committed paths staged by analyzeNdv " +
    "amendments, still reclaims the tx's own objects") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_abort").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("v", StringType))))
    c.insert("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    c.commitTx()

    // analyzeNdv stages remove+re-add of COMMITTED paths (bloom-style
    // metadata amendment); the abort must not delete their bytes
    c.newTx()
    c.analyzeNdv("t", Seq("k"))
    // ... while a genuinely tx-created object must still be reclaimed
    c.insert("t", Seq((9, "z")).toDF("k", "v"))
    c.abortAndClean()

    c.newTx()
    val rows = c.scan("t").select("k").as[Int].collect().sorted
    assert(rows.toSeq == Seq(1, 2, 3),
      "committed data must survive an aborted maintenance tx")
    c.rollback()
    // the aborted insert's object is physically gone (orphan reclaimed)
    val dataDirs = new java.io.File(root).listFiles()
      .filter(f => f.getName.startsWith("_table_"))
    assert(dataDirs.length == 1,
      s"expected only the committed object to remain, found: " +
        dataDirs.map(_.getName).mkString(", "))
  }

  // ---------------------------------------------------------------- //
  // snapshot cache is bounded (ADVICE r9, low)
  // ---------------------------------------------------------------- //

  test("snapshot cache evicts LRU past 64 entries — per-instance " +
    "cache keys cannot grow heap without bound") {
    TxLog.clearSnapshotCache()
    val mem = new InMemoryObjectStore
    // seed one committed entry so begin() has something to cache
    val seedLog = new TxLog(new ObjectStore {
      override def putIfAbsent(n: String, d: Array[Byte]) = mem.putIfAbsent(n, d)
      override def listPrefixOrdered(p: String) = mem.listPrefixOrdered(p)
      override def read(n: String) = mem.read(n)
      override def put(n: String, d: Array[Byte]) = mem.put(n, d)
      override def delete(n: String) = mem.delete(n)
      override val cacheKey = Some("r10-seed")
    })
    seedLog.commit(seedLog.begin(), Vector(graft.tx.ChangeMetadata("t",
      StructType(Seq(StructField("k", IntegerType))))))
    (0 until 100).foreach { i =>
      val st = new ObjectStore {
        override def putIfAbsent(n: String, d: Array[Byte]) = mem.putIfAbsent(n, d)
        override def listPrefixOrdered(p: String) = mem.listPrefixOrdered(p)
        override def read(n: String) = mem.read(n)
        override def put(n: String, d: Array[Byte]) = mem.put(n, d)
        override def delete(n: String) = mem.delete(n)
        override val cacheKey = Some(s"r10-instance-$i")
      }
      new TxLog(st).begin()
    }
    assert(TxLog.snapshotCacheSize <= 64,
      s"cache grew to ${TxLog.snapshotCacheSize} entries")
    TxLog.clearSnapshotCache()
  }

  // ---------------------------------------------------------------- //
  // changesByFile wide-window paging (VERDICT r9 #4)
  // ---------------------------------------------------------------- //

  test("changesByFile over a wide commit window pages through a spill: " +
    "correct rows, no N-way union in the plan") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_cdfwide").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", IntegerType, nullable = false))))
    c.setTableProperties("t", Map(GraftClient.CdfProperty -> "true"))
    c.commitTx()
    val nCommits = 40
    (0 until nCommits).foreach { i =>
      c.newTx()
      c.insert("t", Seq(i).toDF("k"))
      c.commitTx()
    }
    ss.conf.set("spark.graft.cdf.unionPageSize", "8")
    try {
      val df = c.changesByFile("t", 0, c.latestVersion)
      // plan depth is bounded: the wide window collapses to ONE parquet
      // scan of the spill, not a 40-way union
      val hasUnion = df.queryExecution.optimizedPlan.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }.nonEmpty
      assert(!hasUnion, "wide window must spill, not union per commit")
      val got = df.select("k", GraftClient.ChangeTypeCol, "_commit_version")
        .as[(Int, String, Long)].collect().sortBy(_._1).toSeq
      assert(got.map(_._1) == (0 until nCommits))
      assert(got.forall(_._2 == "insert"))
      assert(got.map(_._3) == (1 to nCommits).map(_.toLong))
      // narrow windows keep the direct union path (no spill I/O)
      val narrow = c.changesByFile("t", 0, 4)
      assert(narrow.count() == 3)
    } finally ss.conf.unset("spark.graft.cdf.unionPageSize")
  }

  // ---------------------------------------------------------------- //
  // change-feed streams start past a pruned log head (ADVICE r9, low)
  // ---------------------------------------------------------------- //

  test("file-level CDF stream with startingVersion begins there; " +
    "keyed CDF stream honors startingTimestamp too") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_cdfstart").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", IntegerType, nullable = false))))
    c.setTableProperties("t", Map(GraftClient.CdfProperty -> "true"))
    c.commitTx()
    (0 until 6).foreach { i =>
      c.newTx(); c.insert("t", Seq(i).toDF("k")); c.commitTx()
    }

    // seeded at version 5: the first batch covers [5, latest) only — a
    // stream can begin past a pruned log head instead of failing at 0
    val q = ss.readStream.format("graft").option("table", "t")
      .option("changeFeed", "true").option("startingVersion", "5")
      .load(root)
      .writeStream.format("memory").queryName("r10_cdf_seeded")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ks = ss.table("r10_cdf_seeded").select("k")
      .as[Int].collect().sorted.toSeq
    assert(ks == Seq(4, 5), s"seeded stream must start at v5, got $ks")

    // keyed feed with startingTimestamp before every commit (epoch 0):
    // versionAfter resolves to the first version, full feed
    val q2 = ss.readStream.format("graft").option("table", "t")
      .option("changeFeed", "true").option("keyColumns", "k")
      .option("startingTimestamp", "0").load(root)
      .writeStream.format("memory").queryName("r10_cdf_keyed")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(ss.table("r10_cdf_keyed").count() == 6)

    // startingVersion and startingTimestamp together refuse loudly
    // (source creation happens on the stream thread, so the require
    // surfaces as the query's terminal exception)
    val bad = ss.readStream.format("graft").option("table", "t")
      .option("changeFeed", "true").option("startingVersion", "3")
      .option("startingTimestamp", "0").load(root)
      .writeStream.format("memory").queryName("r10_cdf_bad")
      .outputMode("append").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try bad.processAllAvailable() finally bad.stop()
      bad.awaitTermination(10000)
      throw bad.exception.getOrElse(
        fail("conflicting start options must fail the stream"))
    }
    assert(err.getMessage.contains("mutually exclusive") ||
      Option(err.getCause).exists(_.getMessage.contains("mutually exclusive")))
  }
  // ---------------------------------------------------------------- //
  // Nested struct types end-to-end (VERDICT r9 #1)
  // ---------------------------------------------------------------- //

  test("nested structs: create/insert/scan, stats pruning on a nested " +
    "leaf, and in-struct schema evolution reading null on old rows") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nested").toString
    val c = new GraftClient(ss, root)
    val metaT = StructType(Seq(
      StructField("source", StringType),
      StructField("ts", LongType)))
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaT)))

    def rowsDf(ids: Range, src: String) =
      ids.toDF("id").select(col("id"),
        struct(lit(src).as("source"), (col("id") * 1000L).as("ts"))
          .cast(metaT).as("meta"))

    c.newTx()
    c.createTable("docs", schema)
    c.insert("docs", rowsDf(0 until 10, "web"))
    c.insert("docs", rowsDf(10 until 20, "books"))
    c.commitTx()

    // nested-leaf stats pruning: each insert is one object whose
    // meta.source is constant, so an equality scan opens ONE object
    c.newTx()
    val pruned = c.scanBounded("docs", Seq("meta.source" -> ("web", "web")))
    val opened = pruned.inputFiles
      .map(_.split('/').dropRight(1).last).distinct
    assert(opened.length == 1,
      s"meta.source bounds must prune to one object, opened: ${opened.length}")
    assert(pruned.filter(col("meta.source") === "web").count() == 10)
    // and an unmatched range opens nothing
    assert(c.scanBounded("docs",
      Seq("meta.source" -> ("zzz", "zzz"))).inputFiles.isEmpty)
    // nested numeric leaf prunes too
    assert(c.scanBounded("docs",
      Seq("meta.ts" -> (0L, 5000L))).inputFiles
      .map(_.split('/').dropRight(1).last).distinct.length == 1)
    c.rollback()

    // in-struct evolution: meta.lang added metadata-only; old rows null
    c.newTx()
    c.addColumn("docs", StructField("meta.lang", StringType))
    val evolvedMeta = StructType(metaT.fields :+
      StructField("lang", StringType))
    c.insert("docs", (20 until 25).toDF("id").select(col("id"),
      struct(lit("wiki").as("source"), (col("id") * 1000L).as("ts"),
        lit("en").as("lang")).cast(evolvedMeta).as("meta")))
    c.commitTx()

    c.newTx()
    val all = c.scan("docs")
      .select(col("id"), col("meta.source").as("src"),
        col("meta.lang").as("lang"))
      .as[(Int, String, String)].collect().sortBy(_._1).toSeq
    assert(all.size == 25)
    assert(all.filter(_._1 < 20).forall(_._3 == null),
      "pre-evolution rows must read the new nested leaf as null")
    assert(all.filter(_._1 >= 20).forall(t => t._3 == "en" && t._2 == "wiki"))
    // snapshot replay round-trips the nested schema (fresh client)
    c.rollback()
    val c2 = new GraftClient(ss, root)
    c2.newTx()
    assert(c2.schemaOf("docs")("meta").dataType == evolvedMeta)
    assert(c2.scan("docs").count() == 25)
    c2.rollback()

    // nested drop/rename refuse loudly (add-only below the top level)
    c.newTx()
    intercept[IllegalArgumentException](c.dropColumn("docs", "meta.ts"))
    intercept[IllegalArgumentException](
      c.renameColumn("docs", "meta.ts", "meta.when"))
    c.rollback()
  }

  test("nested structs survive delete / time travel / currentState") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nested2").toString
    val c = new GraftClient(ss, root)
    val metaT = StructType(Seq(
      StructField("source", StringType),
      StructField("score", DoubleType)))
    c.newTx()
    c.createTable("d", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaT))))
    def df(ids: Range, src: String) = ids.toDF("id").select(col("id"),
      struct(lit(src).as("source"), (col("id") * 1.5).as("score"))
        .cast(metaT).as("meta"))
    c.insert("d", df(0 until 10, "a"))
    c.commitTx()
    c.newTx()
    c.insert("d", df(5 until 10, "b")) // newer versions of 5..9
    c.commitTx()
    c.newTx()
    c.deleteRows("d", "id", 8, 9)
    c.commitTx()
    c.newTx()
    val cur = c.currentState("d", Seq("id"))
      .select(col("id"), col("meta.source").as("s"))
      .as[(Int, String)].collect().sortBy(_._1).toSeq
    assert(cur == ((0 until 5).map(i => (i, "a")) ++
      (5 until 8).map(i => (i, "b"))))
    val asOf = c.currentStateAsOf("d", Seq("id"), 1)
    assert(asOf.count() == 10)
    assert(asOf.filter(col("meta.source") === "b").count() == 0)
    c.rollback()
  }
  test("SQL catalog: nested struct schema through CREATE/INSERT/SELECT, " +
    "nested ALTER ADD COLUMN") {
    val ss = spark
    val root = Files.createTempDirectory("graft_r10_nestcat").toString
    ss.conf.set("spark.sql.catalog.r10nest", "graft.sql.GraftCatalog")
    ss.conf.set("spark.sql.catalog.r10nest.root", root)
    ss.sql("CREATE TABLE r10nest.d " +
      "(id BIGINT, meta STRUCT<source: STRING, ts: BIGINT>)")
    ss.sql("INSERT INTO r10nest.d VALUES " +
      "(1, named_struct('source', 'web', 'ts', 100L)), " +
      "(2, named_struct('source', 'books', 'ts', 200L))")
    assert(ss.sql("SELECT meta.source FROM r10nest.d WHERE meta.ts = 200")
      .collect().map(_.getString(0)).toSeq == Seq("books"))
    // in-struct evolution through the client against the same store;
    // the catalog sees the evolved schema on next resolution
    val c = new GraftClient(ss, root)
    c.newTx()
    c.addColumn("d", StructField("meta.lang", StringType))
    c.commitTx()
    ss.sql("INSERT INTO r10nest.d VALUES " +
      "(3, named_struct('source', 'wiki', 'ts', 300L, 'lang', 'en'))")
    val out = ss.sql("SELECT id, meta.source, meta.lang FROM r10nest.d " +
      "ORDER BY id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(out == Seq((1L, "web", null), (2L, "books", null),
      (3L, "wiki", "en")))
  }
  // ---------------------------------------------------------------- //
  // LIKE-prefix pruning on string stats (VERDICT r9 #6)
  // ---------------------------------------------------------------- //

  test("scanPrefix prunes objects through string min/max; connector " +
    "pushes StringStartsWith into the same bounds") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_prefix").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", LongType, nullable = false))))
    // one object per key prefix family: alpha*, beta*, gamma*
    Seq("alpha", "beta", "gamma").foreach { p =>
      c.insert("t", (0 until 5).map(i => (s"$p$i", i.toLong)).toDF("k", "v"))
    }
    c.commitTx()
    c.newTx()
    val hit = c.scanPrefix("t", "k", "beta")
    assert(hit.inputFiles.map(_.split('/').dropRight(1).last)
      .distinct.length == 1,
      "prefix scan must open only the beta object")
    assert(hit.count() == 5)
    // a prefix BETWEEN two objects' ranges opens nothing
    assert(c.scanPrefix("t", "k", "delta").inputFiles.isEmpty)
    // prefix ending in \uFFFF: upper bound drops the maximal char
    assert(graft.tx.ColStats.prefixUpperBound("ab\uffff") == "ac")
    assert(graft.tx.ColStats.prefixUpperBound("\uffff") == null)
    assert(graft.tx.ColStats.prefixUpperBound("b") == "c")
    c.rollback()

    // connector path: LIKE 'beta%' pushes StringStartsWith -> bounds
    val df = ss.read.format("graft").option("table", "t").load(root)
      .filter(col("k").startsWith("beta"))
    assert(df.count() == 5)
    assert(graft.sql.GraftCatalog.lastScanObjectCount == 1,
      "pushed prefix filter must prune to one object")
  }
  // ---------------------------------------------------------------- //
  // Clustering drift: staleness metric + rebound (VERDICT r9 #7)
  // ---------------------------------------------------------------- //

  test("drifted appends flag cluster staleness; cluster_rebound " +
    "restores pruning effectiveness") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_drift").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", LongType, nullable = false))))
    c.insert("t", (0L until 100L).toDF("k"))
    c.clusterByBounded("t", "k", numBuckets = 8)
    c.commitTx()
    c.newTx()
    assert(c.clusterStaleness("t", "k") <= 0.3,
      "fresh grid must not read as stale")
    c.rollback()

    // drift: two interleaved appends far above the grid span
    c.newTx()
    c.insert("t", (1000L until 2000L by 2).toDF("k"))
    c.clusterIncremental("t", "k")
    c.commitTx()
    c.newTx()
    c.insert("t", (1001L until 2000L by 2).toDF("k"))
    c.clusterIncremental("t", "k")
    val staleness = c.tablePropertiesOf("t")("graft.cluster.k.staleness")
      .toDouble
    assert(staleness > 0.5,
      s"drifted appends must flag staleness, got $staleness")
    c.commitTx()

    // the drifted mass sits in overlapping edge-bucket objects: a
    // narrow scan in the drifted range opens BOTH append passes
    c.newTx()
    def opened(lo: Long, hi: Long): Int =
      c.scanRange("t", "k", lo, hi).inputFiles
        .map(_.split('/').dropRight(1).last).distinct.length
    val before = opened(1200, 1250)
    assert(before >= 2, s"pre-rebound drifted scan must hit the " +
      s"overlapping edge objects, got $before")
    c.clusterRebound("t", "k")
    c.commitTx()
    c.newTx()
    assert(c.clusterStaleness("t", "k") <= 0.3,
      "rebound must restore grid coverage")
    val after = opened(1200, 1250)
    assert(after == 1,
      s"post-rebound narrow scan must open one bucket object, got $after")
    c.rollback()

    // the SQL surface: CALL system.cluster_rebound reports the
    // staleness it is fixing and runs the same re-layout
    c.newTx()
    c.insert("t", (5000L until 5500L).toDF("k"))
    c.clusterIncremental("t", "k")
    c.commitTx()
    ss.conf.set("spark.sql.catalog.r10drift", "graft.sql.GraftCatalog")
    ss.conf.set("spark.sql.catalog.r10drift.root", root)
    val res = ss.sql("CALL r10drift.system.cluster_rebound('t', 'k')")
      .collect().head
    assert(res.getString(0) == "t" && res.getString(1) == "k")
    assert(res.getDouble(2) > 0.1,
      s"procedure must report the pre-rebound staleness, got ${res.getDouble(2)}")
    c.newTx()
    assert(c.clusterStaleness("t", "k") <= 0.3)
    c.rollback()
  }
  // ---------------------------------------------------------------- //
  // Nested mergeSchema ingestion + nested deletes/constraints
  // ---------------------------------------------------------------- //

  test("insertEvolving grows struct leaves (mergeSchema into structs); " +
    "frame-omitted nested leaves write null; conflicts name the path") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nestevolve").toString
    val c = new GraftClient(ss, root)
    val metaV1 = StructType(Seq(StructField("source", StringType)))
    c.newTx()
    c.createTable("d", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaV1))))
    c.insert("d", Seq(1, 2).toDF("id").select(col("id"),
      struct(lit("web").as("source")).cast(metaV1).as("meta")))
    c.commitTx()

    // feed grows meta.lang AND a new top-level score column
    val metaV2 = StructType(metaV1.fields :+ StructField("lang", StringType))
    c.newTx()
    c.insertEvolving("d", Seq(3).toDF("id").select(col("id"),
      struct(lit("wiki").as("source"), lit("en").as("lang"))
        .cast(metaV2).as("meta"),
      lit(0.5).as("score")))
    c.commitTx()
    c.newTx()
    val out = c.scan("d")
      .select(col("id"), col("meta.source").as("s"),
        col("meta.lang").as("l"), col("score"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toList.sortBy(_._1)
    assert(out == List((1, "web", null, null), (2, "web", null, null),
      (3, "wiki", "en", 0.5)))

    // a frame still on the OLD struct shape inserts fine (omitted
    // nested leaf writes null)
    c.insertEvolving("d", Seq(4).toDF("id").select(col("id"),
      struct(lit("old").as("source")).cast(metaV1).as("meta")))
    assert(c.scan("d").filter(col("id") === 4)
      .select(col("meta.lang")).collect().head.isNullAt(0))

    // a type conflict inside the struct names the dotted path
    val bad = StructType(Seq(StructField("source", LongType)))
    val e = intercept[IllegalArgumentException] {
      c.insertEvolving("d", Seq(9).toDF("id").select(col("id"),
        struct(lit(7L).as("source")).cast(bad).as("meta")))
    }
    assert(e.getMessage.contains("meta.source"), e.getMessage)
    c.rollback()
  }

  test("nested-path range delete and CHECK constraint on a nested leaf") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nestops").toString
    val c = new GraftClient(ss, root)
    val metaT = StructType(Seq(StructField("ts", LongType)))
    c.newTx()
    c.createTable("d", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaT))))
    def df(ids: Range) = ids.toDF("id").select(col("id"),
      struct((col("id") * 10L).as("ts")).cast(metaT).as("meta"))
    c.insert("d", df(0 until 10))
    c.commitTx()

    // range delete keyed on the nested leaf (stats prune + CoW rewrite)
    c.newTx()
    c.deleteRows("d", "meta.ts", 30, 50)
    c.commitTx()
    // ... and the DV variant on a nested path too
    c.newTx()
    c.deleteRowsDV("d", "meta.ts", 90, 90)
    c.commitTx()
    c.newTx()
    assert(c.scan("d").select("id").collect().map(_.getInt(0)).sorted
      .toSeq == Seq(0, 1, 2, 6, 7, 8))
    // point scan keyed on the nested leaf
    assert(c.scanEquals("d", "meta.ts", 20L).select("id")
      .collect().map(_.getInt(0)).toSeq == Seq(2))

    // CHECK constraint over a nested leaf enforces on insert
    c.addConstraint("d", "ts_nonneg", "meta.ts >= 0")
    c.commitTx()
    c.newTx()
    intercept[Exception] {
      c.insert("d", Seq(-1).toDF("id").select(col("id"),
        struct(lit(-5L).as("ts")).cast(metaT).as("meta")))
      c.commitTx()
    }
    c.rollback()
    c.newTx()
    c.insert("d", Seq(20).toDF("id").select(col("id"),
      struct(lit(200L).as("ts")).cast(metaT).as("meta")))
    c.commitTx()
    c.newTx()
    assert(c.scan("d").count() == 7)
    c.rollback()
  }

  test("plain row stream source honors startingVersion") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_rowstart").toString
    val c = new GraftClient(ss, root)
    c.newTx()
    c.createTable("t", StructType(Seq(
      StructField("k", IntegerType, nullable = false))))
    c.commitTx()
    (0 until 6).foreach { i =>
      c.newTx(); c.insert("t", Seq(i).toDF("k")); c.commitTx()
    }
    val q = ss.readStream.format("graft").option("table", "t")
      .option("startingVersion", "5").load(root)
      .writeStream.format("memory").queryName("r10_row_seeded")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ks = ss.table("r10_row_seeded").select("k")
      .as[Int].collect().sorted.toSeq
    assert(ks == Seq(4, 5), s"seeded row stream must start at v5, got $ks")
  }
  test("nested type widening: meta.ts INT -> BIGINT metadata-only; " +
    "old int32 files up-convert on read") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nestwiden").toString
    val c = new GraftClient(ss, root)
    val metaInt = StructType(Seq(StructField("ts", IntegerType)))
    c.newTx()
    c.createTable("d", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaInt))))
    c.insert("d", Seq(1, 2).toDF("id").select(col("id"),
      struct((col("id") * 10).as("ts")).cast(metaInt).as("meta")))
    c.commitTx()
    val objectsBefore = new java.io.File(root).listFiles()
      .count(_.getName.startsWith("_table_"))

    c.newTx()
    c.widenColumnType("d", "meta.ts", LongType)
    c.commitTx()
    // zero data objects touched by the ALTER
    assert(new java.io.File(root).listFiles()
      .count(_.getName.startsWith("_table_")) == objectsBefore)

    val metaLong = StructType(Seq(StructField("ts", LongType)))
    c.newTx()
    c.insert("d", Seq(3).toDF("id").select(col("id"),
      struct(lit(3000000000L).as("ts")).cast(metaLong).as("meta")))
    c.commitTx()
    c.newTx()
    val out = c.scan("d").select(col("id"), col("meta.ts").as("ts"))
      .as[(Int, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1, 10L), (2, 20L), (3, 3000000000L)),
      s"old int32 nested bytes must read as BIGINT, got $out")
    // narrowing inside a struct still refuses
    intercept[IllegalArgumentException](
      c.widenColumnType("d", "meta.ts", IntegerType))
    // nested-leaf stats keep pruning across the widening (bounds
    // normalized to the Long domain on both sides)
    assert(c.scanRange("d", "meta.ts", 3000000000L, 4000000000L)
      .inputFiles.map(_.split('/').dropRight(1).last).distinct.length == 1)
    c.rollback()
  }
  test("catalog SQL pushes NESTED predicates into stats pruning: " +
    "WHERE meta.source = 'x' opens one object") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_npush").toString
    val c = new GraftClient(ss, root)
    val metaT = StructType(Seq(StructField("source", StringType)))
    c.newTx()
    c.createTable("d", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaT))))
    Seq("a", "b", "c").foreach { s0 =>
      c.insert("d", Seq(1, 2).toDF("id").select(col("id"),
        struct(lit(s0).as("source")).cast(metaT).as("meta")))
    }
    c.commitTx()
    ss.conf.set("spark.sql.catalog.r10npush", "graft.sql.GraftCatalog")
    ss.conf.set("spark.sql.catalog.r10npush.root", root)
    graft.sql.GraftCatalog.lastScanObjectCount = -1
    val rows = ss.sql(
      "SELECT id FROM r10npush.d WHERE meta.source = 'b'").collect()
    assert(rows.length == 2)
    assert(graft.sql.GraftCatalog.lastScanObjectCount == 1,
      s"nested equality must prune to one object, opened " +
        s"${graft.sql.GraftCatalog.lastScanObjectCount}")
    // nested range + prefix shapes prune through the same path
    graft.sql.GraftCatalog.lastScanObjectCount = -1
    assert(ss.sql("SELECT id FROM r10npush.d WHERE meta.source LIKE 'c%'")
      .collect().length == 2)
    assert(graft.sql.GraftCatalog.lastScanObjectCount == 1)
    // (the V1 relation path is unchanged: Spark's V1 strategy does not
    // translate nested refs for non-file sources — catalog SQL is the
    // pruned surface)
  }
  test("bounded clustering on a NESTED leaf: grid over meta.ts, " +
    "incremental pass, staleness, pruning") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nestclust").toString
    val c = new GraftClient(ss, root)
    val metaT = StructType(Seq(StructField("ts", LongType)))
    def df(vals: Seq[Long]) = vals.toDF("v").select(
      col("v").cast("int").as("id"),
      struct(col("v").as("ts")).cast(metaT).as("meta"))
    c.newTx()
    c.createTable("d", StructType(Seq(
      StructField("id", IntegerType),
      StructField("meta", metaT))))
    c.insert("d", df((0L until 400L).map(i => i % 100)))
    c.clusterByBounded("d", "meta.ts", numBuckets = 4)
    c.commitTx()
    c.newTx()
    // clustered layout: a quartile scan on the nested leaf opens 1 of 4
    val hit = c.scanRange("d", "meta.ts", 10L, 20L)
    assert(hit.inputFiles.map(_.split('/').dropRight(1).last)
      .distinct.length == 1)
    assert(hit.count() == 44)
    // incremental pass routes fresh appends through the stored grid
    c.insert("d", df((0L until 100L)))
    assert(c.clusterIncremental("d", "meta.ts") > 0)
    assert(c.tablePropertiesOf("d")("graft.cluster.meta.ts.staleness")
      .toDouble <= 0.6)
    c.commitTx()
    c.newTx()
    assert(c.scan("d").count() == 500)
    c.rollback()
  }
  test("SQL UPDATE and MERGE set NESTED fields: struct rebuilt on the " +
    "root column, siblings untouched") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nupd").toString
    val c = new GraftClient(ss, root)
    val metaT = StructType(Seq(StructField("source", StringType),
      StructField("lang", StringType)))
    c.newTx()
    c.createTable("d", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaT))))
    c.insert("d", Seq(1, 2).toDF("id").select(col("id"),
      struct(lit("web").as("source"), lit("xx").as("lang"))
        .cast(metaT).as("meta")))
    c.commitTx()
    ss.conf.set("spark.sql.catalog.r10nupd", "graft.sql.GraftCatalog")
    ss.conf.set("spark.sql.catalog.r10nupd.root", root)

    // nested SET folds into a struct rebuild on the root column —
    // before this fix it silently matched nothing (no-op update)
    ss.sql("UPDATE r10nupd.d SET meta.lang = 'en' WHERE id = 1")
    def state(): Seq[(Int, String, String)] =
      ss.sql("SELECT id, meta.source, meta.lang FROM r10nupd.d ORDER BY id")
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(state() == Seq((1, "web", "en"), (2, "web", "xx")))

    // UPDATE with both a nested and a flat assignment in one statement
    ss.sql("UPDATE r10nupd.d SET meta.source = 'crawl', id = id + 10 " +
      "WHERE id = 2")
    assert(state() == Seq((1, "web", "en"), (12, "crawl", "xx")))

    // DELETE WHERE on a nested predicate removes exactly the matches
    ss.sql("DELETE FROM r10nupd.d WHERE meta.lang = 'xx'")
    assert(state() == Seq((1, "web", "en")))

    // in-struct DDL through SQL: ADD COLUMNS (meta.rank) is the
    // client's metadata-only nested evolution; ALTER COLUMN TYPE widens
    // the leaf; nested drop keeps refusing (add-only below top level)
    ss.sql("ALTER TABLE r10nupd.d ADD COLUMNS (meta.rank INT)")
    ss.sql("ALTER TABLE r10nupd.d ALTER COLUMN meta.rank TYPE BIGINT")
    val withRank = ss.sql(
      "SELECT id, meta.rank FROM r10nupd.d").collect()
    assert(withRank.forall(_.isNullAt(1)),
      "pre-evolution rows must read the new nested leaf as null")
    intercept[Exception](
      ss.sql("ALTER TABLE r10nupd.d DROP COLUMN meta.rank"))

    // MERGE keeps its documented complete-assignment grammar: a partial
    // nested SET cannot supply the unassigned target columns from the
    // source-only matched plan, so it refuses loudly instead of
    // guessing (Spark surfaces the fall-through as TABLE_OPERATION)
    Seq((1, "de")).toDF("id", "new_lang").createOrReplaceTempView("src_nupd")
    intercept[Exception] {
      ss.sql("MERGE INTO r10nupd.d t USING src_nupd s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET meta.lang = s.new_lang")
    }
  }
  test("connector write with mergeSchema evolves the table " +
    "(new column and new struct leaf)") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_mergew").toString
    val metaT = StructType(Seq(StructField("source", StringType)))
    Seq(1, 2).toDF("id").select(col("id"),
      struct(lit("web").as("source")).cast(metaT).as("meta"))
      .write.format("graft").option("table", "d").save(root)
    val metaT2 = StructType(metaT.fields :+ StructField("lang", StringType))
    // a grown frame WITHOUT the flag refuses (no silent coercion) ...
    intercept[Exception] {
      Seq(4).toDF("id").select(col("id"),
        struct(lit("x").as("source"), lit("y").as("lang"))
          .cast(metaT2).as("meta"), lit(2.0).as("score"))
        .write.format("graft").mode("append")
        .option("table", "d").save(root)
    }
    // ... and WITH it evolves the table: meta.lang + top-level score
    Seq(3).toDF("id").select(col("id"),
      struct(lit("wiki").as("source"), lit("en").as("lang"))
        .cast(metaT2).as("meta"),
      lit(1.5).as("score"))
      .write.format("graft").mode("append")
      .option("table", "d").option("mergeSchema", "true").save(root)
    val out = ss.read.format("graft").option("table", "d").load(root)
      .select(col("id"), col("meta.lang").as("l"), col("score"))
      .collect().map(r => (r.getInt(0),
        r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2)))
      .toList.sortBy(_._1)
    assert(out == List((1, null, null), (2, null, null), (3, "en", 1.5)))
  }
  test("an append cannot rebase past a concurrent IN-STRUCT evolution") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nestconc").toString
    val metaT = StructType(Seq(StructField("source", StringType)))
    val boot = new GraftClient(ss, root)
    boot.newTx()
    boot.createTable("d", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaT))))
    boot.commitTx()

    // writer A stages an append against the OLD struct shape ...
    val a = new GraftClient(ss, root)
    a.newTx()
    a.insert("d", Seq(1).toDF("id").select(col("id"),
      struct(lit("web").as("source")).cast(metaT).as("meta")))
    // ... while writer B commits an in-struct evolution first
    val b = new GraftClient(ss, root)
    b.newTx()
    b.addColumn("d", StructField("meta.lang", StringType))
    b.commitTx()
    // the append was written against the pre-evolution schema and was
    // never validated against the new one: it must NOT silently rebase
    intercept[Exception](a.commitTxRetrying())
  }
  test("compaction re-harvests NESTED leaf stats: meta pruning " +
    "survives maintenance re-layout") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("graft_r10_nestcompact").toString
    val c = new GraftClient(ss, root, dataObjectSize = 4)
    val metaT = StructType(Seq(StructField("ts", LongType)))
    c.newTx()
    c.createTable("d", StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", metaT))))
    // many small objects, each covering a narrow meta.ts range
    (0 until 6).foreach { k =>
      c.insert("d", Seq(k).toDF("id").select(col("id"),
        struct((col("id") * 100L).as("ts")).cast(metaT).as("meta")))
    }
    c.commitTx()
    c.newTx()
    val removed = c.compact("d", targetRows = 1000)
    c.commitTx()
    c.newTx()
    assert(c.scan("d").count() == 6)
    // the compacted object's footer scan walked nested leaves, so a
    // range scan on meta.ts still prunes (here: everything fits one
    // object, so the pin is that stats EXIST and bounds are correct —
    // an out-of-range scan opens nothing)
    assert(c.scanRange("d", "meta.ts", 10000L, 20000L).inputFiles.isEmpty,
      "out-of-range nested scan must open nothing after compaction")
    assert(c.scanRange("d", "meta.ts", 0L, 100L).count() == 2)
    c.rollback()
  }
}
