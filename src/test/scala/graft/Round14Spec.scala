package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftClient

/** Round-14 pins: point-set file skipping past the 64-value cap on every
  * path that used to fall back to the [min,max] span.
  *
  *   - connector (`format("graft")`) and SQL-catalog IN lists wider than
  *     [[GraftClient.InListNarrowCap]] route through the driver-side
  *     [[graft.table.WideProbeIndex]] probe: a 100-value point-set query
  *     over stat-disjoint objects opens exactly the matched objects;
  *   - the bloom tier of that probe hashes values DRIVER-side through
  *     the same Catalyst xxhash64 the build used — pinned by a layout
  *     whose stats cannot prune (every object spans every value) so only
  *     hash agreement produces the right survivor set AND the right rows;
  *   - the merge key probe gets the same two tiers: a delete-key source
  *     past driver-collectable size prunes the DV scan through the
  *     DISTRIBUTED wide probe (a 100-key merge over 16 objects opens 3),
  *     a narrow one through the driver index probe.
  */
class Round14Spec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  /** 8 stat-disjoint objects: object p holds k in [10p, 10p+9]. */
  private def disjointTable(root: String, n: Int = 8): Unit = {
    val c = new GraftClient(spark, root)
    c.newTx()
    val df = spark.range(0, 10L * n).select(
      (col("id") / 10).cast("long").as("p"), col("id").as("k"))
    c.createTable("pt", df.schema)
    c.insertPartitioned("pt", df, "p")
    c.commitTx()
  }

  test("connector IN past the cap opens only matched objects " +
    "(100 values, 2 of 8 objects)") {
    val root = Files.createTempDirectory("graft_r14_inwide").toString
    disjointTable(root)
    // 100 distinct values: objects 0 and 7 hold the 20 present ones;
    // the 80 absent values sit outside every object's span
    val vals = ((0L until 10L) ++ (70L until 80L) ++
      (1000L until 1080L)).toSeq
    val df = spark.read.format("graft").option("table", "pt").load(root)
      .filter(col("k").isInCollection(vals))
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      ((0L until 10L) ++ (70L until 80L)).toSeq)
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 2)
  }

  test("SQL catalog IN past the cap opens only matched objects") {
    val root = Files.createTempDirectory("graft_r14_incat").toString
    disjointTable(root)
    val cat = s"r14incat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val vals = ((0L until 10L) ++ (70L until 80L) ++
      (1000L until 1080L)).mkString(", ")
    val rows = spark.sql(
      s"SELECT count(*) FROM $cat.pt WHERE k IN ($vals)").collect()
    assert(rows.toSeq === Seq(Row(20L)))
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 2)
  }

  test("wide-IN bloom tier: driver-side hashes agree with the build " +
    "(stats overlap everywhere; exact rows, probabilistic narrowing)") {
    val root = Files.createTempDirectory("graft_r14_inbloom").toString
    val c = new GraftClient(spark, root)
    c.newTx()
    val schema = StructType(Seq(StructField("s", StringType)))
    c.createTable("t", schema)
    c.commitTx()
    // 8 objects, interleaved: object i holds doc ids ≡ i (mod 8), so
    // every object's string min/max spans every probed value — the
    // stats tier keeps all 8 and only the bloom tier can prune
    import scala.jdk.CollectionConverters._
    (0 until 8).foreach { i =>
      c.newTx()
      c.insert("t", spark.createDataFrame(
        (0 until 100).map(j => Row(f"doc_${i + 8 * j}%05d")).asJava,
        schema))
      c.commitTx()
    }
    c.newTx(); c.buildBloom("t", "s"); c.commitTx()
    // all 200 values of objects 0 and 7: > cap, present-only
    val vals = (0 until 100).flatMap(j =>
      Seq(f"doc_${8 * j}%05d", f"doc_${7 + 8 * j}%05d"))
    val df = spark.read.format("graft").option("table", "t").load(root)
      .filter(col("s").isInCollection(vals))
    // EXACT rows is the hash-agreement pin: a drifted driver-side probe
    // hash would bloom-reject present values and silently lose rows
    assert(df.count() === 200L)
    // bloom pruning past the stats tier: ≥1 of the 6 false objects is
    // rejected. NOT === 2: the derived geometry is ~10 bits/row (≈1 %
    // FP per probe), so 200 probed values false-keep some objects by
    // design — the wide path's hard prune is the stats index tier, the
    // bloom tier is probabilistic narrowing
    val kept = graft.sql.GraftCatalog.lastScanObjectCount
    assert(kept >= 2 && kept < 8, s"kept=$kept")
  }

  test("driver-side probe hashes equal the job-side (codegen) hashes " +
    "across value shapes — the build/probe drift pin") {
    val root = Files.createTempDirectory("graft_r14_hash").toString
    val c = new GraftClient(spark, root)
    val k = 4
    val cases: Seq[(Any, DataType)] = Seq(
      (3, LongType), (3L, LongType), (42, IntegerType),
      ("doc_00042", StringType), (2.5, DoubleType), (2.5f, DoubleType),
      (java.sql.Date.valueOf("2024-02-29"), DateType),
      (java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"),
        TimestampType),
      (new java.math.BigDecimal("12345.67"), DecimalType(9, 2)),
      (true, BooleanType), (7.toShort, ShortType))
    cases.foreach { case (v, t) =>
      val Some((_, driverHs)) = c.driverCastAndHashes(v, t, k)
      val jobHs = spark.range(1).select((0 until k).map(i =>
        xxhash64(lit(i), lit(v).cast(t))).toIndexedSeq: _*)
        .head().toSeq.map(_.asInstanceOf[Long])
      assert(driverHs === jobHs, s"drift for $v: $t")
    }
  }

  test("OR of point predicates prunes per value (Catalyst pushes it as " +
    "Or, never IN); IS NULL prunes by footer null counts") {
    val root = Files.createTempDirectory("graft_r14_ornull").toString
    disjointTable(root)
    // k = 5 OR k = 72: objects 0 and 7 only — without the same-column
    // point-set fold the Or conjunct pruned nothing
    val df = spark.read.format("graft").option("table", "pt").load(root)
      .filter(col("k") === 5L || col("k") === 72L)
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(5L, 72L))
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 2)

    // null-safe equality with a non-null literal prunes like EqualTo
    val nsafe = spark.read.format("graft").option("table", "pt").load(root)
      .filter(col("k") <=> 33L)
    assert(nsafe.select("k").collect().map(_.getLong(0)).toSeq === Seq(33L))
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 1)

    // IS NULL: 4 objects — all-non-null (nulls=0, pruned), half-null
    // (nulls>0, kept), all-null (NO stats entry for v, kept
    // conservatively), non-null (pruned)
    val c = new GraftClient(spark, root)
    c.newTx()
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType)))
    c.createTable("nt", schema)
    c.commitTx()
    import scala.jdk.CollectionConverters._
    def ins(rows: Seq[(Long, String)]): Unit = {
      c.newTx()
      c.insert("nt", spark.createDataFrame(
        rows.map { case (k, v) => Row(k, v) }.asJava, schema))
      c.commitTx()
    }
    ins((0L until 10L).map(i => i -> s"a$i"))            // nulls = 0
    ins((10L until 20L).map(i => i -> (if (i % 2 == 0) null else s"b$i")))
    ins((20L until 30L).map(i => i -> (null: String)))   // no v stats
    ins((30L until 40L).map(i => i -> s"d$i"))           // nulls = 0
    val nulls = spark.read.format("graft").option("table", "nt").load(root)
      .filter(col("v").isNull)
    assert(nulls.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      ((10L until 20L by 2) ++ (20L until 30L)).toSeq)
    assert(graft.sql.GraftCatalog.lastScanObjectCount === 2,
      "IS NULL must open only the null-holding objects")
  }

  test("incremental z-order: stored z-grid re-buckets only appends, " +
    "bulk untouched, both axes prune, rows conserved") {
    val root = Files.createTempDirectory("graft_r14_zinc").toString
    val c = new GraftClient(spark, root)
    c.newTx()
    // 40x40 value grid: a and b each uniform in [0, 40)
    val df = spark.range(0, 1600).select(
      (col("id") % 40).as("a"), (col("id") / 40).cast("long").as("b"))
    c.createTable("za", df.schema)
    c.insert("za", df)
    c.commitTx()
    c.newTx()
    c.clusterByZOrderBounded("za", Seq("a", "b"), 16)
    c.commitTx()
    c.newTx()
    val bulk = c.objects("za").map(_.path).toSet
    c.rollback()
    assert(bulk.size === 16)

    // append a small (5x5) box, then an increment through the STORED grid
    c.newTx()
    c.insert("za", spark.range(0, 25).select(
      (col("id") % 5).as("a"), (col("id") / 5).cast("long").as("b")))
    c.commitTx()
    c.newTx()
    val n = c.clusterIncrementalZ("za")
    c.commitTx()
    assert(n === 1, s"one appended object to re-bucket, got $n")

    c.newTx()
    try {
      val after = c.objects("za").map(_.path).toSet
      assert(bulk.subsetOf(after), "the clustered bulk must be untouched")
      assert((after -- bulk).size <= 16,
        "an increment adds at most numBuckets z-aligned objects")
      assert(c.scan("za").count() === 1625L) // row conservation
      // both axes prune post-increment: a range on EITHER column opens
      // a strict subset (z boxes bound both a and b per object)
      val total = after.size
      val onA = c.prunedObjects("za", Seq("a" -> (0L, 2L)), Nil).length
      val onB = c.prunedObjects("za", Seq("b" -> (0L, 2L)), Nil).length
      assert(onA < total, s"a-axis did not prune: $onA of $total")
      assert(onB < total, s"b-axis did not prune: $onB of $total")
    } finally c.rollback()

    // a second increment with nothing new is a no-op
    c.newTx()
    assert(c.clusterIncrementalZ("za") === 0)
    c.rollback()
  }

  test("merge key probe: wide delete source prunes the DV scan to " +
    "matched objects (distributed tier), narrow source via the index") {
    val root = Files.createTempDirectory("graft_r14_merge").toString
    val c = new GraftClient(spark, root)
    c.newTx()
    val df = spark.range(0, 160).select(
      (col("id") / 10).cast("long").as("p"), col("id").as("k"))
    c.createTable("m", df.schema)
    c.insertPartitioned("m", df, "p") // 16 stat-disjoint objects
    c.commitTx()

    // 100 distinct keys (> cap ⇒ distributed wide probe): 30 present in
    // objects p=1, p=10, p=15; 70 absent
    val wideKeys = ((10L until 20L) ++ (100L until 110L) ++
      (150L until 160L) ++ (2000L until 2070L)).toSeq
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(wideKeys.map(k =>
        Row(k / 10, k, true))),
      StructType(Seq(StructField("p", LongType), StructField("k", LongType),
        StructField("del", BooleanType))))
    c.newTx()
    c.merge("m", src, Seq("k"), deleteCond = col("del"),
      dropCols = Seq("del"))
    c.commitTx()
    assert(GraftClient.lastMergeProbedObjects === 3)
    val after = spark.read.format("graft").option("table", "m").load(root)
    assert(after.count() === 130L)
    assert(after.filter(col("k").isin(10L, 105L, 159L)).count() === 0L)

    // narrow source (5 keys, 1 object): driver index probe tier
    val src2 = spark.createDataFrame(
      spark.sparkContext.parallelize((40L until 45L).map(k =>
        Row(k / 10, k, true)).toSeq),
      src.schema)
    c.newTx()
    c.merge("m", src2, Seq("k"), deleteCond = col("del"),
      dropCols = Seq("del"))
    c.commitTx()
    assert(GraftClient.lastMergeProbedObjects === 1)
    assert(spark.read.format("graft").option("table", "m").load(root)
      .count() === 125L)
  }
}
