package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftClient

/** Round-16 pins: the deletion-vector and merge/key-delete legs are
  * SIZE-GATED ([[GraftClient.BroadcastKeyRowGate]], override
  * `spark.graft.broadcastKeyRowGate`). Under the gate a scan reads its
  * DV keys on the driver into a JVM-wide cache (bounded by total keys,
  * [[graft.table.DvKeys.MaxCachedKeys]]) and masks rows with one filter
  * inside the scan — no join, no broadcast job — while the DV-shrink and
  * merge key joins keep their broadcast hint. Past the gate the DV anti
  * join and those hints drop to shuffled joins, so neither a table
  * carrying hundreds of millions of un-compacted DV rows nor a
  * fact-sized CDC merge source can force an unbounded driver read.
  * Row effects must be identical on both sides of the gate.
  */
class Round16Spec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val GateKey = "spark.graft.broadcastKeyRowGate"

  private def joinHints(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect { case j: LJoin => j.hint }

  test("applyDvs: under the row gate a DV'd scan masks rows inside the " +
    "scan (no join); past it the anti join plans shuffled, unhinted — " +
    "same rows") {
    val root = Files.createTempDirectory("graft_r16_dvgate").toString
    val c = new GraftClient(spark, root)
    c.newTx()
    val df = spark.range(0, 200).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    c.createTable("t", df.schema)
    c.insert("t", df)
    c.commitTx()
    c.newTx()
    c.deleteRowsDV("t", "k", 50L, 99L) // one DV, numRows = 50
    c.commitTx()

    spark.conf.set(GateKey, "10") // 50 DV rows >> gate
    try {
      c.newTx()
      val scanned = c.scan("t")
      c.commitTx()
      // the DV anti join is there, and carries no forced broadcast hint
      assert(joinHints(scanned).nonEmpty)
      assert(joinHints(scanned).forall(h =>
        h.leftHint.isEmpty && h.rightHint.isEmpty))
      assert(scanned.count() === 150L)
      assert(scanned.filter(col("k").between(50, 99)).count() === 0L)
    } finally spark.conf.unset(GateKey)

    // default gate: the same 50-row DV is a filter inside the scan
    c.newTx()
    val masked = c.scan("t")
    c.commitTx()
    assert(joinHints(masked).isEmpty)
    assert(masked.queryExecution.optimizedPlan.toString
      .contains("not_deleted(_tx_id"))
    assert(masked.count() === 150L)
    assert(masked.filter(col("k").between(50, 99)).count() === 0L)
  }

  test("deleteByKeys: a past-gate past-cap key set routes pruning " +
    "through the distributed wide probe AND row-matching through a " +
    "shuffled (unhinted) semi join — all deletes land") {
    val root = Files.createTempDirectory("graft_r16_mergegate").toString
    val c = new GraftClient(spark, root)
    c.newTx()
    val df = spark.range(0, 320).select(
      (col("id") / 20).cast("long").as("p"), col("id").as("k"))
    c.createTable("m", df.schema)
    c.insertPartitioned("m", df, "p") // 16 stat-disjoint objects
    c.commitTx()

    // 100 keys: past InListNarrowCap (64) => distributed wide probe for
    // file pruning; past the lowered broadcast gate => shuffled semi
    // join for row matching. Present keys live in objects p=0..4.
    val present = (0L until 100L).toSeq
    val keys = spark.range(0, 100).select(col("id").as("k"))
    spark.conf.set(GateKey, "10")
    try {
      c.newTx()
      c.deleteByKeys("m", keys, Seq("k"))
      c.commitTx()
    } finally spark.conf.unset(GateKey)
    assert(GraftClient.lastMergeDelKeyCount === 100L)
    assert(!GraftClient.lastMergeKeysBroadcast)
    assert(GraftClient.lastMergeProbedObjects === 5)
    c.newTx()
    val after = c.scan("m")
    assert(after.count() === 220L)
    assert(after.filter(col("k").isInCollection(present)).count() === 0L)
    c.commitTx()

    // default gate: a small key set still broadcasts
    c.newTx()
    c.deleteByKeys("m", spark.range(100, 103).select(col("id").as("k")),
      Seq("k"))
    c.commitTx()
    assert(GraftClient.lastMergeDelKeyCount === 3L)
    assert(GraftClient.lastMergeKeysBroadcast)
    c.newTx()
    assert(c.scan("m").count() === 217L)
    c.commitTx()
  }

  test("CLUSTER BY resolves case-insensitively to the schema's " +
    "canonical column spelling (CREATE and SET TBLPROPERTIES)") {
    val root = Files.createTempDirectory("graft_r16_ci").toString
    val cat = s"r16ci${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // Spark resolves identifiers case-insensitively; CLUSTER BY (KCOL)
    // over column kCol must create, and persist the canonical name
    spark.sql(s"CREATE TABLE $cat.ci (kCol BIGINT, v BIGINT) " +
      "CLUSTER BY (KCOL)")
    def props() = spark.sql(s"SHOW TBLPROPERTIES $cat.ci").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("graft.cluster.columns") === Some("kCol"))
    // property-path declaration canonicalizes too
    spark.sql(s"ALTER TABLE $cat.ci " +
      "SET TBLPROPERTIES ('graft.cluster.columns'='V')")
    assert(props().get("graft.cluster.columns") === Some("v"))
    // a genuinely missing column still refuses
    assertThrows[Exception](spark.sql(
      s"ALTER TABLE $cat.ci SET TBLPROPERTIES " +
        "('graft.cluster.columns'='nope')"))
  }

  test("CoW delete DV-shrink: past-gate live DVs take the shuffled " +
    "shrink joins; files-minus-DVs arithmetic stays exact") {
    val root = Files.createTempDirectory("graft_r16_shrink").toString
    val c = new GraftClient(spark, root)
    c.newTx()
    val df = spark.range(0, 100).select(col("id").as("k"))
    c.createTable("s", df.schema)
    c.insert("s", df)
    c.commitTx()
    c.newTx()
    c.deleteRowsDV("s", "k", 10L, 39L) // 30 DV rows
    c.commitTx()

    spark.conf.set(GateKey, "5")
    try {
      // CoW delete overlapping the DV'd rows: phase-3 shrink must drop
      // the now-physically-removed keys from the DV via the shuffled
      // (unhinted) semi/anti joins and still keep counts exact
      val plans = SparkTestSession.plansDuring {
        c.newTx()
        c.deleteRows("s", "k", 30L, 59L)
        c.commitTx()
      }
      val hints = plans.flatMap(_.collect { case j: LJoin => j.hint })
      assert(hints.nonEmpty) // the shrink's semi join ran
      assert(hints.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty))
    } finally spark.conf.unset(GateKey)
    c.newTx()
    val after = c.scan("s")
    assert(after.count() === 50L)
    assert(after.filter(col("k").between(10, 59)).count() === 0L)
    c.commitTx()
  }

  test("MERGE … WHEN NOT MATCHED BY SOURCE: delete and patch-update " +
    "legs give identical rows on both sides of the key gate; " +
    "source-referencing BY SOURCE conditions refuse") {
    def runSync(gate: Option[String]): Seq[Row] = {
      val root = Files.createTempDirectory("graft_r16_mbs").toString
      val cat = s"r16mbs${System.nanoTime()}"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      gate.foreach(g => spark.conf.set(GateKey, g))
      try {
        spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
        spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) " +
          "FROM range(0, 30)")
        spark.range(0, 10).selectExpr("id AS sk", "concat('n', id) AS sv")
          .createOrReplaceTempView(s"${cat}_src")
        // snapshot sync: matched rows replaced, orphans >= 20 deleted
        spark.sql(s"""MERGE INTO $cat.t t USING ${cat}_src s
          ON t.k = s.sk
          WHEN MATCHED THEN UPDATE SET k = s.sk, v = s.sv
          WHEN NOT MATCHED BY SOURCE AND t.k >= 20 THEN DELETE""")
        // soft-delete mark: rows absent from the source get a suffix,
        // PARTIAL SET (k passes through via alignment)
        spark.sql(s"""MERGE INTO $cat.t t USING ${cat}_src s
          ON t.k = s.sk
          WHEN NOT MATCHED BY SOURCE THEN UPDATE SET
            v = concat(t.v, '!')""")
        spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k").collect().toSeq
      } finally gate.foreach(_ => spark.conf.unset(GateKey))
    }
    val expected = (0L until 10L).map(i => Row(i, s"n$i")) ++
      (10L until 20L).map(i => Row(i, s"v$i!"))
    val broadcastSide = runSync(None)
    assert(broadcastSide === expected)
    // gate 0: the anti join plans shuffled — rows must not change
    assert(runSync(Some("0")) === expected)
    // a BY SOURCE condition referencing the SOURCE stays un-rewritten
    // and fails with Spark's own unsupported-merge error
    val root = Files.createTempDirectory("graft_r16_mbs_bad").toString
    val cat = s"r16mbsb${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.range(0, 5).selectExpr("id AS sk").createOrReplaceTempView(
      s"${cat}_src")
    assertThrows[Exception](spark.sql(
      s"""MERGE INTO $cat.t t USING ${cat}_src s
        ON t.k = s.sk
        WHEN NOT MATCHED BY SOURCE AND s.sk > 2 THEN DELETE"""))
  }
}
