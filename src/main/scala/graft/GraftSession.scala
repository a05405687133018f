package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession shape graft runs on: the mains (`Bench`,
  * `Verify`, `Plans`, `BenchProfile`) and the test fixtures all start
  * from [[builder]], so the session that is verified is the session
  * that is benched. A caller may add settings of its own (the test
  * fixture adds its vacuum age gate) but never builds a session by hand.
  */
object GraftSession {

  /** `local[cores]` with `cores` shuffle partitions and graft's session
    * settings; `getOrCreate()` it. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); set once at session build
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep 64-aggregate signature computations (minhash/simhash) inside
      // whole-stage codegen; the 100-field default silently drops them to
      // interpreted eval (measured 3.5x)
      .config("spark.sql.codegen.maxFields", "300")
      // SQL UPDATE/MERGE on graft catalog tables (GraftDml rewrite rules)
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      // let AQE size the OUTPUT partitioning of persisted plans too: the
      // iterative queries (label propagation, pagerank) persist their
      // edge frames, and with the default=false those caches pin the
      // static shuffle partition count — every round then scans 32/64
      // near-empty cached partitions. With AQE sizing them the cache has
      // as many partitions as its bytes warrant at ANY scale.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // AQE's coalescing floor stays at Spark's 1m default: lowering it
      // to 64k to parallelize the 100 KB-1 MB CPU-dense stages cost MORE
      // in extra-task overhead than it bought (subset A/B: 13.4 s at 64k
      // vs 12.0 s at 1m) — CPU-dense exchanges are spread explicitly at
      // their call sites instead (Tables.spread).
      .config("spark.ui.enabled", "false")

  /** Cores for a main's session: `SPARK_GRAFT_CPUS` when set, else every
    * processor of the host. A fixed default was a footgun both ways: at
    * "4" (through round 12) the sf1 recipe, which omitted
    * SPARK_GRAFT_CPUS, ran the heavy shuffle rows on 4 of 32 cores and
    * read as 2x-over-anchor (winnow_pairs 15.9 s at local[4] vs 7.5 s
    * at local[32], profiled round 13); at "32" a 4-core host ran 32
    * task slots on 4 cores. The host's own count is right on both.
    */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
