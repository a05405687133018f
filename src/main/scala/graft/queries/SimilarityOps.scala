package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.GraftFunctions
import graft.util.Tables._

/** Similarity search over `embeddings` (`vec_id, embedding float[64],
  * label`).
  *
  *   - simTopK: exact top-k cosine for a fixed query set. The corpus is
  *     scanned ONCE per query batch (broadcast the queries, not the
  *     corpus), scored with the native fused VectorCosine expression, and
  *     reduced with the same two-phase top-k pattern as q_window_topn —
  *     linear in corpus size, embarrassingly parallel, no shuffle of the
  *     corpus itself. DuckDB replays it exactly.
  *   - simAnnLsh: the sub-linear-probe path — L random-hyperplane tables
  *     (seeded, deterministic) bucket the corpus; a query only scores its
  *     bucket union. Approximate by design, so it has no SQL oracle;
  *     SimilaritySpec measures its recall against simTopK.
  *
  * At 100 TB the corpus side stays partitioned; buckets are the shuffle
  * key; nothing is ever collected or cross-joined all-pairs.
  */
object SimilarityOps {

  /** Fused native cosine (graft.functions.VectorCosine, codegen'd): one
    * loop, no per-pair temporary arrays. Numerically identical to the
    * composable zip_with/aggregate + norm form (same left-to-right
    * accumulation), so the DuckDB oracles are unaffected.
    */
  private def cosine(a: Column, b: Column): Column =
    call_function("vector_cosine", a, b)

  private def corpus(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    t(spark, dir, "embeddings")
      .filter(col("vec_id").isNotNull) // uniform branch shape -> exchange reuse
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // exchange after the cast projection: parallelizes the single-file
      // fixture AND materializes `v` as an attribute, so repeated
      // hyperplane scoring doesn't re-evaluate the cast
      .transform(spread(_, col("vec_id")))
  }

  // --- Exact brute-force top-k ----------------------------------------------
  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    // two-phase top-k: per-partition candidates first, tiny final window
    val wLocal = Window.partitionBy(col("query_id"), col("_pid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val candidates = scored.withColumn("_pid", spark_partition_id())
      .withColumn("_rk", row_number().over(wLocal))
      .filter(col("_rk") <= 10)
      .drop("_pid", "_rk")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simTopKSql = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n
          WHERE vec_id < 10)
    SELECT qid AS query_id, rnk AS "rank", vec_id AS neighbor_id,
      round(cos, 6) AS cos_sim
    FROM (
      SELECT q.qid, e.vec_id,
        list_dot_product(e.v, q.qv) / (e.nrm * q.qnrm) AS cos,
        row_number() OVER (
          PARTITION BY q.qid
          ORDER BY list_dot_product(e.v, q.qv) / (e.nrm * q.qnrm) DESC,
                   e.vec_id) AS rnk
      FROM n e JOIN q ON e.vec_id != q.qid) x
    WHERE rnk <= 10
    ORDER BY query_id, "rank""""

  // --- LSH-bucketed approximate top-k ---------------------------------------
  /** Deterministic ±1 hyperplanes: `tables` tables × `bits` planes × 64
    * dims, from a fixed seed (graft.functions.LshPlanes).
    */
  private[queries] val NumTables = 16
  private[queries] val NumBits = 6

  /** Array of NumTables bucket ids (table-local signatures), via the
    * fused native HyperplaneBuckets expression: one codegen'd loop
    * computing every signature bit. The composable form (96 separate
    * `when(cosine(v, typedLit(plane)) > 0)` branches) built an
    * expression tree past codegen's method-size budget and fell back to
    * interpreted eval — the generated-code-size cliff made this the
    * slowest query in the bench. Bit semantics are identical: only the
    * dot product's SIGN matters, so norms never needed computing.
    */
  private def bucketIds(v: Column): Column =
    call_function("hyperplane_buckets", v, lit(NumTables), lit(NumBits))

  def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir).withColumn("bks", bucketIds(col("v")))
    val buckets = e.select(col("vec_id"), col("v"),
      posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        posexplode(col("bks")).as(Seq("tbl", "bucket")))
    // probe: same table + same bucket; union across tables via distinct.
    // r17: q is query-batch-sized (10 queries × NumTables rows) —
    // broadcast it so the corpus-side bucket explode (which carries the
    // full vectors) is never exchanged/sorted for the join; and score
    // BEFORE the table-union dedup so the dedup exchange moves 24-byte
    // (query_id, vec_id, cos) rows instead of two 64-double payloads
    // (guide §2.3 "project before the exchange"). A pair colliding in k
    // tables now computes its cosine k times — 64 multiplies against
    // a ~40× smaller shuffle; the duplicate rows carry the identical
    // deterministic cos, so the kept row is value-identical.
    val cand = buckets.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --- IVF-style approximate top-k ------------------------------------------
  // Inverted-file variant with TRAINED centroids: `KMeansIters` Lloyd
  // iterations (cosine assignment, per-cell elementwise mean) from a
  // deterministic seed (the `NumCentroids` lowest vec_ids), then every
  // corpus vector is assigned to its nearest centroid via a broadcast
  // scoring pass; queries probe their `NumProbes` nearest cells and
  // score only those cells' members. Corpus-side work is linear per
  // Lloyd pass and for the query (one broadcast join against 32
  // centroids, one shuffle on cell id) — the shape that scales to a
  // partition-per-cell layout at 100 TB, where training would run on a
  // seeded SAMPLE instead of the full corpus (centroid quality needs
  // thousands of points per cell, not billions). Training is memoized
  // per fixture dir, and the resulting centroid VECTORS are embedded as
  // literals into the DuckDB oracle, which replays assignment, probing,
  // and rerank against the exact same centroids.
  private[queries] val NumCentroids = 32
  private[queries] val NumProbes = 8
  private[queries] val KMeansIters = 3

  private val trainedCache =
    scala.collection.mutable.Map[String, Vector[Seq[Double]]]()

  private def centroidFrame(spark: SparkSession,
      cents: Vector[Seq[Double]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      cents.zipWithIndex.map { case (v, i) =>
        org.apache.spark.sql.Row(i.toLong, v)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
  }

  /** Seeded deterministic k-means (per JVM + fixture dir): each
    * iteration is one broadcast assignment pass and one 32×64-value
    * mean aggregation collected to the driver. Empty cells keep their
    * previous centroid.
    */
  private[queries] def centroidsFor(spark: SparkSession,
      dir: String): Vector[Seq[Double]] = synchronized {
    trainedCache.getOrElseUpdate(dir, {
      val e = corpus(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var cents: Vector[Seq[Double]] = e
          .filter(col("vec_id") < NumCentroids)
          .orderBy(col("vec_id")).collect()
          .map(_.getSeq[Double](1).toIndexedSeq).toVector
        (1 to KMeansIters).foreach { _ =>
          val w = Window.partitionBy(col("vec_id"))
            .orderBy(col("_s").desc, col("cid"))
          val assigned = e.crossJoin(broadcast(centroidFrame(spark, cents)))
            .withColumn("_s", cosine(col("v"), col("cv")))
            .withColumn("_rk", row_number().over(w))
            .filter(col("_rk") === 1)
          val means = assigned
            .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
            .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
            .collect()
            .groupBy(_.getLong(0))
            .view.mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
            .toMap
          cents = cents.zipWithIndex.map { case (old, i) =>
            means.getOrElse(i.toLong, old)
          }
        }
        cents
      } finally e.unpersist(false)
    })
  }

  /** Per-vector nearest-`n` centroid cells via one broadcast scoring
    * pass (32 centroids — dimension-sized, always broadcast). Used for
    * the n > 1 PROBE side (query-batch-sized input); the n = 1
    * corpus-wide assignment uses [[bestCell]] instead.
    */
  private def nearestCells(cent: DataFrame)(df: DataFrame,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("_cscore").desc, col("cid"))
    df.crossJoin(broadcast(cent))
      .withColumn("_cscore", cosine(col("v"), col("cv")))
      .withColumn("_crk", row_number().over(w))
      .filter(col("_crk") <= n)
      .select(col("vec_id"), col("v"), col("cid"))
  }

  /** Fold-argmax nearest-centroid: ONE codegen'd projection —
    * `greatest()` over 32 struct(score, -cid) expressions against the
    * LITERAL trained centroids — replacing crossJoin(broadcast(cent)) +
    * per-vec_id window row_number, which expanded the corpus 32× and
    * moved every 64-dim vector through a partition Sort just to keep
    * one row per vec_id (r17). Ordering is IDENTICAL to the window's
    * (_cscore DESC NULLS LAST, cid ASC): struct comparison takes the
    * max score first (Spark orders NaN greatest in both forms, and a
    * NULL score — vector_cosine yields one on a zero-norm vector —
    * loses to any non-null in both forms: null struct field = smallest,
    * desc = NULLS LAST), and score ties take max(-cid) = min cid. `s`
    * carries the winning cosine for consumers that aggregate it
    * (sim_cluster_assign's avg). Row-identity to the window form is
    * pinned in Round17Spec.
    */
  private[graft] def bestCell(cents: Vector[Seq[Double]], v: Column): Column =
    greatest(cents.zipWithIndex.map { case (cv, i) =>
      struct(cosine(v, typedLit(cv)).as("s"), lit(-i.toLong).as("nc"))
    }: _*)

  def simAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val cents = centroidsFor(spark, dir)
    val cent = centroidFrame(spark, cents).select(col("cid"), col("cv"))
    val cells = nearestCells(cent) _
    // corpus-side argmax as the bestCell fold (no 32× expansion/Sort);
    // the probe side keeps the window — it ranks n > 1 cells over a
    // 10-row query batch
    val assigned = e.withColumn("_best", bestCell(cents, col("v")))
      .select(col("vec_id"), col("v"),
        (-col("_best").getField("nc")).as("cid"))
    val probes = cells(e.filter(col("vec_id") < 10), NumProbes)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cid"))
    // broadcast(probes): ≤ 10 queries × NumProbes rows by construction
    // (bounded by the fixed query batch, not the corpus) — the corpus
    // side keeps its partitioning instead of shuffling for a sort-merge
    // join (r17: was SMJ = 2 exchanges + 2 sorts of vector payloads).
    // No dropDuplicates: `assigned` holds exactly ONE cell per vec_id
    // (_crk = 1) and probes' (query_id, cid) rows are distinct, so the
    // cid join cannot emit a (query_id, vec_id) pair twice — the former
    // defensive dedup cost a full (query_id, vec_id) shuffle of 64-dim
    // vectors (the same reasoning simAnnIvfPq always used).
    val cand = assigned.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --- Filtered ANN (metadata predicate + IVF probing) ----------------------
  // Vector search under a metadata PREFILTER — the "filtered search" of
  // vector engines (corpus restricted to label ∈ {1,3,5,7}, ~40 %
  // selectivity). The index (cell assignment) is built on the FULL
  // corpus; the predicate composes at probe time as a semi-filter on
  // cell members, so one index serves every predicate. Probing widens
  // (FilteredProbes > NumProbes) to buy back the recall the filter's
  // selectivity strips from each cell — the standard prefilter
  // trade-off. At 100 TB with the cell-partitioned table layout
  // (sim_ann_ivf_table) the label predicate additionally prunes files
  // via object stats before any vector is read.
  private[queries] val FilteredProbes = 12
  private[graft] val FilteredLabels = Seq(1, 3, 5, 7)

  def simAnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val labels = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val cents = centroidsFor(spark, dir)
    val cent = centroidFrame(spark, cents).select(col("cid"), col("cv"))
    val cells = nearestCells(cent) _
    // bestCell fold on the corpus side — see simAnnIvf
    val assigned = e.withColumn("_best", bestCell(cents, col("v")))
      .select(col("vec_id"), col("v"),
        (-col("_best").getField("nc")).as("cid"))
      .join(labels, "vec_id")
      .filter(col("label").isin(FilteredLabels: _*))
    val probes = cells(e.filter(col("vec_id") < 10), FilteredProbes)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cid"))
    // broadcast + no dedup: same argument as simAnnIvf — probes is
    // query-batch-sized and `assigned` (one cell per vec_id; the label
    // join is 1:1 on vec_id) cannot produce duplicate pairs
    val cand = assigned.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col("label"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def simAnnFilteredSql: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    $centroidCte,
    ranked AS (
      SELECT n.vec_id, cent.cid,
        row_number() OVER (PARTITION BY n.vec_id
          ORDER BY list_dot_product(n.v, cent.cv) / (n.nrm * cent.cnrm) DESC,
                   cent.cid) AS rk
      FROM n CROSS JOIN cent),
    assigned AS (
      SELECT r.vec_id, r.cid, em.label
      FROM ranked r JOIN embeddings em ON em.vec_id = r.vec_id
      WHERE r.rk = 1 AND em.label IN (${FilteredLabels.mkString(", ")})),
    probes AS (SELECT vec_id AS query_id, cid FROM ranked
               WHERE vec_id < 10 AND rk <= $FilteredProbes),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id, a.label
      FROM probes p JOIN assigned a ON p.cid = a.cid
      WHERE a.vec_id <> p.query_id),
    scored AS (
      SELECT c.query_id, c.vec_id, c.label,
        list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos
      FROM cand c
      JOIN n q ON q.vec_id = c.query_id
      JOIN n e ON e.vec_id = c.vec_id)
    SELECT query_id, rnk AS "rank", vec_id AS neighbor_id, label,
      round(cos, 6) AS cos_sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored) x
    WHERE rnk <= 10
    ORDER BY query_id, "rank""""

  // Both ANN variants are APPROXIMATE relative to exact top-k but fully
  // DETERMINISTIC given the fixed seed/centroids — so DuckDB can replay
  // the entire pipeline (signatures/assignments, candidate generation,
  // exact rerank) and hash-compare the result. The LSH oracle embeds the
  // ±1 plane matrix as a SQL list literal generated from the same
  // LshPlanes source the native expression uses.

  private lazy val planesLiteral: String =
    graft.functions.LshPlanes
      .flat(NumTables, NumBits)
      .map(d => if (d > 0) "1" else "-1")
      .mkString("[", ",", "]::DOUBLE[]")

  private lazy val simAnnLshSql = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    planes AS (SELECT $planesLiteral AS pl),
    buckets AS (
      SELECT vec_id, t,
        SUM(CASE WHEN dp > 0 THEN (1 << b) ELSE 0 END) AS bucket
      FROM (
        SELECT n.vec_id, t.t, b.b,
          list_dot_product(n.v,
            pl[(t.t * $NumBits + b.b) * 64 + 1 :
               (t.t * $NumBits + b.b) * 64 + 64]) AS dp
        FROM n CROSS JOIN planes
        CROSS JOIN range($NumTables) t(t)
        CROSS JOIN range($NumBits) b(b)) x
      GROUP BY vec_id, t),
    qb AS (SELECT * FROM buckets WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      FROM qb q JOIN buckets c
        ON q.t = c.t AND q.bucket = c.bucket AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT c.query_id, c.vec_id,
        list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos
      FROM cand c
      JOIN n q ON q.vec_id = c.query_id
      JOIN n e ON e.vec_id = c.vec_id)
    SELECT query_id, rnk AS "rank", vec_id AS neighbor_id,
      round(cos, 6) AS cos_sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored) x
    WHERE rnk <= 10
    ORDER BY query_id, "rank""""

  /** Trained-centroid literals for the oracle — populated by the query's
    * own (memoized) training run; the driver dumps oracle SQL AFTER
    * running the queries, so the literals always reflect the exact
    * centroids the parquet result used. The seed-centroid fallback is
    * only reachable if the query never ran in this JVM (in which case no
    * result exists to compare against either).
    */
  private def centroidCte: String = synchronized {
    trainedCache.values.lastOption match {
      case Some(cents) =>
        val lits = cents.zipWithIndex.map { case (v, i) =>
          s"($i, [${v.mkString(",")}]::DOUBLE[])"
        }.mkString(",\n      ")
        s"""cent0 AS (SELECT * FROM (VALUES $lits) c(cid, cv)),
    cent AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
             FROM cent0)"""
      case None =>
        s"""cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
             WHERE vec_id < $NumCentroids)"""
    }
  }

  private def simAnnIvfSql: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    $centroidCte,
    ranked AS (
      SELECT n.vec_id, cent.cid,
        row_number() OVER (PARTITION BY n.vec_id
          ORDER BY list_dot_product(n.v, cent.cv) / (n.nrm * cent.cnrm) DESC,
                   cent.cid) AS rk
      FROM n CROSS JOIN cent),
    assigned AS (SELECT vec_id, cid FROM ranked WHERE rk = 1),
    probes AS (SELECT vec_id AS query_id, cid FROM ranked
               WHERE vec_id < 10 AND rk <= $NumProbes),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON p.cid = a.cid
      WHERE a.vec_id <> p.query_id),
    scored AS (
      SELECT c.query_id, c.vec_id,
        list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos
      FROM cand c
      JOIN n q ON q.vec_id = c.query_id
      JOIN n e ON e.vec_id = c.vec_id)
    SELECT query_id, rnk AS "rank", vec_id AS neighbor_id,
      round(cos, 6) AS cos_sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored) x
    WHERE rnk <= 10
    ORDER BY query_id, "rank""""

  // --- Product-quantization (PQ) approximate top-k --------------------------
  // The COMPRESSION path of ANN (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", PAMI 2011): the 64-dim vector splits into
  // `PqSubspaces` 8-dim subvectors, each quantized to one of `PqCodes`
  // per-subspace codebook entries (k-means-trained, deterministic seeds)
  // — the corpus collapses from 64 doubles to 8 small codes per vector
  // (a 64× memory cut), and query scoring is ADC: one 8×16 dot-product
  // table per query, then a codes-only scan summing table lookups, then
  // exact-cosine rerank of the `PqCandidates` shortlist. At 100 TB the
  // codes table IS the index: the ADC scan touches ~1.5 % of the raw
  // bytes, the distance tables broadcast, and only shortlist rows fetch
  // their full vectors (IVF supplies cell pruning; composing IVF-PQ is
  // mechanical). Encoding distance is computed as cc − 2·x·c on BOTH
  // engines (the ‖x‖² term is constant per subvector) with cc emitted
  // as a shared literal, so DuckDB replays codebooks, encoding, ADC,
  // and rerank bit-for-bit.
  private[queries] val PqSubspaces = 8
  private[queries] val PqSubDim = 8
  private[queries] val PqCodes = 16
  private[queries] val PqIters = 3
  private[queries] val PqCandidates = 100

  // [sub][cid] -> codebook subvector
  private val pqCache =
    scala.collection.mutable.Map[String, Vector[Vector[Seq[Double]]]]()

  private def scalaDot(a: Seq[Double], b: Seq[Double]): Double =
    a.iterator.zip(b.iterator).foldLeft(0.0) { case (acc, (x, y)) =>
      acc + x * y
    }

  /** Composable left-to-right dot product — same accumulation order as
    * the native vector_cosine numerator and DuckDB's list_dot_product.
    */
  private def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** (sub, cid, cv, cc) rows; cc = ‖cv‖² precomputed once in Scala so
    * both engines compare against the identical literal.
    */
  private def pqFrame(spark: SparkSession,
      cbs: Vector[Vector[Seq[Double]]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      (for { (sub, s) <- cbs.zipWithIndex; (cv, c) <- sub.zipWithIndex }
        yield org.apache.spark.sql.Row(s, c, cv, scalaDot(cv, cv))).asJava,
      StructType(Seq(
        StructField("sub", IntegerType, nullable = false),
        StructField("cid", IntegerType, nullable = false),
        StructField("cv", ArrayType(DoubleType), nullable = false),
        StructField("cc", DoubleType, nullable = false))))
  }

  /** v -> (sub, sv) pairs, sub in [0, PqSubspaces). */
  private def subvecs(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol), posexplode(expr(
      s"""transform(sequence(0, ${PqSubspaces - 1}),
          s -> slice(v, s * $PqSubDim + 1, $PqSubDim))"""))
      .as(Seq("sub", "sv")))

  /** Seeded deterministic per-subspace k-means: seeds are the subvectors
    * of the `PqCodes` lowest vec_ids; each iteration is one broadcast
    * argmin-assignment pass and one (sub, cid, pos) mean aggregation
    * collected to the driver (8×16×8 = 1,024 rows). Empty cells keep
    * their previous entry. Memoized per fixture dir.
    */
  private[queries] def pqCodebooksFor(spark: SparkSession,
      dir: String): Vector[Vector[Seq[Double]]] = synchronized {
    pqCache.getOrElseUpdate(dir, {
      val e = corpus(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val sv = subvecs(e, "vec_id")
        val seedRows = e.filter(col("vec_id") < PqCodes)
          .orderBy(col("vec_id")).collect()
          .map(_.getSeq[Double](1).toIndexedSeq)
        var cbs: Vector[Vector[Seq[Double]]] =
          Vector.tabulate(PqSubspaces) { s =>
            Vector.tabulate(PqCodes) { c =>
              seedRows(c).slice(s * PqSubDim, (s + 1) * PqSubDim)
            }
          }
        (1 to PqIters).foreach { _ =>
          val w = Window.partitionBy(col("vec_id"), col("sub"))
            .orderBy(col("_d"), col("cid"))
          val assigned = sv.join(broadcast(pqFrame(spark, cbs)), "sub")
            .withColumn("_d",
              col("cc") - lit(2.0) * dotCol(col("sv"), col("cv")))
            .withColumn("_rk", row_number().over(w))
            .filter(col("_rk") === 1)
          val means = assigned
            .select(col("sub"), col("cid"),
              posexplode(col("sv")).as(Seq("pos", "x")))
            .groupBy(col("sub"), col("cid"), col("pos"))
            .agg(avg(col("x")).as("m"))
            .collect()
            .groupBy(r => (r.getInt(0), r.getInt(1)))
            .view.mapValues(_.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
            .toMap
          cbs = cbs.zipWithIndex.map { case (entries, s) =>
            entries.zipWithIndex.map { case (old, c) =>
              means.getOrElse((s, c), old)
            }
          }
        }
        cbs
      } finally e.unpersist(false)
    })
  }

  def simAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val cb = broadcast(pqFrame(spark, pqCodebooksFor(spark, dir)))
    val sv = subvecs(e, "vec_id")
    // encode: each (vector, subspace) takes its argmin-distance code
    val wEnc = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("_d"), col("cid"))
    val codes = sv.join(cb, "sub")
      .withColumn("_d", col("cc") - lit(2.0) * dotCol(col("sv"), col("cv")))
      .withColumn("_rk", row_number().over(wEnc))
      .filter(col("_rk") === 1)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
    // ADC: per-query distance tables (8×16 dots), broadcast against the
    // codes-only corpus scan
    val qsv = subvecs(e.filter(col("vec_id") < 10), "vec_id")
      .withColumnRenamed("vec_id", "query_id")
    val dt = qsv.join(cb, "sub")
      .select(col("query_id"), col("sub"), col("cid"),
        dotCol(col("sv"), col("cv")).as("pdot"))
    val adc = codes.join(broadcast(dt),
        codes("sub") === dt("sub") && codes("code") === dt("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val shortlist = adc.withColumn("_rk", row_number().over(wShort))
      .filter(col("_rk") <= PqCandidates)
      .select(col("query_id"), col("vec_id"))
    // exact-cosine rerank of the shortlist only
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = shortlist.join(e, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Trained-codebook literals for the oracle — same contract as
    * [[centroidCte]]: populated by the query's own memoized training run,
    * dumped after the queries execute.
    */
  private def pqCbCte: String = synchronized {
    val rows = pqCache.values.lastOption match {
      case Some(cbs) =>
        for { (sub, s) <- cbs.zipWithIndex; (cv, c) <- sub.zipWithIndex }
          yield s"($s, $c, [${cv.mkString(",")}]::DOUBLE[], " +
            s"CAST(${scalaDot(cv, cv)} AS DOUBLE))"
      case None => // unreachable when the query ran (see centroidCte note)
        Seq("(0, 0, [0.0]::DOUBLE[], CAST(0.0 AS DOUBLE))")
    }
    s"cb AS (SELECT * FROM (VALUES ${rows.mkString(",\n      ")}) " +
      "c(sub, cid, cv, cc))"
  }

  private def simAnnPqSql: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    $pqCbCte,
    sv AS (
      SELECT vec_id, s.sub,
        list_slice(v, s.sub * $PqSubDim + 1, s.sub * $PqSubDim + $PqSubDim)
          AS sv
      FROM e CROSS JOIN range($PqSubspaces) s(sub)),
    enc AS (
      SELECT vec_id, sub, cid AS code FROM (
        SELECT sv.vec_id, sv.sub, cb.cid,
          row_number() OVER (PARTITION BY sv.vec_id, sv.sub
            ORDER BY cb.cc - 2 * list_dot_product(sv.sv, cb.cv), cb.cid)
            AS rk
        FROM sv JOIN cb ON sv.sub = cb.sub) x
      WHERE rk = 1),
    qsv AS (SELECT vec_id AS query_id, sub, sv FROM sv WHERE vec_id < 10),
    dt AS (
      SELECT q.query_id, q.sub, cb.cid,
        list_dot_product(q.sv, cb.cv) AS pdot
      FROM qsv q JOIN cb ON q.sub = cb.sub),
    adc AS (
      SELECT d.query_id, c.vec_id, SUM(d.pdot) AS adc
      FROM enc c JOIN dt d ON c.sub = d.sub AND c.code = d.cid
      WHERE c.vec_id <> d.query_id
      GROUP BY 1, 2),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, vec_id) AS rk
        FROM adc) x
      WHERE rk <= $PqCandidates),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    scored AS (
      SELECT s.query_id, s.vec_id,
        list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
      FROM short s
      JOIN n q ON q.vec_id = s.query_id
      JOIN n c ON c.vec_id = s.vec_id)
    SELECT query_id, rnk AS "rank", vec_id AS neighbor_id,
      round(cos, 6) AS cos_sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored) x
    WHERE rnk <= 10
    ORDER BY query_id, "rank""""

  // --- IVF over a graft table: probing IS file pruning ----------------------
  // The two halves of this project meet: the corpus is STORED in a graft
  // table partitioned by trained IVF cell (`insertPartitioned` → one
  // self-contained object per cell with point stats), and a query's
  // probe list becomes per-cell equality reads through the DataSource —
  // each scan's pushed `cell = c` filter hits the stats tier and opens
  // EXACTLY that cell's objects. At 100 TB "probe 8 of 32 cells" is
  // literally "open 1/4 of the data objects"; no ANN-specific index
  // structure exists, just the table format's own layout + skipping.
  // Result is identical to sim_ann_ivf (same centroids, same probes),
  // so the same oracle SQL replays it.
  private[queries] def annTableFor(spark: SparkSession,
      dir: String): String =
    FixtureStore.memoized("graft_ann_store", dir) { root =>
      val c = new graft.table.GraftClient(spark, root)
      val assigned =
        assignCells(corpus(spark, dir), ivfCentroidFrame(spark, dir))
      c.newTx()
      c.createTable("emb", assigned.schema)
      c.insertPartitioned("emb", assigned, "cell")
      c.commitTxRetrying()
    }

  /** The trained IVF centroids as a (cell, cv) frame — the shared
    * assignment basis for the batch table build AND the streaming
    * maintainer ([[graft.streaming.StreamingSink.ivfInto]]).
    */
  private[graft] def ivfCentroidFrame(spark: SparkSession,
      dir: String): DataFrame =
    centroidFrame(spark, centroidsFor(spark, dir))
      .select(col("cid").as("cell"), col("cv"))

  /** Argmax-cell assignment of a (vec_id, v) frame against a broadcast
    * (cell, cv) centroid frame: one scoring pass, ties to the lower
    * cell id — identical between batch build and stream ingest by
    * construction.
    */
  private[graft] def assignCells(e: DataFrame,
      cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("_cscore").desc, col("cell"))
    e.crossJoin(broadcast(cent))
      .withColumn("_cscore", cosine(col("v"), col("cv")))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("vec_id"), col("cell"), col("v"))
  }

  /** Cast a raw embeddings batch (vec_id, embedding float[]) to the
    * (vec_id, v double[]) shape the assignment scores.
    */
  private[graft] def embedBatch(batch: DataFrame): DataFrame =
    batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))

  /** The IVF probe set for the 10 benchmark queries: (query, query
    * vector, probed cell). Shared by [[simAnnIvfTable]] and its
    * file-skipping pin.
    */
  private[graft] def ivfProbeFrame(spark: SparkSession,
      dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val cent = centroidFrame(spark, centroidsFor(spark, dir))
      .select(col("cid"), col("cv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("_cscore").desc, col("cid"))
    e.filter(col("vec_id") < 10)
      .crossJoin(broadcast(cent))
      .withColumn("_cscore", cosine(col("v"), col("cv")))
      .withColumn("_crk", row_number().over(w))
      .filter(col("_crk") <= NumProbes)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cid"))
  }

  /** Distinct cells the benchmark probes touch — metadata-sized
    * (≤ NumCentroids ids).
    */
  private[graft] def ivfProbedCells(spark: SparkSession,
      dir: String): Array[Long] =
    ivfProbeFrame(spark, dir).select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted

  def simAnnIvfTable(spark: SparkSession, dir: String): DataFrame =
    ivfTableProbe(spark, dir, annTableFor(spark, dir))

  /** The streamed twin's store: the SAME cell-partitioned table built by
    * [[graft.streaming.StreamingSink.ivfInto]] over 3 micro-batches —
    * registering its probe under the ivf oracle puts the streaming
    * index maintainer on the driver's hash-compare signal.
    */
  private[queries] def ivfStreamStoreFor(spark: SparkSession,
      dir: String): String =
    FixtureStore.memoized("graft_ann_stream", dir) { root =>
      val c = new graft.table.GraftClient(spark, root)
      val emb = graft.util.Tables.t(spark, dir, "embeddings")
      val sink = graft.streaming.StreamingSink
        .ivfInto(c, "emb", ivfCentroidFrame(spark, dir), "app_ivf_fix")
      (0 until 3).foreach { b =>
        sink(emb.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong)
      }
    }

  def simAnnIvfStream(spark: SparkSession, dir: String): DataFrame =
    ivfTableProbe(spark, dir, ivfStreamStoreFor(spark, dir))

  private def ivfTableProbe(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    val probes = ivfProbeFrame(spark, dir)
    val cells = ivfProbedCells(spark, dir)
    // ONE graft read with the probed cells as a pushed IN filter: the
    // source's stats probe opens exactly those cells' objects (pinned:
    // 1 object per cell), and the plan stays a single scan instead of a
    // union of one scan per cell (which costs a footer pass + job per
    // cell — measurably slower and no more selective)
    // NOTE (r17): broadcast(probes) + dropping the defensive dedup was
    // A/B-measured HERE and kept for the parquet-backed sim_ann_ivf /
    // sim_ann_filtered, but REGRESSED this graft-scan path 25-45 %
    // (0.58→0.77 s table, 1.34→2.04 s stream) — the shuffled join
    // pipelined better with the scan — so this path keeps its original
    // shape. That A/B ran when format("graft") planned a DSv1 row scan;
    // the read is now the catalog's DSv2 GraftBatchScan (columnar,
    // runtime-filterable) and the A/B has not been repeated.
    val cand = spark.read.format("graft").option("table", "emb").load(root)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col("vec_id"), col("v"), col("cell").as("cid"))
      .join(probes, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cos", cosine(col("v"), col("qv")))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --- Semantic cluster assignment ------------------------------------------
  // The diversity-balancing primitive: label every vector with its
  // trained k-means cell and roll up per-cluster population + coherence
  // (mean cosine to the centroid). A curation pipeline samples per
  // cluster from this table to balance topic coverage. One broadcast
  // scoring pass + one partial-agg shuffle on the cell id — linear, and
  // the same trained centroids (and literals) the IVF family uses.
  def simClusterAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    // bestCell fold (r17): one projection computes the argmax cell AND
    // its score — the former crossJoin + window sorted a 32×-expanded
    // corpus (vectors riding in every row) to keep one row per vec_id
    e.withColumn("_best", bestCell(centroidsFor(spark, dir), col("v")))
      .select((-col("_best").getField("nc")).as("cid"),
        col("_best").getField("s").as("_cscore"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("_cscore")), 6).as("avg_cos"))
      .orderBy(col("cid"))
  }

  private def simClusterAssignSql: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    $centroidCte,
    ranked AS (
      SELECT n.vec_id, cent.cid,
        list_dot_product(n.v, cent.cv) / (n.nrm * cent.cnrm) AS cos,
        row_number() OVER (PARTITION BY n.vec_id
          ORDER BY list_dot_product(n.v, cent.cv) / (n.nrm * cent.cnrm) DESC,
                   cent.cid) AS rk
      FROM n CROSS JOIN cent)
    SELECT cid, COUNT(*) AS n_members, round(AVG(cos), 6) AS avg_cos
    FROM ranked WHERE rk = 1
    GROUP BY cid
    ORDER BY cid"""

  // --- IVF-PQ: cell-pruned ADC (the FAISS-at-scale composition) -------------
  // IVF supplies the pruning (probe `NumProbes` of `NumCentroids` trained
  // cells), PQ supplies the compression (ADC over the codes of probed
  // cells' members only), exact cosine reranks the shortlist. At 100 TB:
  // cells ↔ partitions, so a query touches `NumProbes/NumCentroids` of
  // the partitions and reads only their CODES (~1.5 % of raw bytes) —
  // the two pruning axes multiply. This variant quantizes raw vectors
  // (shared codebooks with sim_ann_pq); the classical refinement —
  // per-cell residual codebooks — is a second training pass with the
  // same plumbing. Fully deterministic: DuckDB replays both literal
  // codebooks, assignment, probing, ADC, and rerank.
  def simAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val cent = centroidFrame(spark, centroidsFor(spark, dir))
      .select(col("cid").as("cell"), col("cv"))
    def nearestCells(df: DataFrame, n: Int): DataFrame = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("_cscore").desc, col("cell"))
      df.crossJoin(broadcast(cent))
        .withColumn("_cscore", cosine(col("v"), col("cv")))
        .withColumn("_crk", row_number().over(w))
        .filter(col("_crk") <= n)
        .select(col("vec_id"), col("cell"))
    }
    // bestCell fold on the corpus side — see simAnnIvf; the 10-row
    // probe side keeps the top-NumProbes window
    val assigned = e.withColumn("_best",
        bestCell(centroidsFor(spark, dir), col("v")))
      .select(col("vec_id"), (-col("_best").getField("nc")).as("cell"))
    val probes = nearestCells(e.filter(col("vec_id") < 10), NumProbes)
      .select(col("vec_id").as("query_id"), col("cell"))
    // candidate pairs from cell membership alone (no vectors touched)
    val cand = assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    // ADC over candidates' codes only
    val cb = broadcast(pqFrame(spark, pqCodebooksFor(spark, dir)))
    val sv = subvecs(e, "vec_id")
    val wEnc = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("_d"), col("cid"))
    val codes = sv.join(cb, "sub")
      .withColumn("_d", col("cc") - lit(2.0) * dotCol(col("sv"), col("cv")))
      .withColumn("_rk", row_number().over(wEnc))
      .filter(col("_rk") === 1)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
    val qsv = subvecs(e.filter(col("vec_id") < 10), "vec_id")
      .withColumnRenamed("vec_id", "query_id")
    val dt = qsv.join(cb, "sub")
      .select(col("query_id"), col("sub"), col("cid"),
        dotCol(col("sv"), col("cv")).as("pdot"))
    val adc = cand.join(codes, "vec_id")
      .join(broadcast(dt),
        codes("sub") === dt("sub") && codes("code") === dt("cid") &&
          cand("query_id") === dt("query_id"))
      .groupBy(cand("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc"))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val shortlist = adc.withColumn("_rk", row_number().over(wShort))
      .filter(col("_rk") <= PqCandidates)
      .select(col("query_id"), col("vec_id"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = shortlist.join(e, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def simAnnIvfPqSql: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    $centroidCte,
    $pqCbCte,
    ranked AS (
      SELECT n.vec_id, cent.cid AS cell,
        row_number() OVER (PARTITION BY n.vec_id
          ORDER BY list_dot_product(n.v, cent.cv) / (n.nrm * cent.cnrm) DESC,
                   cent.cid) AS rk
      FROM n CROSS JOIN cent),
    assigned AS (SELECT vec_id, cell FROM ranked WHERE rk = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM ranked
               WHERE vec_id < 10 AND rk <= $NumProbes),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id
      FROM probes p JOIN assigned a ON p.cell = a.cell
      WHERE a.vec_id <> p.query_id),
    sv AS (
      SELECT vec_id, s.sub,
        list_slice(v, s.sub * $PqSubDim + 1, s.sub * $PqSubDim + $PqSubDim)
          AS sv
      FROM e CROSS JOIN range($PqSubspaces) s(sub)),
    enc AS (
      SELECT vec_id, sub, cid AS code FROM (
        SELECT sv.vec_id, sv.sub, cb.cid,
          row_number() OVER (PARTITION BY sv.vec_id, sv.sub
            ORDER BY cb.cc - 2 * list_dot_product(sv.sv, cb.cv), cb.cid)
            AS rk
        FROM sv JOIN cb ON sv.sub = cb.sub) x
      WHERE rk = 1),
    qsv AS (SELECT vec_id AS query_id, sub, sv FROM sv WHERE vec_id < 10),
    dt AS (
      SELECT q.query_id, q.sub, cb.cid,
        list_dot_product(q.sv, cb.cv) AS pdot
      FROM qsv q JOIN cb ON q.sub = cb.sub),
    adc AS (
      SELECT d.query_id, c.vec_id, SUM(d.pdot) AS adc
      FROM cand ca
      JOIN enc c ON c.vec_id = ca.vec_id
      JOIN dt d ON c.sub = d.sub AND c.code = d.cid
        AND d.query_id = ca.query_id
      GROUP BY 1, 2),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, vec_id) AS rk
        FROM adc) x
      WHERE rk <= $PqCandidates),
    scored AS (
      SELECT s.query_id, s.vec_id,
        list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
      FROM short s
      JOIN n q ON q.vec_id = s.query_id
      JOIN n c ON c.vec_id = s.vec_id)
    SELECT query_id, rnk AS "rank", vec_id AS neighbor_id,
      round(cos, 6) AS cos_sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored) x
    WHERE rnk <= 10
    ORDER BY query_id, "rank""""

  // --- SemDeDup: cluster-scoped embedding near-dup --------------------------
  // Semantic deduplication (Abbas et al. 2023, "SemDeDup: Data-efficient
  // learning at web-scale through semantic deduplication"): assign every
  // vector to its trained k-means cell, then score ONLY within-cell pairs
  // against the cosine threshold — pair generation is Σ cell² instead of
  // corpus², and at 100 TB the number of cells k scales with the corpus
  // (k ≈ N / target-cell-size) so cells stay bounded. As a backstop,
  // cells above the shared near-dup `BucketCap` are shed loudly (observed
  // metric) — mass-identical embeddings are exact dedup's job, the same
  // contract as every LSH family. One broadcast assignment pass + one
  // co-partitioned self-join on the cell id; the trained centroid VECTORS
  // are embedded as literals into the DuckDB oracle, which replays
  // assignment, the cell-size cap, and in-cell pair scoring exactly.
  private[queries] val SemDedupThreshold = 0.4

  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    // bestCell fold on the corpus side — see simAnnIvf
    val assigned = e.withColumn("_best",
        bestCell(centroidsFor(spark, dir), col("v")))
      .select(col("vec_id"), col("v"),
        (-col("_best").getField("nc")).as("cid"))
    val counted = assigned.withColumn("_n",
      count(lit(1)).over(Window.partitionBy(col("cid"))))
    val capped = counted
      .observe("dedup_semantic_cells",
        max(col("_n")).as("max_cell"),
        sum(when(col("_n") > DedupOps.BucketCap, 1L).otherwise(0L))
          .as("dropped_members"))
      .filter(col("_n").between(2, DedupOps.BucketCap))
      .select(col("vec_id"), col("v"), col("cid"))
    capped.as("a").join(capped.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim", round(cosine(col("a.v"), col("b.v")), 6))
      .filter(col("cos_sim") >= SemDedupThreshold)
      .select(col("a.cid").as("cid"), col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"), col("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private def dedupSemanticSql: String = s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    $centroidCte,
    ranked AS (
      SELECT n.vec_id, cent.cid,
        row_number() OVER (PARTITION BY n.vec_id
          ORDER BY list_dot_product(n.v, cent.cv) / (n.nrm * cent.cnrm) DESC,
                   cent.cid) AS rk
      FROM n CROSS JOIN cent),
    assigned AS (SELECT vec_id, cid FROM ranked WHERE rk = 1),
    capped AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, count(*) OVER (PARTITION BY cid) AS cn
        FROM assigned) x
      WHERE cn BETWEEN 2 AND ${DedupOps.BucketCap})
    SELECT cid, vec_a, vec_b, cos_sim FROM (
      SELECT a.cid AS cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
        round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6)
          AS cos_sim
      FROM capped a
      JOIN capped b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nb ON nb.vec_id = b.vec_id) p
    WHERE cos_sim >= $SemDedupThreshold
    ORDER BY vec_a, vec_b"""

  def defs: Seq[(String, QueryDef)] = Seq(
    "sim_topk" -> QueryDef(simTopK, Some(simTopKSql),
      "exact cosine top-10 for 10 query vectors, two-phase top-k"),
    "sim_ann_lsh" -> QueryDef(simAnnLsh, Some(simAnnLshSql),
      "approximate top-10 via 16-table random-hyperplane LSH probing; " +
        "oracle replays signatures (plane matrix as SQL literal), " +
        "candidates, and rerank"),
    "sim_ann_ivf" -> QueryDef(simAnnIvf, Some(simAnnIvfSql),
      "approximate top-10 via 32-cell IVF (k-means-trained centroids, " +
        "8-cell probing); oracle replays assignment, probing, and " +
        "rerank against the trained centroid literals"),
    "sim_ann_pq" -> QueryDef(simAnnPq, Some(simAnnPqSql),
      "approximate top-10 via 8x16 product quantization (64x vector " +
        "compression) with ADC shortlist + exact rerank; oracle replays " +
        "codebooks, encoding, ADC, and rerank from trained literals"),
    "sim_ann_ivfpq" -> QueryDef(simAnnIvfPq, Some(simAnnIvfPqSql),
      "IVF-PQ composition: probe 8 of 32 trained cells, ADC-score only " +
        "their members' codes, exact rerank — cell pruning x code " +
        "compression, both oracle-replayed from literals"),
    "sim_cluster_assign" -> QueryDef(simClusterAssign,
      Some(simClusterAssignSql),
      "semantic cluster labeling (trained k-means cells) with " +
        "per-cluster population + coherence rollup — the " +
        "diversity-balancing primitive"),
    "sim_ann_ivf_stream" -> QueryDef(simAnnIvfStream, Some(simAnnIvfSql),
      "the STREAM-built IVF cell table on the oracle signal: 3 " +
        "exactly-once ivfInto micro-batches, probed identically to " +
        "sim_ann_ivf_table — result must equal the one-shot index"),
    "sim_ann_ivf_table" -> QueryDef(simAnnIvfTable, Some(simAnnIvfSql),
      "IVF over a cell-partitioned graft TABLE: probing = stats-pruned " +
        "per-cell reads through the DataSource — no index structure, " +
        "just table layout + file skipping; result == sim_ann_ivf"),
    "sim_ann_filtered" -> QueryDef(simAnnFiltered, Some(simAnnFilteredSql),
      "filtered vector search: label prefilter composed with IVF " +
        "probing (widened to 12 cells); one full-corpus index serves " +
        "every predicate, oracle replays filter + probe + rerank"),
    "dedup_semantic" -> QueryDef(dedupSemantic, Some(dedupSemanticSql),
      "SemDeDup cluster-scoped embedding near-dup: trained k-means " +
        "cell assignment, capped cells, within-cell cosine pairs only " +
        "— oracle replays assignment, cap, and scoring from centroid " +
        "literals"))
}
