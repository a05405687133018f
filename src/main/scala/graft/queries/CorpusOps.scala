package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.util.Tables.{spread, t}

/** The two corpus-level compositions a training-data pipeline actually
  * ships:
  *
  *   - dedup_corpus — the END-TO-END deduplication deliverable: exact
  *     groups and verified near-dup pairs merged into one edge set,
  *     closed transitively ([[DedupCluster.components]]), one canonical
  *     survivor kept per CLUSTER (longest doc, doc_id tiebreak — the
  *     same total order as dedup_canonical_pick, now applied across
  *     near-dup chains, so A~B~C collapses to one survivor even though
  *     A~C was never emitted).
  *   - text_contamination — probe-overlap (benchmark-contamination)
  *     check: given a probe set (here the deterministic doc_id < 50
  *     slice standing in for an eval benchmark), report corpus docs
  *     whose winnowed-fingerprint containment against any single probe
  *     doc crosses the threshold. Probe side is broadcast-sized by
  *     construction (benchmarks are MBs against a corpus of TBs); the
  *     corpus side is one fingerprint pass + one broadcast join — no
  *     self-join, no bucket caps needed.
  *
  * At 100 TB: dedup_corpus = the near-dup family's capped-bucket pair
  * generation + O(log diameter) label-propagation rounds + one window
  * pass per cluster; text_contamination = linear corpus pass against a
  * broadcast probe-fingerprint set.
  */
object CorpusOps {

  // --- end-to-end corpus dedup ---------------------------------------------
  def dedupCorpus(spark: SparkSession, dir: String): DataFrame =
    clusterRanks(spark, dir)
      .filter(col("_rn") === 1)
      .select(col("doc_id").as("survivor_id"), col("cluster_id"),
        col("n_members"))
      .orderBy(col("survivor_id"))

  /** [[dedupCorpus]] fed by the SPANNING candidate tier (round-15: the
    * closure feed is selectable — this is the opt-in for crawl-scale
    * release runs): near-dup edges come from
    * [[DedupOps.dedupNgramSpanning]]'s verified star edges, O(family)
    * per mega-duplicate bucket instead of all-pairs' C(m,2). The
    * closure can differ from the all-pairs feed only where the Jaccard
    * verify REJECTS a star edge that a third doc would have bridged —
    * the cost of linear candidates on a 100-member-clique crawl; both
    * variants sit on the oracle, so the delta is measured, not assumed.
    */
  def dedupCorpusSpanning(spark: SparkSession, dir: String): DataFrame =
    clusterRanks(spark, dir, spanning = true)
      .filter(col("_rn") === 1)
      .select(col("doc_id").as("survivor_id"), col("cluster_id"),
        col("n_members"))
      .orderBy(col("survivor_id"))

  /** The shared closure+ranking frame behind [[dedupCorpus]],
    * [[corpusPairs]], and (via the survivor set) the curation funnel
    * and release manifest: every document with its cluster id,
    * canonical rank (_rn = 1 is the survivor), anchor, and cluster
    * size.
    *
    * MATERIALIZED ONCE per (JVM, sf dir) into a transactional graft
    * table and read back by every consumer — a release run computes
    * its closure exactly once and every downstream artifact (corpus,
    * pairs, funnel accounting, manifest) reads the same committed
    * snapshot, so they are consistent BY STORAGE, not merely by
    * sharing code. Before this, the four compositions each re-ran
    * near-dup pair generation + the label-propagation closure from
    * scratch (~4× the closure cost per bench pass).
    */
  private def clusterRanks(spark: SparkSession, dir: String,
      spanning: Boolean = false): DataFrame =
    spark.read.format("graft").option("table", "closure")
      .load(closureStoreFor(spark, dir, spanning))
      .withColumnRenamed("rn", "_rn")

  /** The build-once store holding the committed `closure` table (one
    * store per candidate-feed variant — a release run picks its feed
    * once and every downstream artifact reads that closure).
    */
  private def closureStoreFor(spark: SparkSession, dir: String,
      spanning: Boolean): String =
    FixtureStore.memoized(
      if (spanning) "graft_corpus_closure_span" else "graft_corpus_closure",
      dir) { root =>
      val c = new graft.table.GraftClient(spark, root)
      val ranks = clusterRanksLive(spark, dir, spanning)
        .select(col("doc_id"), col("cluster_id"),
          col("_rn").as("rn"), col("anchor_id"), col("n_members"))
      c.newTx()
      c.createTable("closure", ranks.schema)
      c.insert("closure", ranks)
      c.commitTxRetrying()
    }

  /** The live computation behind the materialized closure table. */
  private def clusterRanksLive(spark: SparkSession,
      dir: String, spanning: Boolean): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), md5(norm).as("fingerprint"))
    // exact-duplicate edges: every member points at its group's min id
    val exactEdges = docs
      .withColumn("gmin",
        min(col("doc_id")).over(Window.partitionBy(col("fingerprint"))))
      .filter(col("doc_id") =!= col("gmin"))
      .select(col("doc_id").as("a"), col("gmin").as("b"))
    // verified near-dup edges (rare-6-gram inverted index, Jaccard >= .5)
    // — all-pairs candidates by default, verified star edges on the
    // spanning feed (O(family) candidates per bucket at crawl scale)
    val nearSrc =
      if (spanning) DedupOps.dedupNgramSpanning(spark, dir)
      else DedupOps.dedupNgramJaccard(spark, dir)
    val nearEdges = nearSrc
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val labels = DedupCluster.components(exactEdges.union(nearEdges),
      "a", "b")
    // docs in no edge are their own singleton cluster
    val clustered = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    clustered
      .withColumn("_rn", row_number().over(w))
      // the default frame (unbounded preceding .. current) makes
      // first_value the cluster's rank-1 doc for EVERY member — the
      // anchor rides the same window pass, so corpusPairs needs no
      // self-join or second traversal of the closure
      .withColumn("anchor_id", first(col("doc_id")).over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }

  /** Contrastive training-pair EXPORT (the SimCSE/retrieval-training
    * handoff): each duplicate cluster contributes (anchor = canonical
    * survivor, positive = every other member) pairs — text pairs known
    * to be semantically equivalent because the dedup closure put them
    * in one cluster. Downstream these are the positives a contrastive
    * loss trains on (hard negatives come from sim_hard_negatives).
    * Reuses the exact closure [[dedupCorpus]] ships, so the pair set is
    * consistent with the released corpus by construction.
    */
  def corpusPairs(spark: SparkSession, dir: String): DataFrame =
    clusterRanks(spark, dir)
      .filter(col("_rn") > 1)
      .select(col("anchor_id"), col("doc_id").as("positive_id"),
        col("n_members"))
      .orderBy(col("anchor_id"), col("positive_id"))

  /** The exact+near-dup closure CTE chain parametrized on the near-dup
    * edge feed: ends with `surv` (doc_id, cluster_id, rn, n_members;
    * rn = 1 is the survivor). A def, not interpolation-order-sensitive
    * vals (the ProbeMax lesson).
    */
  private def closureCtesWith(nearSql: String) = s"""near AS (
      $nearSql
    ),
    f AS (
      SELECT doc_id, n_chars,
        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents),
    exact_edges AS (
      SELECT doc_id AS a, MIN(doc_id) OVER (PARTITION BY fp) AS b
      FROM f),
    edges0 AS (
      SELECT doc_a AS a, doc_b AS b FROM near
      UNION
      SELECT a, b FROM exact_edges WHERE a <> b),
    edges AS (
      SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
    walk (id, reach) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT w.id, e.b FROM walk w JOIN edges e ON w.reach = e.a),
    comp AS (
      SELECT id AS doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY id),
    lab AS (
      SELECT f.doc_id, f.n_chars,
        COALESCE(c.cluster_id, f.doc_id) AS cluster_id
      FROM f LEFT JOIN comp c ON c.doc_id = f.doc_id),
    surv AS (
      SELECT doc_id, cluster_id,
        row_number() OVER (PARTITION BY cluster_id
          ORDER BY n_chars DESC, doc_id) AS rn,
        COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM lab)"""

  /** The default (all-pairs-fed) chain, shared by the dedup_corpus,
    * pairs, curation, and release oracles.
    */
  private val dedupClosureCtes = closureCtesWith(DedupOps.ngramPairsSql)

  private val dedupCorpusSql = s"""
    WITH RECURSIVE $dedupClosureCtes
    SELECT doc_id AS survivor_id, cluster_id, n_members
    FROM surv WHERE rn = 1
    ORDER BY survivor_id"""

  private val dedupCorpusSpanningSql = s"""
    WITH RECURSIVE ${closureCtesWith(DedupOps.ngramSpanningPairsSql)}
    SELECT doc_id AS survivor_id, cluster_id, n_members
    FROM surv WHERE rn = 1
    ORDER BY survivor_id"""

  // declared AFTER dedupClosureCtes: an earlier val would interpolate
  // null at init time (the ProbeMax lesson below)
  private val corpusPairsSql = s"""
    WITH RECURSIVE $dedupClosureCtes
    SELECT a.doc_id AS anchor_id, m.doc_id AS positive_id, a.n_members
    FROM surv a JOIN surv m USING (cluster_id)
    WHERE a.rn = 1 AND m.rn > 1
    ORDER BY anchor_id, positive_id"""


  // --- full curation funnel -------------------------------------------------
  /** The training-data curation FUNNEL: every document is attributed to
    * its first failing stage — too short (n_chars < [[MinChars]]) →
    * repetitive (distinct-word ratio < [[MinDistinctRatio]], the Gopher
    * gate) → duplicate (not its cluster's canonical survivor, clusters
    * from the same exact+near-dup closure as dedup_corpus) → kept — and
    * the funnel is rolled up per source with kept-byte totals. This is
    * the accounting report a curation run ships with its output corpus:
    * where every byte went and why. One linear gating pass + the dedup
    * pipeline it already shares; the rollup is one partial-agg shuffle
    * on source.
    */
  private val MinChars = 150L
  private val MinDistinctRatio = 0.35

  /** Probe set boundary: doc_id < ProbeMax is "the benchmark".
    * Declared BEFORE the SQL vals that interpolate it — a later
    * declaration initializes as 0 at interpolation time (Scala val
    * order), silently emptying the probe set.
    */
  private val ProbeMax = 50L
  private val ContainThreshold = 0.5

  def corpusCuration(spark: SparkSession, dir: String): DataFrame = {
    // (r17: spreading the gated branch's raw text was A/B-measured and
    // REVERTED — +54 % at bench scale; the added exchange costs more
    // than the serial split+array_distinct pass it parallelizes)
    val docs = t(spark, dir, "documents")
    val words = split(regexp_replace(trim(col("text")), "\\s+", " "), " ")
    val ratio = size(array_distinct(words)).cast("double") / size(words)
    val gated = docs.select(col("doc_id"), col("source"), col("n_chars"),
      (col("n_chars") >= MinChars).as("len_ok"),
      (ratio >= MinDistinctRatio).as("rep_ok"))
    // benchmark-contamination gate: any verbatim 13-gram shared with the
    // probe slice (the text_ngram_decontam signal) drops the doc before
    // it can count as a dedup survivor
    val contaminated = contaminatedDocIds(spark, dir)
      .select(col("doc_id"), lit(true).as("is_cont"))
    val survivors = dedupCorpus(spark, dir)
      .select(col("survivor_id").as("doc_id"), lit(true).as("is_surv"))
    val clean = !col("is_cont")
    val kept = col("len_ok") && col("rep_ok") && clean && col("is_surv")
    gated.join(contaminated, Seq("doc_id"), "left")
      .join(survivors, Seq("doc_id"), "left")
      .withColumn("is_cont", coalesce(col("is_cont"), lit(false)))
      .withColumn("is_surv", coalesce(col("is_surv"), lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("len_ok"), 1L).otherwise(0L)).as("n_too_short"),
        sum(when(col("len_ok") && !col("rep_ok"), 1L).otherwise(0L))
          .as("n_repetitive"),
        sum(when(col("len_ok") && col("rep_ok") && !clean, 1L)
          .otherwise(0L)).as("n_contaminated"),
        sum(when(col("len_ok") && col("rep_ok") && clean && !col("is_surv"),
          1L).otherwise(0L)).as("n_dup_dropped"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("source"))
  }

  private val corpusCurationSql = s"""
    WITH RECURSIVE $dedupClosureCtes,
    sv AS (SELECT doc_id FROM surv WHERE rn = 1),
    cw AS (
      SELECT doc_id, string_split(
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    csized AS (SELECT doc_id, ws, len(ws) - 12 AS n_positions
      FROM cw WHERE len(ws) >= 13),
    cg AS (
      SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS gram
      FROM csized, unnest(range(1, n_positions + 1)) t(i)),
    cprobe AS (SELECT DISTINCT gram FROM cg WHERE doc_id < $ProbeMax),
    cont AS (
      SELECT DISTINCT cg.doc_id FROM cg JOIN cprobe USING (gram)
      WHERE cg.doc_id >= $ProbeMax),
    gated AS (
      SELECT d.doc_id, d.source, d.n_chars,
        d.n_chars >= $MinChars AS len_ok,
        CAST(len(list_distinct(string_split(
            regexp_replace(trim(d.text), '\\s+', ' ', 'g'), ' ')))
          AS DOUBLE) /
          len(string_split(
            regexp_replace(trim(d.text), '\\s+', ' ', 'g'), ' '))
          >= $MinDistinctRatio AS rep_ok,
        (cont.doc_id IS NOT NULL) AS is_cont,
        (sv.doc_id IS NOT NULL) AS is_surv
      FROM documents d
      LEFT JOIN cont ON cont.doc_id = d.doc_id
      LEFT JOIN sv ON sv.doc_id = d.doc_id)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS BIGINT)
        AS n_too_short,
      CAST(SUM(CASE WHEN len_ok AND NOT rep_ok THEN 1 ELSE 0 END) AS BIGINT)
        AS n_repetitive,
      CAST(SUM(CASE WHEN len_ok AND rep_ok AND is_cont THEN 1 ELSE 0 END)
        AS BIGINT) AS n_contaminated,
      CAST(SUM(CASE WHEN len_ok AND rep_ok AND NOT is_cont AND NOT is_surv
        THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
      CAST(SUM(CASE WHEN len_ok AND rep_ok AND NOT is_cont AND is_surv
        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN len_ok AND rep_ok AND NOT is_cont AND is_surv
        THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM gated
    GROUP BY source
    ORDER BY source"""

  // --- contamination / probe-overlap ---------------------------------------

  def textContamination(spark: SparkSession, dir: String): DataFrame = {
    // ONE winnow pass — the 50M-position md5 subtree executes exactly
    // once: per-doc totals ride each row via a doc_id window, then
    // probe × corpus pairs are generated INSIDE each fingerprint bucket
    // (the winnowPairs/simhash trick) instead of the earlier broadcast
    // self-join whose three branches (probe, corpus, totals) each
    // recomputed the full pass (measured 4.8 s → 2.8 s at sf0.1).
    // Pair volume per bucket is |corpus members| × |probe members|; the
    // probe set is ≤ $ProbeMax docs, so linear in bucket size.
    val fps = DedupOps.winnowFps(spark, dir, k = 24, win = 8)
      .withColumn("tot",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // r17: spread the fingerprint exchange (see DedupOps.dedupNgramJaccard)
    spread(fps, col("fp"))
      .groupBy(col("fp"))
      .agg(collect_list(struct(col("doc_id"), col("tot"))).as("ids"))
      .select(explode(expr(
        s"""flatten(transform(
              filter(ids, c -> c.doc_id >= $ProbeMax),
              c -> transform(
                filter(ids, p -> p.doc_id < $ProbeMax),
                p -> struct(c.doc_id AS doc_id, c.tot AS tot,
                            p.doc_id AS probe_id))))""")).as("pr"))
      .groupBy(col("pr.doc_id").as("doc_id"),
        col("pr.probe_id").as("probe_id"), col("pr.tot").as("tot"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("tot"), 6))
      .filter(col("containment") >= ContainThreshold)
      .select(col("doc_id"), col("probe_id"), col("n_shared"),
        col("containment"))
      .orderBy(col("doc_id"), col("probe_id"))
  }

  private val textContaminationSql = s"""
    WITH d AS (
      SELECT doc_id,
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
      FROM documents),
    pos AS (
      SELECT doc_id, nt,
        unnest(range(1, greatest(length(nt) - 23, 1) + 1)) AS i
      FROM d),
    h AS (
      SELECT doc_id, i,
        ('0x' || substr(md5(substr(nt, i, 24)), 1, 15))::BIGINT AS h
      FROM pos),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, i,
          MIN(h) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS fp
        FROM h) x
      WHERE i >= 8),
    probe AS (SELECT doc_id AS probe_id, fp FROM fps
              WHERE doc_id < $ProbeMax),
    corp AS (SELECT doc_id, fp FROM fps WHERE doc_id >= $ProbeMax),
    tot AS (SELECT doc_id, COUNT(*) AS tot FROM corp GROUP BY 1),
    inter AS (
      SELECT c.doc_id, p.probe_id, COUNT(*) AS n_shared
      FROM corp c JOIN probe p ON c.fp = p.fp
      GROUP BY 1, 2)
    SELECT i.doc_id, i.probe_id, i.n_shared,
      round(CAST(i.n_shared AS DOUBLE) / t.tot, 6) AS containment
    FROM inter i JOIN tot t ON t.doc_id = i.doc_id
    WHERE round(CAST(i.n_shared AS DOUBLE) / t.tot, 6) >= $ContainThreshold
    ORDER BY i.doc_id, i.probe_id"""

  // --- exact n-gram decontamination ----------------------------------------
  // The GPT-3-style eval-set filter (Brown et al. 2020, appendix C):
  // a corpus document is contaminated if any of its word 13-grams
  // appears verbatim in the probe (benchmark) set. Distinct probe grams
  // are broadcast-sized by construction; the corpus side is ONE linear
  // gram pass + broadcast semi-join + a doc_id-keyed count — no
  // corpus-wide distinct, no self-join. The denominator is gram
  // POSITIONS (size - 12, computed map-side), so no corpus-scale
  // distinct aggregation exists anywhere in the plan.
  private val NgramN = 13

  /** (corpus-side gram positions, distinct broadcast probe grams) — the
    * shared halves of the 13-gram decontamination join, used by the
    * standalone report query and the curation funnel's gate.
    */
  private def ngramFrames(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // (r17: normalizing ABOVE the spread exchange — the DedupOps
    // normalizedWords win — was A/B-measured HERE and REVERTED:
    // text_ngram_decontam +31 %, corpus_curation +54 %. This exchange is
    // a SHARING point: the probe and corpus branches both consume it,
    // so with split below the exchange the regex runs once and both
    // branches read ws arrays; above, each branch recomputes it.)
    val d = t(spark, dir, "documents")
      .select(col("doc_id"),
        split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
          .as("ws"))
      .transform(spread(_, col("doc_id")))
      .filter(size(col("ws")) >= NgramN)
    val grams = d.select(col("doc_id"),
      (size(col("ws")) - lit(NgramN - 1)).as("n_positions"),
      explode(expr(
        s"""transform(sequence(0, size(ws) - $NgramN),
              i -> concat_ws(' ', slice(ws, i + 1, $NgramN)))"""))
        .as("gram"))
    val probe = grams.filter(col("doc_id") < ProbeMax)
      .select(col("gram")).distinct()
    (grams, probe)
  }

  /** Distinct corpus doc_ids sharing any verbatim 13-gram with the
    * probe slice — the GATE form (no counts/fractions/sort).
    */
  private def contaminatedDocIds(spark: SparkSession,
      dir: String): DataFrame = {
    val (grams, probe) = ngramFrames(spark, dir)
    grams.filter(col("doc_id") >= ProbeMax)
      .join(broadcast(probe), "gram")
      .select(col("doc_id")).distinct()
  }

  def textNgramDecontam(spark: SparkSession, dir: String): DataFrame = {
    val (grams, probe) = ngramFrames(spark, dir)
    grams.filter(col("doc_id") >= ProbeMax)
      .join(broadcast(probe), "gram")
      .groupBy(col("doc_id"), col("n_positions"))
      .agg(count(lit(1)).as("n_contaminated"))
      .withColumn("frac", round(
        col("n_contaminated").cast("double") / col("n_positions"), 6))
      .select(col("doc_id"), col("n_positions"), col("n_contaminated"),
        col("frac"))
      .orderBy(col("doc_id"))
  }

  private val textNgramDecontamSql = s"""
    WITH d AS (
      SELECT doc_id, string_split(
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    sized AS (SELECT doc_id, ws, len(ws) - ${NgramN - 1} AS n_positions
      FROM d WHERE len(ws) >= $NgramN),
    g AS (
      SELECT doc_id, n_positions,
        array_to_string(ws[i:i+${NgramN - 1}], ' ') AS gram
      FROM sized, unnest(range(1, n_positions + 1)) t(i)),
    probe AS (SELECT DISTINCT gram FROM g WHERE doc_id < $ProbeMax)
    SELECT doc_id, n_positions, count(*) AS n_contaminated,
      round(CAST(count(*) AS DOUBLE) / n_positions, 6) AS frac
    FROM g JOIN probe USING (gram)
    WHERE doc_id >= $ProbeMax
    GROUP BY doc_id, n_positions
    ORDER BY doc_id"""

  // --- The release manifest: what a training run actually consumes ---------
  /** The funnel's OUTPUT side: the kept set (same gates as
    * [[corpusCuration]] — length, repetition, decontamination, dedup
    * survivor) assigned to train/val/test by the deterministic md5
    * bucket (the `text_split_assign` rule, so re-releases land docs in
    * the same split), summarized per split as the doc/token/char
    * manifest a training run is handed. One composition, every gate
    * shared with its standalone query.
    */
  def corpusRelease(spark: SparkSession, dir: String): DataFrame = {
    // (r17: spreading the gated branch measured flat here and +54 % on
    // corpusCuration's identical shape — reverted with it)
    val docs = t(spark, dir, "documents")
    val words = split(regexp_replace(trim(col("text")), "\\s+", " "), " ")
    val ratio = size(array_distinct(words)).cast("double") / size(words)
    val nTokens = size(split(
      regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
      .cast("long")
    val gated = docs.select(col("doc_id"), col("n_chars"),
      nTokens.as("n_tokens"),
      (col("n_chars") >= MinChars && ratio >= MinDistinctRatio)
        .as("gates_ok"))
    val contaminated = contaminatedDocIds(spark, dir)
      .select(col("doc_id"), lit(true).as("is_cont"))
    val survivors = dedupCorpus(spark, dir)
      .select(col("survivor_id").as("doc_id"), lit(true).as("is_surv"))
    val bucket = pmod(call_function("md5_top60", col("doc_id").cast("string")), lit(100L))
    gated.join(contaminated, Seq("doc_id"), "left")
      .join(survivors, Seq("doc_id"), "left")
      .filter(col("gates_ok") &&
        coalesce(col("is_cont"), lit(false)) === false &&
        coalesce(col("is_surv"), lit(false)) === true)
      .withColumn("split", when(bucket < 80, "train")
        .when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("split"))
  }

  private val corpusReleaseSql = s"""
    WITH RECURSIVE $dedupClosureCtes,
    sv AS (SELECT doc_id FROM surv WHERE rn = 1),
    cw AS (
      SELECT doc_id, string_split(
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    csized AS (SELECT doc_id, ws, len(ws) - 12 AS n_positions
      FROM cw WHERE len(ws) >= 13),
    cg AS (
      SELECT doc_id, array_to_string(ws[i:i+12], ' ') AS gram
      FROM csized, unnest(range(1, n_positions + 1)) t(i)),
    cprobe AS (SELECT DISTINCT gram FROM cg WHERE doc_id < $ProbeMax),
    cont AS (
      SELECT DISTINCT cg.doc_id FROM cg JOIN cprobe USING (gram)
      WHERE cg.doc_id >= $ProbeMax),
    kept AS (
      SELECT d.doc_id, d.n_chars,
        len(string_split(
          regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g'), ' '))
          AS n_tokens
      FROM documents d
      LEFT JOIN cont ON cont.doc_id = d.doc_id
      JOIN sv ON sv.doc_id = d.doc_id
      WHERE d.n_chars >= $MinChars
        AND CAST(len(list_distinct(string_split(
              regexp_replace(trim(d.text), '\\s+', ' ', 'g'), ' ')))
            AS DOUBLE) /
            len(string_split(
              regexp_replace(trim(d.text), '\\s+', ' ', 'g'), ' '))
            >= $MinDistinctRatio
        AND cont.doc_id IS NULL)
    SELECT CASE
        WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 100 < 80 THEN 'train'
        WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 100 < 90 THEN 'val'
        ELSE 'test' END AS split,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM kept
    GROUP BY 1
    ORDER BY split"""

  // --- Leakage-free split: assignment by CLUSTER, not doc ------------------
  /** Train/val/test assignment hashed on the dedup CLUSTER id — the
    * `text_split_assign` rule one level up the closure. Hashing per-doc
    * leaks: a near-duplicate pair split across train and test inflates
    * eval (the contamination path n-gram decontam exists to catch);
    * hashing the cluster id puts every member of a duplicate cluster in
    * ONE split by construction. Reads the same committed closure table
    * the release artifacts use, so split and corpus are consistent by
    * storage. Returns the per-doc assignment (what a sharding step
    * consumes); deterministic across re-releases, like split_assign.
    */
  def corpusSplitLeakfree(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(call_function("md5_top60", col("cluster_id").cast("string")), lit(100L))
    clusterRanks(spark, dir)
      .select(col("doc_id"), col("cluster_id"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  private val corpusSplitLeakfreeSql = s"""
    WITH RECURSIVE $dedupClosureCtes
    SELECT doc_id, cluster_id,
      CASE
        WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))
          ::BIGINT % 100 < 90 THEN 'train'
        WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))
          ::BIGINT % 100 < 95 THEN 'val'
        ELSE 'test' END AS split
    FROM surv
    ORDER BY doc_id"""

  // --- Deterministic seeded shard layout -----------------------------------
  /** The LAST step of a training-data pipeline: assign every doc to one
    * of N output shards and fix the order WITHIN each shard — the
    * "global shuffle + write N shard files" a trainer consumes. Both
    * decisions are pure functions of (seed, doc_id): shard =
    * md5-bucket(seed:doc_id) mod N, intra-shard order = that same hash
    * — a deterministic global shuffle (re-running the release, retrying
    * a failed shard writer, or resharding on another cluster reproduces
    * byte-identical shards; no RNG state, no partition-order
    * dependence). Balance falls out of the hash (each shard gets
    * ~1/N ± noise). The emitted row per shard carries the doc/char
    * totals AND an order signature (sum of doc_id × its position), so
    * the oracle pins the exact intra-shard ORDER, not just membership.
    *
    * At 100 TB: one zero-shuffle projection + one exchange on the shard
    * key (the write's own partitioning — repartition(N, shard) feeds
    * per-shard sorted writers directly); nothing driver-side at any
    * corpus size.
    */
  def corpusShard(spark: SparkSession, dir: String): DataFrame = {
    val NumShards = 16L
    val hkey = md5(concat(lit("release-1:"), col("doc_id").cast("string")))
    val shard = pmod(conv(substring(hkey, 1, 15), 16, 10).cast("bigint"),
      lit(NumShards))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("hkey"), col("doc_id"))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        shard.as("shard"), hkey.as("hkey"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("doc_id") * col("rn")).cast("long").as("order_sig"))
      .orderBy(col("shard"))
  }

  private val corpusShardSql = """
    WITH h AS (
      SELECT doc_id, n_chars,
        ('0x' || substr(md5('release-1:' || CAST(doc_id AS VARCHAR)),
          1, 15))::BIGINT % 16 AS shard,
        md5('release-1:' || CAST(doc_id AS VARCHAR)) AS hkey
      FROM documents),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY shard ORDER BY hkey, doc_id) AS rn
      FROM h)
    SELECT shard, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      CAST(SUM(doc_id * rn) AS BIGINT) AS order_sig
    FROM r GROUP BY 1 ORDER BY shard"""

  def defs: Seq[(String, QueryDef)] = Seq(
    "corpus_shard" -> QueryDef(corpusShard, Some(corpusShardSql),
      "deterministic seeded shard layout: shard AND intra-shard order " +
        "are pure functions of (seed, doc_id) — reproducible global " +
        "shuffle into N balanced shards, order pinned by signature"),
    "corpus_split_leakfree" -> QueryDef(corpusSplitLeakfree,
      Some(corpusSplitLeakfreeSql),
      "leakage-free split: train/val/test hashed on the dedup CLUSTER " +
        "id, so near-duplicates never straddle an eval boundary — " +
        "per-doc assignment from the committed closure"),
    "corpus_release" -> QueryDef(corpusRelease, Some(corpusReleaseSql),
      "the release manifest: the curated kept set split train/val/test " +
        "by the deterministic md5 bucket, per-split doc/token/char " +
        "totals — the funnel's handoff artifact"),
    "corpus_pairs" -> QueryDef(corpusPairs, Some(corpusPairsSql),
      "contrastive training-pair export: (canonical survivor, member) " +
        "positives per duplicate cluster, consistent with the released " +
        "corpus by construction (shared closure)"),
    "dedup_corpus" -> QueryDef(dedupCorpus, Some(dedupCorpusSql),
      "END-TO-END dedup: exact groups + near-dup pairs closed " +
        "transitively, one canonical survivor per cluster"),
    "dedup_corpus_spanning" -> QueryDef(dedupCorpusSpanning,
      Some(dedupCorpusSpanningSql),
      "END-TO-END dedup on the SPANNING candidate feed: verified star " +
        "edges close the same way at O(family) candidate cost per " +
        "mega-duplicate bucket — the crawl-scale release-closure " +
        "variant, oracle-pinned so its delta vs all-pairs is measured"),
    "text_contamination" -> QueryDef(textContamination,
      Some(textContaminationSql),
      "benchmark-contamination check: winnow-fingerprint containment " +
        "of corpus docs against a broadcast probe set"),
    "corpus_curation" -> QueryDef(corpusCuration, Some(corpusCurationSql),
      "full curation funnel: length gate -> repetition gate -> dedup " +
        "survivor gate, per-source accounting of where every byte went"),
    "text_ngram_decontam" -> QueryDef(textNgramDecontam,
      Some(textNgramDecontamSql),
      "GPT-3-style exact word-13-gram decontamination: corpus docs " +
        "sharing any verbatim 13-gram with the broadcast probe set, " +
        "with per-doc contaminated-position fractions"))
}
