package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupOps, Multimodal, SimilarityOps}
import graft.util.Tables

/** Behavior pins for the pipeline operators whose outputs are not
  * SQL-oracle-able (hash-seeded or approximate): SimHash, LSH ANN, and the
  * mapPartitions decode stub. All run on the deterministic sf0.001 fixture,
  * so observed-and-verified behavior is pinned exactly enough to catch
  * regressions without over-fitting.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("weighted sample: expected size, weight bias, deterministic") {
    val s = spark
    val sel = graft.queries.TextOps.qSampleWeighted(s, dir).collect()
    // expected size k=100, Poisson sd ~10: a 4-sigma band
    assert(sel.length >= 60 && sel.length <= 140,
      s"sample size ${sel.length} outside the expected-100 band")
    // inclusion probability is proportional to n_chars: the sample must
    // skew long
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val corpusMean = docs.agg(org.apache.spark.sql.functions.avg("n_chars"))
      .collect()(0).getDouble(0)
    val selMean = sel.map(_.getLong(2)).sum.toDouble / sel.length
    assert(selMean > corpusMean,
      s"selected mean $selMean not above corpus mean $corpusMean")
    // exact integer decision -> identical re-runs
    val again = graft.queries.TextOps.qSampleWeighted(s, dir).collect()
    assert(sel.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
  }

  test("hyperplane_buckets equals the naive per-plane sign computation") {
    import graft.functions.{GraftFunctions, LshPlanes}
    val s = spark
    GraftFunctions.ensureRegistered(s)
    val rows = s.read.parquet(s"$dir/embeddings.parquet")
      .limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bks",
        call_function("hyperplane_buckets", col("v"), lit(16), lit(6)))
      .collect()
    val planes = LshPlanes.flat(16, 6)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val bks = r.getSeq[Int](2)
      (0 until 16).foreach { t =>
        var sig = 0
        (0 until 6).foreach { b =>
          val off = (t * 6 + b) * LshPlanes.Dim
          var dot = 0.0
          v.indices.foreach(i => dot += planes(off + i) * v(i))
          if (dot > 0) sig |= 1 << b
        }
        assert(bks(t) === sig, s"vec ${r.getLong(0)} table $t")
      }
    }
  }

  test("winnow-overlap pairs agree with the n-gram pair set") {
    val ngram = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnow = DedupOps.dedupWinnowPairs(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(winnow.nonEmpty)
    // different signal (char-level fingerprints vs word shingles), same
    // planted duplicates: high overlap, neither family wildly larger
    assert((winnow & ngram).size >= (ngram.size * 8) / 10,
      s"cross-family recall collapsed: ${(winnow & ngram).size}/${ngram.size}")
    assert(winnow.size <= 2 * ngram.size, "winnow precision collapsed")
  }

  test("minhash LSH finds exactly the exact-inverted-index pair set") {
    val ngram = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.dedupMinhashLsh(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngram.nonEmpty)
    assert(lsh == ngram, "16x4 banded LSH must have total recall at J>=0.9")
  }

  test("simhash recovers most planted near-dups within hamming 3") {
    val ngram = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = DedupOps.dedupSimhash(spark, dir).collect()
    val sim = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.forall(_.getInt(2) <= 3))
    // measured on the fixture: 21 of 28 planted pairs at hamming<=3 (the
    // rest flip >3 bits), plus a few frequency-similar non-dup pairs —
    // standard simhash behavior; pin with margin
    assert((sim & ngram).size >= 15, s"recall collapsed: ${(sim & ngram).size}")
    assert(sim.size <= 3 * ngram.size, "precision collapsed")
  }

  test("LSH ANN recall@10 against exact top-k stays useful") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val exact = pairs(SimilarityOps.simTopK(spark, dir))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = pairs(SimilarityOps.simAnnLsh(spark, dir))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, e) =>
      (ann.getOrElse(q, Set.empty) & e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    // measured 0.45 on uniform-random fixture vectors (LSH has no cluster
    // structure to exploit there); pin with margin
    assert(mean >= 0.3, s"mean recall@10 = $mean")
  }

  test("IVF ANN recall@10 against exact top-k stays useful") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val exact = pairs(SimilarityOps.simTopK(spark, dir))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = pairs(SimilarityOps.simAnnIvf(spark, dir))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, e) =>
      (ivf.getOrElse(q, Set.empty) & e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF mean recall@10 = $mean%.3f")
    // 0.850 measured with trained centroids + 8/32 probes (was 0.84 with
    // seed centroids + 4 probes; uniform-random fixture vectors give
    // Lloyd training no cluster structure to exploit, so probe width
    // carries the lift). Pin raised 0.5 -> 0.8.
    assert(mean >= 0.8, s"mean recall@10 = $mean")
  }

  test("PQ ANN recall@10 against exact top-k stays useful") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val exact = pairs(SimilarityOps.simTopK(spark, dir))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = pairs(SimilarityOps.simAnnPq(spark, dir))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, e) =>
      (pq.getOrElse(q, Set.empty) & e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    info(f"PQ mean recall@10 = $mean%.3f")
    // 0.850 measured (8x16 codebooks, ADC shortlist 100, exact rerank);
    // 0.670 at shortlist 50 — the shortlist is the recall/IO knob and
    // stays CONSTANT-sized as the corpus grows. Pin with margin.
    assert(mean >= 0.8, s"mean recall@10 = $mean")
  }

  test("IVF-PQ ANN recall@10 against exact top-k stays useful") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    val exact = pairs(SimilarityOps.simTopK(spark, dir))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivfpq = pairs(SimilarityOps.simAnnIvfPq(spark, dir))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, e) =>
      (ivfpq.getOrElse(q, Set.empty) & e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF-PQ mean recall@10 = $mean%.3f")
    // 0.850 measured == plain IVF's recall at the same 8/32 probes: the
    // ADC shortlist (100) loses nothing on top of cell coverage, i.e.
    // the 64x code compression is recall-free here. Pin with margin.
    assert(mean >= 0.8, s"mean recall@10 = $mean")
  }

  test("BPE training is deterministic and tokenization compresses") {
    import graft.queries.BpeOps
    val m1 = BpeOps.mergesFor(spark, dir)
    assert(m1.length == BpeOps.NumMerges, s"trained ${m1.length} merges")
    assert(m1.distinct.length == m1.length, "merges must be distinct")
    // every merge output is buildable from its inputs (greedy chain)
    m1.foreach { case (a, b) =>
      assert((a + b).nonEmpty && !a.contains("(") && !b.contains(")"))
    }
    val toks = BpeOps.textBpeTokens(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(toks.nonEmpty)
    toks.foreach { case (src, nWords, nBpe) =>
      // each word is at least 1 token and at most chars+1 ('$' marker);
      // with 20 learned merges the corpus must tokenize to FEWER tokens
      // than the unmerged char encoding would produce
      assert(nBpe >= nWords, s"$src: impossible token count")
    }
    val totalBpe = toks.map(_._3).sum
    val rawSyms = {
      val d = Tables.t(spark, dir, "documents")
      d.select(explode(filter(split(lower(col("text")), " "),
          t => t.rlike("^[a-z]+$"))).as("w"))
        .select(sum(length(col("w")) + lit(1))).collect()(0).getLong(0)
    }
    assert(totalBpe < rawSyms,
      s"BPE must compress: $totalBpe tokens vs $rawSyms raw symbols")
    // rerun = same result (training memoized AND deterministic)
    assert(BpeOps.mergesFor(spark, dir) == m1)
  }

  test("filtered ANN recall@10 against exact FILTERED top-k stays useful") {
    // exact ground truth computed in-test: brute-force cosine over the
    // label-filtered corpus (500 x 64 fits trivially in the test JVM)
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      d / math.sqrt(na * nb)
    }
    val keepLabels = SimilarityOps.FilteredLabels.toSet
    val corpus = rows.filter(r => keepLabels.contains(r._3))
    val exact = rows.filter(_._1 < 10).map { case (qid, qv, _) =>
      qid -> corpus.filter(_._1 != qid)
        .map(c => (cos(qv, c._2), c._1))
        .sortBy { case (s, id) => (-s, id) }
        .take(10).map(_._2).toSet
    }.toMap
    val ann = SimilarityOps.simAnnFiltered(spark, dir)
      .select("query_id", "neighbor_id", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(ann.forall(r => keepLabels.contains(r._3)),
      "filtered ANN returned a neighbor outside the predicate")
    val byQ = ann.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, e) =>
      (byQ.getOrElse(q, Set.empty) & e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    info(f"filtered ANN mean recall@10 = $mean%.3f")
    // measured 0.800 with 12/32 probes at ~40 % filter selectivity —
    // widened probing (12 vs IVF's 8) buys back most of the per-cell
    // candidates the filter removes. Pin with margin.
    assert(mean >= 0.7, s"mean recall@10 = $mean")
  }

  test("IVF-over-graft-table equals plain IVF and prunes to probed cells") {
    val table = SimilarityOps.simAnnIvfTable(spark, dir).collect().toSeq
    val plain = SimilarityOps.simAnnIvf(spark, dir).collect().toSeq
    assert(table === plain,
      "cell-partitioned table probing must reproduce sim_ann_ivf exactly")
    // the single pushed-IN scan opened exactly one object per PROBED
    // cell and skipped every other cell: insertPartitioned wrote one
    // self-contained object per cell, and the IN filter prunes to the
    // probe set via point stats — probing IS file skipping
    val probed = SimilarityOps.ivfProbedCells(spark, dir).length
    val opened = graft.sql.GraftCatalog.lastScanObjectCount
    assert(opened === probed,
      s"expected the scan to open exactly the $probed probed cells' " +
        s"objects, got $opened")
  }

  test("winnowed fingerprints overlap heavily for planted near-dups") {
    val ngram = DedupOps.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val fps = DedupOps.winnowFps(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val overlaps = ngram.map { case (a, b) =>
      val (fa, fb) = (fps(a), fps(b))
      (fa & fb).size.toDouble / math.max(1, math.min(fa.size, fb.size))
    }
    val mean = overlaps.sum / overlaps.size
    assert(ngram.nonEmpty && mean >= 0.5,
      s"mean winnow-fingerprint overlap on planted pairs = $mean")
  }

  test("native vector_cosine equals the composable zip_with form exactly") {
    import graft.functions.GraftFunctions
    val s = spark
    GraftFunctions.ensureRegistered(s)
    val e = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.vec_id") === col("b.vec_id") - 1) // 499 adjacent pairs
      .select(col("a.vec_id").as("id"), col("a.v").as("va"), col("b.v").as("vb"))
      .withColumn("native", call_function("vector_cosine", col("va"), col("vb")))
      .withColumn("composed",
        expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)") /
          (sqrt(expr("aggregate(zip_with(va, va, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")) *
           sqrt(expr("aggregate(zip_with(vb, vb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"))))
    val rows = pairs.select(col("native"), col("composed")).collect()
    assert(rows.length == 499)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"bitwise mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
    // null/zero-norm semantics
    val edge = s.sql(
      """SELECT vector_cosine(array(0D, 0D), array(1D, 2D)) AS z,
                vector_cosine(CAST(NULL AS ARRAY<DOUBLE>), array(1D)) AS n""")
      .head()
    assert(edge.isNullAt(0) && edge.isNullAt(1))
  }

  test("mapPartitions decode stub equals the SQL-expressed dims") {
    val viaBatch = Multimodal.decodeBatch(spark, dir)
    val viaSql = spark.read // recompute expected dims from the fixture
      .parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("asset_id"),
        length(encode(col("text"), "UTF-8")).as("n"))
      .select(col("asset_id"),
        (col("n") % 1280 + 64).cast("int").as("width"),
        ((col("n") * 7) % 720 + 36).cast("int").as("height"),
        (col("n") % 97 + 1).cast("int").as("n_frames"))
    assert(viaBatch.count() == 500)
    assert(viaBatch.except(viaSql).isEmpty && viaSql.except(viaBatch).isEmpty)
  }
}
