package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame

/** Recall of the approximate ANN paths against the brute-force
  * baseline at sf0.01 — the scale path must be quantified, not
  * assumed. The synthetic embeddings are isotropic (top-5 neighbors
  * ≈2.5σ above random-pair cosine), the hardest regime for ANN, and
  * the default geometries still measure ≈0.90; the floor leaves
  * margin for seed/data drift without letting recall quietly rot.
  */
class RecallSpec extends SparkSpec {
  private val sf01 = "/root/testdata/sf0.01"

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

  private lazy val exact = pairs(Similarity.annBruteforce(spark, sf01))

  test("multi-table LSH recall@5 vs brute force >= 0.8") {
    val recall = (pairs(Similarity.annLsh(spark, sf01)) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"ann_lsh recall@5 = $recall")
  }

  test("IVF recall@5 vs brute force >= 0.8") {
    val recall = (pairs(Similarity.annIvf(spark, sf01)) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"ann_ivf recall@5 = $recall")
  }

  test("knn_graph recall@5 vs brute force >= 0.8 on the query slice") {
    val g = Similarity.knnGraph(spark, sf01)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .withColumnRenamed("vec_id", "query_id")
    val recall = (pairs(g) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"knn_graph recall@5 = $recall")
  }

  test("whitened IVF recall@5 vs WHITENED brute force >= 0.8") {
    // whitening rescales every principal axis, so the ground truth is
    // the whitened brute force, never the raw one; on this isotropic
    // corpus the whitened quantizer should track plain IVF closely
    val wexact = pairs(Similarity.annWhiteBruteforce(spark, sf01))
    val recall = (pairs(Similarity.annIvfWhite(spark, sf01)) & wexact)
      .size.toDouble / wexact.size
    assert(recall >= 0.8, s"ann_ivf_white recall@5 = $recall")
  }

  test("graph-walk recall@5 vs brute force >= 0.8") {
    // beam search over the degree-8 kNN graph from one entry medoid
    // per IVF bucket — isotropic data is graph-ANN's hardest regime
    // (poor navigability), hence the denser walk degree
    val recall = (pairs(Similarity.annGraphWalk(spark, sf01)) & exact)
      .size.toDouble / exact.size
    info(s"ann_graph_walk recall@5 = $recall")
    assert(recall >= 0.8, s"ann_graph_walk recall@5 = $recall")
  }

  test("SQ8 recall@5 vs brute force >= 0.9") {
    // int8 quantization error on this grid is ~0.4% of the value
    // range per dim — far below the neighbor/non-neighbor cosine gap,
    // so SQ8 should track the exact top-5 almost perfectly
    val recall = (pairs(Similarity.annSq8(spark, sf01)) & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"ann_sq8 recall@5 = $recall")
  }

  test("PQ (ADC + exact rerank) recall@5 vs brute force >= 0.8") {
    // 8×16 codebooks quantize hard (4 bits/subspace on isotropic
    // data); the 300-candidate ADC shortlist + exact rerank measured
    // 0.92 at sf0.1 (cand 200/300/400 → 0.84/0.92/0.92 — 300 is the
    // knee; see the PqCand scaladoc)
    val recall = (pairs(Similarity.annPq(spark, sf01)) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"ann_pq recall@5 = $recall")
  }

  test("composed IVF×PQ (residual codes) recall@5 vs brute force >= 0.8") {
    // bounded by the IVF probe recall (0.94 at nprobe=16) times the
    // residual-ADC shortlist quality — measured 0.90 at sf0.1
    // (cand 200/300 → 0.82/0.90; 300 is the default)
    val recall = (pairs(Similarity.annIvfPq(spark, sf01)) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"ann_ivf_pq recall@5 = $recall")
  }

  test("prefix-dim (Matryoshka) recall@5 vs brute force >= 0.8") {
    // the 32-of-64 prefix holds half the variance on this isotropic
    // corpus (the tier's worst case); the 400-candidate shortlist +
    // exact rerank measured 0.96 at sf0.1 (cand 200/300/400/500 →
    // 0.86/0.92/0.96/0.98 — 400 is the knee; see PrefixCand)
    val recall = (pairs(Similarity.annPrefix(spark, sf01)) & exact)
      .size.toDouble / exact.size
    assert(recall >= 0.8, s"ann_prefix recall@5 = $recall")
  }

  test("composed IVF×prefix recall@5 vs brute force >= 0.8") {
    // bounded by the IVF probe recall (0.94 at nprobe=16) times the
    // prefix-shortlist quality (0.96 alone at cand=400)
    val recall = (pairs(Similarity.annIvfPrefix(spark, sf01)) & exact)
      .size.toDouble / exact.size
    assert(recall >= 0.8, s"ann_ivf_prefix recall@5 = $recall")
  }

  test("filtered IVF recall@5 vs FILTERED brute force >= 0.8") {
    // the ground truth is the equal-label exact top-5 — measured knee
    // nprobe 16/20/24/28 → 0.84/0.90/0.98/1.00 at sf0.1 (24 is the
    // default; the unfiltered nprobe=16 default drops to 0.84 here,
    // the filtered-search recall collapse the wider probe absorbs)
    val fexact = Similarity.annBruteforceFiltered(spark, sf01)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))).toSet
    val recall = (pairs(Similarity.annIvfFiltered(spark, sf01)) & fexact)
      .size.toDouble / fexact.size
    assert(recall >= 0.8, s"ann_ivf_filtered recall@5 = $recall")
  }

  test("composed IVF×SQ8 recall@5 vs brute force >= 0.8") {
    // the composition can only lose what its parts lose: IVF probe
    // misses (0.94 alone at nprobe=16) and SQ8 rank perturbation
    // (0.96 alone) — measured ≈0.9 together on the isotropic corpus
    val recall = (pairs(Similarity.annIvfSq8(spark, sf01)) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"ann_ivf_sq8 recall@5 = $recall")
  }

  private def ppairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"))).toSet

  test("LSH-blocked embedding dedup pair recall vs all-pairs >= 0.8") {
    // ground truth = exact all-pairs cosine at the same τ (O(n²),
    // recall-measurement only); the LSH blocking must retain ≥0.8 of
    // the true near-dup pairs (numpy sim + Spark both measure ≈0.93
    // for 16×4 on this isotropic corpus)
    val e = graft.Tables.embeddings(spark, sf01)
    val truth = ppairs(graft.operators.Dedup.embCosineAllPairs(e))
    val got = ppairs(graft.operators.Dedup.embLshDups(e))
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"dedup_emb_lsh pair recall = $recall")
    // LSH-blocked output is a SUBSET of the all-pairs truth by
    // construction (blocking can only lose pairs, never invent them)
    assert((got -- truth).isEmpty)
  }

  test("geometryFor codifies the measured joint (bits, τ) choice") {
    // the ladder measured by the retired Scale10 probe (SURVEY.md §6,
    // recorded by a retired probe): coarse 4-bit buckets ONLY at the
    // isotropic at-noise threshold; 16-bit output-bound buckets at
    // production τ — never the reverse
    assert(Similarity.geometryFor(0.35) == Similarity.LshGeometry(16, 4))
    assert(Similarity.geometryFor(0.9) == Similarity.LshGeometry(32, 16))
    // analytic floor matches the measured recalls (0.925 / ≥0.94)
    assert(Similarity.expectedRecall(0.35, Similarity.LshGeometry(16, 4)) >= 0.9)
    assert(Similarity.expectedRecall(0.9, Similarity.LshGeometry(32, 16)) >= 0.9)
    // sub-noise thresholds fail LOUDLY instead of quietly losing pairs
    intercept[IllegalArgumentException](Similarity.geometryFor(0.1))
  }

  test("hybrid fusion quality at serving nprobe >= 0.8") {
    // the fused top-k at serving nprobe vs the exhaustive-semantic
    // gate fusion: the IVF probe trade must not reshape the FUSED
    // ranking — lexical evidence anchors most of it, so fusion
    // quality sits above raw IVF recall
    val q = graft.operators.Search.hybridFusionQuality(spark, sf01)
    assert(q >= 0.8, s"hybrid fusion quality = $q")
  }

  test("weighted RRF: unit weights match the unweighted fusion; bias reorders") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val l1 = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val l2 = Seq((1L, 11L, 1), (1L, 10L, 2)).toDF("query_id", "doc_id", "rank")
    val plain = graft.operators.Search.rrfFuse(Seq(l1, l2))
      .collect().map(_.toSeq).toList
    val unit = graft.operators.Search.rrfFuse(Seq(l1, l2),
        weights = Seq(1.0, 1.0))
      .collect().map(_.toSeq).toList
    assert(plain == unit, "unit weights changed the fusion")
    // symmetric lists tie on doc order under equal weights; a heavier
    // first list must put ITS #1 (doc 10) first
    val biased = graft.operators.Search.rrfFuse(Seq(l1, l2),
        weights = Seq(2.0, 1.0))
      .orderBy(col("rank")).collect().map(_.getLong(1)).toList
    assert(biased == List(10L, 11L), s"bias toward list 1 gave $biased")
  }

  test("IVF drift monitor: skewed arrivals trip it, retrain restores") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ivfdrift").toString + "/c"
    val emb = graft.Tables.embeddings(spark, sf01)
    val cents = Similarity.writeIvfPartitioned(spark, sf01, dir)
    val codec = Similarity.FloatCodec(cents)
    val baseline = Similarity.ivfLayoutStats(spark, dir, codec)
    assert(!Similarity.ivfDrifted(baseline, baseline, codec))
    // a heavily skewed arrival wave: many near-copies of ONE vector
    // pile into one bucket (ids shifted out of the corpus id space)
    val hot = emb.filter(col("vec_id") === 0)
    val wave = (1 to 6).map(i =>
        hot.withColumn("vec_id", col("vec_id") + i * 100000L))
      .reduce(_ unionByName _)
      .crossJoin(spark.range(40).select(col("id").as("_r")))
      .withColumn("vec_id", col("vec_id") + col("_r")).drop("_r")
    Similarity.appendIvfPartitioned(wave, cents, dir)
    val drifted = Similarity.ivfLayoutStats(spark, dir, codec)
    assert(Similarity.ivfDrifted(drifted, baseline, codec),
      s"skewed wave not flagged: $baseline -> $drifted")
    // retrain-and-migrate: same vectors, re-trained geometry, path
    // stable — exhaustive-probe serving is EXACT before and after
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val before = Similarity.annIvfServeBatch(spark, dir, cents, queries,
        nprobe = cents.length).collect().map(_.toSeq)
    val cents2 = Similarity.retrainLayout(spark, dir, codec).cents
    val after = Similarity.annIvfServeBatch(spark, dir, cents2, queries,
        nprobe = cents2.length).collect().map(_.toSeq)
    assert(after.nonEmpty && after.toSeq == before.toSeq)
    // and the retrained geometry absorbs the wave (skew back in range)
    val restored = Similarity.ivfLayoutStats(spark, dir,
      Similarity.FloatCodec(cents2))
    assert(restored.occSkew < drifted.occSkew,
      s"retrain did not reduce skew: $drifted -> $restored")
  }

  test("IVF-PQ drift monitor: out-of-geometry arrivals trip it, retrain restores") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ivfpqdrift").toString + "/c"
    val emb = graft.Tables.embeddings(spark, sf01)
    val pq = Similarity.writeLayout(Similarity.PqCodec(
      Similarity.ivfCentroids(spark, sf01),
      Similarity.pqResidualCodebooks(spark, sf01)), emb, dir)
    // the PqSampleN error sample covers corpus+wave: it sees every row
    assert(Similarity.PqSampleN >= 500 + 240)
    val baseline = Similarity.ivfLayoutStats(spark, dir, pq, Some(emb))
    assert(!Similarity.ivfDrifted(baseline, baseline, pq))
    assert(baseline.drift > 0, "residual PQ is lossy by construction")
    // OUT-OF-GEOMETRY skewed wave: 240 copies of ONE vector scaled ×3 —
    // assignment is scale-invariant so they pile into one bucket
    // (occupancy skews), and their residuals outgrow the codebooks
    // (quantization error rises): both trigger branches exercised
    val hot = emb.filter(col("vec_id") === 0)
    val wave = (1 to 6).map(i =>
        hot.withColumn("vec_id", col("vec_id") + i * 100000L))
      .reduce(_ unionByName _)
      .crossJoin(spark.range(40).select(col("id").as("_r")))
      .withColumn("vec_id", col("vec_id") + col("_r")).drop("_r")
      .withColumn("embedding",
        transform(col("embedding"), x => (x * lit(3.0)).cast("float")))
    Similarity.appendLayout(pq, wave, dir)
    val embPlus = emb.unionByName(wave)
    val drifted = Similarity.ivfLayoutStats(spark, dir, pq, Some(embPlus))
    assert(Similarity.ivfDrifted(drifted, baseline, pq),
      s"out-of-geometry wave not flagged: $baseline -> $drifted")
    assert(drifted.drift > baseline.drift * 1.2,
      s"quantization-error branch did not trip: $baseline -> $drifted")
    // retrain-and-migrate: same vectors, re-trained artifacts, path
    // stable — exhaustive probes + full shortlist rerank EXACTLY, so
    // serving is identical before and after the migration
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val before = Similarity.annIvfPqServeBatch(spark, dir, pq,
        queries, embPlus, nprobe = pq.nlist, cand = 100000)
      .collect().map(_.toSeq)
    val pq2 = Similarity.retrainLayout(spark, dir, pq, Some(embPlus))
    val after = Similarity.annIvfPqServeBatch(spark, dir, pq2,
        queries, embPlus, nprobe = pq2.nlist, cand = 100000)
      .collect().map(_.toSeq)
    assert(after.nonEmpty && after.toSeq == before.toSeq)
    // the retrained geometry absorbs the wave on both axes
    val restored = Similarity.ivfLayoutStats(spark, dir, pq2, Some(embPlus))
    assert(restored.occSkew < drifted.occSkew,
      s"retrain did not reduce skew: $drifted -> $restored")
    assert(restored.drift < drifted.drift,
      s"retrain did not reduce quantization error: $drifted -> $restored")
  }

  test("SQ8 drift monitor: out-of-grid wave saturates codes, retrain restores") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("sq8drift").toString + "/c"
    val emb = graft.Tables.embeddings(spark, sf01)
    val (mns, mxs) = Similarity.sq8Grid(emb)
    val sq8 = Similarity.writeLayout(
      Similarity.Sq8Codec(Similarity.ivfCentroids(spark, sf01), mns, mxs), emb, dir)
    val baseline = Similarity.ivfLayoutStats(spark, dir, sq8)
    assert(!Similarity.ivfDrifted(baseline, baseline, sq8))
    // write-time saturation = each dimension's half-step edge tails:
    // nonzero (the per-dim min/max rows land exactly on 0/255) but tiny
    assert(baseline.drift > 0 && baseline.drift < 0.05,
      s"write-time saturation off: $baseline")
    // the ×3-scaled copy wave: out-of-grid coordinates CLAMP at the
    // edge codes (without sq8Codes' clamp they would wrap through the
    // byte cast into garbage) — saturation jumps, occupancy skews
    val hot = emb.filter(col("vec_id") === 0)
    val wave = (1 to 6).map(i =>
        hot.withColumn("vec_id", col("vec_id") + i * 100000L))
      .reduce(_ unionByName _)
      .crossJoin(spark.range(40).select(col("id").as("_r")))
      .withColumn("vec_id", col("vec_id") + col("_r")).drop("_r")
      .withColumn("embedding",
        transform(col("embedding"), x => (x * lit(3.0)).cast("float")))
    Similarity.appendLayout(sq8, wave, dir)
    val drifted = Similarity.ivfLayoutStats(spark, dir, sq8)
    assert(Similarity.ivfDrifted(drifted, baseline, sq8),
      s"out-of-grid wave not flagged: $baseline -> $drifted")
    assert(drifted.drift > baseline.drift * 3,
      s"saturation branch did not trip: $baseline -> $drifted")
    // clamped codes still serve sanely (every stored code a valid
    // [0,255] grid point — the wave ids are servable, not garbage)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(Similarity.annIvfSq8ServeBatch(spark, dir, sq8,
      queries, nprobe = sq8.nlist).count() > 0)
    // retrain-and-migrate: grid + quantizer re-derived from live rows,
    // every vector re-coded, path stable. Dequantized values move
    // with the grid, so the invariant is code-identity with a FRESH
    // write under the new artifacts (the whitened-retrain precedent).
    val embPlus = emb.unionByName(wave)
    val sq2 = Similarity.retrainLayout(spark, dir, sq8, Some(embPlus))
    val fresh = java.nio.file.Files.createTempDirectory("sq8fresh").toString + "/c"
    Similarity.writeLayout(sq2, embPlus, fresh)
    def serve(p: String) = Similarity.annIvfSq8ServeBatch(spark, p, sq2,
        queries, nprobe = sq2.nlist)
      .collect().map(_.toSeq).toSeq
    val swapped = serve(dir)
    assert(swapped.nonEmpty && swapped == serve(fresh),
      "retrained swap diverged from a fresh write under the same grid")
    // the retrained grid absorbs the wave: saturation back to tails
    val restored = Similarity.ivfLayoutStats(spark, dir, sq2)
    assert(restored.drift < drifted.drift &&
      restored.occSkew < drifted.occSkew,
      s"retrain did not absorb the wave: $drifted -> $restored")
  }

  test("whitened drift monitor: out-of-geometry wave trips both axes, retrain restores") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("whitedrift").toString + "/c"
    val emb = graft.Tables.embeddings(spark, sf01)
    val m = Similarity.writeLayout(Similarity.whitenModel(spark, sf01), emb, dir)
    val baseline = Similarity.ivfLayoutStats(spark, dir, m)
    assert(!Similarity.ivfDrifted(baseline, baseline, m))
    // whitening held at training time: every component near unit var
    assert(baseline.drift > 0.5 && baseline.drift < 1.5,
      s"write-time whitened variance off unit: $baseline")
    // the ×3-scaled copy wave (the IVF-PQ drift construction): piles
    // into one whitened bucket (skew axis) AND inflates the hot
    // vector's components ×9 past the stored scales (variance axis)
    val hot = emb.filter(col("vec_id") === 0)
    val wave = (1 to 6).map(i =>
        hot.withColumn("vec_id", col("vec_id") + i * 100000L))
      .reduce(_ unionByName _)
      .crossJoin(spark.range(40).select(col("id").as("_r")))
      .withColumn("vec_id", col("vec_id") + col("_r")).drop("_r")
      .withColumn("embedding",
        transform(col("embedding"), x => (x * lit(3.0)).cast("float")))
    Similarity.appendLayout(m, wave, dir)
    val drifted = Similarity.ivfLayoutStats(spark, dir, m)
    assert(Similarity.ivfDrifted(drifted, baseline, m),
      s"out-of-geometry wave not flagged: $baseline -> $drifted")
    assert(drifted.drift > baseline.drift * 1.5,
      s"whitening-variance branch did not trip: $baseline -> $drifted")
    // retrain-and-migrate: basis+scales+quantizer re-derived from the
    // layout's current live rows, every vector re-coded, path stable.
    // The whitened SCORES legitimately change with the basis (unlike
    // raw IVF), so the invariant is: the swapped-in layout is
    // code-identical to a FRESH one-shot write under the new model.
    val embPlus = emb.unionByName(wave)
    val m2 = Similarity.retrainLayout(spark, dir, m, Some(embPlus))
    val fresh = java.nio.file.Files.createTempDirectory("whitefresh").toString + "/c"
    Similarity.writeLayout(m2, embPlus, fresh)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serve(p: String) = Similarity.annIvfWhiteServeBatch(spark, p, m2,
        queries, nprobe = m2.centsE9.length)
      .collect().map(_.toSeq).toSeq
    val swapped = serve(dir)
    assert(swapped.nonEmpty && swapped == serve(fresh),
      "retrained swap diverged from a fresh write under the same model")
    // and the retrained geometry absorbs the wave on both axes
    val restored = Similarity.ivfLayoutStats(spark, dir, m2)
    assert(restored.occSkew < drifted.occSkew,
      s"retrain did not reduce skew: $drifted -> $restored")
    assert(restored.drift < drifted.drift,
      s"retrain did not re-whiten: $drifted -> $restored")
  }

  test("production-τ (0.9) derived geometry pair recall vs all-pairs >= 0.8") {
    import org.apache.spark.sql.functions._
    // the raw corpus is isotropic — no natural ≥0.9 pairs — so plant
    // exact replicas (disjoint id space) to give τ=0.9 a ground truth,
    // the same construction as the dedup plants
    val e = graft.Tables.embeddings(spark, sf01)
    val planted = e.unionByName(
      e.filter(col("vec_id") < 50).withColumn("vec_id", col("vec_id") + 100000))
    val truth = ppairs(graft.operators.Dedup.embCosineAllPairs(planted, tau = 0.9))
    assert(truth.nonEmpty)
    // geometry comes from geometryFor(0.9) — the 32×16 production shape
    val got = ppairs(graft.operators.Dedup.embLshDups(planted, tau = 0.9))
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"dedup_emb_lsh@0.9 pair recall = $recall")
    assert((got -- truth).isEmpty)
  }
}
