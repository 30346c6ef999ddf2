package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curate, Dedup, Similarity}
import graft.functions.TextFunctions

/** End-to-end training-data curation pipeline — the library's
  * verified operators composed into the shape a real corpus run has
  * (the engine-side analog of the reference's daily batch loop,
  * ref main.py:432-482, generalized to corpus curation):
  *
  *   1. near-dedup: minhash-LSH pairs → connected components
  *      (star-contraction fallback) → keep each cluster's min id,
  *   2. split: deterministic md5 train/val/test assignment,
  *   3. decontaminate: drop TRAIN docs sharing n-grams with the
  *      val/test docs (broadcast eval index),
  *   4. quality gate: per-doc stats → composite score threshold,
  *   5. pack: segment-emitting concat-and-chunk into `cap`-token
  *      windows (per split × lang),
  *   6. write: parquet partitioned by (split, lang) — the layout a
  *      training loader reads split-pruned and language-pruned.
  *
  * Every stage is an operator that is individually oracle- or
  * spec-verified; PipelineSpec checks the COMPOSITION: stage counts
  * are monotone, splits are disjoint, no contaminated train doc
  * survives, written segments reload with windows filled to cap.
  */
object Pipeline {

  /** Per-stage accounting — returned to the caller and also written
    * to `outDir/report` as a one-row frame for lineage. */
  case class Report(input: Long, afterDedup: Long, contaminated: Long,
                    afterQuality: Long, train: Long, eval: Long,
                    segments: Long)

  def curateAndPack(spark: SparkSession, srcDir: String,
                    outDir: String): Report =
    curateAndPack(spark, Tables.documents(spark, srcDir), outDir, cap = 512,
      qualityFloor = 0.2, contamNgram = 3, contamMinShared = 2,
      embeddings = None, embTau = 0.9, pplCeiling = None)

  /** Same run over an arbitrary documents frame (doc_id, lang, text).
    *
    * `embeddings`: when given a (vec_id, embedding) frame aligned
    * with doc_id, stage 1 dedups on EMBEDDING near-duplicates
    * ([[Dedup.embLshDups]] at `embTau`, geometry τ-derived via
    * geometryFor and salted when coarse) instead of minhash text
    * shingles — the semantic-dedup front-end (same CC → keeper →
    * anti-join flow, so the composition is identical downstream). */
  /** `pplCeiling`: when set, stage 4 additionally drops documents
    * whose bigram-LM perplexity exceeds the ceiling; documents with
    * no bigrams (<2 tokens) fail the gate by construction.
    *
    * `lmArtifact`: the LM gate's trained (model, ctx) as PRECOMPUTED
    * frames. When absent and the gate is on, the pipeline trains on
    * the cleaned corpus (the CCNet self-reference shape) and WRITES
    * the artifact to `outDir/lm_model` + `lm_ctx` — so the daily loop
    * trains once and every later run feeds the artifact back
    * (measured 3.2× over retraining at 20×; gated-set equality
    * between the two modes is spec'd in PipelineSpec). Either way the
    * gate itself scores in ONE corpus pass via `ngramLmScoreWith`
    * over a checkpointed bigram frame — never the 3-lineage-pass
    * self-trained query form.
    *
    * `bpeMerges`: optional tokenizer merge artifact; when present,
    * stage 5 packs by REAL tokenizer token counts
    * ([[graft.functions.Bpe.docTokenCounts]]) instead of whitespace
    * words — the budget a training loader actually consumes.
    * `unigramPieces`: the same slot for the unigram-LM tokenizer
    * ([[graft.functions.Unigram.docTokenCounts]]);
    * `wordpiecePieces`: the same slot for the WordPiece tokenizer
    * ([[graft.functions.Wordpiece.docTokenCounts]]). At most one
    * tokenizer artifact may be supplied — the packing budget must
    * come from ONE tokenizer, silently preferring either would
    * mis-state the others' sequence lengths.
    *
    * `exciseSpanLen`: when set, a stage 0 cuts cross-doc repeated
    * spans of that window length out of every document BEFORE
    * doc-level dedup ([[Dedup.dedupSpansExcise]]'s surgery — the
    * C4/RefinedWeb/Lee-et-al. order: boilerplate excision first, so
    * shared headers/footers neither glue unrelated docs into one
    * near-dup cluster nor survive into training windows). Downstream
    * stages run on the excised text, so the packed segments carry no
    * cross-doc repeated span of the excised corpus (the operator's
    * no-surviving-span theorem lifts through the composition —
    * spec'd). */
  def curateAndPack(spark: SparkSession, docs: DataFrame, outDir: String,
                    cap: Int, qualityFloor: Double,
                    contamNgram: Int, contamMinShared: Long,
                    embeddings: Option[DataFrame],
                    embTau: Double,
                    pplCeiling: Option[Double],
                    lmArtifact: Option[(DataFrame, DataFrame)] = None,
                    bpeMerges: Option[Seq[(String, String)]] = None,
                    exciseSpanLen: Option[Int] = None,
                    normalizeEncoding: Boolean = true,
                    unigramPieces: Option[Seq[(String, Long)]] = None,
                    exciseChunks: Boolean = false,
                    wordpiecePieces: Option[Seq[String]] = None,
                    dedupLines: Boolean = false): Report = {
    require(Seq(bpeMerges, unigramPieces, wordpiecePieces)
        .count(_.nonEmpty) <= 1,
      "supply at most one tokenizer artifact " +
        "(bpeMerges OR unigramPieces OR wordpiecePieces)")
    require(exciseSpanLen.isEmpty || !exciseChunks,
      "choose ONE excision granularity (exciseSpanLen OR exciseChunks)")
    // 0a. encoding normalization (default ON — the CCNet stage order:
    // every later stage hashes text, and a mojibake/NFD variant of
    // the same document must hash identically or it silently escapes
    // dedup and decontamination; spec'd): mojibake repair + control
    // strip + NFC, ids/lang pass through. A no-op rewrite on an
    // already-clean corpus.
    val docsNorm0 =
      if (!normalizeEncoding) docs
      else docs.drop("text").join(
        TextFunctions.normalizeText(docs)
          .select(col("doc_id"), col("norm_text").as("text")),
        "doc_id")
    // 0a'. line-level dedup (optional, the C4/RefinedWeb FIRST stage:
    // boilerplate lines repeat verbatim across pages — strip them
    // before any doc-level decision sees them): keep-first line
    // excision, the granularity whose daily incremental form
    // ([[curateAndPackDayStep]]'s line_index stage) composes exactly
    val docsNorm =
      if (!dedupLines) docsNorm0
      else {
        val ex = Dedup.dedupLinesExcise(docsNorm0)
          .select(col("doc_id"), col("out_text").as("text"))
        docsNorm0.drop("text").join(ex, "doc_id")
          .localCheckpoint() // the line scan feeds every later stage
      }
    // 0b. boilerplate excision (optional): replace each doc's text
    // with its span-excised form; lang and ids pass through
    // exciseChunks is the KEEP-FIRST granularity (CDC chunks, first
    // occurrence in id order survives) — the semantics whose daily
    // incremental form ([[curateAndPackDayStep]]) composes exactly,
    // where span excision cuts ALL occurrences and cannot be replayed
    // first-arrival without retractions
    val src = (exciseSpanLen, exciseChunks) match {
      case (Some(len), _) =>
        val ex = Dedup.dedupSpansExcise(docsNorm, len)
          .select(col("doc_id"), col("excised_text").as("text"))
        docsNorm.drop("text").join(ex, "doc_id")
          .localCheckpoint() // the scan+surgery subtree feeds everything
      case (None, true) =>
        val ex = Dedup.dedupChunksExcise(docsNorm)
          .select(col("doc_id"), col("excised_text").as("text"))
        docsNorm.drop("text").join(ex, "doc_id")
          .localCheckpoint()
      case _ => docsNorm
    }
    val input = src.count()

    // 1. near-dedup (transitive: CC over candidate pairs) — textual
    // (minhash bands) or semantic (embedding LSH buckets)
    val pairs = embeddings match {
      case Some(emb) => Dedup.embLshDups(emb, tau = embTau)
        .select(col("v1").as("d1"), col("v2").as("d2"))
      case None => Dedup.minhashCandidates(src)
    }
    val clusters = Dedup.connectedComponentsSafe(pairs)
    val losers = clusters.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"))
    val deduped = src.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint() // reused by three downstream stages
    val afterDedup = deduped.count()

    // 2. deterministic split, then 3. decontaminate train vs val/test
    val split = Curate.splitAssign(deduped).select("doc_id", "split")
    val withSplit = deduped.join(split, "doc_id")
    val trainDocs = withSplit.filter(col("split") === "train")
    val evalDocs = withSplit.filter(col("split") =!= "train")
    // broadcastEval = false: the eval side here is the 20% holdout —
    // a corpus-scale slice, not a benchmark-sized index — so the
    // contamination join must shuffle on the shingle, not broadcast.
    // localCheckpoint: this is the pipeline's heaviest subtree and
    // three downstream frames would otherwise recompute it.
    val contaminatedIds = Curate
      .decontaminate(trainDocs, evalDocs, contamNgram, contamMinShared,
        broadcastEval = false)
      .select(col("train_id").as("doc_id")).distinct()
      .localCheckpoint()
    val contaminated = contaminatedIds.count()
    val clean = withSplit.join(contaminatedIds, Seq("doc_id"), "left_anti")

    // 4. quality gate on the cleaned corpus (heuristic score, plus
    // the optional LM-perplexity gate)
    val heuristicKeep = TextFunctions.textStats(clean)
      .filter(col("quality_score") > qualityFloor)
      .select("doc_id")
    val keepIds = pplCeiling match {
      case Some(ceiling) =>
        // one bigram pass feeds both train (if needed) and score —
        // the artifact shape, not the 3-lineage-pass query form
        val docBg = TextFunctions.docBigrams(clean).localCheckpoint()
        val (model, ctx) = lmArtifact.getOrElse {
          val (m, c) = TextFunctions.ngramLmModel(docBg)
          m.write.mode("overwrite").parquet(s"$outDir/lm_model")
          c.write.mode("overwrite").parquet(s"$outDir/lm_ctx")
          (spark.read.parquet(s"$outDir/lm_model"),
            spark.read.parquet(s"$outDir/lm_ctx"))
        }
        val lmKeep = TextFunctions.ngramLmScoreWith(docBg, model, ctx)
          .filter(col("ppl") <= ceiling).select("doc_id")
        heuristicKeep.join(lmKeep, Seq("doc_id"), "left_semi")
      case None => heuristicKeep
    }
    val curated = clean.join(keepIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val afterQuality = curated.count()
    val train = curated.filter(col("split") === "train").count()
    val eval = afterQuality - train

    // 5. pack each split independently (eval windows must never mix
    // with train windows), 6. write partitioned by (split, lang).
    // With a tokenizer artifact, the packing budget is the REAL
    // per-doc token count (computed once over the curated corpus —
    // the per-split join picks out its docs)
    val tokenCounts = bpeMerges.map(m =>
        graft.functions.Bpe.docTokenCounts(curated, m).localCheckpoint())
      .orElse(unigramPieces.map(p =>
        graft.functions.Unigram.docTokenCounts(curated, p).localCheckpoint()))
      .orElse(wordpiecePieces.map(p =>
        graft.functions.Wordpiece.docTokenCounts(curated, p)
          .localCheckpoint()))
    val segments = Seq("train", "val", "test").map { sp =>
      Curate.packSegments(curated.filter(col("split") === sp), cap,
          shardSize = 100, tokenCounts)
        .withColumn("split", lit(sp))
    }.reduce(_ unionByName _)
    segments.write.mode("overwrite")
      .partitionBy("split", "lang").parquet(s"$outDir/segments")
    val nSegments = spark.read.parquet(s"$outDir/segments").count()

    val report = Report(input, afterDedup, contaminated, afterQuality,
      train, eval, nSegments)
    import spark.implicits._
    Seq(report).toDF().write.mode("overwrite").parquet(s"$outDir/report")

    // publish gate: the DQ suite over the WRITTEN segments (one agg
    // scan + one uniqueness check), persisted next to the report —
    // a consumer reads `dq_report` and refuses a drop with nonzero
    // violations instead of discovering them mid-training. Checks
    // are invariants the pipeline itself guarantees, so nonzero
    // here means the write (not the data) went wrong.
    val written = spark.read.parquet(s"$outDir/segments")
    operators.DataQuality.suite(
      operators.DataQuality.rowMetrics(written, Seq(
        "null_lang" -> col("lang").isNull,
        "empty_segments" -> (col("seg_len") <= 0),
        "bad_split" -> !col("split").isin("train", "val", "test"))),
      operators.DataQuality.keyDuplicates(written,
        Seq("doc_id", "bin_id"), "dup_segment_keys"))
      .write.mode("overwrite").parquet(s"$outDir/dq_report")
    report
  }

  // ---- incremental daily pipeline (the maintained-artifact capstone) -----

  /** Per-day accounting of [[curateAndPackDayStep]]. `retracted` is
    * the count of PREVIOUSLY-shipped train docs recalled because
    * today's eval arrivals contaminate them. */
  case class DayReport(day: String, input: Long, afterDedup: Long,
                       contaminated: Long, retracted: Long,
                       afterQuality: Long, train: Long, eval: Long,
                       shardTokens: Long, dqViolations: Long,
                       graphOutliers: Long = 0)

  /** Graph-gate configuration for [[curateAndPackDayStep]] — the
    * maintained kNN graph's first PIPELINE CONSUMER (until r13 the
    * graph family was all diagnostics): `embeddings` is the day's
    * (vec_id, embedding) frame with vec_id ≡ doc_id, and the gate
    * drops curated docs whose vector's IN-DEGREE in the maintained
    * graph is below `minInDegree` — the antihub-outlier signal
    * (knn_hubness's zero/low-in-degree bucket: nobody's top-k cites
    * them, the classic OOD/noise indicator on an embedding corpus).
    * Docs without a vector pass (the gate covers the embedded
    * corpus, the pipeline_emb convention). The graph artifact lives
    * at `stateDir/knn_graph` — today's vectors append BEFORE the
    * gate evaluates, so day-N decisions read the graph of ALL
    * arrivals ≤ N (≡ the one-shot graph of that prefix — the r12
    * append invariant; composition spec'd in PipelineSpec), and
    * [[forgetDocs]] scrubs it like every other maintained
    * artifact. */
  case class GraphGate(embeddings: DataFrame, minInDegree: Long = 1)

  /** Raw-ingest configuration for [[curateAndPackDayStep]]'s stage
    * -1: the day's batch arrives as RAW JSON lines (doc_id, `jsonCol`)
    * instead of an already-typed frame — the shape a real feed has
    * (the reference's malformed-appdetails story, main.py:288-316).
    * Rows that fail to parse, or parse with a `required` field null,
    * append to `stateDir/quarantine` as replayable (doc_id, raw)
    * originals ([[graft.sources.Ingest.readJsonQuarantine]]) and the
    * day's DQ report carries ingest_valid / ingest_quarantined rows
    * (the tok_* pattern: INFORMATIONAL, excluded from the violation
    * sum — a quarantined row was handled, not shipped wrong; spec'd
    * in PipelineSpec). */
  case class RawIngest(jsonCol: String = "raw",
                       required: Seq[String] = Seq("lang", "text"))

  /** Create the EMPTY maintained state a day loop starts from. The
    * chunk/band/shingle/retraction artifacts are schema-typed empty
    * parquet (readable before any append); the cluster map
    * bootstraps on first pairs (an empty partitioned layout cannot
    * be read back). */
  def initDailyState(spark: SparkSession, stateDir: String): Unit = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("chunk_hash", "keeper_id")
      .write.mode("overwrite").parquet(s"$stateDir/chunk_index")
    Seq.empty[(Long, Long)].toDF("line_hash", "keeper_id")
      .write.mode("overwrite").parquet(s"$stateDir/line_index")
    Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "sig")
      .write.mode("overwrite").parquet(s"$stateDir/band_index")
    Seq.empty[(String, Long)].toDF("shingle", "eval_id")
      .write.mode("overwrite").parquet(s"$stateDir/eval_shingles")
    Seq.empty[(String, Long)].toDF("shingle", "train_id")
      .write.mode("overwrite").parquet(s"$stateDir/train_shingles")
    Seq.empty[(Long, String)].toDF("doc_id", "day")
      .write.mode("overwrite").parquet(s"$stateDir/retractions")
  }

  /** ONE DAY of the production curation loop — the one-shot
    * [[curateAndPack]] stages re-expressed against the maintained
    * artifacts, so per-day cost tracks the day's batch + index scans
    * and NEVER re-touches corpus text:
    *
    *   0. encoding normalization (per-doc, stateless),
    *   1. chunk excision against the maintained CDC chunk index
    *      (keep-FIRST-arrival semantics — corpus-known chunks cut,
    *      batch-novel chunks survive once; the index learns today's
    *      chunks for tomorrow),
    *   2. near-dedup against the maintained band index (corpus hits
    *      drop; intra-batch LSH pairs → CC keeps min id) + cluster-map
    *      relabel (ccIncrementalStep) over all of today's pairs,
    *   3. deterministic hash split (per-doc — a doc's split never
    *      depends on the corpus), then decontamination BOTH ways
    *      against the maintained shingle artifacts: today's train
    *      docs vs ALL eval shingles so far (incl. today's), and
    *      today's eval docs RETROACTIVELY vs shipped train shingles —
    *      forward contamination recalls the already-shipped doc into
    *      `retractions` (shards are immutable; consumers read through
    *      [[readCuratedDocs]], which applies the recall anti-join),
    *   4. quality gate (+ optional LM-perplexity gate via the
    *      PROVIDED artifact — the daily loop never self-trains),
    *   5. shard append under `days/<day>/<split>` (writeTrainingShards
    *      — append-stable, day-scoped, never rewrites history),
    *   6. DQ gate over the day's written shards.
    *
    * Composition invariant (PipelineSpec): after N days,
    * [[readCuratedDocs]] (appends minus retractions) equals the
    * one-shot [[curateAndPack]] curated doc set over the union of
    * the batches — requires arrival order consistent with doc_id
    * order (the keeper convention every maintained index here uses)
    * and the same lmArtifact on both sides. */
  def curateAndPackDayStep(spark: SparkSession, batchDocs: DataFrame,
                           stateDir: String, day: String,
                           qualityFloor: Double = 0.2,
                           contamNgram: Int = 3, contamMinShared: Long = 2,
                           pplCeiling: Option[Double] = None,
                           lmArtifact: Option[(DataFrame, DataFrame)] = None,
                           exciseChunks: Boolean = true,
                           dedupLines: Boolean = false,
                           graphGate: Option[GraphGate] = None,
                           shardBudget: Long = 20000,
                           bpeMerges: Option[Seq[(String, String)]] = None,
                           unigramPieces: Option[Seq[(String, Long)]] = None,
                           wordpiecePieces: Option[Seq[String]] = None,
                           rawIngest: Option[RawIngest] = None,
                           nbGate: Boolean = false,
                           qualityGate: Boolean = false)
      : DayReport = {
    require(pplCeiling.isEmpty || lmArtifact.nonEmpty,
      "the daily LM gate needs a provided artifact (it never self-trains)")
    require(Seq(bpeMerges, unigramPieces, wordpiecePieces)
        .count(_.nonEmpty) <= 1,
      "supply at most one tokenizer artifact " +
        "(bpeMerges OR unigramPieces OR wordpiecePieces)")
    import spark.implicits._
    // -1. raw-JSON ingest with quarantine (optional stage 0 of the
    // ingest story): malformed or required-null rows append to the
    // replayable quarantine log and are counted in the DQ report
    val (docs, ingestReport) = rawIngest match {
      case None =>
        (batchDocs.select(col("doc_id"), col("lang"), col("text")), None)
      case Some(ri) =>
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        val (valid, rep) = graft.sources.Ingest.readJsonQuarantine(
          batchDocs, "doc_id", ri.jsonCol,
          StructType(Seq(StructField("lang", StringType),
            StructField("text", StringType))),
          s"$stateDir/quarantine", ri.required)
        (valid.select(col("doc_id"), col("lang"), col("text")), Some(rep))
    }
    val input = docs.count()

    // 0. normalize
    val docsNorm0 = docs.drop("text").join(
      TextFunctions.normalizeText(docs)
        .select(col("doc_id"), col("norm_text").as("text")),
      "doc_id")

    // 0.5. line-level dedup against the maintained line index (the
    // C4/RefinedWeb order: boilerplate lines go FIRST, before any
    // chunk or doc-level decision sees them; appends today's line
    // hashes as a side effect — detection strictly before append)
    val docsNorm = if (!dedupLines) docsNorm0
      else {
        val ex = Dedup.dedupLinesExciseIncrementalStep(spark,
            s"$stateDir/line_index", docsNorm0)
          .select(col("doc_id"), col("out_text").as("text"))
        docsNorm0.drop("text").join(ex, "doc_id")
          .localCheckpoint()
      }

    // 1. chunk excision against the maintained index (appends today's
    // chunks as a side effect — detection strictly before append)
    val src = (if (!exciseChunks) docsNorm
      else {
        val ex = Dedup.dedupChunksExciseIncrementalStep(spark,
            s"$stateDir/chunk_index", docsNorm)
          .select(col("doc_id"), col("excised_text").as("text"))
        docsNorm.drop("text").join(ex, "doc_id")
      }).localCheckpoint() // feeds banding, shingling, stats, shards

    // 2. near-dedup: corpus hits via the band index (which also
    // appends today's bands), intra-batch pairs via LSH + CC
    val corpusHitPairs = Dedup.dedupIncrementalStep(spark,
        s"$stateDir/band_index", src)
      .select(col("corpus_id").as("d1"), col("batch_id").as("d2"))
      .localCheckpoint()
    val batchPairs = Dedup.minhashCandidates(src)
      .select(col("d1"), col("d2")).localCheckpoint()
    val corpusHits = corpusHitPairs.select(col("d2").as("doc_id")).distinct()
    val batchLosers = Dedup.connectedComponentsSafe(batchPairs)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as("doc_id"))
    val kept = src
      .join(corpusHits, Seq("doc_id"), "left_anti")
      .join(batchLosers, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val afterDedup = kept.count()
    // cluster-map relabel over ALL of today's edges (corpus links +
    // intra-batch links); the map bootstraps on the first edge-bearing
    // day (an empty partitioned layout cannot be read back)
    val mapDir = s"$stateDir/cluster_map"
    val todaysEdges = batchPairs.unionByName(corpusHitPairs)
    if (todaysEdges.limit(1).count() > 0) {
      if (written(spark, Dedup.ClusterMap, mapDir))
        Dedup.ccIncrementalStep(spark, mapDir, todaysEdges)
      else Dedup.writeClusterIndex(todaysEdges, mapDir)
    }

    // 3. split (per-doc hash — corpus-independent), then
    // decontamination BOTH ways against the shingle artifacts
    val withSplit = kept.join(
      Curate.splitAssign(kept).select("doc_id", "split"), "doc_id")
    val trainDocs = withSplit.filter(col("split") === "train")
    val evalDocs = withSplit.filter(col("split") =!= "train")
    val trainSh = Dedup.shingles(trainDocs, contamNgram)
      .select(col("doc_id").as("train_id"), col("shingle"))
      .localCheckpoint()
    val evalShToday = Dedup.shingles(evalDocs, contamNgram)
      .select(col("doc_id").as("eval_id"), col("shingle"))
      .localCheckpoint()
    val allEvalSh = spark.read.parquet(s"$stateDir/eval_shingles")
      .select(col("eval_id"), col("shingle"))
      .unionByName(evalShToday)
    val contaminatedIds = Curate
      .contaminationPairsSh(trainSh, allEvalSh, contamMinShared)
      .select(col("train_id").as("doc_id")).distinct()
      .localCheckpoint()
    val contaminated = contaminatedIds.count()
    // retroactive recall: today's eval arrivals vs SHIPPED train docs
    val retractedIds = Curate
      .contaminationPairsSh(spark.read.parquet(s"$stateDir/train_shingles"),
        evalShToday, contamMinShared)
      .select(col("train_id").as("doc_id")).distinct()
      .join(spark.read.parquet(s"$stateDir/retractions").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint() // materialize before appending to retractions
    val retracted = retractedIds.count()
    retractedIds.withColumn("day", lit(day))
      .write.mode("append").parquet(s"$stateDir/retractions")
    evalShToday.select(col("shingle"), col("eval_id"))
      .write.mode("append").parquet(s"$stateDir/eval_shingles")
    val clean = withSplit.join(contaminatedIds, Seq("doc_id"), "left_anti")

    // 4. quality gate (+ the provided-artifact LM gate)
    val heuristicKeep = TextFunctions.textStats(clean)
      .filter(col("quality_score") > qualityFloor)
      .select("doc_id")
    val keepIds = pplCeiling match {
      case Some(ceiling) =>
        val docBg = TextFunctions.docBigrams(clean).localCheckpoint()
        val (model, ctx) = lmArtifact.get
        val lmKeep = TextFunctions.ngramLmScoreWith(docBg, model, ctx)
          .filter(col("ppl") <= ceiling).select("doc_id")
        heuristicKeep.join(lmKeep, Seq("doc_id"), "left_semi")
      case None => heuristicKeep
    }
    val curated0 = clean.join(keepIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()

    // 4.5. graph gate (optional): maintain the kNN-graph artifact
    // with today's vectors, then drop curated docs whose in-degree
    // says nobody's top-k cites them (antihub outliers). The append
    // runs FIRST, so the gate reads the graph of ALL arrivals ≤ today
    // (≡ the one-shot graph of that prefix — the r12 append spec).
    val (curated, graphOutliers) = graphGate match {
      case None => (curated0, 0L)
      case Some(g) =>
        val gDir = s"$stateDir/knn_graph"
        val centsDir = s"$stateDir/knn_graph_cents"
        val emb = g.embeddings.select(col("vec_id"), col("embedding"))
          .localCheckpoint() // materialize before the artifact writes
        // the coarse quantizer is FIXED across appends (the artifact
        // contract): trained once on the bootstrap day's bounded
        // sample, persisted, read back bit-identically (doubles
        // round-trip parquet exactly)
        val cents: Array[Array[Double]] =
          if (exists(spark, centsDir))
            spark.read.parquet(centsDir).orderBy("cid")
              .select("c").as[Seq[Double]].collect().map(_.toArray)
          else {
            val sample = emb.orderBy("vec_id").limit(2048)
              .select("embedding").as[Array[Float]].collect()
            val cs = Similarity.trainCentroids(sample,
              math.min(Similarity.IvfNlist, math.max(1, sample.length / 8)),
              iters = 10)
            cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
              .toSeq.toDF("cid", "c")
              .write.mode("overwrite").parquet(centsDir)
            cs
          }
        if (!exists(spark, gDir))
          Similarity.writeKnnGraph(emb, cents, gDir)
        else Similarity.knnGraphAppendStep(spark, gDir, emb, cents)
        val inDeg = spark.read.parquet(s"$gDir/edges")
          .groupBy(col("neighbor_id").as("doc_id"))
          .agg(count(lit(1)).as("in_deg"))
        val antihubs = spark.read.parquet(s"$gDir/nodes")
          .select(col("vec_id").as("doc_id"))
          .join(inDeg, Seq("doc_id"), "left")
          .filter(coalesce(col("in_deg"), lit(0L)) < g.minInDegree)
          .select("doc_id")
        val gated = curated0.join(antihubs, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        (gated, curated0.count() - gated.count())
    }
    val afterQuality = curated.count()
    val train = curated.filter(col("split") === "train").count()
    val eval = afterQuality - train

    // 5. day-scoped shard append per split (immutable generations —
    // history is never rewritten; recalls live in `retractions`), and
    // the shipped-train shingle index learns today's shipped docs
    // with a tokenizer artifact, shard budgets use REAL token counts
    // (computed once over the day's curated docs — the one-shot
    // tokenizer-slot semantics at day granularity)
    val tokenCounts = bpeMerges.map(m =>
        graft.functions.Bpe.docTokenCounts(curated, m).localCheckpoint())
      .orElse(unigramPieces.map(p =>
        graft.functions.Unigram.docTokenCounts(curated, p).localCheckpoint()))
      .orElse(wordpiecePieces.map(p =>
        graft.functions.Wordpiece.docTokenCounts(curated, p)
          .localCheckpoint()))
    val shardTokens = Seq("train", "val", "test").map { sp =>
      val docsSp = curated.filter(col("split") === sp)
        .select(col("doc_id"), col("lang"), col("text"))
      if (docsSp.limit(1).count() == 0) 0L // bounded emptiness probe
      else Curate.writeTrainingShards(docsSp,
          s"$stateDir/days/$day/$sp", shardBudget,
          tokenCounts = tokenCounts)
        .agg(sum(col("n_tokens")).as("t")).collect().head.getLong(0)
    }.sum
    trainSh.join(curated.filter(col("split") === "train")
        .select(col("doc_id").as("train_id")), Seq("train_id"), "left_semi")
      .select(col("shingle"), col("train_id"))
      .write.mode("append").parquet(s"$stateDir/train_shingles")

    // 6. DQ gate over the day's append (the publish-gate discipline:
    // nonzero violations mean the WRITE went wrong, not the data).
    // With a tokenizer artifact, the gate also PUBLISHES the day's
    // fertility + coverage block over the shipped text (tok_* rows —
    // informational, excluded from the violation sum): the report a
    // consumer reads before pointing a training loader at the drop.
    val dayRows = readShardDocs(spark, stateDir, Seq(day))
    val tokEnc: Option[(String, String => Int, String => Option[Int])] =
      bpeMerges.map { m =>
        ("bpe",
          (w: String) => graft.functions.Bpe.encode(w, m).length,
          (w: String) => Some(graft.functions.Bpe.encode(w, m).length)
            : Option[Int])
      }.orElse(unigramPieces.map { p =>
        val mp = p.toMap
        ("unigram",
          (w: String) => graft.functions.Unigram.segment(w, mp)
            .map(_.length).getOrElse(0),
          (w: String) => graft.functions.Unigram.segment(w, mp)
            .map(_.length))
      }).orElse(wordpiecePieces.map { p =>
        val sp = p.toSet
        ("wordpiece",
          (w: String) => graft.functions.Wordpiece.encode(w, sp)
            .map(_.length).getOrElse(1),
          (w: String) => graft.functions.Wordpiece.encode(w, sp)
            .map(_.length))
      })
    val tokBlock: Seq[DataFrame] = tokEnc match {
      case Some((tname, encLen, encOpt))
          if dayRows.limit(1).count() > 0 =>
        val f = graft.functions.TokenizerStats
          .fertilityOn(dayRows, tname, encLen).collect().head
        val c = graft.functions.TokenizerStats
          .coverageOn(dayRows, tname, encOpt).collect().head
        if (f.isNullAt(f.fieldIndex("n_tokens")) ||
            f.getAs[Long]("n_tokens") == 0L) Seq.empty
        else {
        val rows = Seq(
          "tok_n_words" -> f.getAs[Long]("n_words"),
          "tok_n_chars" -> f.getAs[Long]("n_chars"),
          "tok_n_tokens" -> f.getAs[Long]("n_tokens"),
          "tok_tokens_per_word_e6" -> math.floor(
            f.getAs[Double]("tokens_per_word") * 1e6 + 0.5).toLong,
          "tok_chars_per_token_e6" -> math.floor(
            f.getAs[Double]("chars_per_token") * 1e6 + 0.5).toLong,
          "tok_covered" -> c.getAs[Long]("n_covered"),
          "tok_oov" -> c.getAs[Long]("n_oov"),
          "tok_whole" -> c.getAs[Long]("n_whole"),
          "tok_max_pieces" -> c.getAs[Int]("max_pieces").toLong)
        Seq(rows.toDF("metric", "value"))
        }
      case _ => Seq.empty
    }
    // ingest accounting rides the report like tok_*: informational
    // (a quarantined row was handled — replayable, never shipped —
    // so it is not a violation of the written shards)
    val ingestBlock: Seq[DataFrame] = ingestReport.toSeq.map { r =>
      Seq("ingest_valid" -> r.valid,
        "ingest_quarantined" -> r.quarantined).toDF("metric", "value")
    }
    // trained-label audit (optional): classify today's SHIPPED rows
    // against the NB model of PRIOR days and publish agreement as
    // cls_* rows (informational, the tok_* discipline — disagreement
    // flags label drift in the feed, not a bad write), then fold
    // today's rows into the model: incremental NB training is exact
    // count algebra (appendToNbModel ≡ fresh training, spec'd), so
    // day-N audits always read the model of arrivals < N. The model
    // trains on shard rows AS SHIPPED (post-normalization), which is
    // what [[forgetDocs]] subtracts back out.
    val nbBlock: Seq[DataFrame] = if (!nbGate) Seq.empty else {
      val nbDir = s"$stateDir/nb_model"
      val hasModel = exists(spark, nbDir)
      val shipped = dayRows.limit(1).count() > 0
      val rows =
        if (!hasModel || !shipped) Seq.empty[(String, Long)]
        else {
          val agree = graft.functions.Classify
            .classifyNbServeBatch(spark, nbDir, dayRows)
            .join(dayRows.select(col("doc_id"), col("lang")), "doc_id")
            .agg(count(lit(1)).as("n"),
              sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("a"))
            .collect().head
          Seq("cls_total" -> agree.getLong(0),
            "cls_agree" -> agree.getLong(1))
        }
      if (shipped) {
        if (hasModel) graft.functions.Classify.appendToNbModel(dayRows, nbDir)
        else graft.functions.Classify.writeNbModel(dayRows, nbDir)
      }
      if (rows.isEmpty) Seq.empty else Seq(rows.toDF("metric", "value"))
    }
    // distilled-quality audit (optional): score today's SHIPPED rows
    // against the quality model distilled from the BOOTSTRAP day and
    // publish the keep fraction as cls_qual_* rows (informational —
    // a sagging keep rate flags feed-quality drift against the fixed
    // reference ruler). CCNet train-once semantics: the first
    // shipping day trains the artifact and later days only SCORE —
    // folding new days in would move the ruler with the very data it
    // measures (and tertile labels are corpus-level statistics, so
    // there is deliberately no append verb — see writeQualityModel).
    val qualBlock: Seq[DataFrame] = if (!qualityGate) Seq.empty else {
      val qDir = s"$stateDir/quality_model"
      val hasModel = exists(spark, qDir)
      val shipped = dayRows.limit(1).count() > 0
      val rows =
        if (!hasModel || !shipped) Seq.empty[(String, Long)]
        else {
          val k = graft.functions.Classify
            .qualityNbServeBatch(spark, qDir, dayRows)
            .agg(count(lit(1)).as("n"),
              sum(when(col("keep"), 1L).otherwise(0L)).as("k"))
            .collect().head
          // a DRAINED ruler (all labeled docs forgotten) serves an
          // empty frame: count 0, NULL sum — report zeros, not NPE
          Seq("cls_qual_total" -> k.getLong(0),
            "cls_qual_keep" -> (if (k.isNullAt(1)) 0L else k.getLong(1)))
        }
      if (!hasModel && shipped)
        graft.functions.Classify.writeQualityModel(dayRows, qDir)
      if (rows.isEmpty) Seq.empty else Seq(rows.toDF("metric", "value"))
    }
    val dq = operators.DataQuality.suite(
      Seq(operators.DataQuality.rowMetrics(dayRows, Seq(
        "null_lang" -> col("lang").isNull,
        "empty_docs" -> (col("n_tokens") <= 0),
        "bad_split" -> !col("split").isin("train", "val", "test"))),
      operators.DataQuality.keyDuplicates(dayRows, Seq("doc_id"),
        "dup_doc_keys")) ++ tokBlock ++ ingestBlock ++ nbBlock ++
      qualBlock: _*)
    dq.write.mode("overwrite").parquet(s"$stateDir/days/$day/dq_report")
    val dqViolations = spark.read
      .parquet(s"$stateDir/days/$day/dq_report")
      .filter(col("metric") =!= "row_count" &&
        !col("metric").startsWith("tok_") &&
        !col("metric").startsWith("ingest_") &&
        !col("metric").startsWith("cls_"))
      .agg(sum(col("value")).as("v")).collect().head.getLong(0)

    DayReport(day, input, afterDedup, contaminated, retracted,
      afterQuality, train, eval, shardTokens, dqViolations, graphOutliers)
  }

  /** All shard rows of the given days (default: every day present),
    * split column recovered from the directory layout. */
  private def readShardDocs(spark: SparkSession, stateDir: String,
                            days: Seq[String]): DataFrame = {
    val frames = for {
      day <- days
      sp <- Seq("train", "val", "test")
      path = s"$stateDir/days/$day/$sp/shards"
      if exists(spark, path)
    } yield spark.read.json(path).withColumn("split", lit(sp))
    if (frames.nonEmpty) frames.reduce(_ unionByName _)
    else {
      // an all-duplicate (or all-filtered) day ships nothing — the
      // DQ gate still needs a typed empty frame
      import spark.implicits._
      Seq.empty[(Long, Long, String, String, Long, String)]
        .toDF("doc_id", "n_tokens", "text", "lang", "shard_id", "split")
    }
  }

  private def listDays(spark: SparkSession, stateDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/days")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted
  }

  /** The consumer view of the incrementally-built corpus: every day's
    * shard append, minus retracted (recalled) docs — what a training
    * loader reads. The composition invariant compares THIS to the
    * one-shot [[curateAndPack]] over the union. */
  def readCuratedDocs(spark: SparkSession, stateDir: String): DataFrame = {
    val days = listDays(spark, stateDir)
    require(days.nonEmpty, s"no day appends under $stateDir/days")
    readShardDocs(spark, stateDir, days)
      .join(spark.read.parquet(s"$stateDir/retractions").select("doc_id"),
        Seq("doc_id"), "left_anti")
  }

  /** The shingle stores of the decontamination stage, maintained like
    * the dedup indexes: append-only, ids never repeat across days. */
  private val EvalShingles = Dedup.MaintainedIndex("eval_shingles", "eval_id")
  private val TrainShingles = Dedup.MaintainedIndex("train_shingles", "train_id")

  /** Every maintained index of the daily state; each lives in the
    * state subdirectory named after its descriptor. [[forgetDocs]]
    * erases from all of them and [[compactDailyState]] compacts all
    * but the cluster map, which needs no compaction. */
  private val stateIndexes = Seq(Dedup.ChunkIndex, Dedup.LineIndex,
    Dedup.BandIndex, EvalShingles, TrainShingles, Dedup.ClusterMap)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether a state index has been written: the line index exists
    * only in states created since it was added, and the cluster map
    * only once a day produced edges. A map must also hold a bucket
    * directory — an empty partitioned layout cannot be read back. */
  private def written(spark: SparkSession, index: Dedup.MaintainedIndex,
                      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && (index != Dedup.ClusterMap ||
      fs.listStatus(p).exists(_.getPath.getName.startsWith("_cb=")))
  }

  case class StateMaintenanceReport(
      chunkIndex: graft.sources.Compact.CompactReport,
      lineIndex: Option[graft.sources.Compact.CompactReport],
      bandIndex: graft.sources.Compact.CompactReport,
      evalShingles: graft.sources.Compact.CompactReport,
      trainShingles: graft.sources.Compact.CompactReport,
      vacuumedDocs: Long, vacuumedDays: Int)

  /** Periodic maintenance for the daily state — the ~monthly pass
    * every append-maintained artifact here needs (N daily appends
    * leave N small files whose open cost comes to dominate the daily
    * probe joins): each state index goes through
    * [[graft.operators.Dedup.compact]] (the chunk and line indexes
    * re-collapse min-keeper; band index and both shingle stores
    * re-cluster file-wise, their append rows already distinct), and
    * [[vacuumRetractedShards]] folds the recall list into storage.
    * The line index's report is None for states that predate it.
    * Day-step results are IDENTICAL across the pass (spec'd: a
    * post-maintenance day equals the same day against un-compacted
    * state, and readCuratedDocs is unchanged by the vacuum). */
  def compactDailyState(spark: SparkSession, stateDir: String,
                        targetBytes: Long = 128L << 20)
      : StateMaintenanceReport = {
    val reports = stateIndexes
      .filter(i => i.bucketForget.isEmpty &&
        written(spark, i, s"$stateDir/${i.name}"))
      .map(i => i -> Dedup.compact(spark, i, s"$stateDir/${i.name}",
        targetBytes))
      .toMap
    val (docs, days) = vacuumRetractedShards(spark, stateDir)
    StateMaintenanceReport(reports(Dedup.ChunkIndex),
      reports.get(Dedup.LineIndex), reports(Dedup.BandIndex),
      reports(EvalShingles), reports(TrainShingles), docs, days)
  }

  /** RIGHT-TO-BE-FORGOTTEN across the daily pipeline state — the
    * erasure verb a production corpus must support (takedowns, GDPR
    * erasure, licensing recalls): remove the given doc_ids from
    * EVERY maintained artifact and from storage, synchronously:
    *
    *   1. shards — the ids join the recall list and
    *      [[vacuumRetractedShards]] rewrites every day directory
    *      holding them (and any outstanding recalls) without them;
    *      the consumer view drops them the moment the retraction
    *      append lands,
    *   2. band index — rows of the forgotten docs rewritten away
    *      (their bands must stop matching future arrivals: a copy of
    *      an erased doc is NOVEL by definition — erasure removes the
    *      corpus's memory of the content, the deliberate semantic
    *      consequence, spec'd),
    *   3. chunk index AND line index — (hash, keeper) rows whose
    *      keeper is forgotten are dropped (same consequence: the
    *      content fingerprint leaves with its only attributed
    *      owner),
    *   4. both shingle stores — the docs' shingle rows vanish (they
    *      stop contaminating / being recall triggers),
    *   5. cluster map — its bounded relabel removes the nodes and
    *      relabels clusters whose LABEL was a forgotten id (labels
    *      are doc ids — erasure cannot leave one behind).
    *
    * Steps 2-5 are one [[graft.operators.Dedup.forget]] per state
    * index. The rewrites ride [[graft.sources.Compact.compactInPlace]]
    * (read → anti-join → swap, the maintained-index discipline), so
    * the pass doubles as a compaction. The day loop keeps running
    * against the erased state unchanged (spec'd). Cost is one
    * compact pass over each doc-keyed artifact (corpus-sized scans
    * of slim long/hash rows — 6.5s against the 10× state, §6,
    * recorded by a retired probe) plus
    * the bounded shard/cluster surgery: production BATCHES erasure
    * requests and runs one pass per cycle (erasure SLAs are
    * days-scale), amortizing the artifact rewrites across the batch
    * exactly as this signature already does. */
  def forgetDocs(spark: SparkSession, stateDir: String,
                 ids: DataFrame): Unit = {
    import spark.implicits._
    val forget = ids.select(col("doc_id")).distinct().localCheckpoint()
    // 0. trained-label audit model (present only when the NB gate
    // ran): subtract the victims' SHIPPED rows — read from shard
    // storage BEFORE the vacuum below removes them, which also makes
    // a REPEAT forget a no-op on the counts (nothing left to
    // attribute — the count algebra can only be applied once per row)
    val nbDir = s"$stateDir/nb_model"
    val qualDir = s"$stateDir/quality_model"
    val nbExists = exists(spark, nbDir)
    val qualExists = exists(spark, qualDir)
    if (nbExists || qualExists) {
      // ONE corpus scan shared by both trained artifacts
      val victimRows = readShardDocs(spark, stateDir,
          listDays(spark, stateDir))
        .join(forget, Seq("doc_id"), "left_semi")
        .localCheckpoint() // materialize before the vacuum/rewrite
      if (victimRows.limit(1).count() > 0) {
        if (nbExists)
          graft.functions.Classify.forgetFromNbModel(victimRows, nbDir)
        // 0b. distilled quality model: the artifact stores its own
        // bucket attribution, so victims subtract under their stored
        // labels (repeat forget finds nothing left — idempotent)
        if (qualExists)
          graft.functions.Classify.forgetFromQualityModel(victimRows, qualDir)
      }
    }
    // 1. consumer view + shard storage
    forget.withColumn("day", lit("forgotten"))
      .write.mode("append").parquet(s"$stateDir/retractions")
    vacuumRetractedShards(spark, stateDir)
    // 2-5. every written state index (swap discipline; the cluster
    // map relabels its touched buckets)
    for (i <- stateIndexes; dir = s"$stateDir/${i.name}"
         if written(spark, i, dir))
      Dedup.forget(spark, i, dir, forget)
    // 6. maintained kNN graph (present only when the graph gate ran):
    // the forgotten docs' vectors leave nodes/probes/edges and every
    // survivor top-k that cited one refills exactly
    val gDir = s"$stateDir/knn_graph"
    if (exists(spark, gDir))
      Similarity.forgetFromKnnGraph(spark, gDir,
        forget.select(col("doc_id").as("vec_id")))
  }

  /** Fold the recall list into the shard storage: every day/split
    * directory holding retracted docs is rewritten without them
    * (read → checkpoint → overwrite, the materialize-before-
    * overwrite discipline; manifests re-derive), a day drained
    * entirely is deleted, and the satisfied retraction list resets
    * to empty. The consumer view ([[readCuratedDocs]]) is IDENTICAL
    * before and after — the vacuum moves the recall from an
    * anti-join at read time into the storage itself. Recalls only
    * ever hit train shards, but [[forgetDocs]] routes erasure of ANY
    * split through here — all three split dirs are scanned. */
  def vacuumRetractedShards(spark: SparkSession, stateDir: String,
                            shardBudget: Long = 20000): (Long, Int) = {
    val retr = spark.read.parquet(s"$stateDir/retractions")
      .select("doc_id").localCheckpoint()
    if (retr.limit(1).count() == 0) return (0L, 0)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var vacuumedDocs = 0L
    var vacuumedDays = 0
    for (day <- listDays(spark, stateDir); sp <- Seq("train", "val", "test")) {
      val dayDir = s"$stateDir/days/$day/$sp"
      val shardPath = new org.apache.hadoop.fs.Path(s"$dayDir/shards")
      if (fs.exists(shardPath)) {
        val rows = spark.read.json(s"$dayDir/shards")
        val hit = rows.join(retr, Seq("doc_id"), "left_semi").count()
        if (hit > 0) {
          vacuumedDocs += hit
          vacuumedDays += 1
          val keep = rows.join(retr, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("lang"), col("text"))
            .localCheckpoint() // materialize before overwriting the source
          if (keep.limit(1).count() == 0)
            fs.delete(new org.apache.hadoop.fs.Path(dayDir), true)
          else
            Curate.writeTrainingShards(keep, dayDir, shardBudget)
        }
      }
    }
    // every shipped copy is gone — the recall list is satisfied
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "day")
      .write.mode("overwrite").parquet(s"$stateDir/retractions")
    (vacuumedDocs, vacuumedDays)
  }
}
