package graft

import org.apache.spark.sql.functions._

/** The composed pipeline: each stage is individually verified
  * elsewhere — this spec checks the composition semantics and the
  * written training layout. */
class PipelineSpec extends SparkSpec {

  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("graft-pipeline").toString
  private lazy val report = Pipeline.curateAndPack(spark, sf, outDir)

  test("stage accounting is monotone and complete") {
    assert(report.input == 500)
    assert(report.afterDedup <= report.input)
    assert(report.afterQuality <= report.afterDedup - report.contaminated ||
      report.contaminated == 0)
    assert(report.train + report.eval == report.afterQuality)
    assert(report.train > 0 && report.segments > 0)
    // the report frame round-trips
    val persisted = spark.read.parquet(s"$outDir/report").collect()
    assert(persisted.length == 1)
    assert(persisted.head.getAs[Long]("segments") == report.segments)
  }

  test("publish gate: dq_report written next to the output, all-zero violations") {
    report // force the run
    val dq = spark.read.parquet(s"$outDir/dq_report").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dq.keySet == Set("row_count", "null_lang", "empty_segments",
      "bad_split", "dup_segment_keys"))
    assert(dq("row_count") == report.segments)
    // the checks encode invariants the pipeline guarantees — a clean
    // run MUST publish zeros (a nonzero here means the write broke)
    assert(dq("null_lang") == 0 && dq("empty_segments") == 0 &&
      dq("bad_split") == 0 && dq("dup_segment_keys") == 0, dq.toString)
  }

  test("no contaminated train doc survives curation") {
    val segs = spark.read.parquet(s"$outDir/segments")
    val trainIds = segs.filter(col("split") === "train")
      .select(col("doc_id")).distinct()
    val evalDocs = Tables.documents(spark, sf)
      .join(segs.filter(col("split") =!= "train").select("doc_id").distinct(),
        Seq("doc_id"), "left_semi")
    val trainDocs = Tables.documents(spark, sf)
      .join(trainIds, Seq("doc_id"), "left_semi")
    // re-running the contamination check on the OUTPUT finds nothing
    assert(operators.Curate.decontaminate(trainDocs, evalDocs, 3, 2,
      broadcastEval = true).count() == 0)
  }

  test("embedding-dedup front-end: semantic near-dups removed, composition intact") {
    // the raw corpus is isotropic (no natural ≥0.9 pairs), so plant
    // exact doc+embedding replicas in a disjoint id space — the
    // RecallSpec construction; the front-end must collapse each
    // replica cluster to its keeper (min id = the original)
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val plantedDocs = docs.unionByName(
      docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + 100000))
    val plantedEmb = emb.unionByName(
      emb.filter(col("vec_id") < 50).withColumn("vec_id", col("vec_id") + 100000))
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline-emb").toString
    val r = Pipeline.curateAndPack(spark, plantedDocs, out, 512, 0.2, 3, 2,
      Some(plantedEmb), embTau = 0.9, pplCeiling = None)
    assert(r.input == 550)
    // every planted replica clusters with its original under the
    // τ-derived 32×16 geometry (RecallSpec measures ≥0.94 there) and
    // keep-min-id retains the original — none of the planted ids
    // survive into the written segments
    assert(r.afterDedup <= 500, s"afterDedup=${r.afterDedup}")
    val segIds = spark.read.parquet(s"$out/segments")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(segIds.forall(_ < 100000), "a planted replica survived")
    // per-stage accounting stays monotone and complete
    assert(r.train + r.eval == r.afterQuality)
    assert(r.afterQuality <= r.afterDedup - r.contaminated ||
      r.contaminated == 0)
    assert(r.segments > 0)
  }

  test("encoding-normalization stage 0: encoding variants dedup only with it on") {
    import spark.implicits._
    // three copies of one fully-accented document — NFC, double-
    // encoded (mojibake), and NFD — share NO shingle byte-for-byte,
    // so without normalization minhash sees three unrelated docs;
    // with it they hash identically and collapse to the min-id keeper
    val accented = ("café naïve é—ï " * 16).trim
    val moji = accented
      .replace("é", "Ã©")
      .replace("ï", "Ã¯")
      .replace("—", "â€”")
    val nfd = java.text.Normalizer.normalize(accented,
      java.text.Normalizer.Form.NFD)
    assert(Set(accented, moji, nfd).size == 3, "variants must differ raw")
    val trio = Seq((9001L, accented), (9002L, moji), (9003L, nfd))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val corpus = Tables.documents(spark, sf).filter(col("doc_id") < 40)
      .select("doc_id", "lang", "text")
      .unionByName(trio.select("doc_id", "lang", "text"))
    val outOn = java.nio.file.Files.createTempDirectory("graft-pipe-non").toString
    val rOn = Pipeline.curateAndPack(spark, corpus, outOn, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None)
    val outOff = java.nio.file.Files.createTempDirectory("graft-pipe-noff").toString
    val rOff = Pipeline.curateAndPack(spark, corpus, outOff, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None,
      normalizeEncoding = false)
    // the real corpus slice may carry natural near-dup pairs (dropped
    // in BOTH runs) — the normalization-specific effect is exactly the
    // two encoding variants collapsing into the keeper
    assert(rOn.input == 43 && rOff.input == 43)
    assert(rOn.afterDedup == rOff.afterDedup - 2,
      s"normalized kept ${rOn.afterDedup}, unnormalized ${rOff.afterDedup}")
  }

  test("span-excision stage 0: no cross-doc repeated span survives into segments") {
    import graft.operators.Dedup
    // two doc groups sharing a long boilerplate block, plus plants —
    // the excision must cut the shared block BEFORE dedup/packing
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline-ex").toString
    val r = Pipeline.curateAndPack(spark, docs, out, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None,
      exciseSpanLen = Some(32))
    assert(r.input == 550 && r.segments > 0)
    assert(r.train + r.eval == r.afterQuality)
    // the corpus the segments were packed from is the excised text:
    // none of the ORIGINALLY-detected repeated spans may appear in
    // any packed doc's windows (the operator theorem, lifted through
    // the composition — the same assertion DedupSpec makes on the
    // operator alone)
    val detected = Dedup.dedupSpans(docs).select("span_hash").collect()
      .map(_.getLong(0)).toSet
    assert(detected.nonEmpty)
    val segs = spark.read.parquet(s"$out/segments")
    import spark.implicits._
    val survived = Dedup.dedupSpansExcise(docs)
      .select(col("doc_id"), col("excised_text"))
      .join(segs.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .as[(Long, String)]
      .flatMap { case (_, t) =>
        if (t.length < 32) Iterator.empty
        else (0 to t.length - 32).iterator.map(i => t.substring(i, i + 32)) }
      .map(w => Dedup.spanHashOf(w))
      .filter(h => detected.contains(h))
      .count()
    assert(survived == 0,
      s"$survived detected repeated spans survived into packed docs")
  }

  test("LM perplexity gate drops exactly the docs scoring above the ceiling") {
    import spark.implicits._
    // the synthetic corpus is a uniform token soup — every doc's
    // bigram ppl sits in a narrow band (26-38), so no planted
    // gibberish can stand out and the test instead pins the gate
    // MECHANISM: with a median ceiling, the gated run's kept set
    // must equal baseline-kept minus precisely the LM's over-ceiling
    // docs (trained on the same cleaned corpus the pipeline trains on)
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val outA = java.nio.file.Files.createTempDirectory("graft-ppl-a").toString
    val outB = java.nio.file.Files.createTempDirectory("graft-ppl-b").toString
    val base = Pipeline.curateAndPack(spark, docs, outA, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None)
    def kept(dir: String): Set[Long] = spark.read.parquet(s"$dir/segments")
      .select("doc_id").distinct().as[Long].collect().toSet
    val keptBase = kept(outA)
    // the heuristic gate passes the whole corpus here, so the
    // pipeline's cleaned (pre-gate) corpus IS the baseline kept set
    assert(keptBase.size.toLong == base.afterQuality)
    val ceiling = 30.0
    val over = graft.functions.TextFunctions.ngramLmScore(
        docs.join(keptBase.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"))
      .filter(col("ppl") > ceiling)
      .select("doc_id").as[Long].collect().toSet
    assert(over.nonEmpty && over.size < keptBase.size,
      s"median ceiling should split the corpus, got ${over.size}/${keptBase.size}")
    Pipeline.curateAndPack(spark, docs, outB, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = Some(ceiling))
    assert(kept(outB) == keptBase -- over,
      s"gated kept ${kept(outB).size} != baseline ${keptBase.size} minus ${over.size}")
  }

  test("artifact-fed LM gate reproduces the self-trained run exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val outA = java.nio.file.Files.createTempDirectory("graft-lma").toString
    val outB = java.nio.file.Files.createTempDirectory("graft-lmb").toString
    // run 1 trains the LM on its cleaned corpus AND persists it
    val a = Pipeline.curateAndPack(spark, docs, outA, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = Some(30.0))
    assert(new java.io.File(s"$outA/lm_model").exists, "artifact not written")
    // run 2 feeds run 1's artifact back — the daily production shape
    val artifact = (spark.read.parquet(s"$outA/lm_model"),
      spark.read.parquet(s"$outA/lm_ctx"))
    val b = Pipeline.curateAndPack(spark, docs, outB, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = Some(30.0),
      lmArtifact = Some(artifact))
    assert(a == b, s"reports differ: $a vs $b")
    def kept(dir: String): Set[Long] = spark.read.parquet(s"$dir/segments")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(kept(outA) == kept(outB))
    // and no artifact is (re)written by the artifact-fed run
    assert(!new java.io.File(s"$outB/lm_model").exists)
  }

  test("tokenizer-artifact packing budgets segments by real BPE counts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    // a tiny merge artifact is enough — the point is the budget path
    val merges = graft.functions.Bpe.trainMerges(
      graft.functions.Bpe.wordVocab(docs), 30)
    val r = Pipeline.curateAndPack(spark, docs, out, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None,
      bpeMerges = Some(merges))
    assert(r.segments > 0)
    val segs = spark.read.parquet(s"$out/segments")
    // total packed budget == the tokenizer's count over the packed docs
    val packedIds = segs.select("doc_id").distinct().as[Long].collect().toSet
    val expected = graft.functions.Bpe.docTokenCounts(
        docs.join(packedIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"),
        merges)
      .agg(sum("n_tokens")).collect().head.getLong(0)
    val got = segs.agg(sum("seg_len")).collect().head.getLong(0)
    assert(got == expected, s"packed $got tokens != tokenizer count $expected")
  }

  test("unigram-artifact packing budgets segments by unigram piece counts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-uni").toString
    val pieces = graft.functions.Unigram.trainUnigram(
      graft.functions.Bpe.wordVocab(docs))
    val r = Pipeline.curateAndPack(spark, docs, out, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None,
      unigramPieces = Some(pieces))
    assert(r.segments > 0)
    val segs = spark.read.parquet(s"$out/segments")
    val packedIds = segs.select("doc_id").distinct().as[Long].collect().toSet
    val expected = graft.functions.Unigram.docTokenCounts(
        docs.join(packedIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"),
        pieces)
      .agg(sum("n_tokens")).collect().head.getLong(0)
    val got = segs.agg(sum("seg_len")).collect().head.getLong(0)
    assert(got == expected, s"packed $got tokens != tokenizer count $expected")
    // both tokenizer slots at once is a caller error, not a silent pick
    intercept[IllegalArgumentException] {
      Pipeline.curateAndPack(spark, docs, out, 512, 0.2, 3, 2,
        embeddings = None, embTau = 0.9, pplCeiling = None,
        bpeMerges = Some(Seq("a" -> "b")), unigramPieces = Some(pieces))
    }
  }

  test("wordpiece-artifact packing budgets segments by MaxMatch counts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-wp").toString
    val pieces = graft.functions.Wordpiece.trainWordpiece(
      graft.functions.Bpe.wordVocab(docs))
    val r = Pipeline.curateAndPack(spark, docs, out, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None,
      wordpiecePieces = Some(pieces))
    assert(r.segments > 0)
    val segs = spark.read.parquet(s"$out/segments")
    val packedIds = segs.select("doc_id").distinct().as[Long].collect().toSet
    val expected = graft.functions.Wordpiece.docTokenCounts(
        docs.join(packedIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"),
        pieces)
      .agg(sum("n_tokens")).collect().head.getLong(0)
    val got = segs.agg(sum("seg_len")).collect().head.getLong(0)
    assert(got == expected, s"packed $got tokens != tokenizer count $expected")
    intercept[IllegalArgumentException] {
      Pipeline.curateAndPack(spark, docs, out, 512, 0.2, 3, 2,
        embeddings = None, embTau = 0.9, pplCeiling = None,
        unigramPieces = Some(Seq("a" -> -1L)),
        wordpiecePieces = Some(pieces))
    }
  }

  // ---- incremental daily pipeline ----------------------------------------

  private def daySlice(lo: Int, hi: Int) =
    Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .filter(col("doc_id") >= lo && col("doc_id") < hi)

  test("raw-ingest stage: malformed rows quarantine, DQ reports them, replay works") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-rawing").toString
    Pipeline.initDailyState(spark, state)
    val rawGood = daySlice(0, 40).select(col("doc_id"),
      to_json(struct(col("lang"), col("text"))).as("raw"))
    val rawBad = Seq(
      (90001L, """{"lang": "en", "text": """), // truncated JSON
      (90002L, """{"lang": "en"}"""),          // required field null
      (90003L, "not json at all")).toDF("doc_id", "raw")
    val r = Pipeline.curateAndPackDayStep(spark, rawGood.unionByName(rawBad),
      state, "d1", exciseChunks = false,
      rawIngest = Some(Pipeline.RawIngest()))
    // quarantined originals are replayable (doc_id, raw) appends
    val q = spark.read.parquet(s"$state/quarantine")
    assert(q.select("doc_id").as[Long].collect().toSet ==
      Set(90001L, 90002L, 90003L))
    // the DQ report carries the accounting; quarantined rows were
    // HANDLED, so the publish gate stays green (informational rows,
    // the tok_* discipline)
    val dq = spark.read.parquet(s"$state/days/d1/dq_report").collect()
      .map(x => x.getAs[String]("metric") -> x.getAs[Long]("value")).toMap
    assert(dq("ingest_valid") == 40L && dq("ingest_quarantined") == 3L)
    assert(r.dqViolations == 0, s"quarantine counted as violation: $r")
    assert(r.input == 40)
    // nothing quarantined leaked into the curated corpus
    val ids = Pipeline.readCuratedDocs(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.exists(_ >= 90000L))
    // replay: fix the quarantined rows, feed them back as day 2
    val fixed = q.select(col("doc_id"),
      lit("""{"lang": "en", "text": "replayed fixed document content"}""")
        .as("raw"))
    val r2 = Pipeline.curateAndPackDayStep(spark, fixed, state, "d2",
      exciseChunks = false, rawIngest = Some(Pipeline.RawIngest()))
    assert(r2.input == 3, s"replayed rows did not re-ingest: $r2")
    // a clean day appends NOTHING to the quarantine log
    val filesBefore = new java.io.File(s"$state/quarantine")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val r3 = Pipeline.curateAndPackDayStep(spark,
      daySlice(40, 60).select(col("doc_id"),
        to_json(struct(col("lang"), col("text"))).as("raw")),
      state, "d3", exciseChunks = false,
      rawIngest = Some(Pipeline.RawIngest()))
    val filesAfter = new java.io.File(s"$state/quarantine")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(r3.input == 20 && filesAfter == filesBefore,
      "clean day silted the quarantine log with an empty file")
  }

  test("daily loop equals the one-shot pipeline on the union, recalls included") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-days").toString
    Pipeline.initDailyState(spark, state)
    // three arrival days with monotone ids (the keeper convention);
    // day 2 carries exact copies of day-1 docs (cross-day dedup)
    val b1 = daySlice(0, 60)
    val b2 = daySlice(60, 120).unionByName(
      daySlice(1, 3).withColumn("doc_id", col("doc_id") + 20000L))
    val r1 = Pipeline.curateAndPackDayStep(spark, b1, state, "d1",
      exciseChunks = false)
    val r2 = Pipeline.curateAndPackDayStep(spark, b2, state, "d2",
      exciseChunks = false)
    assert(r1.dqViolations == 0 && r2.dqViolations == 0)
    // day 3 includes a CRAFTED forward-contamination eval doc: the
    // prefix of an already-shipped day-1 train doc (shares its lead
    // trigrams, far below near-dup similarity) under an id hashing
    // into an eval split — its arrival must RECALL the shipped doc
    val shipped = Pipeline.readCuratedDocs(spark, state)
      .filter(col("split") === "train")
      .select("doc_id", "text").as[(Long, String)].collect()
      .minBy(_._1)
    val evalId = (30000L to 30050L).find { id =>
      operators.Curate.splitAssign(Seq((id, "en", "x")).toDF(
        "doc_id", "lang", "text"))
        .collect().head.getAs[String]("split") != "train"
    }.get
    val craftedText = shipped._2.split("\\s+").take(12).mkString(" ") +
      " zq9 zq8 zq7 zq6 zq5 zq4 zq3 zq2 zq1 zq0"
    val b3 = daySlice(120, 180).unionByName(
      Seq((evalId, "en", craftedText)).toDF("doc_id", "lang", "text"))
    val r3 = Pipeline.curateAndPackDayStep(spark, b3, state, "d3",
      exciseChunks = false)
    assert(r3.retracted >= 1, s"crafted recall did not fire: $r3")
    // one-shot comparator over the union, same options
    val union = b1.unionByName(b2).unionByName(b3)
    val out = java.nio.file.Files.createTempDirectory("graft-oneshot").toString
    Pipeline.curateAndPack(spark, union, out, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None)
    val oneShotIds = spark.read.parquet(s"$out/segments")
      .select("doc_id").distinct().as[Long].collect().toSet
    val loopIds = Pipeline.readCuratedDocs(spark, state)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(loopIds == oneShotIds,
      s"loop-only: ${loopIds -- oneShotIds}; oneshot-only: ${oneShotIds -- loopIds}")
    // the recalled doc is gone from the consumer view but its shard
    // file is untouched (immutable history + recall list)
    assert(!loopIds.contains(shipped._1))
    val rawShardIds = spark.read.json(s"$state/days/d1/train/shards")
      .select("doc_id").as[Long].collect().toSet
    assert(rawShardIds.contains(shipped._1))

    // ---- state maintenance: compaction + recall vacuum ----
    val rep = Pipeline.compactDailyState(spark, state)
    // the line index (written empty by initDailyState, never appended
    // without line dedup) is compacted and reported too
    assert(rep.lineIndex.map(_.rows) == Some(0L))
    // the vacuum folded the recall into storage...
    assert(rep.vacuumedDocs >= 1 && rep.vacuumedDays >= 1)
    assert(!spark.read.json(s"$state/days/d1/train/shards")
      .select("doc_id").as[Long].collect().toSet.contains(shipped._1))
    assert(spark.read.parquet(s"$state/retractions").count() == 0)
    // ...and the consumer view is IDENTICAL across the whole pass
    val afterIds = Pipeline.readCuratedDocs(spark, state)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(afterIds == loopIds)
    // the loop keeps running against the compacted state: a day-4
    // copy of a corpus doc must still be detected through the
    // compacted band index (drops at dedup, ships nothing new)
    val survivor = loopIds.min
    val b4 = union.filter(col("doc_id") === survivor)
      .withColumn("doc_id", col("doc_id") + 40000L)
    val r4 = Pipeline.curateAndPackDayStep(spark, b4, state, "d4",
      exciseChunks = false)
    assert(r4.afterDedup == 0, s"post-maintenance dedup missed: $r4")
  }

  test("NB gate: audits read the prior-days model, cls_* rows ride the report, forget subtracts") {
    import spark.implicits._
    import graft.functions.Classify
    val state = java.nio.file.Files.createTempDirectory("graft-nb").toString
    Pipeline.initDailyState(spark, state)
    val r1 = Pipeline.curateAndPackDayStep(spark, daySlice(0, 60), state,
      "d1", exciseChunks = false, nbGate = true)
    // day 1 has no prior model: no cls rows, but the model is written
    assert(spark.read.parquet(s"$state/days/d1/dq_report")
      .filter(col("metric").startsWith("cls_")).count() == 0)
    assert(new java.io.File(s"$state/nb_model/model").exists())
    val r2 = Pipeline.curateAndPackDayStep(spark, daySlice(60, 120), state,
      "d2", exciseChunks = false, nbGate = true)
    // day 2 audits against the day-1 model and publishes agreement
    val cls = spark.read.parquet(s"$state/days/d2/dq_report")
      .filter(col("metric").startsWith("cls_"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cls.keySet == Set("cls_total", "cls_agree"))
    assert(cls("cls_total") > 0 && cls("cls_agree") <= cls("cls_total"))
    // informational rows: the publish gate stays green
    assert(r1.dqViolations == 0 && r2.dqViolations == 0)
    // the maintained model == a fresh training of the SHIPPED-DAY
    // rows (incremental NB is exact count algebra). Deliberately NOT
    // readCuratedDocs: a naturally recall-retracted doc leaves the
    // consumer view but stays counted until an explicit forget names
    // it — the Lucene stale-stats semantics every maintained index
    // here uses
    val shipped = Seq("d1", "d2")
      .flatMap(dy => Seq("train", "val", "test")
        .map(sp => s"$state/days/$dy/$sp/shards"))
      .filter(p => new java.io.File(p).exists())
      .map(p => spark.read.json(p))
      .reduce(_ unionByName _)
      .select(col("doc_id"), col("lang"), col("text")).localCheckpoint()
    val fresh = java.nio.file.Files.createTempDirectory("nb-f").toString + "/nb"
    Classify.writeNbModel(shipped, fresh)
    def sameModel(a: String, b: String): Unit =
      for (part <- Seq("model", "classes")) {
        val x = spark.read.parquet(s"$a/$part")
        val y = spark.read.parquet(s"$b/$part")
        assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
          s"$part differs between $a and $b")
      }
    sameModel(s"$state/nb_model", fresh)
    // forgetting shipped docs subtracts their counts exactly
    val victims = shipped.select("doc_id").as[Long].collect().sorted.take(2)
    val survivors = shipped.filter(!col("doc_id").isin(victims: _*))
      .localCheckpoint()
    Pipeline.forgetDocs(spark, state, victims.toSeq.toDF("doc_id"))
    val fresh2 = java.nio.file.Files.createTempDirectory("nb-f2").toString + "/nb"
    Classify.writeNbModel(survivors, fresh2)
    sameModel(s"$state/nb_model", fresh2)
    // a repeat forget of the same ids is a no-op on the counts (the
    // shard rows are gone — nothing left to attribute)
    Pipeline.forgetDocs(spark, state, victims.toSeq.toDF("doc_id"))
    sameModel(s"$state/nb_model", fresh2)
  }

  test("quality gate: day 1 distills the ruler, later days publish keep rates, forget subtracts") {
    import spark.implicits._
    import graft.functions.Classify
    val state = java.nio.file.Files.createTempDirectory("graft-qual").toString
    Pipeline.initDailyState(spark, state)
    val r1 = Pipeline.curateAndPackDayStep(spark, daySlice(0, 60), state,
      "d1", exciseChunks = false, qualityGate = true)
    // day 1 has no prior model: no cls_qual rows, but the ruler is distilled
    assert(spark.read.parquet(s"$state/days/d1/dq_report")
      .filter(col("metric").startsWith("cls_qual")).count() == 0)
    assert(new java.io.File(s"$state/quality_model/model").exists())
    assert(new java.io.File(s"$state/quality_model/labels").exists())
    val r2 = Pipeline.curateAndPackDayStep(spark, daySlice(60, 120), state,
      "d2", exciseChunks = false, qualityGate = true)
    // day 2 scores against the day-1 ruler and publishes the keep rate
    val q = spark.read.parquet(s"$state/days/d2/dq_report")
      .filter(col("metric").startsWith("cls_qual"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q.keySet == Set("cls_qual_total", "cls_qual_keep"))
    assert(q("cls_qual_total") > 0 && q("cls_qual_keep") <= q("cls_qual_total"))
    // informational rows: the publish gate stays green
    assert(r1.dqViolations == 0 && r2.dqViolations == 0)
    // train-once: the stored model == a fresh distillation of the
    // DAY-1 shipped rows alone (day 2 only scored)
    val d1rows = Seq("train", "val", "test")
      .map(sp => s"$state/days/d1/$sp/shards")
      .filter(p => new java.io.File(p).exists())
      .map(p => spark.read.json(p))
      .reduce(_ unionByName _)
      .select(col("doc_id"), col("lang"), col("text")).localCheckpoint()
    val fresh = java.nio.file.Files.createTempDirectory("qual-f")
      .toString + "/quality"
    Classify.writeQualityModel(d1rows, fresh)
    def sameModel(a: String, b: String): Unit =
      for (part <- Seq("model", "classes", "labels")) {
        val x = spark.read.parquet(s"$a/$part")
        val y = spark.read.parquet(s"$b/$part")
        assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
          s"$part differs between $a and $b")
      }
    sameModel(s"$state/quality_model", fresh)
    // forgetting labeled day-1 docs subtracts under the stored labels
    val victims = spark.read.parquet(s"$state/quality_model/labels")
      .select("doc_id").as[Long].collect().sorted.take(2)
    Pipeline.forgetDocs(spark, state, victims.toSeq.toDF("doc_id"))
    Classify.forgetFromQualityModel(
      d1rows.filter(col("doc_id").isin(victims: _*)), fresh)
    sameModel(s"$state/quality_model", fresh)
    // repeat forget: nothing left to attribute — a no-op
    Pipeline.forgetDocs(spark, state, victims.toSeq.toDF("doc_id"))
    sameModel(s"$state/quality_model", fresh)
  }

  test("forgetDocs erases a doc from every artifact and the corpus forgets its content") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-forget").toString
    Pipeline.initDailyState(spark, state)
    val b1 = daySlice(0, 60)
    val b2 = daySlice(60, 120)
    Pipeline.curateAndPackDayStep(spark, b1, state, "d1")
    Pipeline.curateAndPackDayStep(spark, b2, state, "d2")
    val shipped = Pipeline.readCuratedDocs(spark, state)
      .select("doc_id", "split").as[(Long, String)].collect()
    // pick a shipped TRAIN doc with no natural near-dup partner (so
    // the forgotten-content novelty check is unambiguous) and any
    // shipped eval doc
    val paired = operators.Dedup
      .minhashCandidates(b1.unionByName(b2)).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val target = shipped.collect {
      case (id, "train") if !paired.contains(id) => id }.min
    val evalTarget = shipped.collect { case (id, s) if s != "train" => id }.min
    val victims = Seq(target, evalTarget)
    Pipeline.forgetDocs(spark, state, victims.toDF("doc_id"))
    // consumer view excludes them; shard storage holds no trace
    val view = Pipeline.readCuratedDocs(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(victims.forall(!view.contains(_)))
    val physical = Seq("d1", "d2").flatMap { day =>
      Seq("train", "val", "test").flatMap { sp =>
        val p = s"$state/days/$day/$sp/shards"
        if (new java.io.File(p.replace("file:", "")).exists)
          spark.read.json(p).select("doc_id").as[Long].collect() else Nil
      }
    }.toSet
    assert(victims.forall(!physical.contains(_)), "shards still hold victims")
    // retractions satisfied (vacuum cleared the list)
    assert(spark.read.parquet(s"$state/retractions").count() == 0)
    // every doc-keyed artifact is clean
    assert(spark.read.parquet(s"$state/band_index")
      .filter(col("doc_id").isin(victims: _*)).count() == 0)
    assert(spark.read.parquet(s"$state/chunk_index")
      .filter(col("keeper_id").isin(victims: _*)).count() == 0)
    assert(spark.read.parquet(s"$state/eval_shingles")
      .filter(col("eval_id").isin(victims: _*)).count() == 0)
    assert(spark.read.parquet(s"$state/train_shingles")
      .filter(col("train_id").isin(victims: _*)).count() == 0)
    val ccClean = operators.Dedup.readClusterIndex(spark, s"$state/cluster_map")
    assert(ccClean.filter(col("node").isin(victims: _*) ||
      col("cluster_id").isin(victims: _*)).count() == 0,
      "cluster map still references a forgotten id")
    // the deliberate consequence of erasure: an exact COPY of the
    // forgotten train doc's content no longer matches the band index
    // — the corpus has no memory of it
    val copyBands = operators.Dedup.minhashBands(
      b1.filter(col("doc_id") === target)
        .withColumn("doc_id", col("doc_id") + 70000L))
    assert(copyBands.join(spark.read.parquet(s"$state/band_index"),
      Seq("band", "sig")).count() == 0,
      "band index still recognizes forgotten content")
    // and the loop keeps running against the erased state
    val r3 = Pipeline.curateAndPackDayStep(spark, daySlice(120, 150),
      state, "d3")
    assert(r3.input == 30 && r3.dqViolations == 0)
  }

  test("day step with a unigram artifact budgets shards by real token counts") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-days-tok").toString
    Pipeline.initDailyState(spark, state)
    val docs = daySlice(0, 60)
    val pieces = graft.functions.Unigram.trainUnigram(
      graft.functions.Bpe.wordVocab(docs))
    val r = Pipeline.curateAndPackDayStep(spark, docs, state, "d1",
      unigramPieces = Some(pieces))
    assert(r.shardTokens > 0)
    // the manifest totals equal the tokenizer's own count over the
    // shipped docs (per split; whitespace counts would differ)
    val shippedIds = Pipeline.readCuratedDocs(spark, state)
      .select("doc_id").distinct().as[Long].collect().toSet
    val expected = graft.functions.Unigram.docTokenCounts(
        Pipeline.readCuratedDocs(spark, state)
          .select("doc_id", "lang", "text").distinct(), pieces)
      .agg(sum("n_tokens")).collect().head.getLong(0)
    assert(r.shardTokens == expected,
      s"shard tokens ${r.shardTokens} != tokenizer count $expected " +
        s"over ${shippedIds.size} docs")
  }

  test("daily loop with chunk excision equals one-shot keep-first excision") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-days-x").toString
    Pipeline.initDailyState(spark, state)
    val b1 = daySlice(0, 60)
    // day-2 copies of day-1 docs: their text must arrive all-excised
    // and the docs then drop at dedup — same as one-shot
    val b2 = daySlice(60, 120).unionByName(
      daySlice(4, 6).withColumn("doc_id", col("doc_id") + 20000L))
    Pipeline.curateAndPackDayStep(spark, b1, state, "d1")
    Pipeline.curateAndPackDayStep(spark, b2, state, "d2")
    val union = b1.unionByName(b2)
    val out = java.nio.file.Files.createTempDirectory("graft-oneshot-x").toString
    Pipeline.curateAndPack(spark, union, out, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None,
      exciseChunks = true)
    val oneShotIds = spark.read.parquet(s"$out/segments")
      .select("doc_id").distinct().as[Long].collect().toSet
    val loopIds = Pipeline.readCuratedDocs(spark, state)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(loopIds == oneShotIds,
      s"loop-only: ${loopIds -- oneShotIds}; oneshot-only: ${oneShotIds -- loopIds}")
    // and the SHIPPED TEXT matches the one-shot excised text per doc
    val oneShotText = spark.read.parquet(s"$out/segments")
    val loopText = Pipeline.readCuratedDocs(spark, state)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    // (segments re-pack text into windows; compare through the day
    // shards' stored text against a recomputed one-shot excision)
    val recomputed = {
      val docsNorm = union.drop("text").join(
        graft.functions.TextFunctions.normalizeText(union)
          .select(col("doc_id"), col("norm_text").as("text")), "doc_id")
      operators.Dedup.dedupChunksExcise(docsNorm)
        .select(col("doc_id"), col("excised_text")).as[(Long, String)]
        .collect().toMap
    }
    loopIds.foreach { id =>
      assert(loopText(id) == recomputed(id),
        s"shipped text for $id differs from one-shot excision")
    }
  }

  test("daily loop with line dedup equals one-shot keep-first line excision") {
    import spark.implicits._
    // the synthetic corpus is single-line — give the docs real line
    // structure plus repeated boilerplate (a shared footer on docs
    // ≡0 mod 5, a shared banner on ≡0 mod 7) so the stage has
    // cross-day lines to strip
    def withLines(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      concat(
        when(col("doc_id") % 7 === 0,
          lit("ACCEPT OUR COOKIE POLICY banner\n")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 5 === 0,
          lit("\nSUBSCRIBE TO OUR NEWSLETTER footer")).otherwise(lit(""))))
    val state = java.nio.file.Files.createTempDirectory("graft-days-ln").toString
    Pipeline.initDailyState(spark, state)
    val b1 = withLines(daySlice(0, 60))
    // day 2 re-carries two day-1 docs verbatim (their every line is
    // corpus-known → all-excised, then dropped at dedup)
    val b2 = withLines(daySlice(60, 120)).unionByName(
      withLines(daySlice(5, 7)).withColumn("doc_id", col("doc_id") + 20000L))
    Pipeline.curateAndPackDayStep(spark, b1, state, "d1",
      dedupLines = true, exciseChunks = true)
    Pipeline.curateAndPackDayStep(spark, b2, state, "d2",
      dedupLines = true, exciseChunks = true)
    val union = b1.unionByName(b2)
    val out = java.nio.file.Files.createTempDirectory("graft-oneshot-ln").toString
    Pipeline.curateAndPack(spark, union, out, 512, 0.2, 3, 2,
      embeddings = None, embTau = 0.9, pplCeiling = None,
      exciseChunks = true, dedupLines = true)
    val oneShotIds = spark.read.parquet(s"$out/segments")
      .select("doc_id").distinct().as[Long].collect().toSet
    val loopIds = Pipeline.readCuratedDocs(spark, state)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(loopIds == oneShotIds,
      s"loop-only: ${loopIds -- oneShotIds}; oneshot-only: ${oneShotIds -- loopIds}")
    // shipped text matches the one-shot line-then-chunk excision
    val loopText = Pipeline.readCuratedDocs(spark, state)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    val recomputed = {
      val docsNorm = union.drop("text").join(
        graft.functions.TextFunctions.normalizeText(union)
          .select(col("doc_id"), col("norm_text").as("text")), "doc_id")
      val lined = docsNorm.drop("text").join(
        operators.Dedup.dedupLinesExcise(docsNorm)
          .select(col("doc_id"), col("out_text").as("text")), "doc_id")
      operators.Dedup.dedupChunksExcise(lined)
        .select(col("doc_id"), col("excised_text")).as[(Long, String)]
        .collect().toMap
    }
    loopIds.foreach { id =>
      assert(loopText(id) == recomputed(id),
        s"shipped text for $id differs from one-shot line+chunk excision")
    }
    // the boilerplate really was stripped: exactly one shipped doc
    // carries each planted line
    val footerCarriers = loopText.values.count(_.contains("NEWSLETTER"))
    assert(footerCarriers <= 1, s"footer survived $footerCarriers times")
    // state maintenance compacts the line index and reports it: the
    // initial file plus one append per day fold to one row per hash
    val lineHashes = spark.read.parquet(s"$state/line_index")
      .select("line_hash").distinct().count()
    val rep = Pipeline.compactDailyState(spark, state)
    assert(rep.lineIndex.exists(r => r.filesIn >= 3 && r.rows == lineHashes),
      s"line index compaction report: ${rep.lineIndex}")
    // and the forget pass scrubs the new artifact too
    val victim = loopIds.min
    Pipeline.forgetDocs(spark, state, Seq(victim).toDF("doc_id"))
    assert(spark.read.parquet(s"$state/line_index")
      .filter(col("keeper_id") === victim).count() == 0,
      "line index still references a forgotten id")
  }

  test("day DQ report publishes the tokenizer fertility/coverage block over shipped text") {
    import spark.implicits._
    import graft.functions.{Bpe, TokenizerStats}
    val state = java.nio.file.Files.createTempDirectory("graft-days-dq").toString
    Pipeline.initDailyState(spark, state)
    val docs = daySlice(0, 60)
    val merges = Bpe.trainMerges(Bpe.wordVocab(docs), 30)
    val r = Pipeline.curateAndPackDayStep(spark, docs, state, "d1",
      bpeMerges = Some(merges))
    assert(r.dqViolations == 0, "tok_* rows must not count as violations")
    val dq = spark.read.parquet(s"$state/days/d1/dq_report")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // the block is present and equals the day-gate forms computed
    // over the SHIPPED day text with the SAME artifact
    val shipped = Pipeline.readCuratedDocs(spark, state)
      .select(col("doc_id"), col("text"))
    val f = TokenizerStats.fertilityOn(shipped, "bpe",
      w => Bpe.encode(w, merges).length).collect().head
    val c = TokenizerStats.coverageOn(shipped, "bpe",
      w => Some(Bpe.encode(w, merges).length)).collect().head
    assert(dq("tok_n_words") == f.getAs[Long]("n_words"))
    assert(dq("tok_n_chars") == f.getAs[Long]("n_chars"))
    assert(dq("tok_n_tokens") == f.getAs[Long]("n_tokens"))
    assert(dq("tok_tokens_per_word_e6") ==
      math.floor(f.getAs[Double]("tokens_per_word") * 1e6 + 0.5).toLong)
    assert(dq("tok_chars_per_token_e6") ==
      math.floor(f.getAs[Double]("chars_per_token") * 1e6 + 0.5).toLong)
    assert(dq("tok_covered") == c.getAs[Long]("n_covered"))
    assert(dq("tok_oov") == c.getAs[Long]("n_oov"))
    assert(dq("tok_whole") == c.getAs[Long]("n_whole"))
    assert(dq("tok_max_pieces") == c.getAs[Int]("max_pieces").toLong)
    // BPE coverage over its own training text: nothing is OOV
    assert(dq("tok_oov") == 0 && dq("tok_covered") > 0)
    // without an artifact the report carries no tok_ rows
    val state2 = java.nio.file.Files.createTempDirectory("graft-days-dq2").toString
    Pipeline.initDailyState(spark, state2)
    Pipeline.curateAndPackDayStep(spark, docs, state2, "d1")
    assert(spark.read.parquet(s"$state2/days/d1/dq_report")
      .filter(col("metric").startsWith("tok_")).count() == 0)
  }

  test("graph gate: day steps drop exactly the one-shot antihub signal; forget scrubs the graph") {
    import spark.implicits._
    import graft.operators.Similarity
    val b1 = daySlice(0, 60)
    val b2 = daySlice(60, 120)
    val emb = Tables.embeddings(spark, sf)
    val e1 = emb.filter(col("vec_id") < 60)
    val e2 = emb.filter(col("vec_id") >= 60 && col("vec_id") < 120)
    // reference run: gate ON but dropping nothing (minInDegree = 0) —
    // maintains the graph identically, ships the ungated corpus
    val stateU = java.nio.file.Files.createTempDirectory("graft-gg-u").toString
    Pipeline.initDailyState(spark, stateU)
    Pipeline.curateAndPackDayStep(spark, b1, stateU, "d1",
      graphGate = Some(Pipeline.GraphGate(e1, minInDegree = 0)))
    Pipeline.curateAndPackDayStep(spark, b2, stateU, "d2",
      graphGate = Some(Pipeline.GraphGate(e2, minInDegree = 0)))
    // the maintained graph the gate reads IS the one-shot graph of
    // all arrivals (the append invariant, re-proved through the
    // pipeline path)
    val cents = spark.read.parquet(s"$stateU/knn_graph_cents")
      .orderBy("cid").select("c").as[Seq[Double]].collect().map(_.toArray)
    val oneShot = Similarity.knnGraphOn(e1.unionByName(e2), cents)
    def edgeRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    assert(edgeRows(Similarity.readKnnGraph(spark, s"$stateU/knn_graph")) ==
      edgeRows(oneShot))
    val inDeg = oneShot.groupBy(col("neighbor_id")).count()
      .as[(Long, Long)].collect().toMap
    def shippedD2(state: String) = spark.read
      .json(s"$state/days/d2/train/shards")
      .unionByName(spark.read.json(s"$state/days/d2/val/shards"),
        allowMissingColumns = true)
      .unionByName(spark.read.json(s"$state/days/d2/test/shards"),
        allowMissingColumns = true)
      .select("doc_id").as[Long].collect().toSet
    val shippedU = shippedD2(stateU)
    // pick the gate threshold FROM the data so the day-2 drop set is
    // guaranteed nonempty: one above the weakest shipped doc's
    // in-degree
    val m = shippedU.map(id => inDeg.getOrElse(id, 0L)).min + 1
    val stateG = java.nio.file.Files.createTempDirectory("graft-gg-g").toString
    Pipeline.initDailyState(spark, stateG)
    Pipeline.curateAndPackDayStep(spark, b1, stateG, "d1",
      graphGate = Some(Pipeline.GraphGate(e1, minInDegree = 0)))
    val r2 = Pipeline.curateAndPackDayStep(spark, b2, stateG, "d2",
      graphGate = Some(Pipeline.GraphGate(e2, minInDegree = m)))
    val shippedG = shippedD2(stateG)
    val dropped = shippedU -- shippedG
    val expected = shippedU.filter(id => inDeg.getOrElse(id, 0L) < m)
    assert(dropped == expected && dropped.nonEmpty,
      s"gate dropped $dropped, one-shot signal says $expected")
    assert(r2.graphOutliers == expected.size.toLong)
    // erasure covers the pipeline's graph artifact
    val victim = shippedG.min
    Pipeline.forgetDocs(spark, stateG, Seq(victim).toDF("doc_id"))
    Seq("edges", "nodes", "probes").foreach { part =>
      val df = spark.read.parquet(s"$stateG/knn_graph/$part")
      val idCols = df.columns.filter(c => c == "vec_id" || c == "neighbor_id")
      idCols.foreach { c =>
        assert(df.filter(col(c) === victim).count() == 0,
          s"knn_graph/$part.$c still references the forgotten doc")
      }
    }
  }

  test("full-stack day: lines + chunks + graph gate + LM gate + tokenizer DQ compose in one step") {
    import spark.implicits._
    import graft.functions.{Bpe, TextFunctions}
    import graft.operators.Similarity
    val state = java.nio.file.Files.createTempDirectory("graft-full").toString
    Pipeline.initDailyState(spark, state)
    def withLines(df: org.apache.spark.sql.DataFrame) = df.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit("\nSUBSCRIBE TO OUR NEWSLETTER footer")).otherwise(lit(""))))
    val b1 = withLines(daySlice(0, 60))
    val b2 = withLines(daySlice(60, 120))
    val emb = Tables.embeddings(spark, sf)
    val e1 = emb.filter(col("vec_id") < 60)
    val e2 = emb.filter(col("vec_id") >= 60 && col("vec_id") < 120)
    // LM artifact (the provided-artifact discipline) + BPE artifact
    val docBg = TextFunctions.docBigrams(b1.unionByName(b2))
    val (model, ctx) = TextFunctions.ngramLmModel(docBg)
    val merges = Bpe.trainMerges(Bpe.wordVocab(b1), 30)
    def day(b: org.apache.spark.sql.DataFrame,
            e: org.apache.spark.sql.DataFrame, name: String) =
      Pipeline.curateAndPackDayStep(spark, b, state, name,
        dedupLines = true, exciseChunks = true,
        graphGate = Some(Pipeline.GraphGate(e, minInDegree = 1)),
        pplCeiling = Some(1000.0), lmArtifact = Some((model, ctx)),
        bpeMerges = Some(merges))
    val r1 = day(b1, e1, "d1")
    val r2 = day(b2, e2, "d2")
    // stage accounting is monotone through every gate, DQ clean
    Seq(r1, r2).foreach { r =>
      assert(r.input == 60 && r.afterDedup <= r.input)
      assert(r.afterQuality <= r.afterDedup - r.contaminated + r.graphOutliers
        || r.afterQuality <= r.afterDedup) // gates only remove
      assert(r.dqViolations == 0)
    }
    val shipped = Pipeline.readCuratedDocs(spark, state)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    assert(shipped.nonEmpty)
    // the planted boilerplate line survives at most once corpus-wide
    assert(shipped.count(_._2.contains("NEWSLETTER")) <= 1)
    // every shipped doc passes the graph gate's one-shot signal: its
    // in-degree in the final maintained graph is >= 1 (or it has no
    // vector at all)
    val inDeg = spark.read.parquet(s"$state/knn_graph/edges")
      .groupBy(col("neighbor_id")).count()
      .as[(Long, Long)].collect().toMap
    val hasVec = spark.read.parquet(s"$state/knn_graph/nodes")
      .select("vec_id").as[Long].collect().toSet
    // day-1 decisions predate day-2 arrivals, so assert only the
    // docs gated on the FINAL graph state (day-2 ids)
    shipped.map(_._1).filter(id => id >= 60 && hasVec(id)).foreach { id =>
      assert(inDeg.getOrElse(id, 0L) >= 1,
        s"shipped day-2 doc $id is an antihub in the final graph")
    }
    // the DQ report carries the tokenizer block for both days
    Seq("d1", "d2").foreach { dy =>
      val dq = spark.read.parquet(s"$state/days/$dy/dq_report")
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(dq.contains("tok_n_tokens") && dq("tok_n_tokens") > 0)
    }
    // and erasure still covers every artifact of the composed state
    val victim = shipped.map(_._1).min
    Pipeline.forgetDocs(spark, state, Seq(victim).toDF("doc_id"))
    assert(spark.read.parquet(s"$state/line_index")
      .filter(col("keeper_id") === victim).count() == 0)
    assert(spark.read.parquet(s"$state/knn_graph/edges")
      .filter(col("vec_id") === victim ||
        col("neighbor_id") === victim).count() == 0)
  }

  test("written segments are split-pruned and fill windows to cap") {
    val segs = spark.read.parquet(s"$outDir/segments")
    // partition pruning: the split predicate must appear INSIDE the
    // scan's PartitionFilters bracket (every file scan prints a
    // — possibly empty — PartitionFilters list, so bare contains()
    // checks would pass vacuously)
    val plan = segs.filter(col("split") === "train")
      .queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*split[^\\]]*\\]".r
      .findFirstIn(plan)
    assert(pruned.isDefined, s"split not in PartitionFilters:\n${plan.take(800)}")
    // splits are disjoint on doc ids
    val bySplit = segs.select("split", "doc_id").distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    for (a <- bySplit.keys; b <- bySplit.keys if a < b)
      assert((bySplit(a) & bySplit(b)).isEmpty, s"$a and $b share docs")
    // within each (split, lang), windows fill to cap except the tail
    segs.collect().groupBy(r => (r.getAs[String]("split"), r.getAs[String]("lang")))
      .foreach { case ((sp, lang), rows) =>
        val byBin = rows.groupBy(_.getAs[Long]("bin_id"))
          .view.mapValues(_.map(_.getAs[Int]("seg_len")).sum).toMap
        val last = byBin.keys.max
        byBin.foreach { case (bin, tot) =>
          if (bin != last) assert(tot == 512, s"$sp/$lang bin $bin holds $tot")
        }
      }
  }
}
