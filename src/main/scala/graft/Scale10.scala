package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
object Scale10 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    // `Scale10 [N] [filter]` — a non-numeric first arg is the filter
    // (so `Scale10 emblsh` works), N defaults to 10
    val mult = args.headOption
      .flatMap(a => scala.util.Try(a.toInt).toOption).getOrElse(10)
    val only = args.lift(1)
      .orElse(args.headOption.filter(a => scala.util.Try(a.toInt).isFailure))
    def t(name: String)(f: => Long): Unit =
      if (only.forall(_.split(",").exists(name.contains))) {
        val t0 = System.nanoTime(); val n = f
        println(f"SCALE $name rows=$n time=${(System.nanoTime()-t0)/1e9}%.2fs")
      }
    // synthesize mult x corpora with disjoint id spaces
    def rep(df: DataFrame, idCols: Seq[String], step: Long): DataFrame =
      (0 until mult).map { i =>
        idCols.foldLeft(df)((x, c) => x.withColumn(c, col(c) + lit(i * step)))
      }.reduce(_ unionByName _).repartition(64)
    val docs = rep(Tables.documents(spark, d), Seq("doc_id"), 1000000L)
    val emb  = rep(Tables.embeddings(spark, d), Seq("vec_id"), 1000000L)
    val li   = rep(Tables.lineitem(spark, d), Seq("l_orderkey"), 100000000L)
    t(s"docs_${mult}x")(docs.count())
    t(s"jaccard_${mult}x")(operators.Dedup.ngramJaccard(docs).count())
    t(s"minhash_${mult}x")(operators.Dedup.minhashCandidates(docs).count())
    t(s"simhash_${mult}x")(operators.Dedup.simhashNearDups(docs).count())
    t(s"spans_${mult}x")(operators.Dedup.dedupSpans(docs).count())
    // excision adds the hit semi-join, the per-doc island window and
    // the typed surgery on top of the spans scan — output is one row
    // per doc, so cost must track the scan + the hit volume
    t(s"spans_excise_${mult}x")(operators.Dedup.dedupSpansExcise(docs).count())
    t(s"spans_maximal_${mult}x")(operators.Dedup.dedupSpansMaximal(docs).count())
    // content-defined chunking: the same ~len(text)-hashes-per-doc
    // scan shape as spans (one typed pass + one partial-agg shuffle +
    // the join back); output tracks duplicate chunks (plants-driven)
    t(s"dedup_chunks_${mult}x")(operators.Dedup.dedupChunks(docs).count())
    t(s"dedup_chunks_excise_${mult}x")(
      operators.Dedup.dedupChunksExcise(docs).count())
    // RAG chunking: one typed pass, output ~ docs x chunks-per-doc —
    // must scale linearly with the corpus
    t(s"chunk_overlap_${mult}x")(operators.Curate.chunkOverlapOn(docs).count())
    // incremental (batch-vs-corpus) dedup: the corpus grows mult×,
    // the arriving batch stays the 5k base docs — cost must track
    // one corpus banding scan + the batch join, never a corpus
    // self-join (output = 5k × mult replica hits, linear)
    t(s"dedup_incremental_${mult}x") {
      val batch = Tables.documents(spark, d)
        .withColumn("doc_id", col("doc_id") + 900000000L)
      operators.Dedup.dedupIncremental(docs, batch).count()
    }
    // the maintained-artifact loop: the corpus (mult×) is banded and
    // persisted ONCE; each subsequent day bands only its 5k-doc batch
    // and joins the stored index — per-day cost must track the batch
    // + the index scan, and stay flat as days accumulate
    locally {
      val idxDir = s"/tmp/scale_bandindex_$mult/idx"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      t(s"band_index_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
        operators.Dedup.writeBandIndex(docs, idxDir)
        spark.read.parquet(idxDir).count()
      }
      for (day <- 1 to 2)
        t(s"band_index_day${day}_${mult}x") {
          val batch = Tables.documents(spark, d)
            .withColumn("doc_id", col("doc_id") + lit(900000000L * day))
          operators.Dedup.dedupIncrementalStep(spark, idxDir, batch).count()
        }
    }
    // the span-granularity analog: the mult× corpus's distinct window
    // hashes are persisted ONCE; each day windows only its 5k-doc
    // batch and joins the stored (hash, keeper) index
    locally {
      val idxDir = s"/tmp/scale_spanindex_$mult/idx"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      t(s"span_index_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
        operators.Dedup.writeSpanIndex(docs, idxDir)
        spark.read.parquet(idxDir).count()
      }
      for (day <- 1 to 2)
        t(s"span_index_day${day}_${mult}x") {
          val batch = Tables.documents(spark, d)
            .withColumn("doc_id", col("doc_id") + lit(900000000L * day))
          operators.Dedup.dedupSpansIncrementalStep(spark, idxDir, batch).count()
        }
    }
    // hamming-space serving: the fixed 50-doc query set probes the
    // mult× corpus through the banded equi-join — cost must track the
    // corpus banding scan (one signature pass + the key index), never
    // a query×corpus product; replicas are exact twins, so output
    // stays top-k-capped per query
    t(s"hamming_topk_${mult}x")(operators.Dedup.hammingTopK(docs).count())
    // stored-index top-k SERVING (r15): the corpus artifact is
    // written once at mult×; each serve hashes only the fixed 50-doc
    // query batch and equi-joins the index — per-serve cost must
    // track the index scan (cheap columnar read, linear in mult) and
    // output stays batch-bound (the dedupIncremental shape with a
    // rank cut)
    locally {
      val root = s"/tmp/scale_topkserve_$mult"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val queries = Tables.documents(spark, d)
        .filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 950000000L)
      t(s"simhash_index_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/simhash"), true)
        operators.Dedup.writeSimhashIndex(docs, s"$root/simhash")
        spark.read.parquet(s"$root/simhash").count()
      }
      t(s"hamming_topk_serve_${mult}x")(
        operators.Dedup.hammingTopKServeBatch(spark, s"$root/simhash",
          queries).count())
      t(s"jaccard_band_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/bands"), true)
        operators.Dedup.writeBandIndex(docs, s"$root/bands")
        spark.read.parquet(s"$root/bands").count()
      }
      // the rerank shingles corpus TEXT only for candidate ids — at
      // mult× every replica of a hit is a candidate, so output (and
      // the pruned shingle pass) grows with the replica count, not
      // the corpus
      t(s"jaccard_topk_serve_${mult}x")(
        operators.Dedup.jaccardTopKServeBatch(spark, s"$root/bands",
          docs, queries).count())
      t(s"phash_index_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/phash"), true)
        sources.Multimodal.writePhashIndex(docs, s"$root/phash")
        spark.read.parquet(s"$root/phash").count()
      }
      t(s"phash_topk_serve_${mult}x")(
        sources.Multimodal.phashTopKServeBatch(spark, s"$root/phash",
          queries).count())
    }
    // the trained NB gate loop: training is one explode + a
    // (label, token) partial agg (linear in the corpus); serving a
    // fixed 5k-doc day joins its token counts to the VOCAB-sized
    // model — corpus-size-independent once trained; append/forget are
    // model-sized rewrites (count algebra), not corpus rescans
    locally {
      val nbDir = s"/tmp/scale_nb_$mult/nb"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      t(s"nb_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          new java.io.File(nbDir).getParent), true)
        functions.Classify.writeNbModel(docs, nbDir)
        spark.read.parquet(s"$nbDir/model").count()
      }
      t(s"nb_serve_${mult}x") {
        functions.Classify.classifyNbServeBatch(spark, nbDir,
          Tables.documents(spark, d)).count()
      }
      t(s"nb_append_${mult}x") {
        val batch = Tables.documents(spark, d)
          .withColumn("doc_id", col("doc_id") + 900000000L)
        functions.Classify.appendToNbModel(batch, nbDir)
        spark.read.parquet(s"$nbDir/model").count()
      }
      t(s"nb_forget_${mult}x") {
        val batch = Tables.documents(spark, d)
          .withColumn("doc_id", col("doc_id") + 900000000L)
        functions.Classify.forgetFromNbModel(batch, nbDir)
        spark.read.parquet(s"$nbDir/model").count()
      }
    }
    // the CF-model loop (r15 — the NB count-algebra shape on
    // interactions): training is the shared-user equi-join (Σ_u d_u²,
    // linear in users at fixed per-user degree); the model is
    // catalog²-bounded, so top-k/user-serve/append/forget are
    // model-sized — corpus-size-independent once trained
    locally {
      val cfDir = s"/tmp/scale_cf_$mult/cf"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val inter = operators.Recommend.interactions(
        rep(Tables.events(spark, d), Seq("user_id"), 1000000L))
      t(s"cf_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          new java.io.File(cfDir).getParent), true)
        operators.Recommend.writeCfModel(inter, cfDir)
        spark.read.parquet(s"$cfDir/pairs").count()
      }
      t(s"cf_topk_${mult}x")(
        operators.Recommend.recommendTopKFromModel(spark, cfDir).count())
      t(s"cf_user_serve_${mult}x") {
        val hist = operators.Recommend.interactions(Tables.events(spark, d))
          .filter(col("user_id") < 50)
        operators.Recommend.recommendForUsers(spark, cfDir, hist).count()
      }
      t(s"cf_append_${mult}x") {
        val day = operators.Recommend.interactions(Tables.events(spark, d))
          .withColumn("user_id", col("user_id") + 900000000L)
        operators.Recommend.appendToCfModel(day, cfDir)
        spark.read.parquet(s"$cfDir/pairs").count()
      }
      t(s"cf_forget_${mult}x") {
        val day = operators.Recommend.interactions(Tables.events(spark, d))
          .withColumn("user_id", col("user_id") + 900000000L)
        operators.Recommend.forgetFromCfModel(day, cfDir)
        spark.read.parquet(s"$cfDir/pairs").count()
      }
    }
    // the Markov-model loop (r16 — the CF count-algebra shape on
    // ordered transitions): training is two user-partitioned windows
    // + a catalog²-support aggregate; serve prunes to the request
    // batch's context items; append/forget are model-sized rewrites
    locally {
      val mkDir = s"/tmp/scale_markov_$mult/mk"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val ev = rep(Tables.events(spark, d), Seq("user_id", "event_id"),
        1000000000L)
      t(s"markov_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          new java.io.File(mkDir).getParent), true)
        operators.Recommend.writeMarkovModel(ev, mkDir)
        spark.read.parquet(s"$mkDir/trans").count()
      }
      t(s"markov_serve_${mult}x") {
        val reqs = spark.range(50)
          .select((col("id") + 800L).as("user_id"), (col("id") % 20).as("item"))
        operators.Recommend.markovNextServeBatch(spark, mkDir, reqs).count()
      }
      t(s"markov_append_${mult}x") {
        val day = Tables.events(spark, d)
          .withColumn("user_id", col("user_id") + 900000000L)
        operators.Recommend.appendToMarkovModel(day, mkDir)
        spark.read.parquet(s"$mkDir/trans").count()
      }
      t(s"markov_forget_${mult}x") {
        val day = Tables.events(spark, d)
          .withColumn("user_id", col("user_id") + 900000000L)
        operators.Recommend.forgetFromMarkovModel(day, mkDir)
        spark.read.parquet(s"$mkDir/trans").count()
      }
    }
    // the SECOND-order (backoff) model loop (r17): training adds one
    // more lead over the same windows and a catalog³-SUPPORT
    // aggregate; the backoff serve prunes trans2 by the batch's
    // context PAIRS and routes pair-novel requests through the
    // order-1 prune — both prunes batch-bounded, so serve cost must
    // stay flat as the training base grows
    locally {
      val mk2Dir = s"/tmp/scale_markov2_$mult/mk2"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val ev = rep(Tables.events(spark, d), Seq("user_id", "event_id"),
        1000000000L)
      t(s"markov2_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          new java.io.File(mk2Dir).getParent), true)
        operators.Recommend.writeMarkov2Model(ev, mk2Dir)
        spark.read.parquet(s"$mk2Dir/trans2").count()
      }
      t(s"markov2_serve_${mult}x") {
        // half the requests carry trained-support context pairs,
        // half a guaranteed-novel pair (exercises both routes)
        val reqs = spark.range(50).select(
          (col("id") + 800L).as("user_id"),
          when(col("id") % 2 === 0, col("id") % 20)
            .otherwise(lit(999999999L)).as("prev2_item"),
          (col("id") % 20).as("prev1_item"))
        operators.Recommend.markov2NextServeBatch(spark, mk2Dir, reqs).count()
      }
    }
    // the planted-POWER-USER probe (r16 — the verdict's named
    // scale-killer): one bot user touching a mult×500-item catalog
    // slice rides the natural interactions; uncapped pair generation
    // fans that ONE join key into C(mult·500, 2) rows — quadratic in
    // mult and un-splittable (no salt divides a genuine single-group
    // product) — while the capped path holds it at C(8,2) and must
    // stay flat
    locally {
      val powerItems = mult * 500
      val inter = operators.Recommend.interactions(Tables.events(spark, d))
        .unionByName(
          spark.range(powerItems).select(lit(999999999L).as("user_id"),
            (col("id") + 10000L).as("item")))
        .localCheckpoint()
      t(s"cf_poweruser_uncapped_${mult}x")(
        operators.Recommend.recommendTopK(inter).count())
      t(s"cf_poweruser_capped_${mult}x")(
        operators.Recommend.recommendTopK(
          operators.Recommend.capInteractions(inter, 8)).count())
    }
    // the planted SEQUENCE-BOT probe (r17 — the Markov counterpart
    // of the CF power user): one bot emitting mult×100k timestamped
    // events (30s apart, ~2880/day over ~mult×35 days) rides the
    // natural engagement stream. The raw transition window sorts
    // that user's ENTIRE history in one task — a linear n·log n
    // straggler no salt can divide — while the session-bounded
    // window partitions it by (user, calendar day), so its worst
    // partition is one bot-DAY and the day-bounded form must stay
    // near-flat as mult grows
    locally {
      val botN = mult * 100000L
      val baseUs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
        .getTime * 1000L
      val bot = spark.range(botN).select(
        lit(888888888L).as("user_id"),
        timestamp_micros(lit(baseUs) + col("id") * lit(30L * 1000000L))
          .as("ts"),
        (col("id") + 5000000000L).as("event_id"),
        (col("id") % 500L + 20000L).as("item"))
      val seqEv = operators.Recommend
        .engagementSeq(Tables.events(spark, d))
        .unionByName(bot).localCheckpoint()
      t(s"markov_bot_raw_${mult}x")(
        operators.Recommend.transitionsFromSeq(seqEv).count())
      t(s"markov_bot_sessions_${mult}x")(
        operators.Recommend.transitionsFromSeqBounded(seqEv).count())
    }
    // the serve-prune probe (r16): the CATALOG grows mult× (items
    // shifted per replica, so the pairs model grows ~mult×) while the
    // request batch stays 50 users — the semi-join item prune must
    // keep per-serve cost batch-bound, not model-bound
    locally {
      val cfDir = s"/tmp/scale_cfbig_$mult/cf"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val interBig = (0 until mult).map { i =>
        operators.Recommend.interactions(Tables.events(spark, d))
          .withColumn("user_id", col("user_id") + lit(i * 1000000L))
          .withColumn("item", col("item") + lit(i * 1000000L))
      }.reduce(_ unionByName _).repartition(64)
      t(s"cfbig_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          new java.io.File(cfDir).getParent), true)
        operators.Recommend.writeCfModel(interBig, cfDir)
        spark.read.parquet(s"$cfDir/pairs").count()
      }
      t(s"cfbig_user_serve_${mult}x") {
        val hist = operators.Recommend.interactions(Tables.events(spark, d))
          .filter(col("user_id") < 50)
        operators.Recommend.recommendForUsers(spark, cfDir, hist).count()
      }
    }
    // the BATCH forecast family at mult×1000 series × 60 days (r15
    // verdict #3): the recurrence is sequential per series but the
    // input is the calendar-bounded daily pre-aggregate, so
    // per-series cost must stay flat as the series count scales —
    // run with `Scale10 100 hw_batch` for the 100× point
    locally {
      val daily = spark.range(mult * 1000L * 60L)
        .select(concat(lit("s"), (col("id") / 60).cast("long")).as("event_type"),
          date_add(lit(java.sql.Date.valueOf("2024-01-01")),
            (col("id") % 60).cast("int")).as("day"),
          (lit(100L) + (col("id") % 60) * 2L + pmod(col("id"), lit(7)) * 5L).as("y"))
        .repartition(64)
      t(s"hw_batch_${mult}k_series")(
        operators.Timeseries.holtWintersOn(daily).count())
      t(s"hw_batch_damped_${mult}k_series")(
        operators.Timeseries.holtWintersOn(daily, damped = true).count())
      t(s"hw_batch_eval_${mult}k_series")(
        operators.Timeseries.forecastEvalOn(daily).count())
    }
    // the Rocchio centroid loop (the NB shape on the embedding
    // modality): training is one posexplode + (label, j) partial agg
    // — linear in the corpus with a C·dim output; serving a fixed
    // 2k-vector day is one broadcast typed map, corpus-size-
    // independent once trained; append/forget are model-sized exact
    // sum rewrites, never corpus rescans
    locally {
      val centDir = s"/tmp/scale_cent_$mult/cent"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      t(s"cent_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          new java.io.File(centDir).getParent), true)
        functions.Classify.writeCentroidModel(emb, centDir)
        spark.read.parquet(s"$centDir/sums").count()
      }
      t(s"cent_serve_${mult}x") {
        functions.Classify.classifyCentroidServeBatch(spark, centDir,
          Tables.embeddings(spark, d).filter(col("vec_id") < 2000)).count()
      }
      t(s"cent_append_${mult}x") {
        val batch = Tables.embeddings(spark, d)
          .withColumn("vec_id", col("vec_id") + 900000000L)
        functions.Classify.appendToCentroidModel(batch, centDir)
        spark.read.parquet(s"$centDir/sums").count()
      }
      t(s"cent_forget_${mult}x") {
        val batch = Tables.embeddings(spark, d)
          .withColumn("vec_id", col("vec_id") + 900000000L)
        functions.Classify.forgetFromCentroidModel(batch, centDir)
        spark.read.parquet(s"$centDir/sums").count()
      }
    }
    // kNN-classification serving off the stored LABELED layout: the
    // mult× corpus laid out ONCE under a mult-scaled quantizer
    // (constant bucket occupancy); each served batch probes nprobe
    // of 32·mult buckets, so per-batch candidate volume stays ~flat
    // as the corpus grows — the annIvfServeBatch scale story with
    // the vote on top
    locally {
      val dir = s"/tmp/scale_knncls_$mult/layout"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      lazy val codecC = operators.Similarity.LabeledCodec(
        operators.Similarity.ivfCentroids(spark, d, 32 * mult))
      t(s"knncls_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          new java.io.File(dir).getParent), true)
        operators.Similarity.writeLayout(codecC, emb, dir)
        spark.read.parquet(dir).count()
      }
      t(s"knncls_serve_${mult}x") {
        functions.Classify.classifyKnnServeBatch(spark, dir, codecC,
          Tables.embeddings(spark, d).filter(col("vec_id") < 2000)
            .select(col("vec_id").as("query_id"), col("embedding"))).count()
      }
    }
    // the distilled quality-model loop: write pays the LM + tertile
    // chain over the corpus ONCE (linear — the ccnet_buckets cost
    // plus the NB count agg); serving a fixed 5k-doc day joins the
    // vocab-sized model (corpus-size-independent); forget is a
    // model-sized rewrite attributed by the stored labels sidecar
    locally {
      val qDir = s"/tmp/scale_qual_$mult/quality"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      t(s"qual_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          new java.io.File(qDir).getParent), true)
        functions.Classify.writeQualityModel(docs, qDir)
        spark.read.parquet(s"$qDir/model").count()
      }
      t(s"qual_serve_${mult}x") {
        functions.Classify.qualityNbServeBatch(spark, qDir,
          Tables.documents(spark, d)).count()
      }
      t(s"qual_forget_${mult}x") {
        functions.Classify.forgetFromQualityModel(
          docs.filter(col("doc_id") % 1000000L < 100), qDir)
        spark.read.parquet(s"$qDir/model").count()
      }
    }
    // greedy k-center: one snap pass (checkpointed) + k=8
    // corpus-linear passes against a broadcast chosen array — must
    // track k scans, no join, no shuffle beyond TakeOrdered(1)
    t(s"kcenter_${mult}x")(operators.Similarity.selectKcenterOn(emb, 8).count())
    // composable two-level form: one distributed per-slice greedy
    // pass + a driver merge over ≤ parts·kLocal points — the driver
    // leaves the per-round loop entirely
    t(s"kcenter_comp_${mult}x")(
      operators.Similarity.selectKcenterComposable(emb).count())
    // Min-K% Prob membership audit: the held-out LM joins plus
    // per-doc windows — must track the ngram_lm_heldout linear shape
    t(s"minkprob_${mult}x")(functions.TextFunctions.minkProbOn(docs).count())
    // mask generation + window translation: one tokenize pass + a
    // per-doc flatMap (masks), + the doc-keyed segment join (packed)
    // — both must scale linearly with zero extra shuffles
    t(s"mask_spans_${mult}x")(functions.TextFunctions.maskSpansOn(docs).count())
    t(s"pack_masked_${mult}x")(
      operators.Curate.packMaskedOn(docs, 512, 100).count())
    // the datasheet: partial aggs only — languages-sized output
    t(s"corpus_card_${mult}x")(
      functions.TextFunctions.corpusCardOn(docs).count())
    // the embedding analog: the mult× corpus is coded and persisted
    // ONCE; each day codes only its 2k-vector batch and joins the
    // stored index — per-day cost must track the batch + the index
    // scan, flat as days accumulate (the semantic-dedup daily loop)
    locally {
      val idxDir = s"/tmp/scale_embindex_$mult/idx"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      t(s"emb_index_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
        operators.Dedup.writeEmbCodeIndex(emb, idxDir)
        spark.read.parquet(idxDir).count()
      }
      for (day <- 1 to 2)
        t(s"emb_index_day${day}_${mult}x") {
          val batch = Tables.embeddings(spark, d)
            .withColumn("vec_id", col("vec_id") + lit(900000000L * day))
          operators.Dedup.dedupEmbIncrementalStep(spark, idxDir, batch).count()
        }
    }
    // ~30 simulated days of index maintenance, then compaction: the
    // probe join's per-file open cost grows with append count, and
    // compactInPlace must restore it — the operational loop a
    // month-lived index actually runs. Batches are small (500 docs) so
    // the 30 appends measure file-count accretion, not data growth.
    locally {
      val idxDir = s"/tmp/scale_bandcompact_$mult/idx"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      def probeBatch(day: Int) = Tables.documents(spark, d)
        .filter(col("doc_id") < 500)
        .withColumn("doc_id", col("doc_id") + lit(900000000L * day))
      t(s"band_index_30days_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
        operators.Dedup.writeBandIndex(docs, idxDir)
        for (day <- 1 to 30)
          operators.Dedup.dedupIncrementalStep(spark, idxDir, probeBatch(day))
            .count()
        new java.io.File(idxDir).listFiles
          .count(_.getName.endsWith(".parquet")).toLong
      }
      t(s"band_index_probe_30files_${mult}x")(
        operators.Dedup.dedupIncrementalStep(spark, idxDir, probeBatch(31))
          .count())
      t(s"band_index_compact_${mult}x")(
        operators.Dedup.compactBandIndex(spark, idxDir).filesOut.toLong)
      t(s"band_index_probe_compacted_${mult}x")(
        operators.Dedup.dedupIncrementalStep(spark, idxDir, probeBatch(32))
          .count())
    }
    // IVF quantizer-drift loop at mult×: the one-pass monitor over the
    // stored layout, then retrain-and-migrate — both must track corpus
    // size (one scan each), never blow past it
    locally {
      import operators.Similarity
      val ivfDir = s"/tmp/scale_ivfdrift_$mult"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val codec = Similarity.FloatCodec(Similarity.ivfCentroids(spark, d))
      t(s"ivf_drift_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(ivfDir), true)
        Similarity.writeLayout(codec, emb, ivfDir)
        spark.read.parquet(ivfDir).count()
      }
      t(s"ivf_drift_stats_${mult}x") {
        val st = Similarity.ivfLayoutStats(spark, ivfDir, codec)
        println(f"SCALE ivf_drift_stats_${mult}x detail: n=${st.nVectors} " +
          f"skew=${st.occSkew}%.2f meanDist=${st.drift}%.4f")
        st.nVectors
      }
      t(s"ivf_drift_retrain_${mult}x") {
        Similarity.retrainLayout(spark, ivfDir, codec)
        spark.read.parquet(ivfDir).count()
      }
    }
    // bucket-occupancy probe: candidate pairs BEFORE the hamming
    // filter per banding geometry — wider keys trade index rows for
    // exponentially larger key space (fewer junk candidates)
    for (nc <- Seq(4, 5, 6))
      t(s"simhash_cand_${mult}x_chunks$nc")(
        operators.Dedup.simhashCandidates(docs, 3, nc).count())
    t(s"embcos_${mult}x")(operators.Dedup.embCosineDups(emb).count())
    // full LSH-blocked query at the default 16×4 geometry: coarse
    // buckets (the price of recall at a 2.5σ threshold on isotropic
    // data) — measurably candidate-heavy by 10×, so capped there in
    // the full sweep (run explicitly via the filter arg beyond that);
    // the occupancy probes below are the geometry comparison
    if (mult <= 10 || only.nonEmpty)
      t(s"emblsh_${mult}x")(operators.Dedup.embLshDups(emb).count())
    // occupancy probe: candidate pairs per LSH geometry — buckets are
    // 2^bits per table, so bits is the knob that keeps the bucket join
    // output-bound as the corpus grows (the label key has no knob)
    for ((tb, b) <- Seq((16, 4), (32, 8), (32, 16)))
      t(s"emblsh_cand_${mult}x_${tb}t${b}b")(
        operators.Dedup.embLshCandidates(emb, b, tb).count())
    // production-threshold shape: tight buckets at a real near-dup τ
    // (p_bit(0.9)=0.857 ⇒ 32×16 recall ≈0.94) — output-bound cost
    t(s"emblsh_strict_${mult}x")(
      operators.Dedup.embLshDups(emb, tau = 0.9, numBits = 16, numTables = 32).count())
    // bucket-occupancy probe for the coarse 16×4 geometry: 256 (tid,
    // code) join keys total — print the occupancy distribution to show
    // the parallelism ceiling is STRUCTURAL (near-uniform buckets of
    // ~n/16 each), then measure the salted join (G=8 ⇒ 16k keys,
    // each bucket's quadratic pairing spread over 64 shuffle keys)
    // against the unsalted before-shape
    t(s"emblsh_occ_${mult}x") {
      val bc = spark.sparkContext.broadcast(
        operators.Similarity.lshPlanes(16, 4))
      val occ = operators.Similarity.lshCodes(emb, bc)
        .groupBy(col("tid"), col("code")).count()
        .agg(count(lit(1)).as("keys"), min("count").as("min"),
          avg("count").as("mean"), max("count").as("max"),
          expr("percentile(count, 0.99)").as("p99"))
        .collect().head
      println(s"SCALE emblsh_occ_${mult}x keys=${occ.getAs[Long]("keys")} " +
        f"min=${occ.getAs[Long]("min")} mean=${occ.getAs[Double]("mean")}%.0f " +
        f"p99=${occ.getAs[Double]("p99")}%.0f max=${occ.getAs[Long]("max")}")
      occ.getAs[Long]("keys")
    }
    t(s"emblsh_nosalt_${mult}x")(
      operators.Dedup.embLshDups(emb, saltGroups = 1).count())
    t(s"emblsh_salt8_${mult}x")(
      operators.Dedup.embLshDups(emb, saltGroups = 8).count())
    // the dedup_emb_clusters capstone composition (pairs → CC →
    // keeper map) end-to-end — the most expensive bench query, probed
    // at mult× like the minhash capstone
    t(s"emb_clusters_${mult}x")(operators.Dedup.connectedComponentsSafe(
      operators.Dedup.embLshDups(emb)
        .select(col("v1").as("d1"), col("v2").as("d2"))).count())
    t(s"cc_clusters_${mult}x")(operators.Dedup.connectedComponents(
      operators.Dedup.minhashCandidates(docs)).count())
    t(s"cc_star_${mult}x")(operators.Dedup.connectedComponentsStar(
      operators.Dedup.minhashCandidates(docs)).count())
    t(s"pack_${mult}x")(operators.Curate.packSequences(docs, 512, 100).count())
    // stratified split / mixture sample: one lang-partitioned window
    // sort each — cost tracks the stratum sort, quotas stay exact
    t(s"split_stratified_${mult}x")(
      operators.Curate.splitStratified(docs).count())
    t(s"sample_mixture_${mult}x")(operators.Curate.sampleMixture(docs,
      operators.Curate.DefaultMixWeights, 25000L * mult).count())
    t(s"pack_segments_${mult}x")(operators.Curate.packSegments(docs, 512, 100).count())
    // the composed capstone — banding + CC + anti-join + quality agg
    // end-to-end, so the PIPELINE's scaling is measured, not just its
    // stages' (VERDICT r2 #6)
    t(s"curate_neardup_${mult}x")(operators.Curate.curateNearDupOn(docs).count())
    // the FULL pipeline composition (near-dedup → split → corpus-scale
    // decontamination shuffle → quality → pack → partitioned write),
    // measured end-to-end with its per-stage accounting (VERDICT r3 #7)
    t(s"pipeline_${mult}x") {
      val r = Pipeline.curateAndPack(spark, docs, s"/tmp/scale_pipeline_$mult",
        512, 0.2, 3, 2, embeddings = None, embTau = 0.9, pplCeiling = None)
      println(s"SCALE pipeline_${mult}x report=$r")
      r.segments
    }
    // duplication-statistics report: pairs + CC + two long-row aggs —
    // must track the minhash/CC probes above, output is tiny
    t(s"dedup_profile_${mult}x")(operators.Dedup.dedupProfile(docs).count())
    // mixture-execution trio: one token-count scan (plan), one
    // broadcast join + bounded explode (upsample), one lang-keyed
    // window + range sort (interleave) — all linear
    t(s"mixture_plan_${mult}x")(operators.Curate.mixturePlan(docs,
      operators.Curate.DefaultTargetPpm, 100000L).count())
    t(s"upsample_epochs_${mult}x")(operators.Curate.upsampleEpochs(docs,
      operators.Curate.DefaultTargetPpm, 100000L).count())
    t(s"shuffle_interleave_${mult}x")(
      operators.Curate.shuffleInterleave(docs).count())
    // calibration curve: stats scan + the LM score's own passes + one
    // binned agg — cost is the LM chain, output ≤ a few dozen bins
    t(s"quality_calibration_${mult}x") {
      import org.apache.spark.sql.types.DecimalType
      val stats = functions.TextFunctions.textStats(docs)
        .select(col("doc_id"), col("quality_score"))
      val lm = functions.TextFunctions.ngramLmScore(docs)
        .select(col("doc_id"), col("avg_neg_logp"))
      stats.join(lm, "doc_id")
        .withColumn("bin", floor(col("quality_score") * 10).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("avg_neg_logp").cast(DecimalType(13, 9)))
            .cast("double") / count(lit(1)), 6).as("mean_nll"))
        .count()
    }
    // graph-walk ANN (r13): edge build = the knn_graph pass (its
    // Scale10 row); the walk itself is O(beam·deg·depth) scores per
    // query over bounded broadcast frontiers — must track the edge
    // build, not the corpus
    // whitened-tier nprobe sweep at BENCH scale (sf0.1, 1× only):
    // recall@5 vs whitened brute force per nprobe — run as
    // `Scale10 1 white_sweep`
    if (mult == 1) t(s"white_sweep_${mult}x") {
      val wexact = operators.Similarity.annWhiteBruteforce(spark, d)
        .select(col("query_id"), col("neighbor_id")).cache()
      val n = wexact.count().toDouble
      Seq(12, 16, 20, 24).foreach { np =>
        val r = operators.Similarity.annIvfWhite(spark, d, nprobe = np)
          .select(col("query_id"), col("neighbor_id"))
          .join(wexact, Seq("query_id", "neighbor_id"), "left_semi")
          .count() / n
        println(f"SCALE white_sweep nprobe=$np recall=$r%.2f")
      }
      wexact.unpersist()
      n.toLong
    }
    t(s"graph_walk_${mult}x")(
      // nlist ∝ corpus (the knn_graph probe's constant-occupancy
      // rule — a FIXED nlist at mult× makes the edge build's
      // candidate volume quadratic); the walk rounds themselves are
      // O(beam·deg·depth) per query over the built edges
      operators.Similarity.annGraphWalkFrom(emb.localCheckpoint(),
        operators.Similarity.ivfCentroids(spark, d, 32 * mult)).count())
    // whitened drift loop (r14): layout written once at mult×, then
    // the monitor (one code scan — bucket counts + per-component
    // moment partials, no shuffle) and one retrain-and-migrate
    // (sample + full re-code + swap: must track the layout rewrite,
    // i.e. the write row above it)
    locally {
      val wdir = s"/tmp/scale_white_$mult/idx"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val wm = operators.Similarity.whitenModel(spark, d)
      t(s"white_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(wdir), true)
        operators.Similarity.writeLayout(wm, emb, wdir)
        spark.read.parquet(wdir).count()
      }
      t(s"white_stats_${mult}x")(
        operators.Similarity.ivfLayoutStats(spark, wdir, wm).nVectors)
      t(s"white_retrain_${mult}x") {
        operators.Similarity.retrainLayout(spark, wdir, wm, Some(emb))
        spark.read.parquet(wdir).count()
      }
    }
    // SQ8 drift loop (r14): same shape as the whitened loop — the
    // monitor is one code scan (saturation fraction + occupancy),
    // retrain = grid+quantizer from live rows + one re-code + swap
    locally {
      val qdir = s"/tmp/scale_sq8_$mult/idx"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      lazy val qc = {
        val (mns, mxs) = operators.Similarity.sq8Grid(emb)
        operators.Similarity.Sq8Codec(
          operators.Similarity.ivfCentroids(spark, d), mns, mxs)
      }
      t(s"sq8_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(qdir), true)
        operators.Similarity.writeLayout(qc, emb, qdir)
        spark.read.parquet(qdir).count()
      }
      t(s"sq8_stats_${mult}x")(
        operators.Similarity.ivfLayoutStats(spark, qdir, qc).nVectors)
      t(s"sq8_retrain_${mult}x") {
        operators.Similarity.retrainLayout(spark, qdir, qc, Some(emb))
        spark.read.parquet(qdir).count()
      }
    }
    // CCNet bucketing: the LM-score chain + the bounded 6-dp-grid
    // histogram walk for the tertile elements (r13 replaced the
    // corpus-proportional TakeOrdered) — cost must track the LM scan
    t(s"ccnet_buckets_${mult}x")(
      functions.TextFunctions.ccnetBuckets(docs).count())
    // the INCREMENTAL daily pipeline: the mult× corpus arrives as the
    // bootstrap day, then three constant-size 5k-doc days run against
    // the maintained artifacts — per-day cost must stay FLAT as the
    // corpus accumulates (the whole point of the artifact loops),
    // while the one-shot above re-pays the full union every run
    t(s"pipeline_day_steps_${mult}x") {
      val state = s"/tmp/scale_pipeline_days_$mult/state"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(state), true)
      Pipeline.initDailyState(spark, state)
      val t0 = System.nanoTime()
      Pipeline.curateAndPackDayStep(spark, docs, state, "d0")
      println(f"SCALE pipeline_day_steps bootstrap(${mult}x corpus)=" +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      var last = 0L
      (1 to 3).foreach { i =>
        // novel arrivals: a per-day token-suffix rewrite makes each
        // day's vocabulary DISJOINT from the corpus and every other
        // day (no cross-day near-dups, no cross-day contamination) —
        // so the measured growth isolates exactly what the artifacts
        // are supposed to bound: the index scans
        val batch = Tables.documents(spark, d)
          .select((col("doc_id") + i * 10000000L).as("doc_id"),
            col("lang"),
            concat(regexp_replace(col("text"), " ", s"x$i "),
              lit(s"x$i")).as("text"))
        val ti = System.nanoTime()
        val r = Pipeline.curateAndPackDayStep(spark, batch, state, s"d$i")
        println(f"SCALE pipeline_day_steps day$i=" +
          f"${(System.nanoTime() - ti) / 1e9}%.2fs report=$r")
        last = r.afterQuality
      }
      // erasure cost against the accumulated state: bounded surgery
      // (vacuum touches only days holding the ids; artifact rewrites
      // are one compact pass each; cluster relabel touches only the
      // ids' buckets) — must not track corpus size
      locally {
        import org.apache.spark.sql.functions.col
        val victims = Pipeline.readCuratedDocs(spark, state)
          .filter(col("split") === "train")
          .select("doc_id").limit(20)
          .collect().map(_.getLong(0)).toSeq
        val tf = System.nanoTime()
        import spark.implicits._
        Pipeline.forgetDocs(spark, state, victims.toDF("doc_id"))
        println(f"SCALE pipeline_forget n=${victims.size} " +
          f"time=${(System.nanoTime() - tf) / 1e9}%.2fs")
      }
      last
    }
    // the C4-order LINE stage composed into the day loop (r13):
    // docs get real line structure + repeated boilerplate, the
    // mult× corpus bootstraps the line index, then constant-size
    // days run line-excise + chunk-excise + dedup against the
    // artifacts — per-day cost must stay flat exactly like the
    // plain day loop (the line stage adds one batch line scan +
    // one index equi-join)
    t(s"pipeline_day_steps_lines_${mult}x") {
      def withLines(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("text", concat(
          when(col("doc_id") % 7 === 0,
            lit("ACCEPT OUR COOKIE POLICY banner\n")).otherwise(lit("")),
          regexp_replace(col("text"), "( \\S+){9} ", "$0\n"),
          when(col("doc_id") % 5 === 0,
            lit("\nSUBSCRIBE TO OUR NEWSLETTER footer")).otherwise(lit(""))))
      val state = s"/tmp/scale_pipeline_days_ln_$mult/state"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(state), true)
      Pipeline.initDailyState(spark, state)
      val t0 = System.nanoTime()
      Pipeline.curateAndPackDayStep(spark, withLines(docs), state, "d0",
        dedupLines = true)
      println(f"SCALE pipeline_day_steps_lines bootstrap(${mult}x corpus)=" +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      var last = 0L
      (1 to 3).foreach { i =>
        val batch = withLines(Tables.documents(spark, d)
          .select((col("doc_id") + i * 10000000L).as("doc_id"),
            col("lang"),
            concat(regexp_replace(col("text"), " ", s"x$i "),
              lit(s"x$i")).as("text")))
        val ti = System.nanoTime()
        val r = Pipeline.curateAndPackDayStep(spark, batch, state, s"d$i",
          dedupLines = true)
        println(f"SCALE pipeline_day_steps_lines day$i=" +
          f"${(System.nanoTime() - ti) / 1e9}%.2fs report=$r")
        last = r.afterQuality
      }
      last
    }
    // the GRAPH GATE composed into the day loop (r13): the mult×
    // embedded corpus bootstraps the maintained kNN graph, then
    // constant-size days append their vectors and gate on in-degree —
    // per-day cost = the plain day loop + the knnGraphAppendStep cost
    // (at toy nlist the append saturates every bucket — the r12
    // wave-11 analysis; production nlist collapses it)
    t(s"pipeline_day_steps_graph_${mult}x") {
      val state = s"/tmp/scale_pipeline_days_gg_$mult/state"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(state), true)
      Pipeline.initDailyState(spark, state)
      val docsE = docs.join(emb.select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val t0 = System.nanoTime()
      Pipeline.curateAndPackDayStep(spark, docsE, state, "d0",
        graphGate = Some(Pipeline.GraphGate(emb, minInDegree = 1)))
      println(f"SCALE pipeline_day_steps_graph bootstrap(${mult}x corpus)=" +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      var last = 0L
      (1 to 2).foreach { i =>
        val batch = Tables.documents(spark, d)
          .select((col("doc_id") + i * 10000000L).as("doc_id"),
            col("lang"),
            concat(regexp_replace(col("text"), " ", s"x$i "),
              lit(s"x$i")).as("text"))
          .join(Tables.embeddings(spark, d)
            .select((col("vec_id") + i * 10000000L).as("doc_id")),
            Seq("doc_id"), "left_semi")
        // day vectors must be NOVEL directions, not exact replica
        // copies: at mult× replication a new exact copy loses every
        // cos-1.0 tie to the mult standing replicas (id tie-break),
        // lands at in-degree 0, and the gate degenerately drops the
        // whole day — a replication artifact, not a gate property.
        // A per-day circular dim rotation keeps the isotropic
        // geometry while making each day's directions fresh.
        val bEmb = {
          import spark.implicits._
          Tables.embeddings(spark, d)
            .select(col("vec_id"), col("embedding"))
            .as[(Long, Array[Float])]
            .map { case (id, v) =>
              val n = v.length
              (id + i * 10000000L,
                Array.tabulate(n)(j => v((j + i) % n)))
            }.toDF("vec_id", "embedding")
        }
        val ti = System.nanoTime()
        val r = Pipeline.curateAndPackDayStep(spark, batch, state, s"d$i",
          graphGate = Some(Pipeline.GraphGate(bEmb, minInDegree = 1)))
        println(f"SCALE pipeline_day_steps_graph day$i=" +
          f"${(System.nanoTime() - ti) / 1e9}%.2fs report=$r")
        last = r.afterQuality
      }
      last
    }
    // the FULL-STACK day (r13 capstone): line excision + chunk
    // excision + band dedup + decontamination + heuristic+LM gates +
    // graph gate + BPE-budgeted shards + tokenizer DQ block, all in
    // one step — the complete C4/RefinedWeb-order curation day; cost
    // must stay flat across days (every stage reads a maintained
    // artifact, none re-touch corpus text)
    t(s"pipeline_day_steps_full_${mult}x") {
      def withLines(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("text", concat(
          regexp_replace(col("text"), "( \\S+){9} ", "$0\n"),
          when(col("doc_id") % 5 === 0,
            lit("\nSUBSCRIBE TO OUR NEWSLETTER footer")).otherwise(lit(""))))
      val state = s"/tmp/scale_pipeline_days_full_$mult/state"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(state), true)
      Pipeline.initDailyState(spark, state)
      // artifacts trained ONCE on the bootstrap corpus (the provided-
      // artifact discipline: the daily loop never self-trains)
      val bootDocs = withLines(docs)
        .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi")
      val (model, ctx) = functions.TextFunctions.ngramLmModel(
        functions.TextFunctions.docBigrams(bootDocs))
      val merges = functions.Bpe.trainMerges(
        functions.Bpe.wordVocab(Tables.documents(spark, d)), 60)
      val t0 = System.nanoTime()
      Pipeline.curateAndPackDayStep(spark, bootDocs, state, "d0",
        dedupLines = true,
        graphGate = Some(Pipeline.GraphGate(emb, minInDegree = 1)),
        pplCeiling = Some(1000.0), lmArtifact = Some((model, ctx)),
        bpeMerges = Some(merges))
      println(f"SCALE pipeline_day_steps_full bootstrap(${mult}x corpus)=" +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs")
      var last = 0L
      (1 to 2).foreach { i =>
        val batch = withLines(Tables.documents(spark, d)
          .select((col("doc_id") + i * 10000000L).as("doc_id"),
            col("lang"),
            concat(regexp_replace(col("text"), " ", s"x$i "),
              lit(s"x$i")).as("text")))
          .join(Tables.embeddings(spark, d)
            .select((col("vec_id") + i * 10000000L).as("doc_id")),
            Seq("doc_id"), "left_semi")
        val bEmb = {
          import spark.implicits._
          Tables.embeddings(spark, d)
            .select(col("vec_id"), col("embedding"))
            .as[(Long, Array[Float])]
            .map { case (id, v) =>
              val n = v.length
              (id + i * 10000000L, Array.tabulate(n)(j => v((j + i) % n)))
            }.toDF("vec_id", "embedding")
        }
        val ti = System.nanoTime()
        // the per-day token-suffix rewrite makes day bigrams NOVEL to
        // the bootstrap-trained LM by construction — the gate still
        // runs its full chain, the ceiling just must not interact
        // with the synthetic vocab split (this probe measures COST)
        val r = Pipeline.curateAndPackDayStep(spark, batch, state, s"d$i",
          dedupLines = true,
          graphGate = Some(Pipeline.GraphGate(bEmb, minInDegree = 1)),
          pplCeiling = Some(1e9), lmArtifact = Some((model, ctx)),
          bpeMerges = Some(merges))
        println(f"SCALE pipeline_day_steps_full day$i=" +
          f"${(System.nanoTime() - ti) / 1e9}%.2fs report=$r")
        last = r.afterQuality
      }
      last
    }
    // the embedding-dedup front-end composed end-to-end: replicas are
    // EXACT embedding dups, so τ=0.9 (32×16 geometry, output-bound)
    // collapses each replica cluster; downstream stages identical.
    // Restricted to docs that HAVE embeddings (sf0.1 embeds 2000 of
    // 5000) — semantic dedup only ever covers the embedded corpus
    t(s"pipeline_emb_${mult}x") {
      val embDocs = docs.join(
        emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      val r = Pipeline.curateAndPack(spark, embDocs,
        s"/tmp/scale_pipeline_emb_$mult", 512, 0.2, 3, 2,
        embeddings = Some(emb), embTau = 0.9, pplCeiling = None)
      println(s"SCALE pipeline_emb_${mult}x report=$r")
      r.segments
    }
    t(s"q1_${mult}x")(li.filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(Util.sum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")).count())
    val ev = rep(Tables.events(spark, d),
      Seq("event_id", "user_id"), 100000000L)
    t(s"sessionize_${mult}x") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev", lag(col("ts").cast("long"), 1).over(w))
        .withColumn("ns", when(col("prev").isNull ||
          col("ts").cast("long") - col("prev") > 1800, 1).otherwise(0))
        .groupBy(col("user_id")).agg(sum(col("ns")).as("n_sessions"))
        .count()
    }
    // the range-sorted (key, ts) layout vs an unsorted write: a keyed
    // time-range probe over mult× events must read a small fraction
    // of the sorted layout's row groups (the composite-index analog)
    locally {
      val sortedDir = s"/tmp/scale_rangesorted_$mult"
      val plainDir = s"/tmp/scale_rangeplain_$mult"
      t(s"range_write_${mult}x") {
        sources.Bucketed.writeRangeSorted(ev, sortedDir, "user_id", "ts",
          numFiles = 32, rowGroupBytes = 1 << 20)
        ev.repartition(32).write.mode("overwrite")
          .option("parquet.block.size", 1 << 20).parquet(plainDir)
        ev.count()
      }
      // wall time at this scale is fixed-cost dominated; the scale
      // signal is rows EMITTED by the scan (row groups the reader
      // could not skip) — print it alongside
      def probe(dir: String, cond: org.apache.spark.sql.Column): Long = {
        val df = spark.read.parquet(dir).filter(cond)
        df.collect() // filter-only plan: no exchange, no AQE wrapper
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value }.sum
      }
      val keyAndTs = col("user_id") === 5 &&
        col("ts") >= lit("2024-01-02").cast("timestamp") &&
        col("ts") < lit("2024-01-05").cast("timestamp")
      val tsOnly = col("ts") >= lit("2024-01-02").cast("timestamp") &&
        col("ts") < lit("2024-01-03").cast("timestamp")
      t(s"range_probe_sorted_${mult}x")(probe(sortedDir, keyAndTs))
      t(s"range_probe_plain_${mult}x")(probe(plainDir, keyAndTs))
      // z-order: BOTH single-axis probes must skip, where the (key,
      // ts) sort only helps the key axis
      val zDir = s"/tmp/scale_zorder_$mult"
      t(s"zorder_write_${mult}x") {
        sources.Bucketed.writeZOrdered(ev, zDir, "user_id", "ts",
          bits = 12, numFiles = 32, rowGroupBytes = 1 << 20)
        ev.count()
      }
      t(s"zorder_probe_key_${mult}x")(probe(zDir, col("user_id") === 5))
      t(s"zorder_probe_ts_${mult}x")(probe(zDir, tsOnly))
      t(s"range_probe_ts_${mult}x")(probe(sortedDir, tsOnly))
    }
    // event analytics: funnel/anomaly are conditional-agg + broadcast
    // shapes, retention one broadcast join, ewma one user-window pass
    t(s"funnel_${mult}x") {
      val s1 = ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "click", col("ts"))).as("t_click"))
      ev.join(s1, "user_id")
        .groupBy(col("user_id"), col("t_click"))
        .agg(min(when(col("event_type") === "view" && col("ts") > col("t_click"),
          col("ts"))).as("t_view")).count()
    }
    t(s"ewma_${mult}x") {
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.withColumn("rn", row_number().over(byUser))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
        .withColumn("term", round(
          when(col("rn") === 1, pow(lit(0.8), col("n") - 1))
            .otherwise(lit(0.2) * pow(lit(0.8), col("n") - col("rn"))) * col("value"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(22, 9)))
        .groupBy(col("user_id")).agg(sum(col("term"))).count()
    }
    t(s"asof_${mult}x") {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"), col("user_id"))
      operators.AsOfJoin.asOf(p, c, "user_id", "ts", Seq("click_id")).count()
    }
    // mostly-unique corpus: per-replica word suffix makes every
    // shingle replica-local, so prefix filtering has rare shingles to
    // work with — the workload shape of a real (non-replicated) corpus
    locally {
      import spark.implicits._
      val uniqDocs = docs.select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (id, lang, text) =>
          val r = id / 1000000L
          (id, lang, text.split(" ").map(w => s"${w}r$r").mkString(" "))
        }
        .toDF("doc_id", "lang", "text")
      t(s"jaccard_uniq_${mult}x")(operators.Dedup.ngramJaccard(uniqDocs).count())
      t(s"jaccard_uniq_prefix_${mult}x")(
        operators.Dedup.ngramJaccardPrefix(uniqDocs).count())
      // BPE trainer scale probe on the suffixed corpus (vocab grows
      // with mult, unlike the replicated docs whose distinct words
      // don't): the driver path's per-merge cost tracks AFFECTED
      // words via the inverted index; the distributed fallback's
      // verbose rounds print affected counts + per-round time
      lazy val bpeVocab = functions.Bpe.wordVocab(uniqDocs).localCheckpoint()
      t(s"bpe_vocab_${mult}x")(bpeVocab.count())
      t(s"bpe_local50_${mult}x")(
        functions.Bpe.trainMerges(bpeVocab, 50).length.toLong)
      t(s"bpe_dist10_${mult}x")(
        functions.Bpe.trainMergesDistributed(bpeVocab, 10, verbose = true)
          .length.toLong)
    }
    // synthetic large-vocab BPE probe: the corpus vocabulary is ~31
    // base words — far too small to exercise the trainer — so build a
    // mult×100k-word vocab (md5-hex words, deterministic) and train
    // the driver path; per-merge cost must track affected words, not
    // the 1M-2M total
    locally {
      lazy val synthVocab = spark.range(mult * 100000L)
        .select(md5(col("id").cast("string")).substr(1, 10).as("word"),
          (col("id") % 100 + 1).as("count"))
        .localCheckpoint()
      t(s"bpe_synth_vocab_${mult}x")(synthVocab.count())
      t(s"bpe_synth_local100_${mult}x") {
        val rows = synthVocab.collect()
          .map(r => r.getString(0) -> r.getLong(1)).toSeq
        functions.Bpe.trainMergesLocal(rows, 100, verbose = true).length.toLong
      }
    }
    // ann_ivf nprobe sweep at 1× (recall is a property of the DATA,
    // not the replica count): recall@5 vs brute force, candidate
    // fraction of the corpus scanned, and query wall per nprobe —
    // the measured knee behind the IvfNprobe default
    locally {
      lazy val exact = SparkEntry.queries("ann_bruteforce")(spark, d)
        .select("query_id", "neighbor_id").cache()
      lazy val nExact = exact.count().toDouble
      lazy val nEmb = Tables.embeddings(spark, d).count().toDouble
      for (np <- Seq(8, 12, 16, 20))
        t(s"ivf_sweep_np$np") {
          val q0 = System.nanoTime()
          val got = operators.Similarity.annIvf(spark, d, nprobe = np)
            .select("query_id", "neighbor_id").cache()
          val rows = got.count()
          val qSec = (System.nanoTime() - q0) / 1e9
          val hit = got.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
            .count()
          val cand = operators.Similarity
            .annIvfCandidates(spark, d, nprobe = np).count()
          got.unpersist()
          println(f"SCALE ivf_sweep_np$np recall=${hit / nExact}%.3f " +
            f"candFrac=${cand / (10 * nEmb)}%.3f query=${qSec}%.2fs")
          rows
        }
    }
    // filtered-ANN nprobe sweep at 1×: recall@5 vs the FILTERED brute
    // force (equal-label predicate, ~10% selectivity) — the regime
    // where naive IVF recall collapses (the filtered top-k sit at
    // lower cosine, so their buckets correlate less with the query);
    // the measured knee behind FilteredNprobe
    locally {
      lazy val fexact = operators.Similarity.annBruteforceFiltered(spark, d)
        .select("query_id", "neighbor_id").cache()
      lazy val nExact = fexact.count().toDouble
      for (np <- Seq(16, 20, 24, 28, 32))
        t(s"ivf_filtered_sweep_np$np") {
          val q0 = System.nanoTime()
          val got = operators.Similarity.annIvfFiltered(spark, d, nprobe = np)
            .select("query_id", "neighbor_id").cache()
          val rows = got.count()
          val qSec = (System.nanoTime() - q0) / 1e9
          val hit = got.join(fexact, Seq("query_id", "neighbor_id"), "left_semi")
            .count()
          got.unpersist()
          println(f"SCALE ivf_filtered_sweep_np$np recall=${hit / nExact}%.3f " +
            f"query=${qSec}%.2fs")
          rows
        }
    }
    // batch-vs-corpus embedding near-dup: corpus grows mult×, the
    // arriving batch stays the 2k base vectors — cost must track the
    // corpus CODE SCAN + batch join, never a corpus self-join
    t(s"dedup_emb_incremental_${mult}x") {
      val batch = Tables.embeddings(spark, d)
        .withColumn("vec_id", col("vec_id") + 900000000L)
      operators.Dedup.dedupEmbIncremental(emb, batch).count()
    }
    // image perceptual hash: per-doc BMP synth + ImageIO decode +
    // dHash + banding join — decode cost tracks docs, pair join
    // tracks collisions (replicas are exact image dups by id ≡ 0 mod
    // 48 construction only when aligned — here mostly hash-random)
    t(s"phash_${mult}x")(sources.Multimodal.phashDups(
      docs.select(col("doc_id"), col("text"))).count())
    // audio decode: per-doc WAV synth + javax.sound parse + windowed
    // features — embarrassingly parallel, cost tracks docs
    t(s"audio_${mult}x")(
      sources.Multimodal.audioFeaturesOn(
        docs.select(col("doc_id"), col("text"))).count())
    // bigram LM: the explode+window pass scales with token volume;
    // the model join shuffles distinct doc-bigrams (replicas add
    // occurrences, not distinct bigrams — the shuffle stays put)
    t(s"ngramlm_${mult}x")(functions.TextFunctions.ngramLmScore(docs).count())
    // stage accounting: one docBigrams pass vs the composed query
    // (which recomputes that lineage for model and ctx — 3 passes)
    t(s"ngramlm_bigrams_${mult}x")(
      functions.TextFunctions.docBigrams(docs).count())
    t(s"ngramlm_artifact_${mult}x") {
      // the production artifact path: materialize docBg + model once,
      // then score — the shape that avoids the 3x lineage recompute
      val docBg = functions.TextFunctions.docBigrams(docs).localCheckpoint()
      val (model, ctx) = functions.TextFunctions.ngramLmModel(docBg)
      functions.TextFunctions.ngramLmScoreWith(docBg, model, ctx).count()
    }
    // SQ8: grid train is a dim-sized map-side-combined aggregate +
    // the same broadcast-query corpus pass as brute force
    t(s"annsq8_${mult}x")(operators.Similarity.annSq8(emb, 10, 5).count())
    // the composed IVF×SQ8 probe over the replicated corpus: assign +
    // quantize + nprobe/nlist candidate join — at 1× the sweep showed
    // candFrac 0.50; the replicated corpus scales candidates linearly
    t(s"annivfsq8_${mult}x")(operators.Similarity.annIvfSq8On(emb,
      operators.Similarity.ivfCentroids(spark, d)).count())
    // PQ over the replicated corpus: the encode scan is the linear
    // part (one typed map over mult× vectors), ADC is a per-row
    // integer lookup-sum, and the rerank touches only the bounded
    // shortlist — cost must track the scan, never pairs
    t(s"annpq_${mult}x")(operators.Similarity.annPqOn(emb,
      operators.Similarity.pqCodebooks(spark, d),
      Tables.embeddings(spark, d).filter(col("vec_id") < 10)).count())
    // the composed IVF-PQ serving layout at mult×: write is one
    // encode pass + partitioned write; the stored serve prunes to the
    // probed bucket partitions and scans 4 bytes/vector inside them
    locally {
      val dir = s"/tmp/scale_ivfpq_$mult"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      lazy val pq = operators.Similarity.PqCodec(
        operators.Similarity.ivfCentroids(spark, d),
        operators.Similarity.pqResidualCodebooks(spark, d))
      t(s"annivfpq_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
        operators.Similarity.writeLayout(pq, emb, dir)
        spark.read.parquet(dir).count()
      }
      t(s"annivfpq_serve_${mult}x")(
        operators.Similarity.annIvfPqServeBatch(spark, dir, pq,
          Tables.embeddings(spark, d).filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding")),
          emb).count())
      // the maintenance loop at mult×: per-day appends encode only the
      // arriving 500-vector batch (flat per-day cost however big the
      // corpus), compaction restores the file count, the drift monitor
      // is one column-pruned pass + a bounded sample join, and retrain
      // re-encodes the layout once
      def day(i: Int) = Tables.embeddings(spark, d)
        .filter(col("vec_id") < 500)
        .withColumn("vec_id", col("vec_id") + lit(900000000L * i))
      lazy val embAll = emb.unionByName(day(1)).unionByName(day(2))
      for (i <- 1 to 2)
        t(s"annivfpq_append_day${i}_${mult}x") {
          operators.Similarity.appendLayout(pq, day(i), dir)
          day(i).count()
        }
      t(s"annivfpq_serve_appended_${mult}x")(
        operators.Similarity.annIvfPqServeBatch(spark, dir, pq,
          Tables.embeddings(spark, d).filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("embedding")),
          embAll).count())
      t(s"annivfpq_compact_${mult}x")(
        operators.Similarity.compactIvfPartitioned(spark, dir).filesOut.toLong)
      t(s"annivfpq_stats_${mult}x") {
        val st = operators.Similarity.ivfLayoutStats(spark, dir, pq, Some(embAll))
        println(f"SCALE annivfpq_stats_${mult}x detail: n=${st.nVectors} " +
          f"skew=${st.occSkew}%.2f quantErr=${st.drift}%.6f")
        st.nVectors
      }
      t(s"annivfpq_retrain_${mult}x") {
        operators.Similarity.retrainLayout(spark, dir, pq, Some(embAll))
        spark.read.parquet(dir).count()
      }
    }
    // sketches: counter tables are FIXED-size (4096 registers / 4x1024
    // counters / 256 buckets per group) — cost must track the input
    // scan, state never grows with the corpus
    t(s"sketch_hll_${mult}x")(operators.Sketches.sketchDistinct(ev).count())
    t(s"sketch_cms_${mult}x")(
      operators.Sketches.sketchHeavyHitters(docs, 50).count())
    t(s"sketch_quant_${mult}x")(operators.Sketches.sketchQuantiles(ev).count())
    // wave-7 graph/mining diagnostics: nlist grows with the corpus
    // (constant bucket occupancy), so the kNN graph stays O(n)
    // candidates; pagerank adds 10 node-sized join+agg rounds on the
    // checkpointed edge frame; bitext mining is two such kNN passes
    locally {
      lazy val centsK = operators.Similarity.ivfCentroids(spark, d, 32 * mult)
      lazy val edges = operators.Similarity.knnGraphOn(emb, centsK)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      t(s"knn_graph_${mult}x")(edges.count())
      t(s"pagerank_${mult}x")(operators.Similarity
        .pagerankOn(edges, emb.select(col("vec_id"))).count())
      // label propagation rides the same checkpointed edge frame:
      // 3 rounds of (edge ⋈ labels) + two-level aggregate — the
      // pagerank loop shape with integer votes instead of rank mass.
      // The carve is % 7 here, NOT the query's % 5: the replica id
      // step (1000000) is ≡ 0 mod 5, so a %5 carve is CLOSED under
      // replication — an unlabeled node's cos-1.0 replica neighbors
      // would all be unlabeled and the probe would measure an empty
      // output (the r13 exact-replica tie artifact); %7 shifts each
      // replica's residue, so labels reach every replica group
      t(s"label_prop_${mult}x")(operators.Similarity.labelPropOn(edges,
        emb.filter(col("vec_id") % 7 =!= 0)
          .select(col("vec_id"), col("label")),
        col("src") % 7 === 0, operators.Similarity.LpRounds).count())
      t(s"knn_components_${mult}x") {
        val mutual = edges.as("a").join(edges.hint("shuffle_hash").as("b"),
            col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
          .select(col("a.src").as("d1"), col("a.dst").as("d2"))
          .filter(col("d1") < col("d2"))
        operators.Dedup.connectedComponentsSafe(mutual).count()
      }
      t(s"mine_bitext_${mult}x")(
        operators.Similarity.mineBitextOn(emb, centsK).count())
      // the maintained graph loop: the mult× corpus graphed ONCE;
      // each day's 500-vector batch gets its edges from pruned bucket
      // reads and only the affected standing nodes re-top-k — per-day
      // cost must track the batch + the pruned/affected volume
      locally {
        val dir = s"/tmp/scale_knngraph_$mult"
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        def day(i: Int) = Tables.embeddings(spark, d)
          .filter(col("vec_id") < 500)
          .withColumn("vec_id", col("vec_id") + lit(900000000L * i))
        t(s"knn_graph_write_${mult}x") {
          fs.delete(new org.apache.hadoop.fs.Path(dir), true)
          operators.Similarity.writeKnnGraph(emb, centsK, dir)
          spark.read.parquet(s"$dir/edges").count()
        }
        for (i <- 1 to 2)
          t(s"knn_graph_day${i}_${mult}x") {
            operators.Similarity.knnGraphAppendStep(spark, dir, day(i), centsK)
            day(i).count()
          }
        // erasure (r13): forget 20 standing vectors — cost = the
        // affected-survivor refill (pruned candidate joins) + one
        // compact-swap per layout; must track the affected volume
        // and the artifact rewrite, never re-grading the whole graph
        t(s"knn_graph_forget_${mult}x") {
          import spark.implicits._
          operators.Similarity.forgetFromKnnGraph(spark, dir,
            (0L until 20L).toDF("vec_id"))
          spark.read.parquet(s"$dir/edges").count()
        }
        // batched erasure (r14): 5 erasure REQUESTS arriving
        // separately — the per-call form pays 3 compact-swap layout
        // rewrites per request (15 rewrites); the tombstone form
        // accumulates and folds ONCE at the next compaction (3
        // rewrites + the folds) — amortization must show here
        t(s"knn_graph_forget_seq5_${mult}x") {
          import spark.implicits._
          for (g <- 0 until 5)
            operators.Similarity.forgetFromKnnGraph(spark, dir,
              (20L + g * 4 until 24L + g * 4).toDF("vec_id"))
          spark.read.parquet(s"$dir/edges").count()
        }
        t(s"knn_graph_forget_batch5_${mult}x") {
          import spark.implicits._
          for (g <- 0 until 5)
            operators.Similarity.deleteFromKnnGraph(spark, dir,
              (40L + g * 4 until 44L + g * 4).toDF("vec_id"))
          operators.Similarity.compactKnnGraph(spark, dir)
          spark.read.parquet(s"$dir/edges").count()
        }
      }
    }
    // novelty: one distinct over the 80% train shingles + the
    // shingle-keyed left join — the decontaminateShuffle shape
    t(s"novelty_${mult}x")(operators.Curate.ngramNovelty(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), 3).count())
    // drift monitor: the mult× reference vocabulary (suffix-grown so
    // the distinct set genuinely scales) full-outer-joined by a 5k
    // batch — per-batch cost must track the artifact scan
    t(s"vocab_drift_ref_${mult}x") {
      val ref1 = functions.TextFunctions
        .vocabCounts(Tables.documents(spark, d))
      val refN = (ref1 +: (1 until mult).map(i =>
        ref1.select(concat(col("token"), lit(s"_r$i")).as("token"),
          col("c")))).reduce(_ unionByName _)
      functions.TextFunctions
        .vocabDriftAgainst(refN, Tables.documents(spark, d)).count()
    }
    // containment rides the jaccard inverted-index join; replicas are
    // exact shingle-set copies, so output is the C(mult,2) pair set
    // per base doc (output-bound, like dedup_winnow's regime)
    t(s"containment_${mult}x")(operators.Dedup.dedupContainment(docs).count())
    // the daily form: a 5k batch against the mult× corpus — one
    // batch-vs-corpus shingle equi-join, never a corpus self-join;
    // batch docs are exact copies, so output = 5k × mult replica hits
    t(s"containment_incremental_${mult}x") {
      val batch = Tables.documents(spark, d)
        .withColumn("doc_id", col("doc_id") + 950000000L)
      operators.Dedup.dedupContainmentIncremental(docs, batch).count()
    }
    t(s"ann_bruteforce_${mult}x") {
      // inline brute-force against the replicated corpus (queries
      // stay 10): mult x corpus -> mult x pair evaluations
      val e = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
      val q = broadcast(Tables.embeddings(spark, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      e.join(q, col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          functions.CosineSimilarity.cosineSim(col("qv"), col("v")).as("cos_sim"))
        .groupBy(col("query_id")).agg(max(col("cos_sim"))).count()
    }
    // lexical index over the mult× corpus: serve cost must track the
    // probed terms' posting volume (the BmQueries set touches 14 of
    // the 31 vocabulary terms), never the index total — the full-scan
    // row is the unpruned comparison; the append row is the daily
    // maintenance cost (one 5k-doc day folded in place)
    locally {
      import operators.Search
      import spark.implicits._
      val invDir = s"/tmp/scale_invidx_$mult"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val queriesDf = Search.BmQueries
        .flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term")
      t(s"inv_index_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(invDir), true)
        Search.writeInvertedIndexBucketed(docs, invDir)
        spark.read.parquet(s"$invDir/postings").count()
      }
      t(s"bm25_serve_${mult}x")(
        Search.bm25ServeBatch(spark, invDir, queriesDf).count())
      t(s"bm25_postings_fullscan_${mult}x")(
        spark.read.parquet(s"$invDir/postings").count())
      t(s"inv_index_append_day_${mult}x") {
        val day = Tables.documents(spark, d)
          .withColumn("doc_id", col("doc_id") + 900000000L)
        Search.appendInvertedIndexBucketed(day, invDir)
        day.count()
      }
      t(s"bm25_serve_after_append_${mult}x")(
        Search.bm25ServeBatch(spark, invDir, queriesDf).count())
    }
    // SCD-2 over mult× orders (disjoint key spaces, so per-key
    // history depth stays constant): the daily apply must cost the
    // history SCAN plus window work on the day's keys only — the
    // one-shot rebuild re-windows the whole corpus
    locally {
      import operators.Upsert
      val ordN = rep(Tables.orders(spark, d),
        Seq("o_orderkey", "o_custkey"), 100000000L)
      val histDir = s"/tmp/scale_scd2_$mult"
      val (k, a, ts, tie) = ("o_custkey", "o_orderpriority",
        "o_orderdate", "o_orderkey")
      t(s"scd2_build_${mult}x") {
        Upsert.scd2Build(ordN, k, a, ts, tie)
          .write.mode("overwrite").parquet(histDir)
        spark.read.parquet(histDir).count()
      }
      val day = Tables.orders(spark, d)
        .filter(col("o_custkey") % 100 === 0)
        .withColumn("o_orderdate",
          col("o_orderdate") + expr("INTERVAL 10 YEARS"))
        .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
      t(s"scd2_apply_day_${mult}x")(
        Upsert.scd2Apply(spark.read.parquet(histDir), day, k, a, ts, tie)
          .count())
      t(s"scd2_rebuild_${mult}x")(
        Upsert.scd2Build(ordN.unionByName(day), k, a, ts, tie).count())
      // the SINK's bounded write: history bucket-partitioned by key
      // hash, a small day rewrites only its keys' buckets via dynamic
      // partition overwrite — per-batch cost must track the day's key
      // spread, NOT history size (the old full-snapshot rewrite paid
      // the whole history every batch)
      // bucket count is a history-size knob: 512 here so a handful of
      // keys touch a handful of buckets (~1% of the history), the
      // regime the bound is FOR — at 64 buckets a 141-key day hashed
      // into ~57 of them and sliced ~90% of the history anyway
      val sinkDir = s"/tmp/scale_scd2sink_$mult"
      t(s"scd2_sink_build_${mult}x") {
        org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(sinkDir), true)
        streaming.EventStream.scd2SinkBatch(ordN, sinkDir, k, a, ts, tie,
          buckets = 512)
        spark.read.parquet(sinkDir).count()
      }
      val smallDay = Tables.orders(spark, d)
        .filter(col("o_custkey") % 3000 === 0) // ~5 keys
        .withColumn("o_orderdate",
          col("o_orderdate") + expr("INTERVAL 10 YEARS"))
        .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
      t(s"scd2_sink_day_${mult}x") {
        streaming.EventStream.scd2SinkBatch(smallDay, sinkDir, k, a, ts, tie,
          buckets = 512)
        smallDay.count()
      }
    }
    // ---- Zipfian-vocabulary corpus: the retrieval/LM scale probes the
    // uniform 31-token soup cannot express. Under a Zipf(1) vocabulary
    // most terms are RARE: posting lists are head-heavy, a mixed query
    // probes lists whose total volume is far below the corpus (serve
    // must grow ≪ the index as the corpus scales), and bigram
    // probability spans orders of magnitude, so a self-trained LM gate
    // can actually discriminate planted gibberish — the §6 blindness
    // caveat lifted on a corpus where perplexity can vary.
    locally {
      import operators.Search
      import spark.implicits._
      val nDocs = 5000L * mult
      val zdocs = zipfDocs(spark, nDocs, docLen = 120, vocab = 10000)
        .localCheckpoint()
      t(s"zipf_docs_${mult}x")(zdocs.count())
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      // head + torso + tail terms: the head term's list is long, the
      // tail terms' lists are tiny — total probed volume is dominated
      // by the one head list, a small corpus fraction
      val zQueries = Seq(
        1L -> Seq("w0", "w150", "w4000"),
        2L -> Seq("w3", "w800", "w7000"),
        3L -> Seq("w10", "w300", "w9000"))
        .flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term")
      // the vocabulary-independent bucketed layout: 1024 dirs at any
      // vocabulary — write cost is ~bucket-count file churn while
      // serve stays probed-bucket-bound
      val invBDir = s"/tmp/scale_zipfinvb_$mult"
      t(s"zipf_invb_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(invBDir), true)
        Search.writeInvertedIndexBucketed(zdocs, invBDir)
        spark.read.parquet(s"$invBDir/postings").count()
      }
      t(s"zipf_bm25b_serve_${mult}x")(
        Search.bm25ServeBatch(spark, invBDir, zQueries).count())
      // LM gate discrimination: train the bigram model on the NATURAL
      // corpus only (the production train/score artifact split), score
      // natural + 1% planted gibberish with the held-out add-α scorer
      // (unseen bigrams floor at ~1/vocab — self-trained MLE scores
      // gibberish BELOW natural text here: novel bigrams in rare
      // contexts get p≈1). Printed: planted/natural separation and how
      // many planted docs clear the natural p99 ceiling.
      t(s"zipf_lm_gate_${mult}x") {
        val nPlant = math.max(50L, nDocs / 100)
        val planted = uniformDocs(spark, nPlant, 120, 10000)
          .withColumn("doc_id", col("doc_id") + 900000000L)
        val natBg = functions.TextFunctions.docBigrams(zdocs).localCheckpoint()
        val (model, ctx) = functions.TextFunctions.ngramLmModel(natBg)
        val allBg = functions.TextFunctions
          .docBigrams(zdocs.unionByName(planted))
        val scored = functions.TextFunctions
          .ngramLmScoreHeldOut(allBg, model, ctx, vocab = 10000)
          .select(col("doc_id"), col("ppl")).localCheckpoint()
        val natural = scored.filter(col("doc_id") < 900000000L)
        val p99 = natural.stat.approxQuantile("ppl", Array(0.99), 0.001).head
        val caught = scored.filter(col("doc_id") >= 900000000L)
          .filter(col("ppl") > p99).count()
        val meanNat = natural.agg(avg("ppl")).head.getDouble(0)
        val meanPlant = scored.filter(col("doc_id") >= 900000000L)
          .agg(avg("ppl")).head.getDouble(0)
        println(f"SCALE zipf_lm_gate_${mult}x detail: natural_mean=" +
          f"$meanNat%.1f planted_mean=$meanPlant%.1f p99=$p99%.1f " +
          f"caught=$caught/$nPlant")
        caught
      }
    }
    // ---- r10 second-wave families ----
    // snapshot diff: one 1:1 full-outer shuffle over mult× orders —
    // cost must track the two scans + one exchange pair, output the
    // (linear) change volume
    locally {
      val ordN = rep(Tables.orders(spark, d),
        Seq("o_orderkey", "o_custkey"), 100000000L)
      val k = col("o_orderkey")
      val oldSnap = ordN.filter(k % 10 =!= 3)
        .withColumn("o_totalprice",
          when(k % 7 === 0, lit(100.0)).otherwise(col("o_totalprice")))
      val newSnap = ordN.filter(k % 13 =!= 7)
      t(s"snapshot_diff_${mult}x")(operators.Cdc.snapshotDiff(
        oldSnap, newSnap, Seq("o_orderkey"), Seq("o_totalprice")).count())
    }
    // interval join: mult× events against mult×20k one-minute windows
    // hash-spread over the month (~4.6 cover any instant). The binned
    // equi-join's cost is scan + shuffle + OUTPUT however many
    // intervals exist; the naive inequality join evaluates
    // |events|×|intervals| predicates — a codegen'd BNLJ holds pace
    // while the interval side is broadcast-sized (measured: 2000
    // hour-windows → naive 2.3s vs binned 3.3s at 10× — both
    // output-bound), but its cost is LINEAR in interval count where
    // binned is flat, so the naive row runs on a fixed 2000-window
    // slice: multiply by (mult×10) for the full-set cost
    locally {
      val evs = ev.select(expr("unix_micros(ts) div 1000000").as("s"))
      val minS = Tables.events(spark, d)
        .select(expr("unix_micros(ts) div 1000000").as("s"))
        .agg(min("s")).head.getLong(0)
      val day0 = math.floorDiv(minS, 86400L) * 86400L
      def iv(n: Long) = spark.range(n).select(
        col("id").as("iid"),
        (lit(day0) + (col("id") * 2654435761L) % 2591940L).as("start_s"),
        (lit(day0) + (col("id") * 2654435761L) % 2591940L + 60L).as("end_s"))
      t(s"range_binned_${mult}x")(operators.RangeJoin
        .joinRangeBinned(evs, "s", iv(20000L * mult), "start_s", "end_s", 60L)
        .groupBy("iid").count().count())
      t(s"range_naive_2kslice_${mult}x")(evs.crossJoin(iv(2000L))
        .filter(col("s") >= col("start_s") && col("s") < col("end_s"))
        .groupBy("iid").count().count())
    }
    // fuzzy join: mult×20k distinct high-entropy names (the regime the
    // deletion-variant blocking is FOR — variants near-unique, join
    // groups tiny, cost tracks the ×(len+1) variant shuffle + true
    // matches), 10% corrupted probes must all resolve
    locally {
      val names = spark.range(mult * 20000L)
        .select(md5(col("id").cast("string")).substr(1, 10).as("name"))
      val probes = spark.range(mult * 2000L)
        .select(md5((col("id") * 10).cast("string")).substr(1, 10).as("n0"))
        .select(concat(substring(col("n0"), 1, 4), lit("x"),
          expr("substring(n0, 6)")).as("probe"))
      t(s"fuzzy_${mult}x")(operators.FuzzyJoin
        .editJoin(probes, "probe", names, "name", 1).count())
    }
    // the DEGENERATE fuzzy regime: a LOW-ENTROPY catalog — mult×50k
    // rows over only 64 distinct names — at d=2, where deletion
    // variants concentrate (similar names share many variant keys and
    // most name pairs sit within distance 2). Dedupe-first is what
    // saves it: the variant join runs on the 64-name space (candidates
    // ≤ 64×64 however big the row count), the mult× cost is the two
    // distinct() scans plus the row-coverage hash join back — never
    // rows². Both the name-level join and the full query shape
    // (coverage counts over mult× rows) are timed.
    locally {
      val catalog = spark.range(mult * 50000L).select(
        format_string("item_%02d_entry", expr("id % 64")).as("p_name"))
      val probes = catalog.select(concat(substring(col("p_name"), 1, 4),
        lit("x"), expr("substring(p_name, 6)")).as("probe"))
      t(s"fuzzy_lowentropy_d2_${mult}x")(operators.FuzzyJoin
        .editJoin(probes, "probe", catalog, "p_name", 2).count())
      t(s"fuzzy_lowentropy_d2_cover_${mult}x") {
        val m = operators.FuzzyJoin
          .editJoin(probes, "probe", catalog, "p_name", 2)
        val counts = catalog.groupBy("p_name").agg(count(lit(1)).as("n_parts"))
        m.join(counts, Seq("p_name")).count()
      }
    }
    // incremental connected components: the maintained cluster-map
    // artifact — one day's edges relabel ONLY touched clusters'
    // bucket partitions, vs the full CC recompute the one-shot
    // capstone pays. The graph is a SPARSE synthetic cluster set
    // (mult×5000 chains of 10 — the shape real dedup produces; the
    // replicated-corpus LSH graph is degenerate-dense, a 500-doc day
    // touched 88% of its clusters and measured the corpus, not the
    // operator). The day adds a member to 50 clusters and merges 10
    // cluster pairs.
    locally {
      val mapDir = s"/tmp/scale_ccindex_$mult/map"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val ccN = 5000L * mult
      val chain = spark.range(ccN * 9).select(
        expr(s"(id % $ccN) + (id div $ccN) * 10000000").as("d1"),
        expr(s"(id % $ccN) + ((id div $ccN) + 1) * 10000000").as("d2"))
        .localCheckpoint()
      t(s"cc_index_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(
          s"/tmp/scale_ccindex_$mult"), true)
        operators.Dedup.writeClusterIndex(chain, mapDir)
        spark.read.parquet(mapDir).count()
      }
      lazy val dayPairs = spark.range(50).select(
        col("id").as("d1"), (col("id") + 100000000L).as("d2"))
        .unionByName(spark.range(10).select(
          (col("id") + 200).as("d1"), (col("id") + 300).as("d2")))
        .localCheckpoint()
      t(s"cc_index_day_${mult}x")(
        operators.Dedup.ccIncrementalStep(spark, mapDir, dayPairs).count())
      t(s"cc_index_rebuild_${mult}x")(
        operators.Dedup.connectedComponentsSafe(
          chain.unionByName(dayPairs)).count())
    }
    // weighted sample: map-side key + TakeOrdered (per-partition
    // bounded heaps, k×P rows to the driver — no global sort); cost
    // must track the scan
    t(s"sample_weighted_${mult}x")(
      operators.Curate.sampleWeighted(
        docs.select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars")),
        "n_chars", 200).count())
    // scene cuts: ≤8 ImageIO decodes + one 48-px plane diff per doc —
    // embarrassingly parallel, cost tracks docs (the phash/audio
    // family shape)
    t(s"scenecut_${mult}x")(sources.Multimodal.sceneCutsOn(
      docs.select(col("doc_id"), col("text"))).count())
    // dq suite: one wide agg scan + one count-distinct + one anti
    // join over mult× orders — linear, never quadratic
    locally {
      val ordN = rep(Tables.orders(spark, d),
        Seq("o_orderkey", "o_custkey"), 100000000L)
      val custN = rep(Tables.customer(spark, d),
        Seq("c_custkey"), 100000000L)
      t(s"dq_${mult}x")(operators.DataQuality.suite(
        operators.DataQuality.rowMetrics(ordN, Seq(
          "null_custkey" -> col("o_custkey").isNull,
          "price_below_floor" -> (col("o_totalprice") <= 2000.0),
          "status_domain_violations" -> !col("o_orderstatus").isin("O", "F"))),
        operators.DataQuality.keyDuplicates(ordN, Seq("o_orderkey"),
          "dup_orderkeys"),
        operators.DataQuality.orphans(ordN, "o_custkey", custN, "c_custkey",
          "orphan_custkeys")).count())
    }
    // published quality-filter rule sets: one typed map per doc, no
    // shuffle — must be linear in the corpus
    t(s"gopher_rules_${mult}x")(
      functions.QualityFilters.gopherRules(docs).count())
    t(s"c4_filters_${mult}x")(functions.QualityFilters.c4Filters(docs).count())
    // WordPiece accounting under a PRE-TRAINED artifact: MaxMatch runs
    // once per DISTINCT word (vocab-bounded, flat in corpus size) and
    // broadcasts back — corpus cost is one explode + broadcast join
    locally {
      val pieces = functions.Wordpiece.trainWordpiece(
        functions.Bpe.wordVocab(Tables.documents(spark, d)))
      t(s"wordpiece_count_${mult}x")(
        functions.Wordpiece.docTokenCounts(docs, pieces).count())
    }
    // phrase search: the inline scan is linear in the corpus; the
    // positional-index serve pays the index write ONCE, then probes
    // only the phrase terms' bucket directories — serve cost tracks
    // the probed terms' posting volume, not the corpus scan
    locally {
      val pq = operators.Search.PhraseQueries
      t(s"phrase_inline_${mult}x") {
        val s2 = spark
        import s2.implicits._
        Util.fanOutIfAtLeast(
            docs.select(col("doc_id"), col("text")).as[(Long, String)])
          .flatMap { case (id, txt) =>
            val toks = txt.toLowerCase.split("\\s+").filter(_.nonEmpty)
            pq.iterator.flatMap { case (qid, terms) =>
              val L = terms.length
              val hit = (0 to toks.length - L).exists(p =>
                (0 until L).forall(i => toks(p + i) == terms(i)))
              if (hit) Iterator.single((qid, id)) else Iterator.empty
            }
          }.count()
      }
      val posDir = java.nio.file.Files
        .createTempDirectory("s10_posidx").toString
      t(s"phrase_index_write_${mult}x") {
        operators.Search.writePositionalIndex(docs, posDir); 1L
      }
      t(s"phrase_serve_${mult}x")(
        operators.Search.phraseServeBatch(spark, posDir, pq).count())
      // daily maintenance: appending a 5k-doc day into the mult×
      // index must track the BATCH, not the standing corpus
      t(s"phrase_append_day_${mult}x") {
        val day = Tables.documents(spark, d)
          .withColumn("doc_id", col("doc_id") + 910000000L)
        operators.Search.appendPositionalIndex(day, posDir)
        operators.Search.phraseServeBatch(spark, posDir, pq).count()
      }
    }
    // PMI collocation mining: one bigram pass + three partial aggs —
    // linear in the corpus, vocabulary-bounded margins
    t(s"collocations_${mult}x") {
      val s2 = spark
      import org.apache.spark.sql.expressions.Window
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bg = Util.fanOut(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), posexplode(
          functions.TextFunctions.tokens(col("text"))).as(Seq("pos", "w1")))
        .withColumn("w2", lead(col("w1"), 1).over(byPos))
        .where(col("w2").isNotNull)
      bg.groupBy(col("w1"), col("w2")).count().count()
    }
    // minimal-removal decontamination: eval windows broadcast, train
    // windows stream past the semi-join, surgery is per-doc — linear
    t(s"decont_excise_${mult}x") {
      val eval = Tables.documents(spark, d).filter(col("doc_id") % 50 === 0)
      operators.Curate.decontaminateExcise(docs, eval).count()
    }
    // Bloom decontamination: the eval filter is a broadcast bit set —
    // the corpus pays a map-side probe + per-doc agg, NO shingle
    // shuffle; cost must be linear in the train side alone
    t(s"decont_bloom_${mult}x") {
      val eval = Tables.documents(spark, d).filter(col("doc_id") % 50 === 0)
      operators.Curate.decontaminateBloom(docs, eval).count()
    }
    // winnowing: the spans-family hash scan + O(len) deque, then a
    // fingerprint equi-join ~8x smaller than the span index
    t(s"dedup_winnow_${mult}x")(operators.Dedup.dedupWinnow(docs).count())
    // the winnow maintained loop: mult× corpus fingerprinted ONCE;
    // each day fingerprints only its 5k-doc batch and joins the
    // stored (h, keeper) index — per-day cost flat as days accumulate
    locally {
      val idxDir = s"/tmp/scale_winnowindex_$mult/idx"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      t(s"winnow_index_write_${mult}x") {
        fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
        operators.Dedup.writeWinnowIndex(docs, idxDir)
        spark.read.parquet(idxDir).count()
      }
      for (day <- 1 to 2)
        t(s"winnow_index_day${day}_${mult}x") {
          val batch = Tables.documents(spark, d)
            .withColumn("doc_id", col("doc_id") + lit(920000000L * day))
          operators.Dedup.dedupWinnowIncrementalStep(spark, idxDir, batch)
            .count()
        }
    }
    spark.stop()
  }

  /** Deterministic Zipf(1)-vocabulary synthetic corpus: doc i's tokens
    * are drawn by inverse-CDF over `vocab` ranked terms (weight ∝
    * 1/rank) from a per-doc seeded PRNG — head terms appear in nearly
    * every doc, tail terms in a handful, the frequency shape real
    * text has and the uniform soup lacks. */
  private[graft] def zipfDocs(s: SparkSession, nDocs: Long, docLen: Int,
                              vocab: Int): DataFrame = {
    import s.implicits._
    val weights = (1 to vocab).map(r => 1.0 / r)
    val total = weights.sum
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    val bc = s.sparkContext.broadcast(cdf)
    s.range(nDocs).as[Long].map { i =>
      val rnd = new scala.util.Random(i * 2654435761L + 17)
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < docLen) {
        val r = java.util.Arrays.binarySearch(bc.value, rnd.nextDouble())
        val idx = if (r >= 0) r else -r - 1
        if (j > 0) sb.append(' ')
        sb.append('w').append(idx)
        j += 1
      }
      (i, sb.toString, "en")
    }.toDF("doc_id", "text", "lang")
  }

  /** Uniform-over-vocab "gibberish" docs — the planted anomaly for the
    * LM-gate probe: under a Zipf corpus their rare-rare bigrams score
    * orders of magnitude less probable than natural text. */
  private[graft] def uniformDocs(s: SparkSession, nDocs: Long, docLen: Int,
                                 vocab: Int): DataFrame = {
    import s.implicits._
    s.range(nDocs).as[Long].map { i =>
      val rnd = new scala.util.Random(i * 1013904223L + 5)
      (i, (0 until docLen).map(_ => "w" + rnd.nextInt(vocab))
        .mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
  }
}
