package graft.functions

import graft.{Tables, Util}
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType, StructField}

/** Supervised text classification for training-data curation — the
  * fastText-style filter role (Joulin et al., "Bag of Tricks for
  * Efficient Text Classification", 2016; the CCNet/RedPajama
  * language- and quality-filter stage): train a model on a labeled
  * carve, score every candidate document, keep or route by the
  * predicted class. The reference has no classifier (its language
  * handling is a fixed column); this extends the quality-gate family
  * beyond `text_langid`'s FIXED marker heuristic with a TRAINED
  * multinomial Naive Bayes gate — the production shape for language
  * ID and domain filtering at 100 TB, where the label carve is small
  * and curated but the scored corpus is the full crawl.
  *
  * Model: multinomial NB with add-1 (Laplace) smoothing over the
  * train vocabulary. For class c and document d with in-vocabulary
  * token counts k_t:
  *
  *   score(d, c) = ln P(c) + Σ_t k_t · ln((cnt(c,t) + 1) / (tot_c + V))
  *
  * Out-of-vocabulary tokens are DROPPED (they carry no signal the
  * model has seen; keeping them would only add a constant per class
  * and shift nothing). The sum factors into a per-class affine form
  * that never materializes the (class × vocab) zero grid:
  *
  *   score(d, c) = prior(c) + n_d · lp0(c) + Σ_{t: cnt(c,t) ≥ 1} k_t · w(c,t)
  *
  * with prior(c) = ln(n_docs_c) − ln(n_train), lp0(c) =
  * −ln(tot_c + V) (the smoothed zero-count log-probability) and
  * w(c,t) = ln(cnt(c,t) + 1) (the presence ADJUSTMENT over lp0 —
  * since ln((cnt+1)/(tot_c+V)) = ln(cnt+1) + lp0(c)), and n_d = the
  * doc's in-vocabulary token total (class-independent). The model
  * artifact is therefore exactly the nonzero count table — the same
  * sparsity the bigram LM family ships.
  *
  * Determinism (cross-engine, the §5 nanolog discipline): every ln
  * argument is an INTEGER ≥ 1, so ln ≥ 0 and HALF_UP == half-away —
  * each ln is snapped to the 1e-9 grid and carried as an exact
  * BIGINT in 1e-9 units ([[lnE9]]); scores are integer sums/products
  * of those units (products routed through exact DECIMAL where the
  * 2^63 bound is not obvious), the argmax is an integer comparison
  * with a lexicographic-min class tie-break, and no double survives
  * to the output.
  *
  * Scale shape: training is one token explode + groupBy(label,
  * token) — map-side combinable, shuffled on the compound key; the
  * class-scalar frame is one row per label (collected — labels are a
  * curated enum, bounded by definition); scoring joins the doc token
  * counts to the model on `token` (the bigram-LM shuffle shape — at
  * 100 TB the model is vocab-sized, too big to broadcast, and this
  * is the standard co-partitioned join), aggregates per (doc,
  * class), and expands the bounded class list with an explode of a
  * literal array (never a tiny-frame crossJoin — the r12 BNLJ rule).
  *
  * Maintained artifact ([[writeNbModel]]): because the model is a
  * pure COUNT table, maintenance is exact integer algebra — no
  * retrain loop, no drift monitor, no approximation:
  * [[appendToNbModel]] adds a batch's counts and
  * [[forgetFromNbModel]] subtracts them, and both are spec'd
  * EQUAL (not just equivalent) to a fresh one-shot training of the
  * resulting corpus — the only maintained artifact in the library
  * with that property (the ANN tiers need retrain verbs precisely
  * because their trained geometry is NOT additive).
  */
object Classify {

  /** ln(x) for an integer-valued column x ≥ 1, snapped to the 1e-9
    * grid and returned as an exact BIGINT in 1e-9 units: round(ln, 9)
    * lands both engines on the same DOUBLE gridpoint (ln ≥ 0, so
    * Spark's HALF_UP and DuckDB's half-away agree), and the
    * floor(v·1e9 + 0.5) recovers the grid integer from identical
    * bits — the ×1e9 sits within ~1e-6 of the integer (relative ulp
    * of a ≤4.4e10 value), far inside the +0.5 guard, and everything
    * stays ≪ 2^53. (A DECIMAL(13,9)×1e9 route would be exact too,
    * but DuckDB 1.0's decimal multiply overflows its int64 plan
    * there.) */
  private[functions] def lnE9(x: Column): Column =
    floor(round(log(x.cast("double")), 9) * lit(1e9) + lit(0.5)).cast("long")

  /** Nonzero (label, token, cnt) count rows — the model artifact's
    * storage form. One explode + one map-side-combinable aggregate;
    * the explode is fanned out behind the bounded-probe gate
    * (single-row-group inputs, r10 rule). */
  private def nbCounts(train: DataFrame, labelCol: String): DataFrame =
    Util.fanOutIfAtLeast(
        train.select(col(labelCol).as("label"), col("text")))
      .select(col("label"),
        explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("cnt"))

  /** (label, n_docs) class frame — the artifact's second (bounded)
    * table; priors come from it. */
  private def nbClasses(train: DataFrame, labelCol: String): DataFrame =
    train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))

  /** Count rows with the serving weight attached: w_e9 = ln(cnt + 1)
    * in 1e-9 units (derived, never stored — counts are the artifact,
    * weights are a view). */
  def nbModel(train: DataFrame, labelCol: String = "lang"): DataFrame =
    nbCounts(train, labelCol).withColumn("w_e9", lnE9(col("cnt") + 1))

  /** Per-class scalars (label, prior_e9, lp0_e9) from the count and
    * class frames — a labels-sized frame (bounded: labels are a
    * curated enum). vocab = |train vocabulary| and nTrain = train
    * doc count are driver scalars (the bm25 nDocs precedent: one
    * bounded aggregate each). A class whose every train doc is empty
    * keeps its prior (left join; tot coalesces to 0). */
  def nbClassScalars(counts: DataFrame, classes: DataFrame): DataFrame = {
    val vocab = counts.select(countDistinct(col("token"))).head.getLong(0)
    val nTrain = classes.agg(sum(col("n_docs"))).head.getLong(0)
    classes
      .join(counts.groupBy(col("label")).agg(sum(col("cnt")).as("tot")),
        Seq("label"), "left")
      .select(col("label"),
        (lnE9(col("n_docs")) - lnE9(lit(nTrain))).as("prior_e9"),
        (-lnE9(coalesce(col("tot"), lit(0L)) + lit(vocab))).as("lp0_e9"))
  }

  /** The full per-(doc, class) score frame (doc_id, label, score_e9)
    * — every test doc × every class, scores exact BIGINTs in 1e-9
    * units. [[classifyWithModel]] arg-maxes this; [[qualityNb]]
    * pivots it into a two-class log-odds. */
  def nbScores(model: DataFrame, classes: DataFrame,
               test: DataFrame): DataFrame =
    // the test token counts feed two branches (the in-vocab total
    // and the presence adjustments) — checkpoint once, or the test
    // tokenize replays (the quality chain passes its own
    // checkpointed count frame into the body below)
    nbScoresFromTokenCounts(model, classes,
      docTokenCounts(test).localCheckpoint(),
      test.select(col("doc_id")))

  /** The (doc_id, token, k) tokenize-and-count pass — split out so a
    * chain that both TRAINS on and SCORES the same corpus (the
    * quality distillation) can run it once and feed both sides. */
  private[functions] def docTokenCounts(docs: DataFrame): DataFrame =
    Util.fanOutIfAtLeast(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("k"))

  /** [[nbScores]] body on a PRECOMPUTED (doc_id, token, k) frame plus
    * the test id frame (one row per test doc — OOV/empty docs must
    * stay in the output, and they have no token rows). */
  private[functions] def nbScoresFromTokenCounts(
      model: DataFrame, classes: DataFrame, teCnt: DataFrame,
      testIds: DataFrame): DataFrame = {
    // the model frame feeds FOUR actions/branches (the two scalar
    // aggregates inside nbClassScalars, the distinct-token side of
    // the in-vocab total, and the presence-adjustment join): when it
    // arrives as the in-query nbCounts lineage, each one replays the
    // train-corpus tokenize — checkpoint once (for the stored-model
    // serve this just pins the small vocab-sized parquet read)
    val m = model.localCheckpoint()
    // bounded collect: one row per label (curated enum)
    val scalars = nbClassScalars(
      m.select(col("label"), col("token"), col("cnt")), classes).collect()
    val classArr = array(scalars.map { r =>
      struct(lit(r.getString(0)).as("label"),
        lit(r.getLong(1)).as("prior_e9"), lit(r.getLong(2)).as("lp0_e9"))
    }.toSeq: _*)
    // in-vocabulary token total per doc (class-independent): join the
    // distinct-token side of the model, not the (class, token) rows
    val nd = teCnt.join(m.select(col("token")).distinct(), "token")
      .groupBy(col("doc_id")).agg(sum(col("k")).as("nd"))
    // presence adjustments: shuffle join on token (model is
    // vocab-sized at scale — the bigram-LM co-partitioned shape);
    // k·w_e9 multiplies as DECIMAL(12,0)² → DECIMAL(25,0) (k per
    // doc-token < 1e12, w_e9 < 4e10 — both comfortably inside) and
    // sums exactly in decimal, one cast back at the end (|score| <
    // 2^62 for any doc under ~10^8 in-vocab tokens)
    val adj = teCnt.join(m.select(col("token"), col("label"), col("w_e9")), "token")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("k").cast(DecimalType(12, 0)) *
        col("w_e9").cast(DecimalType(12, 0))).as("adj_dec"))
      .select(col("doc_id"), col("label"), col("adj_dec").cast("long").as("adj_e9"))

    testIds
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nd"), lit(0L)).as("nd"),
        explode(classArr).as("c"))
      .select(col("doc_id"), col("c.label").as("label"),
        (col("c.prior_e9") + col("nd") * col("c.lp0_e9")).as("base_e9"))
      .join(adj, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        (col("base_e9") + coalesce(col("adj_e9"), lit(0L))).as("score_e9"))
  }

  /** Score `test` against a trained model: (doc_id, pred, score_e9) —
    * pred = argmax class (ties to the lexicographically least
    * label), score_e9 = the winning class's exact integer score in
    * 1e-9 units. Documents whose every token is out-of-vocabulary
    * (or that are empty) fall back to the prior argmax — they stay
    * in the output, one row per test doc. */
  def classifyWithModel(model: DataFrame, classes: DataFrame,
                        test: DataFrame): DataFrame =
    nbScores(model, classes, test)
      // argmax with lex-min tie-break: min over (-score, label)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score_e9")).as("neg"), col("label").as("label"))).as("m"))
      .select(col("doc_id"), col("m.label").as("pred"),
        (-col("m.neg")).as("score_e9"))
      .orderBy(col("doc_id"))

  /** Train on `train`, classify `test` — the in-query composition of
    * [[nbModel]] + [[classifyWithModel]]. */
  def classifyNbWith(train: DataFrame, test: DataFrame,
                     labelCol: String = "lang"): DataFrame =
    classifyWithModel(nbModel(train, labelCol),
      nbClasses(train, labelCol), test)

  /** classify_nb: train the NB language classifier on the doc_id%5≠0
    * carve of `documents` (80%), classify the held-out 20%. On this
    * corpus the signal is the langid marker vocabulary riding on a
    * uniform token soup — accuracy is data-limited (the §5 "test by
    * mechanism" note), but the marker mechanism is real: measured
    * 42/100 vs the 36/100 majority-class prior at sf0.01. */
  def classifyNb(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    classifyNbWith(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  /** classify_nb_eval: the confusion matrix of [[classifyNb]] on the
    * held-out carve — (label, pred, n) exact counts, the per-class
    * precision/recall numerators a gate review reads. */
  def classifyNbEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    classifyNb(s, d)
      .join(docs.select(col("doc_id"), col("lang").as("label")), "doc_id")
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))
  }

  /** classify_nb_f1: per-class precision / recall / F1 of
    * [[classifyNb]] on the held-out carve — the metrics row a gate
    * review actually reads (the confusion matrix's
    * [[classifyNbEval]] rolled into the standard summary). One row
    * per TRUE class; a predicted-only ghost class has no row (its
    * false positives still charge the classes they were stolen
    * from via pred_n).
    *
    * Determinism: every metric is a RATIONAL OF EXACT INTEGERS with
    * one IEEE division (the bm25 recipe) — precision = tp/pred_n,
    * recall = tp/true_n, and F1 collapses algebraically to
    * 2·tp/(pred_n + true_n) (no nested rounded divisions), each
    * rounded to 6 dp; all values ≥ 0, so no signed-zero wrap is
    * needed. A never-predicted class pins precision to 0 (the
    * sklearn zero_division=0 convention) rather than NULL/NaN. */
  def classifyNbF1(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // joined feeds two aggregate branches (truth and predN) —
    // checkpoint or the whole classify chain's post-checkpoint tail
    // replays per branch (shuffle-bearing; the r17 checkpoint rule)
    val joined = classifyNb(s, d)
      .join(docs.select(col("doc_id"), col("lang").as("label")), "doc_id")
      .localCheckpoint()
    val truth = joined.groupBy(col("label"))
      .agg(count(lit(1)).as("true_n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("tp"))
    val predN = joined.groupBy(col("pred"))
      .agg(count(lit(1)).as("pred_n"))
      .withColumnRenamed("pred", "label")
    truth.join(broadcast(predN), Seq("label"), "left")
      .select(col("label"), col("tp"),
        coalesce(col("pred_n"), lit(0L)).as("pred_n"), col("true_n"))
      .select(col("label"), col("tp"), col("pred_n"), col("true_n"),
        when(col("pred_n") > 0,
          round(col("tp").cast("double") / col("pred_n"), 6))
          .otherwise(lit(0.0)).as("prec"),
        round(col("tp").cast("double") / col("true_n"), 6).as("rec"),
        round((col("tp") * 2).cast("double") /
          (col("pred_n") + col("true_n")), 6).as("f1"))
      .orderBy(col("label"))
  }

  /** select_uncertain: UNCERTAINTY SAMPLING over the NB gate — the
    * active-learning step of a classifier-curated pipeline (Lewis &
    * Gale 1994; the label-budget allocator every production filter
    * loop runs: human labels are the scarcest resource, so they go to
    * the documents the model is LEAST sure about, where one label
    * moves the boundary most). Margin variant: for every held-out doc
    * the margin is score(top-1 class) − score(top-2 class) — the
    * DIFFERENCE of two exact BIGINT e9 scores, so it is exact with no
    * rounding anywhere (the quality_nb log-odds argument, applied to
    * the argmax pair) — and the `kSel` smallest margins win the
    * labeling budget (ties to the least doc_id).
    *
    * Scale shape: the score frame is the [[nbScores]] chain (one
    * vocab-keyed shuffle join); the top-2 pivot is a per-doc window
    * (millions of small partitions, never global); the budget cut is
    * an orderBy(margin, doc_id).limit(kSel) — Spark plans
    * TakeOrderedAndProject (per-partition heaps + one bounded merge),
    * never a single-partition global sort. */
  def selectUncertain(s: SparkSession, d: String, kSel: Int = 20): DataFrame = {
    val docs = Tables.documents(s, d)
    selectUncertainWith(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), kSel)
  }

  /** Carve-parameterized core of [[selectUncertain]]. */
  def selectUncertainWith(train: DataFrame, test: DataFrame,
                          kSel: Int, labelCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = nbScores(nbModel(train, labelCol), nbClasses(train, labelCol),
      test)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e9").desc, col("label"))
    sc.withColumn("r", row_number().over(w))
      .filter(col("r") <= 2)
      .groupBy(col("doc_id"))
      .agg(max(when(col("r") === 1, col("label"))).as("pred"),
        max(when(col("r") === 1, col("score_e9"))).as("s1"),
        max(when(col("r") === 2, col("score_e9"))).as("s2"))
      .select(col("doc_id"), col("pred"),
        (col("s1") - col("s2")).as("margin_e9"))
      .orderBy(col("margin_e9"), col("doc_id"))
      .limit(kSel)
  }

  /** quality_nb: the CCNet-DISTILLATION quality filter (Wenzek et
    * al. 2020 §4.3; the fastText quality classifier of the GPT-3 /
    * RedPajama pipelines): label the corpus by its own LM-perplexity
    * tertiles ([[TextFunctions.ccnetBuckets]] — head = fluent, tail
    * = suspect), train the NB classifier on the head-vs-tail token
    * distributions, and score EVERY document with the head-vs-tail
    * log-odds. The payoff at 100 TB is the distillation: the LM
    * chain runs once over the label carve, and from then on new
    * documents are gated by one cheap token-count join against the
    * vocab-sized model (the quality_distill argument, with a
    * classifier instead of a regression).
    *
    * Output (doc_id, logodds_e9, keep): logodds_e9 = score(head) −
    * score(tail) — the DIFFERENCE of two exact BIGINT scores, so it
    * is exact with no rounding anywhere; keep = logodds > 0 (strict:
    * a zero log-odds — e.g. an all-OOV doc under equal-size tertile
    * carves — is not positive evidence of fluency). Middle-tertile
    * docs train nothing but are scored like everything else. */
  def qualityNb(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (buckets, tokCnt) = qualityInputs(docs)
    qualityLogOdds(qualityScoresWithCounts(tokCnt,
      docs.select(col("doc_id")), buckets))
  }

  /** ONE tokenize pass for the WHOLE quality chain: the checkpointed
    * token stream feeds the LM-bigram view (the tertile labeling —
    * lead window + bigram aggs) AND the token-count view (NB training
    * + scoring) — previously two independent corpus tokenizes, the
    * r15 verdict's named shave. The doc-bigram frame is checkpointed
    * too: it feeds three LM plan branches (model, ctx, the scoring
    * join), each of which would otherwise replay the lead window
    * (the ≥3-branch eager-checkpoint rule). Returns (bucket carve,
    * per-doc token counts). */
  private def qualityInputs(docs: DataFrame): (DataFrame, DataFrame) = {
    // measured at sf0.1 (same filtered-Bench harness, best-of-2):
    // this shape 5.03/5.05s (nb/eval) vs the r15 two-tokenize shape
    // 5.46/5.92 and a docBg-checkpoint-only variant 5.61/6.61 — the
    // materialized occurrence stream pays for itself by feeding both
    // the bigram window and the token-count groupBy
    val toks = TextFunctions.docTokenStream(docs).localCheckpoint()
    val docBg = TextFunctions.docBigramsFromToks(toks).localCheckpoint()
    val buckets = TextFunctions.ccnetBucketsScored(
        TextFunctions.ngramLmScoreOnBg(docBg))
      .select(col("doc_id"), col("bucket"))
    val tokCnt = toks.groupBy(col("doc_id"), col("w1").as("token"))
      .agg(count(lit(1)).as("k"))
    (buckets, tokCnt)
  }

  /** The quality chain's score frame from precomputed per-doc token
    * counts and a bucket carve: NB training takes the labeled-carve
    * counts via a doc_id join on the per-doc counts (Σ_doc k ≡ the
    * direct explode count, exact), scoring reuses the same frame.
    * The counts are localCheckpoint'd: training and scoring are
    * separate plan branches over them, and lineage would replay the
    * groupBy per branch (the r12 recompute trap); eager checkpoint
    * here is safe because [[nbScoresFromTokenCounts]] forces an
    * action (the class-scalar collect) before this method returns. */
  private def qualityScoresWithCounts(tokCnt: DataFrame, docIds: DataFrame,
                                      buckets: DataFrame): DataFrame = {
    val tok = tokCnt.localCheckpoint()
    val lbl = buckets.filter(col("bucket").isin("head", "tail"))
    val counts = tok
      .join(lbl.select(col("doc_id"), col("bucket").as("label")), "doc_id")
      .groupBy(col("label"), col("token")).agg(sum(col("k")).as("cnt"))
    val classes = lbl.groupBy(col("bucket").as("label"))
      .agg(count(lit(1)).as("n_docs"))
    nbScoresFromTokenCounts(counts.withColumn("w_e9", lnE9(col("cnt") + 1)),
      classes, tok, docIds)
  }

  /** The quality training carve: docs labeled by their LM-ppl
    * tertile, head/tail kept (middle trains nothing). */
  private def qualityLabeled(docs: DataFrame): DataFrame =
    docs.join(
      TextFunctions.ccnetBuckets(docs)
        .filter(col("bucket").isin("head", "tail"))
        .select(col("doc_id"), col("bucket")), "doc_id")

  /** Pivot the two-class score frame into the head-vs-tail log-odds
    * — shared by the in-query [[qualityNb]] and the stored-artifact
    * [[qualityNbServeBatch]] (one code path, the two cannot drift). */
  private def qualityLogOdds(scores: DataFrame): DataFrame =
    scores.groupBy(col("doc_id"))
      .agg(max(when(col("label") === "head", col("score_e9"))).as("h"),
        max(when(col("label") === "tail", col("score_e9"))).as("t"))
      .select(col("doc_id"), (col("h") - col("t")).as("logodds_e9"),
        (col("h") > col("t")).as("keep"))
      .orderBy(col("doc_id"))

  /** classify_centroid: ROCCHIO nearest-centroid classification over
    * the embedding column — the classifier family's embedding
    * modality (route-by-domain over vectors, the counterpart of the
    * token-space [[classifyNb]]): train = per-class centroid of the
    * vec_id%5≠0 carve, test vectors take the class whose centroid
    * they are most cosine-similar to. Cosine is SCALE-INVARIANT, so
    * the class coordinate SUM replaces the mean and the chain never
    * divides by a count: coordinates snap per-term to 1e-6-unit
    * BIGINTs, class sums are exact order-independent BIGINT
    * aggregates (the retrained-in-SQL property — no artifact
    * literals in the oracle), and the score is the ann_ivf_white
    * cos_e6 chain — exact integer dot + two exact integer norms
    * combined by one fixed scalar IEEE expression (÷, √, ×1e6,
    * floor), bit-identical cross-engine. Argmax on the ROUNDED
    * cos_e6 with least-label tie-break.
    *
    * Integer bounds: coords ≤ ~1e6 in e6 units, so a class sum stays
    * ≪ 2^63 up to ~10^5 vectors per class and the dot/norm products
    * stay inside BIGINT with 10× headroom; beyond that, route the
    * sums through DECIMAL(38,0) (the emb_pca precedent) — the
    * argmax semantics don't change.
    *
    * Scale shape: training is one posexplode + groupBy(label, j) —
    * map-side combinable, C·dim output rows (tiny, collected);
    * scoring is a broadcast typed map over the test vectors —
    * corpus-size-independent per-vector work, no join at all. */
  def classifyCentroid(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    classifyCentroidWith(emb.filter(col("vec_id") % 5 =!= 0),
      emb.filter(col("vec_id") % 5 === 0))
  }

  private def snapE6(v: Array[Float]): Array[Long] = Util.snapE6(v)

  /** Per-class exact e6-unit coordinate sums — (label, j, s), C·dim
    * rows (bounded by the curated label enum × the embedding dim).
    * This frame IS the centroid-model artifact's storage form: like
    * the NB count table, it is pure sum algebra, so the maintained
    * artifact's append/forget are EXACT (spec'd equal to fresh
    * training — the second artifact family with that property). */
  private def centroidSums(train: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    train.select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .map { case (l, v) => (l, snapE6(v)) }
      .toDF("label", "c")
      .select(col("label"), posexplode(col("c")).as(Seq("j", "cj")))
      .groupBy(col("label"), col("j")).agg(sum(col("cj")).as("s"))
  }

  /** (label, n_vecs) class frame of the centroid artifact — the
    * bookkeeping that lets forget drop a class whose every training
    * vector is erased (its sum rows cancel to zero but a FRESH
    * training of the survivors would have no rows at all). */
  private def centroidClasses(train: DataFrame): DataFrame =
    train.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))

  /** Collected (label, sumVec, |S|²) centroid array from a sums
    * frame — label-sorted so the broadcast is deterministic. */
  private def collectCentroids(sums: DataFrame): Array[(Int, Array[Long], Long)] =
    sums.collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (l, rows) =>
        val vec = rows.sortBy(_.getInt(1)).map(_.getLong(2))
        (l, vec, vec.map(x => x * x).sum) // |S|^2 exact
      }

  def classifyCentroidWith(train: DataFrame, test: DataFrame): DataFrame =
    scoreAgainstCentroids(collectCentroids(centroidSums(train)), test)

  /** The shared scoring pass: one broadcast typed map over the test
    * vectors (corpus-size-independent per-vector work) — the body the
    * in-query form and [[classifyCentroidServeBatch]] both run, so
    * serving the stored artifact is bit-identical to in-query
    * training on the same corpus. */
  private def scoreAgainstCentroids(cents: Array[(Int, Array[Long], Long)],
                                    test: DataFrame): DataFrame = {
    val spark = test.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    test.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = snapE6(v)
        var qn = 0L; var j = 0
        while (j < q.length) { qn += q(j) * q(j); j += 1 }
        var bestL = Int.MaxValue; var bestC = Long.MinValue
        for ((l, sv, sn) <- bc.value) {
          var dot = 0L; var i = 0
          while (i < q.length) { dot += q(i) * sv(i); i += 1 }
          // the ann_ivf_white scalar chain — division first, then the
          // 1e6 scale, floor: the oracle writes the identical tree
          val cE6 = math.floor(dot.toDouble /
            (math.sqrt(qn.toDouble) * math.sqrt(sn.toDouble)) *
            1e6 + 0.5).toLong
          if (cE6 > bestC || (cE6 == bestC && l < bestL)) {
            bestC = cE6; bestL = l
          }
        }
        (id, bestL, bestC)
      }
      .toDF("vec_id", "pred", "cos_e6")
      .orderBy(col("vec_id"))
  }

  /** classify_knn: k-NEAREST-NEIGHBOR classification over the
    * embedding column — classification VIA RETRIEVAL (the third
    * classifier modality after token-space NB and the parametric
    * centroid): each test vector takes the majority label of its
    * k=5 nearest TRAIN vectors by exact-integer cosine, vote ties to
    * the least label. The non-parametric gate a curation pipeline
    * reaches for when class boundaries aren't linear — and the one
    * that composes directly with the ANN serving tiers (the top-k
    * here IS the ann query, run against the train carve).
    *
    * Scale shape: the pair generation is the exhaustive IVF bucket
    * equi-join (corpus rows keep their single assigned bucket,
    * queries probe ALL nlist buckets — each pair meets exactly once
    * in a hash join, never a BroadcastNestedLoopJoin; the
    * search_hybrid/ann_prefix precedent), scoring is one typed pass
    * (e6-snapped integer dot + norms, the cos_e6 scalar chain), the
    * top-k is a per-query window over the radius the broadcasted
    * query index already bounded. The bucketing exists purely to
    * shape the join — exhaustive probing makes the RESULT
    * centroid-independent, so the oracle brute-forces without
    * artifact literals. At scale, serve the same vote off the stored
    * IVF layout at pruned nprobe (annIvfServeBatch + the vote). */
  def classifyKnn(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val codec = Similarity.FloatCodec(Similarity.ivfCentroids(s, d))
    val train = codec.assign(withE6(emb.filter(col("vec_id") % 5 =!= 0)
        .select(col("vec_id").as("neighbor_id"), col("label"), col("embedding")), "vc"))
      .drop("embedding")
    val queries = codec.probe(withE6(emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("query_id"), col("embedding")), "qc"), codec.nlist)
      .drop("embedding")
    knnVote(scorePairsE6(train.join(broadcast(queries), Seq("bucket"))), k)
  }

  /** mine_hard_negatives: HARD-NEGATIVE MINING for contrastive /
    * retrieval training (the ANCE / DPR / RocketQA stage; the "hard"
    * complement of contrastive_triplets' salted-RANDOM negatives):
    * for each query vector, the k corpus vectors MOST cosine-similar
    * to it among those with a DIFFERENT label — the cross-boundary
    * near-misses that carry the training gradient random negatives
    * waste (same-label neighbors are excluded as false negatives,
    * the standard supervised filter). Output (query_id, rank,
    * neighbor_id, label, cos_e6), rank 1..k by (cos desc,
    * neighbor_id).
    *
    * Determinism: the [[classifyKnn]] chain verbatim — e6-snapped
    * integer coordinates, exact integer dot/norms, cos_e6 one fixed
    * scalar IEEE expression, ranks id-tie-broken.
    *
    * Scale shape: pair generation is the same exhaustive IVF bucket
    * equi-join (corpus keeps its assigned bucket, queries probe all
    * nlist buckets — every pair meets exactly once in a hash join,
    * never a BNLJ), the label exclusion applies INSIDE the candidate
    * join, and the top-k is a per-query window. Exhaustive probing
    * keeps the result centroid-independent (the oracle brute-forces
    * with no artifact literal); at 100 TB serve the same mine off
    * the stored labeled layout at pruned nprobe
    * ([[classifyKnnServeBatch]]'s scan with the rank cut instead of
    * the vote). */
  def mineHardNegatives(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val codec = Similarity.FloatCodec(Similarity.ivfCentroids(s, d))
    val corpus = codec.assign(withE6(emb.select(col("vec_id").as("neighbor_id"),
        col("label"), col("embedding")), "vc"))
      .drop("embedding")
    val queries = codec.probe(withE6(emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding")), "qc"), codec.nlist)
      .drop("embedding")
    // the probe frame is corpus-linear (10% of rows × nlist buckets),
    // so broadcasting it would grow with the corpus and hit the
    // broadcast ceiling at Scale10 multipliers — shuffle-hash the
    // bucket equi-join instead (build side = the smaller corpus
    // frame), the exhaustivePairsFor shape without the bounded-probe
    // broadcast assumption
    val cand = corpus.hint("shuffle_hash").join(queries, Seq("bucket"))
      .filter(col("label") =!= col("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_e6").desc, col("neighbor_id"))
    scorePairsE6(cand)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("label"), col("cos_e6"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** `frame` with its `embedding` snapped to the e6 grid appended as
    * `to` (one typed pass; every other column kept). */
  private def withE6(frame: DataFrame, to: String): DataFrame =
    Similarity.appendFromEmbedding(frame, StructField(to,
      ArrayType(LongType, containsNull = false), nullable = false))(v =>
      Iterator.single(Seq(snapE6(v))))

  /** The exact-integer pair scorer shared by the in-query
    * [[classifyKnn]] and the stored-layout serve: input columns
    * (query_id, neighbor_id, label, qc, vc) with qc/vc e6-snapped
    * coordinate arrays; output adds cos_e6 via the fixed scalar IEEE
    * chain on exact integers (bit-identical wherever the same pair
    * meets). */
  private def scorePairsE6(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs
      .select(col("query_id"), col("neighbor_id"), col("label"),
        col("qc"), col("vc"))
      .as[(Long, Long, Int, Array[Long], Array[Long])]
      .map { case (q, n, l, qc, vc) =>
        var dot = 0L; var qn = 0L; var vn = 0L; var j = 0
        while (j < qc.length) {
          dot += qc(j) * vc(j); qn += qc(j) * qc(j); vn += vc(j) * vc(j)
          j += 1
        }
        (q, n, l, math.floor(dot.toDouble /
          (math.sqrt(qn.toDouble) * math.sqrt(vn.toDouble)) *
          1e6 + 0.5).toLong)
      }
      .toDF("query_id", "neighbor_id", "label", "cos_e6")
  }

  /** The k-NN majority vote over a scored pair frame: per query, keep
    * the k nearest by (cos_e6 desc, neighbor_id), count votes per
    * label, majority with least-label tie-break. Output (vec_id,
    * pred, votes), sorted. */
  private def knnVote(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_e6").desc, col("neighbor_id"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= k)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      // majority with least-label tie-break: min over (-votes, label)
      .groupBy(col("query_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("label").as("label"))).as("m"))
      .select(col("query_id").as("vec_id"), col("m.label").as("pred"),
        (-col("m.nv")).as("votes"))
      .orderBy(col("vec_id"))
  }

  // ---- maintained model artifact -----------------------------------------

  /** Write the trained model at `dir`: `model/` = the nonzero
    * (label, token, cnt) count table, `classes/` = (label, n_docs).
    * Counts, not weights, are stored — weights are a derived view
    * ([[nbModel]]), so maintenance stays pure integer algebra. */
  def writeNbModel(train: DataFrame, dir: String,
                   labelCol: String = "lang"): Unit = {
    nbCounts(train, labelCol).write.mode("overwrite").parquet(s"$dir/model")
    nbClasses(train, labelCol).write.mode("overwrite").parquet(s"$dir/classes")
  }

  /** Incremental training: add a labeled batch's counts into the
    * stored model. EXACT — the merged artifact equals a fresh
    * [[writeNbModel]] of the concatenated corpus (count algebra;
    * spec'd equal, not just equivalent). */
  def appendToNbModel(batch: DataFrame, dir: String,
                      labelCol: String = "lang"): Unit = {
    val s = batch.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val model = s.read.parquet(s"$dir/model")
        .unionByName(nbCounts(batch, labelCol))
        .groupBy(col("label"), col("token")).agg(sum(col("cnt")).as("cnt"))
      val classes = s.read.parquet(s"$dir/classes")
        .unionByName(nbClasses(batch, labelCol))
        .groupBy(col("label")).agg(sum(col("n_docs")).as("n_docs"))
      model.write.parquet(s"$tmp/model")
      classes.write.parquet(s"$tmp/classes")
    }
  }

  /** Erasure: subtract the victim documents' token counts from the
    * stored model — rows whose count reaches zero disappear, classes
    * whose doc count reaches zero disappear, and the result is
    * EXACTLY the model a fresh training of the survivors would write
    * (spec'd in ErasureSpec). The caller passes the victim DOCS (the
    * pipeline still holds them at forget time — the
    * Pipeline.forgetDocs shape): an aggregate count table carries no
    * per-doc attribution to erase by id alone, and storing one would
    * recreate the corpus-sized sidecar the aggregate exists to
    * avoid. */
  def forgetFromNbModel(victims: DataFrame, dir: String,
                        labelCol: String = "lang"): Unit = {
    val s = victims.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val model = s.read.parquet(s"$dir/model")
        .unionByName(nbCounts(victims, labelCol)
          .withColumn("cnt", -col("cnt")))
        .groupBy(col("label"), col("token")).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") > 0)
      val classes = s.read.parquet(s"$dir/classes")
        .unionByName(nbClasses(victims, labelCol)
          .withColumn("n_docs", -col("n_docs")))
        .groupBy(col("label")).agg(sum(col("n_docs")).as("n_docs"))
        .filter(col("n_docs") > 0)
      model.write.parquet(s"$tmp/model")
      classes.write.parquet(s"$tmp/classes")
    }
  }

  /** Serve from the stored artifact — bit-identical to the in-query
    * [[classifyNbWith]] of the same train corpus (spec'd): weights
    * re-derive from the stored counts on the same 1e-9 grid. */
  def classifyNbServeBatch(s: SparkSession, dir: String,
                           test: DataFrame): DataFrame = {
    val counts = s.read.parquet(s"$dir/model")
    classifyWithModel(counts.withColumn("w_e9", lnE9(col("cnt") + 1)),
      s.read.parquet(s"$dir/classes"), test)
  }

  /** quality_nb_eval: DISTILLATION FIDELITY of [[qualityNb]] — how
    * the distilled keep verdict lands on the LM tertiles themselves
    * (the CCNet paper's own sanity readout: head should mostly keep,
    * tail mostly drop; middle is where the boundary genuinely lives).
    * Exact (bucket, keep, n) counts — the 2×3 confusion a gate
    * review reads before shipping the distilled filter. Composes the
    * two chains as a join of their outputs (the select_learnability
    * composition shape). */
  def qualityNbEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // ONE shared chain (its token stream, doc-bigrams and ppl frame
    // all localCheckpoint internally): the training carve, the
    // scoring pass and the eval join all derive from it — calling
    // qualityNb here instead would re-run the whole LM chain a
    // second time (the r12 lineage-recompute trap; measured
    // 7.7 → ~4s at sf0.1, → ~4.1s with the r16 one-tokenize share)
    val (buckets, tokCnt) = qualityInputs(docs)
    qualityLogOdds(qualityScoresWithCounts(tokCnt,
        docs.select(col("doc_id")), buckets))
      .join(buckets, "doc_id")
      .groupBy(col("bucket"), col("keep"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"), col("keep"))
  }

  // ---- maintained quality-model artifact (CCNet distillation) -------------

  /** Write the DISTILLED quality filter as a maintained artifact —
    * the point of [[qualityNb]] at 100 TB: the expensive LM +
    * tertile-labeling chain runs ONCE over the reference corpus, the
    * resulting head/tail NB model ships, and from then on every new
    * document gates on one token-count join against the vocab-sized
    * model ([[qualityNbServeBatch]]). Layout: `model/` + `classes/`
    * (the [[writeNbModel]] tables at labelCol = bucket) plus
    * `labels/` = the (doc_id, bucket) TRAINING ATTRIBUTION. The
    * labels sidecar exists because tertile labels are CORPUS-LEVEL
    * statistics — a victim's label cannot be recomputed from the
    * victim alone at forget time (re-running the chain over the
    * drifted corpus would relabel everything), which is exactly the
    * case where an aggregate artifact must store its own attribution
    * (unlike [[forgetFromNbModel]], whose caller holds the labels);
    * it is two thin columns over the head/tail carve only.
    *
    * No append verb BY DESIGN: the CCNet loop labels data by the
    * reference corpus's own perplexity distribution — new raw data
    * has no labels until a full re-labeling pass, so "append" is a
    * retrain ([[writeQualityModel]] again), not count algebra. */
  def writeQualityModel(docs: DataFrame, dir: String): Unit = {
    val labeled = qualityLabeled(docs)
    writeNbModel(labeled, dir, "bucket")
    labeled.select(col("doc_id"), col("bucket"))
      .write.mode("overwrite").parquet(s"$dir/labels")
  }

  /** Score a batch against the stored quality model — bit-identical
    * to the in-query [[qualityNb]] of the training corpus (spec'd):
    * weights re-derive from the stored counts on the same 1e-9 grid
    * and the log-odds pivot is the shared [[qualityLogOdds]]. A
    * DRAINED artifact (every labeled doc forgotten — classes/ holds
    * zero rows) serves an empty frame instead of throwing (the
    * drift-monitor zeroed-stats discipline): there is no ruler left
    * to measure with, and the caller decides whether that means
    * "pass" or "retrain". */
  def qualityNbServeBatch(s: SparkSession, dir: String,
                          batch: DataFrame): DataFrame = {
    import s.implicits._
    val classes = s.read.parquet(s"$dir/classes")
    if (classes.limit(1).count() == 0) // bounded drained-artifact probe
      return Seq.empty[(Long, Long, Boolean)]
        .toDF("doc_id", "logodds_e9", "keep")
    val counts = s.read.parquet(s"$dir/model")
    qualityLogOdds(nbScores(counts.withColumn("w_e9", lnE9(col("cnt") + 1)),
      classes, batch))
  }

  /** Erasure: subtract the victim documents' token counts from the
    * stored quality model, attributing each victim to its STORED
    * bucket label (`labels/` — see [[writeQualityModel]] for why the
    * attribution is stored here and caller-provided in
    * [[forgetFromNbModel]]). Survivors keep their ORIGINAL labels —
    * the artifact stays "trained at bootstrap, with the victims'
    * contributions removed", spec'd EQUAL to a fresh
    * [[writeNbModel]] of the surviving labeled rows (re-deriving
    * tertiles over survivors would be a RETRAIN, a different
    * operation). Middle-tertile victims trained nothing and subtract
    * nothing; labels/ drops the victims either way. */
  def forgetFromQualityModel(victimDocs: DataFrame, dir: String): Unit = {
    val s = victimDocs.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val labels = s.read.parquet(s"$dir/labels")
      val victims = victimDocs.select(col("doc_id"), col("text"))
        .join(labels, "doc_id")
      val model = s.read.parquet(s"$dir/model")
        .unionByName(nbCounts(victims, "bucket")
          .withColumn("cnt", -col("cnt")))
        .groupBy(col("label"), col("token")).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") > 0)
      val classes = s.read.parquet(s"$dir/classes")
        .unionByName(nbClasses(victims, "bucket")
          .withColumn("n_docs", -col("n_docs")))
        .groupBy(col("label")).agg(sum(col("n_docs")).as("n_docs"))
        .filter(col("n_docs") > 0)
      val survivors = labels.join(victimDocs.select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      model.write.parquet(s"$tmp/model")
      classes.write.parquet(s"$tmp/classes")
      survivors.write.parquet(s"$tmp/labels")
    }
  }

  // ---- maintained centroid-model artifact ---------------------------------

  /** Write the trained Rocchio centroid model at `dir`: `sums/` = the
    * (label, j, s) exact e6-unit coordinate sums (C·dim rows),
    * `classes/` = (label, n_vecs). Sums, not means, are stored —
    * cosine scale-invariance makes the sum THE centroid, so the
    * artifact is additive and maintenance stays exact integer
    * algebra, the [[writeNbModel]] property carried to the embedding
    * modality. */
  def writeCentroidModel(train: DataFrame, dir: String): Unit = {
    centroidSums(train).write.mode("overwrite").parquet(s"$dir/sums")
    centroidClasses(train).write.mode("overwrite").parquet(s"$dir/classes")
  }

  /** Incremental training: add a labeled batch's coordinate sums into
    * the stored model. EXACT — the merged artifact equals a fresh
    * [[writeCentroidModel]] of the concatenated corpus (sum algebra;
    * spec'd equal, not just equivalent). A class new to the batch
    * appears with its batch sums, like fresh training would write. */
  def appendToCentroidModel(batch: DataFrame, dir: String): Unit = {
    val s = batch.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val sums = s.read.parquet(s"$dir/sums")
        .unionByName(centroidSums(batch))
        .groupBy(col("label"), col("j")).agg(sum(col("s")).as("s"))
      val classes = s.read.parquet(s"$dir/classes")
        .unionByName(centroidClasses(batch))
        .groupBy(col("label")).agg(sum(col("n_vecs")).as("n_vecs"))
      sums.write.parquet(s"$tmp/sums")
      classes.write.parquet(s"$tmp/classes")
    }
  }

  /** Erasure: subtract the victim vectors' coordinates from the
    * stored sums — a class whose vector count reaches zero disappears
    * entirely (its sum rows would cancel to all-zero, but a fresh
    * training of the survivors has NO rows for an absent class, and
    * the spec demands EQUALITY, so surviving sum rows are kept by a
    * semi-join on the surviving classes, zero-valued coordinates of
    * live classes included — fresh training emits those too). The
    * caller passes the victim VECTORS (the forgetFromNbModel shape:
    * an aggregate artifact carries no per-vector attribution to erase
    * by id alone). */
  def forgetFromCentroidModel(victims: DataFrame, dir: String): Unit = {
    val s = victims.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val classes = s.read.parquet(s"$dir/classes")
        .unionByName(centroidClasses(victims)
          .withColumn("n_vecs", -col("n_vecs")))
        .groupBy(col("label")).agg(sum(col("n_vecs")).as("n_vecs"))
        .filter(col("n_vecs") > 0)
      val sums = s.read.parquet(s"$dir/sums")
        .unionByName(centroidSums(victims).withColumn("s", -col("s")))
        .groupBy(col("label"), col("j")).agg(sum(col("s")).as("s"))
        .join(classes.select(col("label")), Seq("label"), "left_semi")
      sums.write.parquet(s"$tmp/sums")
      classes.write.parquet(s"$tmp/classes")
    }
  }

  /** Serve from the stored centroid artifact — bit-identical to the
    * in-query [[classifyCentroidWith]] of the same train corpus
    * (spec'd): the collected centroid array rebuilds from the stored
    * exact sums, and the scoring pass is the shared body. */
  def classifyCentroidServeBatch(s: SparkSession, dir: String,
                                 test: DataFrame): DataFrame =
    scoreAgainstCentroids(collectCentroids(s.read.parquet(s"$dir/sums")),
      test)

  // ---- pruned kNN-classification serving over the labeled layout ---------
  //
  // Both serves read the stored LABELED layout
  // ([[graft.operators.Similarity.LabeledCodec]]): (vec_id, bucket,
  // embedding, label) rows, so the label rides the pruned scan and
  // serving never pays a corpus-linear label join. Every layout verb of
  // the one lifecycle applies (append, delete, compact, retrain).

  /** Default probe width for the kNN-classification serve: wider
    * than the raw ANN IvfNprobe=16 because the VOTE is more fragile
    * than the pair list — missing one true neighbor flips a 3-2
    * majority even when recall@5 stays high. Measured agreement vs
    * the exhaustive vote (sf0.01, isotropic corpus): nprobe
    * 12/16/20/24/28/32 → 0.68/0.75/0.87/0.95/0.98/1.00 — 24 is the
    * knee (+0.08 over 20, while 28 buys only +0.03); the same knee
    * FilteredNprobe sits on, for the same missing-candidate reason. */
  private[graft] val ClsNprobe = 24

  /** Serve ONE batch of queries against the stored labeled layout:
    * each query probes its `nprobe` nearest centroids, the batch's
    * probed bucket set prunes the scan to those partition directories
    * (per-batch cost tracks probes, not corpus size — the
    * annIvfServeBatch discipline), candidates score through the
    * exact-integer cos_e6 chain and the k-NN majority vote. At
    * exhaustive nprobe (= nlist) this is bit-identical to the
    * in-query [[classifyKnn]] of the same carves (spec'd); at the
    * pruned default the vote agreement vs exhaustive is the measured
    * channel (RecallSpec floor). `excludeSelf` defaults FALSE — query
    * ids are an independent id space from corpus vec_ids (the r12
    * serving rule). */
  def classifyKnnServeBatch(s: SparkSession, dir: String,
                            codec: Similarity.LabeledCodec,
                            queries: DataFrame, k: Int = 5,
                            nprobe: Int = ClsNprobe,
                            excludeSelf: Boolean = false): DataFrame = {
    val (cand, _) = Similarity.probedCandidates(s, dir, codec,
      withE6(queries.select(col("query_id"), col("embedding")), "qc"), nprobe,
      excludeSelf, decode = withE6(_, "vc"))
    knnVote(scorePairsE6(cand.withColumnRenamed("vec_id", "neighbor_id")), k)
  }

  /** Serve hard-negative mining off the stored LABELED layout — the
    * production form of [[mineHardNegatives]] (whose in-query shape
    * probes exhaustively for oracle independence): each query probes
    * its `nprobe` nearest centroids, the batch's probed bucket set
    * prunes the scan, the CROSS-LABEL filter applies inside the
    * candidate join, and the per-query top-k by (cos_e6 desc, id)
    * answers. Queries carry their own `label`; tombstoned corpus
    * rows subtract. At exhaustive nprobe (= nlist) this is
    * bit-identical to the in-query miner over the same corpus
    * (spec'd — the classifyKnnServeBatch discipline). */
  def mineHardNegativesServeBatch(s: SparkSession, dir: String,
                                  codec: Similarity.LabeledCodec,
                                  queries: DataFrame, k: Int = 5,
                                  nprobe: Int = ClsNprobe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (cand0, _) = Similarity.probedCandidates(s, dir, codec,
      withE6(queries.select(col("query_id"), col("label"), col("embedding")), "qc"),
      nprobe, excludeSelf = false, decode = withE6(_, "vc"))
    val cand = cand0.withColumnRenamed("vec_id", "neighbor_id")
      .filter(col("label") =!= col("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_e6").desc, col("neighbor_id"))
    scorePairsE6(cand)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("label"), col("cos_e6"))
      .orderBy(col("query_id"), col("rank"))
  }
}
