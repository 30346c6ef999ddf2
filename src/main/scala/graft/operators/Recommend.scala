package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Collaborative-filtering recommender tier — the maintained-model
  * form of `recommend_collab` (the reference's phase-3
  * "recommendation engine", VISUALIZATION_PLAN.md:70).
  *
  * The model is PURE COUNT ALGEBRA (the NB-model property, on
  * interactions instead of tokens): `pairs/` = (i, j, c) shared-user
  * co-occurrence counts over i < j, `items/` = (item, n)
  * distinct-user interaction counts. Cosines, ranks and the top-k
  * cut are DERIVED views (never stored), so maintenance verbs are
  * exact BIGINT adds/subtracts and the maintained artifact is spec'd
  * EQUAL to fresh training — the cut-irreversibility that forces
  * [[Similarity.forgetFromKnnGraph]] into refill surgery never
  * arises because the full (support-sparse, catalog-bounded) pair
  * table is the artifact.
  *
  * Maintenance contract: interactions arrive and leave as WHOLE
  * USERS (append = a day's new users, forget = the
  * right-to-be-forgotten user's full interaction set, passed by the
  * caller — the [[graft.functions.Classify.forgetFromNbModel]]
  * shape). Per-user deltas of an existing user would need that
  * user's stored history to pair against, which is exactly the
  * corpus-sized sidecar the aggregate exists to avoid.
  *
  * Scale shape: pair generation is the shared-user equi-join (cost
  * Σ_u d_u² — the classic item-CF bound), the model is bounded by
  * catalog² co-occurrence support (not the corpus), and serving is
  * one join of a user's history against the model + a per-user
  * window — corpus-size-independent once trained.
  */
object Recommend {

  /** Engagement interactions: distinct (user_id, item), item = the
    * `props.k` id (the q8 extraction). */
  def interactions(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .distinct()

  /** Deterministic per-user interaction cap — the skew guard ahead
    * of [[pairCounts]]: the shared-user equi-join costs Σ_u d_u², so
    * ONE pathological user (a bot/crawler account touching 10^5
    * catalog items) generates 10^10 pair rows out of a single join
    * key — an un-splittable straggler no salt can divide (the rows
    * genuinely belong to one group). The cap bounds d_u ≤ `cap` by
    * keeping each user's top-`cap` interactions in the md5 order
    * already used for holdout selection ([[recommendEvalOn]]):
    * hv = the 32-bit md5 prefix of "user:item" (conv on 8 nibbles is
    * exact — the A-ES rule), ties broken by item — a deterministic
    * pseudorandom SAMPLE of the user's history, reproducible
    * cross-engine (the digit-sum recipe) and STABLE under erasure:
    * a user's capped set depends only on their own (user, item)
    * pairs, so append/forget of whole users commutes with the cap.
    *
    * Capped output ⊆ the raw interactions and per-user counts ≤ cap
    * (spec'd); pair counts under the cap are ≤ the uncapped counts.
    * Bench-scale oracle queries keep the uncapped default — the cap
    * is the 100 TB ingestion guard, oracle-gated via
    * `recommend_capped`. */
  def capInteractions(inter: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cap_hv"), col("item"))
    inter
      .withColumn("cap_hv", expr(
        "CAST(conv(substring(md5(concat(user_id, ':', item)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("cap_rn", row_number().over(w))
      .filter(col("cap_rn") <= cap)
      .drop("cap_hv", "cap_rn")
  }

  /** (i, j, c) shared-user pair counts over i < j — exact BIGINTs
    * from the per-user equi-join. */
  private[graft] def pairCounts(inter: DataFrame): DataFrame =
    inter.as("a")
      .join(inter.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("c"))

  /** (item, n) distinct-user counts. */
  private[graft] def itemCounts(inter: DataFrame): DataFrame =
    inter.groupBy(col("item")).agg(count(lit(1)).as("n"))

  /** Ranked top-k recommendations from the two count frames — the
    * ONE scoring body shared by the in-query `recommend_collab` and
    * the stored-model serve (no drift possible): symmetrize the
    * i<j pairs, cosine = c/√(n_i·n_j) through one IEEE expression
    * snapped e6 (the ann cos_e6 recipe), rank (cos desc, rec_item)
    * per item, cut at k. */
  private[graft] def topKFromCounts(pairs: DataFrame, items: DataFrame,
                                    k: Int, ordered: Boolean = true)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("i")).orderBy(col("cos_e6").desc, col("j"))
    val cut = scoredSym(pairs, items)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("i").as("item"), col("rank"), col("j").as("rec_item"),
        col("c").as("shared_users"), col("cos_e6"))
    // the global sort is presentation-only — fused/derived consumers
    // (rrfFuse re-ranks) skip the two range-partition+sort shuffles
    if (ordered) cut.orderBy(col("item"), col("rank")) else cut
  }

  /** The symmetrized, cosine-scored pair frame (i, j, c, cos_e6) —
    * the rank-free core [[topKFromCounts]] windows over and
    * [[recommendForUsers]] votes with (no per-item window on the
    * serve path: the vote aggregates ALL of a history item's
    * neighbors, so a rank cut there would be both wasted work and a
    * recall hole). */
  private def scoredSym(pairs: DataFrame, items: DataFrame): DataFrame =
    scoreSym(symPairs(pairs), items)

  /** Symmetrize the i<j pair counts to both orientations. */
  private def symPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("i"), col("j"), col("c"))
      .union(pairs.select(col("j").as("i"), col("i").as("j"), col("c")))

  /** Cosine-score an already-symmetrized pair frame. */
  private def scoreSym(sym: DataFrame, items: DataFrame): DataFrame =
    sym
      .join(broadcast(items.select(col("item").as("i"), col("n").as("ni"))),
        Seq("i"))
      .join(broadcast(items.select(col("item").as("j"), col("n").as("nj"))),
        Seq("j"))
      .withColumn("cos_e6",
        floor(col("c").cast("double") /
          (sqrt(col("ni").cast("double")) * sqrt(col("nj").cast("double"))) *
          lit(1e6) + lit(0.5)).cast("long"))

  /** In-query form over an interaction frame (Relational
    * .recommendCollab wraps this over the events table). The
    * interaction frame feeds three plan branches (both self-join
    * sides + the item counts) — eager-checkpoint it once (the
    * recommend_eval carve rule). */
  def recommendTopK(inter: DataFrame, k: Int = 10): DataFrame = {
    val i2 = inter.localCheckpoint()
    topKFromCounts(pairCounts(i2), itemCounts(i2), k)
  }

  /** The capped in-query form — [[recommendTopK]] over
    * [[capInteractions]], the production 100 TB ingestion shape
    * (oracle-gated as `recommend_capped`). At bench scale the cap
    * mostly passes users through; its value is the d_u² bound the
    * Scale10 planted-power-user probe measures. */
  def recommendCapped(s: SparkSession, d: String, cap: Int = 8,
                      k: Int = 10): DataFrame =
    recommendTopK(capInteractions(interactions(graft.Tables.events(s, d)), cap), k)

  /** SEQUENCE-aware next-item recommendation — the first-order
    * Markov-chain recommender (the classic session-based baseline,
    * Rendle et al.'s FPMC ancestor): transitions are consecutive
    * engagement events per user in (ts, event_id) order (event_id
    * breaks timestamp ties deterministically), self-loops dropped
    * (recommending the item just touched is vacuous). Per source
    * item: top-k next items by transition count (ties by next_item),
    * with the transition probability c/Σc as one IEEE division of
    * exact BIGINTs snapped e6. Complements [[recommendTopK]]'s
    * order-free co-occurrence with ORDER information — "what do
    * users touch next" vs "what do the same users touch".
    *
    * Scale shape: the sequence window partitions by user (bounded
    * partitions, never a global sort); transition counts aggregate
    * to catalog²-support rows; the rank window partitions by item. */
  def recommendMarkov(s: SparkSession, d: String, k: Int = 5): DataFrame =
    markovTopK(markovTransitions(graft.Tables.events(s, d)), k)

  /** The (item, next_item, c) transition-count frame — the Markov
    * model's storage form. PURE COUNT ALGEBRA like the CF pair table:
    * a user's transitions derive only from their own ordered event
    * sequence, so whole-user append/forget are exact BIGINT
    * adds/subtracts (the [[forgetFromCfModel]] contract). */
  private[graft] def markovTransitions(events: DataFrame): DataFrame =
    transitionsFromSeq(engagementSeq(events))

  /** The shared engagement projection: (user_id, ts, event_id, item)
    * rows for the three engagement event types, item = props.k,
    * null items dropped. ONE scan of events feeds both the CF
    * interactions (distinct user/item) and the Markov sequence
    * windows when checkpointed ([[recommendHybrid]]). */
  private[graft] def engagementSeq(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)

  /** Transition counts from an already-projected engagement-sequence
    * frame. */
  private[graft] def transitionsFromSeq(seqEv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    seqEv
      .withColumn("next_item", lead(col("item"), 1).over(seq))
      .filter(col("next_item").isNotNull && col("next_item") =!= col("item"))
      .groupBy(col("item"), col("next_item"))
      .agg(count(lit(1)).as("c"))
  }

  /** SESSION-bounded transition counts — the sequence family's skew
    * guard (the [[capInteractions]] counterpart for the Markov
    * window): [[transitionsFromSeq]] sorts each user's FULL event
    * history in one window partition, which a 10^8-event bot turns
    * into a single-task n·log n straggler no salt can divide (one
    * genuine group). Here the window partitions by (user_id,
    * calendar day) — a static, derivable key, so the worst partition
    * is one user-DAY — and a transition additionally requires the
    * gap to its successor to be ≤ `gapMinutes` (the q11 sessionize
    * notion: a half-hour pause ends a session, and "what users touch
    * next" across a pause or an overnight break is noise, not
    * sequence signal — session-scoping is better MODELING as well as
    * a bounded partition).
    *
    * Containment: events consecutive within a (user, day) partition
    * are consecutive in the raw order too, so bounded transitions
    * are a SUBSET of the raw pairs — day boundaries and long gaps
    * only ever REMOVE transitions, never invent them (spec'd; with
    * all events same-day and within-gap the two forms are EQUAL).
    * Counts stay user-local algebra, so the maintained-model verbs
    * work unchanged on the bounded form. */
  private[graft] def transitionsFromSeqBounded(seqEv: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("user_id"), col("sday"))
      .orderBy(col("ts"), col("event_id"))
    seqEv
      .withColumn("sday", to_date(col("ts")))
      .withColumn("next_item", lead(col("item"), 1).over(seq))
      .withColumn("next_ts", lead(col("ts"), 1).over(seq))
      .filter(col("next_item").isNotNull && col("next_item") =!= col("item") &&
        unix_micros(col("next_ts")) - unix_micros(col("ts")) <=
          lit(gapMinutes * 60L * 1000000L))
      .groupBy(col("item"), col("next_item"))
      .agg(count(lit(1)).as("c"))
  }

  /** The session-bounded Markov readout — [[recommendMarkov]] over
    * [[transitionsFromSeqBounded]], the production 100 TB ingestion
    * shape (oracle-gated as `recommend_markov_sessions`). */
  def recommendMarkovSessions(s: SparkSession, d: String, k: Int = 5,
                              gapMinutes: Int = 30): DataFrame =
    markovTopK(transitionsFromSeqBounded(
      engagementSeq(graft.Tables.events(s, d)), gapMinutes), k)

  /** SECOND-order transition counts (prev2, prev1, next) — the
    * ngram-LM order step applied to sequences: each position t ≥ 3
    * in a user's (ts, event_id)-ordered engagement sequence
    * contributes ((x_{t−2}, x_{t−1}) → x_t), with next = prev1
    * self-loops dropped (the first-order convention — recommending
    * the item just touched is vacuous; next = prev2 returns ARE
    * kept, A→B→A is a real pattern). Counts stay user-local algebra
    * — the maintained-model verbs carry over unchanged.
    *
    * Scale shape: same per-user window as order 1 (two leads instead
    * of one); the count table is bounded by catalog³ SUPPORT — the
    * observed (pair, next) triples, far below catalog³ exactly as
    * the order-1 table sits far below catalog². */
  private[graft] def markov2TransitionsFromSeq(seqEv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    seqEv
      .withColumn("p1", lead(col("item"), 1).over(seq))
      .withColumn("nx", lead(col("item"), 2).over(seq))
      .filter(col("nx").isNotNull && col("nx") =!= col("p1"))
      .groupBy(col("item").as("prev2_item"), col("p1").as("prev1_item"),
        col("nx").as("next_item"))
      .agg(count(lit(1)).as("c"))
  }

  /** SESSION-bounded second-order transitions — the
    * [[transitionsFromSeqBounded]] skew guard applied to the
    * two-lead window (the order-2 sort has exactly the same
    * single-task bot exposure): window partitioned by (user_id,
    * calendar day), and a triple requires BOTH successor gaps ≤
    * `gapMinutes` (a context spanning a session break is noise).
    * Bounded triples ⊆ raw triples (same containment argument —
    * positions consecutive within a day are consecutive globally;
    * spec'd). */
  private[graft] def markov2TransitionsFromSeqBounded(seqEv: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("user_id"), col("sday"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    seqEv
      .withColumn("sday", to_date(col("ts")))
      .withColumn("p1", lead(col("item"), 1).over(seq))
      .withColumn("t1", lead(col("ts"), 1).over(seq))
      .withColumn("nx", lead(col("item"), 2).over(seq))
      .withColumn("t2", lead(col("ts"), 2).over(seq))
      .filter(col("nx").isNotNull && col("nx") =!= col("p1") &&
        unix_micros(col("t1")) - unix_micros(col("ts")) <= lit(gapUs) &&
        unix_micros(col("t2")) - unix_micros(col("t1")) <= lit(gapUs))
      .groupBy(col("item").as("prev2_item"), col("p1").as("prev1_item"),
        col("nx").as("next_item"))
      .agg(count(lit(1)).as("c"))
  }

  /** Ranked top-k readout over a second-order transition frame — one
    * scoring body for the in-query `recommend_markov2`, the stored
    * model and the pruned serve (the markovTopK discipline): rank by
    * (count desc, next_item) within each (prev2, prev1) context,
    * prob = c/Σc within the context as one IEEE division snapped e6.
    * The denominator aggregates INSIDE the frame, so any
    * context-granular subset scores identically to the full model. */
  private def markov2TopK(trans2: DataFrame, k: Int,
                          ordered: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = trans2.groupBy(col("prev2_item"), col("prev1_item"))
      .agg(sum(col("c")).as("tc"))
    val byCtx = Window.partitionBy(col("prev2_item"), col("prev1_item"))
      .orderBy(col("c").desc, col("next_item"))
    val cut = trans2.join(tot, Seq("prev2_item", "prev1_item"))
      .withColumn("rank", row_number().over(byCtx))
      .filter(col("rank") <= k)
      .select(col("prev2_item"), col("prev1_item"), col("rank"),
        col("next_item"), col("c").as("transitions"),
        floor(col("c").cast("double") / col("tc").cast("double") * lit(1e6)
          + lit(0.5)).cast("long").as("prob_e6"))
    if (ordered) cut.orderBy(col("prev2_item"), col("prev1_item"), col("rank"))
    else cut
  }

  /** In-query second-order readout (oracle-gated as
    * `recommend_markov2`). */
  def recommendMarkov2(s: SparkSession, d: String, k: Int = 5): DataFrame =
    markov2TopK(markov2TransitionsFromSeq(
      engagementSeq(graft.Tables.events(s, d))), k)

  /** Leave-LAST-out BACKTEST of the second-order recommender WITH
    * strict backoff — the ngram_lm_interp discipline applied to
    * sequences: per user with ≥4 engagement events, hold the final
    * event, train BOTH orders on the prefix, and predict from the
    * prefix's last two items — through the order-2 distribution when
    * that exact (prev2, prev1) context was trained (backoff is on
    * CONTEXT novelty, never on whether the specific next item was
    * seen — the standard strict-backoff rule), else through the
    * order-1 distribution from prev1. Reports which order served
    * (used_order), the held item's rank in that distribution (0 =
    * absent) and hit@k — the readout that SHOWS where order 2 beats
    * order 1 and how often it must back off. */
  def recommendMarkov2Eval(s: SparkSession, d: String,
                           k: Int = 5): DataFrame =
    recommendMarkov2EvalOn(engagementSeq(graft.Tables.events(s, d)), k)

  /** The [[recommendMarkov2Eval]] core on an explicit engagement-
    * sequence frame. */
  def recommendMarkov2EvalOn(seqEv: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
    val ev = seqEv
      .withColumn("rdesc", row_number().over(
        byUser.orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("n_ev", count(lit(1)).over(byUser))
      .localCheckpoint() // feeds held, both ctx ranks and the carve
    val held = ev.filter(col("rdesc") === 1 && col("n_ev") >= 4)
      .select(col("user_id"), col("item").as("held_item"))
    val ctx1 = ev.filter(col("rdesc") === 2 && col("n_ev") >= 4)
      .select(col("user_id"), col("item").as("ctx1_item"))
    val ctx2 = ev.filter(col("rdesc") === 3 && col("n_ev") >= 4)
      .select(col("user_id"), col("item").as("ctx2_item"))
    val trainEv = ev.filter(col("rdesc") > 1 || col("n_ev") < 4)
      .localCheckpoint() // feeds both model orders
    val m2 = markov2TransitionsFromSeq(trainEv)
    val w2 = Window.partitionBy(col("prev2_item"), col("prev1_item"))
      .orderBy(col("c").desc, col("next_item"))
    val r2 = m2.withColumn("rank2", row_number().over(w2))
      .select(col("prev2_item").as("ctx2_item"),
        col("prev1_item").as("ctx1_item"),
        col("next_item").as("held_item"), col("rank2"))
    val ctxSeen = m2.select(col("prev2_item").as("ctx2_item"),
      col("prev1_item").as("ctx1_item")).distinct()
      .withColumn("ctx_trained", lit(true))
    val m1 = transitionsFromSeq(trainEv)
    val w1 = Window.partitionBy(col("item"))
      .orderBy(col("c").desc, col("next_item"))
    val r1 = m1.withColumn("rank1", row_number().over(w1))
      .select(col("item").as("ctx1_item"),
        col("next_item").as("held_item"), col("rank1"))
    held.join(ctx1, "user_id").join(ctx2, "user_id")
      .join(ctxSeen, Seq("ctx2_item", "ctx1_item"), "left")
      .join(r2, Seq("ctx2_item", "ctx1_item", "held_item"), "left")
      .join(r1, Seq("ctx1_item", "held_item"), "left")
      .select(col("user_id"), col("ctx2_item"), col("ctx1_item"),
        col("held_item"),
        when(col("ctx_trained"), lit(2)).otherwise(lit(1)).as("used_order"),
        when(col("ctx_trained"), coalesce(col("rank2"), lit(0)))
          .otherwise(coalesce(col("rank1"), lit(0))).as("rank"),
        when(col("ctx_trained"), coalesce(col("rank2"), lit(0)))
          .otherwise(coalesce(col("rank1"), lit(0)))
          .between(1, k).as("hit"))
      .orderBy(col("user_id"))
  }

  /** The ranked readout over a transition frame — ONE scoring body
    * shared by the in-query `recommend_markov`, the stored-model
    * top-k and the pruned serve (no drift possible). The per-item
    * probability denominator aggregates INSIDE the frame, so any
    * item-granular subset (the serve prune) scores identically to
    * the full model. */
  private def markovTopK(trans: DataFrame, k: Int,
                         ordered: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = trans.groupBy(col("item")).agg(sum(col("c")).as("tc"))
    val byItem = Window.partitionBy(col("item"))
      .orderBy(col("c").desc, col("next_item"))
    val cut = trans.join(tot, "item")
      .withColumn("rank", row_number().over(byItem))
      .filter(col("rank") <= k)
      .select(col("item"), col("rank"), col("next_item"),
        col("c").as("transitions"),
        floor(col("c").cast("double") / col("tc").cast("double") * lit(1e6)
          + lit(0.5)).cast("long").as("prob_e6"))
    if (ordered) cut.orderBy(col("item"), col("rank")) else cut
  }

  /** HYBRID recommendations — reciprocal-rank fusion of the two
    * item-item signals (the [[graft.operators.Search.rrfFuse]]
    * machinery, exactly the search tier's verified recipe): the
    * order-free CF co-occurrence ranking and the order-aware Markov
    * next-item ranking each contribute 1/(60+rank) per candidate,
    * fused score rounded 6 dp, re-ranked (rrf desc, candidate). An
    * item that both "the same users touch" AND "users touch next"
    * outranks one with a single strong signal — the standard
    * two-signal blend when neither alone is trusted. */
  def recommendHybrid(s: SparkSession, d: String, k: Int = 5,
                      depth: Int = 10,
                      weights: Seq[Double] = Nil): DataFrame = {
    // ONE events scan feeds both chains: the CF side derives its
    // distinct interactions and the Markov side its sequence windows
    // from the same eagerly-checkpointed engagement projection
    // (lineage would rebuild the events scan + JSON extraction per
    // chain). Dropping null items is a no-op for CF — a null item
    // never joins a pair or scores a cosine.
    val ev = engagementSeq(graft.Tables.events(s, d)).localCheckpoint()
    // ordered = false: both per-item rankings feed straight into the
    // fusion's own re-rank — their presentation sorts would be two
    // wasted range-partition+sort shuffles
    val inter = ev.select(col("user_id"), col("item")).distinct()
      .localCheckpoint() // feeds both pair-join sides + item counts
    val cf = topKFromCounts(pairCounts(inter), itemCounts(inter), depth,
        ordered = false)
      .select(col("item").as("query_id"), col("rec_item").as("doc_id"),
        col("rank"))
    val mk = markovTopK(transitionsFromSeq(ev), depth, ordered = false)
      .select(col("item").as("query_id"), col("next_item").as("doc_id"),
        col("rank"))
    Search.rrfFuse(Seq(cf, mk), k, weights)
      .select(col("query_id").as("item"), col("doc_id").as("rec_item"),
        col("rrf"), col("rank"))
      .orderBy(col("item"), col("rank"))
  }

  /** The CF-side weight of the WEIGHTED hybrid gate query (a
    * binary-exact double, so the oracle's decimal literal parses to
    * identical bits — the search tier's WrrfLexWeight discipline). */
  val WrrfCfWeight = 0.75

  /** recommend_hybrid_wrrf — the WEIGHTED fusion gate: the same two
    * rankings as [[recommendHybrid]] with the order-free CF evidence
    * down-weighted to 0.75 (the production knob when the sequence
    * signal is the trusted one — e.g. a session-dominated surface).
    * Oracle-gated separately so the weighted path is hash-verified,
    * not just spec'd (the search_hybrid_wrrf precedent); w=1.0 stays
    * bit-identical to the unweighted form (one IEEE division
    * either way — the rrfFuse invariant). */
  def recommendHybridWeighted(s: SparkSession, d: String, k: Int = 5,
                              depth: Int = 10): DataFrame =
    recommendHybrid(s, d, k, depth, Seq(WrrfCfWeight, 1.0))

  /** Leave-LAST-out BACKTEST of the HYBRID recommender — the fused
    * ranking's shipping gate (every other predictive tier has one;
    * the blend you'd actually serve must prove it beats its parts):
    * per user with ≥3 engagement events, hold out the chronologically
    * final event (the temporally-honest Markov carve — an order-aware
    * signal cannot be evaluated on an md5 holdout), train BOTH
    * signals on the prefix, build the user's two depth-cut candidate
    * lists — the CF vote ranking over their prefix history and the
    * Markov next-item ranking from their prefix's last item — fuse
    * via [[Search.rrfFuse]], and report the held item's rank in EACH
    * single-signal list (0 = absent) alongside its fused rank and
    * hit@k, so the readout SHOWS where fusion recovers a miss.
    *
    * CF candidates exclude items already in the user's prefix (the
    * serve-path contract), so a revisited held item is only ever
    * reachable through the Markov side — exactly the production
    * asymmetry the fused gate must measure.
    *
    * Scale shape: the eligibility carve is two user-partitioned
    * windows; CF voting is semi-join-pruned to ELIGIBLE users before
    * the vote join (backtest cost tracks the held cohort, not the
    * full user base); fusion is a per-user groupBy over ≤ 2·depth
    * candidate rows. */
  def recommendHybridEval(s: SparkSession, d: String, k: Int = 5,
                          depth: Int = 10): DataFrame =
    recommendHybridEvalOn(engagementSeq(graft.Tables.events(s, d)), k, depth)

  /** The [[recommendHybridEval]] core on an explicit engagement-
    * sequence frame (user_id, ts, event_id, item) — split out so
    * specs can plant corpora where one signal is wrong and the other
    * right. */
  def recommendHybridEvalOn(seqEv: DataFrame, k: Int = 5,
                            depth: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
    val ev = seqEv
      .withColumn("rdesc", row_number().over(
        byUser.orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("n_ev", count(lit(1)).over(byUser))
      .localCheckpoint() // feeds held, ctx and the train carve
    val held = ev.filter(col("rdesc") === 1 && col("n_ev") >= 3)
      .select(col("user_id"), col("item").as("held_item"))
    val ctx = ev.filter(col("rdesc") === 2 && col("n_ev") >= 3)
      .select(col("user_id"), col("item").as("ctx_item"))
    // the train carve drops ONLY eligible users' last events — an
    // ineligible (shorter) user's full history still trains both
    // models (the recommendMarkovEval carve)
    val trainEv = ev.filter(col("rdesc") > 1 || col("n_ev") < 3)
      .localCheckpoint() // feeds interactions AND transitions
    val inter = trainEv.select(col("user_id"), col("item")).distinct()
      .localCheckpoint() // feeds pair-join sides, counts, votes
    val sims = scoredSym(pairCounts(inter), itemCounts(inter))
      .select(col("i").as("item"), col("j").as("rec_item"), col("cos_e6"))
    // vote only ELIGIBLE users' histories (the backtest only reads
    // their lists — serve-prune discipline applied to the gate)
    val histE = inter.join(held.select(col("user_id")), Seq("user_id"),
      "left_semi")
    val votes = histE.join(sims, Seq("item"))
      .groupBy(col("user_id"), col("rec_item"))
      .agg(sum(col("cos_e6")).as("score_e6"))
      .join(histE.select(col("user_id"), col("item").as("rec_item")),
        Seq("user_id", "rec_item"), "left_anti")
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("score_e6").desc, col("rec_item"))
    // each ranked list feeds TWO branches (the fusion union and its
    // own held-item rank join) — checkpoint both or the full CF-vote
    // / Markov ranking chains (windows + joins) replay per branch
    // (the r17 checkpoint rule; the before plan read 56 ExistingRDD
    // scans / 100 Exchanges from exactly this)
    val cfList = votes.withColumn("rank", row_number().over(wU))
      .filter(col("rank") <= depth)
      .select(col("user_id").as("query_id"), col("rec_item").as("doc_id"),
        col("rank"))
      .localCheckpoint()
    val mkRanked = markovTopK(transitionsFromSeq(trainEv), depth,
      ordered = false)
    val mkList = ctx.join(mkRanked, col("ctx_item") === col("item"))
      .select(col("user_id").as("query_id"), col("next_item").as("doc_id"),
        col("rank"))
      .localCheckpoint()
    // k = 2·depth keeps the fused ranking UNCUT (each user fuses at
    // most 2·depth candidates) — the held item's fused rank must be
    // reportable even when it sits below the serving cut
    val fused = Search.rrfFuse(Seq(cfList, mkList), 2 * depth)
    held.join(ctx, "user_id")
      .join(cfList.select(col("query_id").as("user_id"),
          col("doc_id").as("held_item"), col("rank").as("cf_rank")),
        Seq("user_id", "held_item"), "left")
      .join(mkList.select(col("query_id").as("user_id"),
          col("doc_id").as("held_item"), col("rank").as("mk_rank")),
        Seq("user_id", "held_item"), "left")
      .join(fused.select(col("query_id").as("user_id"),
          col("doc_id").as("held_item"), col("rank").as("fused_rank")),
        Seq("user_id", "held_item"), "left")
      .select(col("user_id"), col("ctx_item"), col("held_item"),
        coalesce(col("cf_rank"), lit(0)).as("cf_rank"),
        coalesce(col("mk_rank"), lit(0)).as("mk_rank"),
        coalesce(col("fused_rank"), lit(0)).as("rank"),
        coalesce(col("fused_rank"), lit(0)).between(1, k).as("hit"))
      .orderBy(col("user_id"))
  }

  // ---- maintained Markov-model artifact -----------------------------------

  /** Transition counts for the maintained model — raw by default,
    * session-bounded (the [[transitionsFromSeqBounded]] skew guard)
    * when `gapMinutes` is set. Both forms are user-local count
    * algebra, so the maintenance verbs below work identically;
    * callers must pass the SAME `gapMinutes` to every verb touching
    * one model directory (mixing forms would subtract counts that
    * were never added). */
  private def modelTransitions(events: DataFrame,
                               gapMinutes: Option[Int]): DataFrame =
    gapMinutes match {
      case Some(g) => transitionsFromSeqBounded(engagementSeq(events), g)
      case None    => markovTransitions(events)
    }

  /** Train and persist the transition model: `trans/`. `gapMinutes`
    * selects the session-bounded production form. */
  def writeMarkovModel(events: DataFrame, dir: String,
                       gapMinutes: Option[Int] = None): Unit =
    modelTransitions(events, gapMinutes).write.mode("overwrite")
      .parquet(s"$dir/trans")

  /** Item-conditional top-k from the stored model — bit-identical to
    * the in-query form of the same events (one scoring body;
    * spec'd). */
  def recommendMarkovFromModel(s: SparkSession, dir: String,
                               k: Int = 5): DataFrame =
    markovTopK(s.read.parquet(s"$dir/trans"), k)

  /** NEXT-ITEM serving: each request carries its current context
    * item; the stored model is semi-join-pruned to the batch's
    * context items BEFORE ranking (item-granular prune — the
    * probability denominator is a within-item aggregate, so the
    * pruned ranking is exactly the full model's restricted to those
    * items; spec'd). Output one row per (request, rank). */
  def markovNextServeBatch(s: SparkSession, dir: String, reqs: DataFrame,
                           k: Int = 5, ordered: Boolean = true): DataFrame = {
    // a repeated (user, context) request row would emit duplicate
    // answer rows — dedup at the door (the recommendForUsers lesson)
    val rq = reqs.select(col("user_id"), col("item")).distinct()
    val ctxItems = rq.select(col("item")).distinct()
    val trans = s.read.parquet(s"$dir/trans")
      .join(broadcast(ctxItems), Seq("item"), "left_semi")
    val out = rq.join(markovTopK(trans, k, ordered = false), Seq("item"))
      .select(col("user_id"), col("item").as("ctx_item"), col("rank"),
        col("next_item"), col("transitions"), col("prob_e6"))
    if (ordered) out.orderBy(col("user_id"), col("ctx_item"), col("rank"))
    else out
  }

  /** Fold a batch of NEW USERS' event sequences into the model —
    * exact (transition counts are user-local; spec'd equal to fresh
    * training of the concatenation). An existing user's new events
    * would need their stored last event to stitch the boundary
    * transition — the same whole-user contract as the CF model. */
  def appendToMarkovModel(batchEvents: DataFrame, dir: String,
                          gapMinutes: Option[Int] = None): Unit = {
    val s = batchEvents.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val trans = s.read.parquet(s"$dir/trans")
        .unionByName(modelTransitions(batchEvents, gapMinutes))
        .groupBy(col("item"), col("next_item")).agg(sum(col("c")).as("c"))
      trans.write.parquet(s"$tmp/trans")
    }
  }

  /** Erasure: subtract the victim users' transitions (their full
    * event sequences passed by the caller). Rows reaching zero
    * disappear; the result EQUALS fresh training of the surviving
    * users (ErasureSpec). */
  def forgetFromMarkovModel(victimEvents: DataFrame, dir: String,
                            gapMinutes: Option[Int] = None): Unit = {
    val s = victimEvents.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val trans = s.read.parquet(s"$dir/trans")
        .unionByName(modelTransitions(victimEvents, gapMinutes)
          .withColumn("c", -col("c")))
        .groupBy(col("item"), col("next_item")).agg(sum(col("c")).as("c"))
        .filter(col("c") > 0)
      trans.write.parquet(s"$tmp/trans")
    }
  }

  /** COLD-START content fallback — the classic answer to the CF
    * hole: an item with little co-occurrence support cannot be
    * recommended-for from behavior, so serve it CONTENT neighbors
    * instead (its embedding's nearest catalog items — the
    * content-based bridge every production recommender keeps next to
    * its CF model). The readout takes the `nCold` COLDEST catalog
    * items by total pair support (warmth = Σ co-occurrence counts
    * touching the item, 0 when none; ties by item — always
    * non-empty, unlike a support=0 cut) and emits each one's exact
    * cosine top-k over the CATALOG's item embeddings (the
    * ann_bruteforce 6-dp + id tie-break recipe).
    *
    * Scale shape: warmth is a catalog-bounded aggregate; the coldest
    * set is an orderBy().limit() TakeOrdered (never a global
    * row_number); candidate scoring rides
    * [[Similarity.exhaustivePairsFor]]'s exhaustive bucket EQUI-join
    * (the ann_prefix hash-join precedent — no cartesian) restricted
    * to catalog embeddings, so the pair fan-out is nCold × catalog. */
  def recommendColdStart(s: SparkSession, d: String, nCold: Int = 10,
                         k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inter = interactions(graft.Tables.events(s, d)).localCheckpoint()
    val catalog = inter.select(col("item")).distinct().localCheckpoint()
    val p = pairCounts(inter)
    val warmth = catalog.join(
        symPairs(p).groupBy(col("i").as("item")).agg(sum(col("c")).as("w")),
        Seq("item"), "left")
      .select(col("item"), coalesce(col("w"), lit(0L)).as("warmth"))
    val cold = warmth.orderBy(col("warmth"), col("item")).limit(nCold)
      .localCheckpoint()
    val coldIds = cold.select(col("item")).collect().map(_.getLong(0)).toSeq
    val scored = Similarity.exhaustivePairsFor(s, d, coldIds)
      .join(catalog.withColumnRenamed("item", "neighbor_id"),
        Seq("neighbor_id"), "left_semi")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.CosineSimilarity.cosineSim(col("qv"),
          col("v")), 6).as("cos_sim"))
    Similarity.topKPerQuery(scored, k, ordered = false)
      .join(cold.withColumnRenamed("item", "query_id"), Seq("query_id"))
      .select(col("query_id").as("item"), col("warmth"), col("rank"),
        col("neighbor_id").as("rec_item"), col("cos_sim"))
      .orderBy(col("item"), col("rank"))
  }

  /** COVERAGE / CONCENTRATION audit of the CF recommendation lists —
    * the standard recsys health readout ("do recommendations span
    * the catalog or funnel everyone to the same head items?"): one
    * row with the catalog size, how many distinct items appear in
    * any top-k list, coverage as ppm, and the GINI concentration of
    * recommendation frequency — exact integer algebra end to end:
    * with per-item frequencies f ranked ascending (ties by item —
    * equal-f permutations leave Σi·f unchanged, so the rank
    * tie-break cannot move the sum), G = (2·Σi·f − (m+1)·Σf) /
    * (m·Σf) scaled to ppm by one positive floor division. The
    * frequency rank is a GLOBAL window over ≤ catalog rows —
    * catalog-bounded, never corpus-bounded (documented; the same
    * bound as the model itself). */
  def recommendCoverage(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inter = interactions(graft.Tables.events(s, d)).localCheckpoint()
    val catalogN = inter.select(col("item")).distinct().count()
    val recs = topKFromCounts(pairCounts(inter), itemCounts(inter), k,
      ordered = false)
    val freq = recs.groupBy(col("rec_item")).agg(count(lit(1)).as("f"))
    val ranked = freq.withColumn("i",
      row_number().over(Window.orderBy(col("f"), col("rec_item")))
        .cast("long"))
    ranked
      .agg(sum(col("f")).as("s"), sum(col("i") * col("f")).as("wf"),
        count(lit(1)).as("m"))
      .select(lit(catalogN).as("catalog_items"),
        col("m").as("recommended_items"),
        expr(s"m * 1000000 div $catalogN").as("coverage_ppm"),
        expr("(2 * wf - (m + 1) * s) * 1000000 div (m * s)").as("gini_ppm"))
  }

  /** PREFERENCE-PAIR mining — the reward-model training-data op
    * (RLHF data construction applied to engagement): within each
    * user, every pair of items the user engaged at DIFFERENT
    * strengths (purchase=3 > click=2 > view=1; an item's level is
    * its MAX engagement) becomes a (chosen, rejected, margin) row —
    * the user revealed a preference, the margin says how strongly.
    * The per-user pair fan-out is the CF d_u² bound all over again,
    * so the [[capInteractions]] guard applies FIRST (deterministic
    * md5-order cap per user, default 8 — the same reproducible
    * sample, levels carried through), bounding every user at
    * C(cap,2) pairs regardless of bot degree.
    *
    * Scale shape: one events scan → per-(user,item) max-aggregate →
    * the capped per-user self-join (bounded fan-out) — all
    * user-keyed shuffles, catalog-independent output per user. */
  def preferencePairs(s: SparkSession, d: String, cap: Int = 8): DataFrame = {
    val leveled = graft.Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        when(col("event_type") === "purchase", lit(3))
          .when(col("event_type") === "click", lit(2))
          .otherwise(lit(1)).as("level"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id"), col("item")).agg(max(col("level")).as("level"))
    val capped = capInteractions(leveled, cap)
      .localCheckpoint() // both self-join sides
    capped.as("a")
      .join(capped.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.level") > col("b.level"))
      .select(col("a.user_id").as("user_id"),
        col("a.item").as("chosen_item"), col("a.level").as("chosen_level"),
        col("b.item").as("rejected_item"),
        col("b.level").as("rejected_level"),
        (col("a.level") - col("b.level")).as("margin"))
      .orderBy(col("user_id"), col("chosen_item"), col("rejected_item"))
  }

  /** STATIONARY distribution of the browsing Markov chain — "where
    * does attention equilibrate if users keep clicking": damped
    * power iteration over the WEIGHTED transition graph (PageRank
    * with edge weights c/Σc instead of uniform out-degree shares —
    * the [[Similarity.pagerankOn]] exact-integer recipe extended to
    * weights). Rank mass lives in 1e-12-unit BIGINTs; a node's
    * outflow is floor(pr / tc) · c per edge — the per-unit quotient
    * FIRST, then the weight multiply, so every intermediate stays ≤
    * the total mass (pr·c first would overflow 2^63 at corpus
    * scale); update = base + (17·Σ inflow) div 20 (damping 17/20) —
    * all operands non-negative, so truncating div == floor in both
    * engines. Items with no outgoing transitions absorb deterministic
    * leak (standard dangling treatment; this is a RANKING, not a
    * normalized distribution — documented). Fixed 10 iterations; the
    * oracle unrolls them as chained aggregating CTEs with the node
    * count as a scalar subquery, so the SQL stays STATIC. */
  def markovStationary(s: SparkSession, d: String,
                       iters: Int = 10): DataFrame =
    markovStationaryOn(markovTransitions(graft.Tables.events(s, d)), iters)

  /** The [[markovStationary]] core over an explicit transition
    * frame. */
  def markovStationaryOn(trans0: DataFrame, iters: Int = 10): DataFrame = {
    val Scale = 1000000000000L
    val trans = trans0.localCheckpoint() // feeds tot, edges and nodes
    val tot = trans.groupBy(col("item")).agg(sum(col("c")).as("tc"))
    val edges = trans.join(tot, Seq("item"))
      .select(col("item").as("src"), col("next_item").as("dst"),
        col("c"), col("tc"))
      .localCheckpoint() // reused every iteration
    val nodes = trans.select(col("item"))
      .union(trans.select(col("next_item"))).distinct()
      .localCheckpoint()
    val n = nodes.count()
    val base = (3L * Scale) / (20L * n)
    var pr = nodes.select(col("item"), lit(Scale / n).as("pr"))
    // linear chain — periodic checkpoint only (the pagerankOn rule:
    // each iteration's frame is consumed exactly once by the next,
    // so per-iteration barriers serialized ten jobs for nothing)
    for (i <- 1 to iters) {
      val inflow = edges
        .join(pr.withColumnRenamed("item", "src"), Seq("src"))
        .select(col("dst").as("item"), expr("(pr div tc) * c").as("sh"))
        .groupBy(col("item")).agg(sum(col("sh")).as("insum"))
      pr = nodes.join(inflow, Seq("item"), "left")
        .select(col("item"), (lit(base) +
          expr("(17 * coalesce(insum, CAST(0 AS BIGINT))) div 20")).as("pr"))
      if (i % graft.operators.Similarity.PrCkEvery == 0 && i < iters)
        pr = pr.localCheckpoint()
    }
    pr.select(col("item"), col("pr").as("pr_e12"),
        round(col("pr").cast("double") / lit(1e12), 6).as("stationary"))
      .orderBy(col("item"))
  }

  // ---- maintained second-order (backoff) Markov artifact ------------------

  /** Train and persist the BACKOFF model: `trans2/` (second-order
    * counts) + `trans/` (the order-1 fallback) — a strict-backoff
    * recommender is inherently both orders, so the artifact carries
    * both count tables and every maintenance verb updates both.
    * Both are user-local count algebra (whole-user append/forget —
    * the [[writeMarkovModel]] contract). */
  def writeMarkov2Model(events: DataFrame, dir: String,
                        gapMinutes: Option[Int] = None): Unit = {
    val seqEv = engagementSeq(events).localCheckpoint()
    val (t2, t1) = model2Transitions(seqEv, gapMinutes)
    t2.write.mode("overwrite").parquet(s"$dir/trans2")
    t1.write.mode("overwrite").parquet(s"$dir/trans")
  }

  /** Both order tables for the backoff artifact — raw or session-
    * bounded CONSISTENTLY (a backoff model mixing a bounded order-2
    * with a raw order-1 would back off into transitions its own
    * order-2 form deliberately excluded). */
  private def model2Transitions(seqEv: DataFrame,
      gapMinutes: Option[Int]): (DataFrame, DataFrame) =
    gapMinutes match {
      case Some(g) => (markov2TransitionsFromSeqBounded(seqEv, g),
        transitionsFromSeqBounded(seqEv, g))
      case None => (markov2TransitionsFromSeq(seqEv),
        transitionsFromSeq(seqEv))
    }

  /** Order-2 top-k from the stored model — bit-identical to the
    * in-query form of the same events (one scoring body; spec'd). */
  def recommendMarkov2FromModel(s: SparkSession, dir: String,
                                k: Int = 5): DataFrame =
    markov2TopK(s.read.parquet(s"$dir/trans2"), k)

  /** BACKOFF next-item serving: each request carries its last TWO
    * items (prev2, prev1). The order-2 table is semi-join-pruned to
    * the batch's context PAIRS and the order-1 table to its prev1
    * items before any ranking (both prunes are context-granular —
    * the probability denominators are within-context aggregates, so
    * pruned rankings equal the full model's restricted; spec'd).
    * A request whose exact (prev2, prev1) context was never trained
    * backs off to the order-1 ranking from prev1 (strict backoff —
    * context novelty only). Output one row per (request, rank) with
    * the serving order tagged. */
  def markov2NextServeBatch(s: SparkSession, dir: String, reqs: DataFrame,
                            k: Int = 5): DataFrame = {
    val rq = reqs.select(col("user_id"), col("prev2_item"),
      col("prev1_item")).distinct().localCheckpoint()
    val ctxPairs = rq.select(col("prev2_item"), col("prev1_item")).distinct()
    val t2 = s.read.parquet(s"$dir/trans2")
      .join(broadcast(ctxPairs), Seq("prev2_item", "prev1_item"),
        "left_semi")
    val o2 = rq.join(markov2TopK(t2, k, ordered = false),
        Seq("prev2_item", "prev1_item"))
      .select(col("user_id"), col("prev2_item"), col("prev1_item"),
        col("rank"), col("next_item"), col("transitions"), col("prob_e6"),
        lit(2).as("used_order"))
    // requests backing off = those whose context pair pruned to
    // nothing; the bounded ctx-pair frame decides driver-free via an
    // anti-join against the PRUNED table's distinct contexts
    val servedCtx = t2.select(col("prev2_item"), col("prev1_item")).distinct()
    val backoff = rq.join(servedCtx, Seq("prev2_item", "prev1_item"),
      "left_anti")
    val ctx1 = backoff.select(col("prev1_item").as("item")).distinct()
    val t1 = s.read.parquet(s"$dir/trans")
      .join(broadcast(ctx1), Seq("item"), "left_semi")
    val o1 = backoff.join(markovTopK(t1, k, ordered = false),
        col("prev1_item") === col("item"))
      .select(col("user_id"), col("prev2_item"), col("prev1_item"),
        col("rank"), col("next_item"), col("transitions"), col("prob_e6"),
        lit(1).as("used_order"))
    o2.unionByName(o1)
      .orderBy(col("user_id"), col("prev2_item"), col("prev1_item"),
        col("rank"))
  }

  /** Fold a batch of NEW USERS' sequences into BOTH orders — exact
    * (user-local counts; spec'd equal to fresh training of the
    * concatenation). */
  def appendToMarkov2Model(batchEvents: DataFrame, dir: String,
                           gapMinutes: Option[Int] = None): Unit = {
    val s = batchEvents.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val seqEv = engagementSeq(batchEvents).localCheckpoint()
      val (b2, b1) = model2Transitions(seqEv, gapMinutes)
      val t2 = s.read.parquet(s"$dir/trans2")
        .unionByName(b2)
        .groupBy(col("prev2_item"), col("prev1_item"), col("next_item"))
        .agg(sum(col("c")).as("c"))
      val t1 = s.read.parquet(s"$dir/trans")
        .unionByName(b1)
        .groupBy(col("item"), col("next_item")).agg(sum(col("c")).as("c"))
      t2.write.parquet(s"$tmp/trans2")
      t1.write.parquet(s"$tmp/trans")
    }
  }

  /** Erasure: subtract the victim users' sequences from BOTH orders;
    * rows reaching zero disappear and the result EQUALS fresh
    * training of the survivors (ErasureSpec). */
  def forgetFromMarkov2Model(victimEvents: DataFrame, dir: String,
                             gapMinutes: Option[Int] = None): Unit = {
    val s = victimEvents.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val seqEv = engagementSeq(victimEvents).localCheckpoint()
      val (v2, v1) = model2Transitions(seqEv, gapMinutes)
      val t2 = s.read.parquet(s"$dir/trans2")
        .unionByName(v2.withColumn("c", -col("c")))
        .groupBy(col("prev2_item"), col("prev1_item"), col("next_item"))
        .agg(sum(col("c")).as("c"))
        .filter(col("c") > 0)
      val t1 = s.read.parquet(s"$dir/trans")
        .unionByName(v1.withColumn("c", -col("c")))
        .groupBy(col("item"), col("next_item")).agg(sum(col("c")).as("c"))
        .filter(col("c") > 0)
      t2.write.parquet(s"$tmp/trans2")
      t1.write.parquet(s"$tmp/trans")
    }
  }

  /** Leave-LAST-out BACKTEST of the Markov recommender — temporally
    * HONEST by construction (unlike CF's md5-holdout, a sequence
    * model must be evaluated on the chronologically last event, which
    * is exactly what production would have predicted): per user with
    * ≥3 engagement events, hold out the final event, retrain
    * transitions on the prefix, predict from the prefix's last item,
    * and report the held item's rank among the trained next-item
    * candidates (0 = the transition was never seen — including a
    * held self-loop, which the model never predicts by design) and
    * hit@k. All integer/boolean outputs.
    *
    * Scale shape: two user-partitioned windows (hold-out carve +
    * prefix transitions), the catalog²-support transition table, an
    * item-partitioned rank window, one join back to the per-user
    * context. */
  def recommendMarkovEval(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seqDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ev = graft.Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
      .withColumn("rdesc", row_number().over(seqDesc))
      .withColumn("n_ev", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .localCheckpoint() // feeds held, ctx and the train carve
    val held = ev.filter(col("rdesc") === 1 && col("n_ev") >= 3)
      .select(col("user_id"), col("item").as("held_item"))
    val ctx = ev.filter(col("rdesc") === 2 && col("n_ev") >= 3)
      .select(col("user_id"), col("item").as("ctx_item"))
    // the train carve drops ONLY eligible users' last events — an
    // ineligible (shorter) user's full history still trains
    val seqAsc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val model = ev.filter(col("rdesc") > 1 || col("n_ev") < 3)
      .withColumn("next_item", lead(col("item"), 1).over(seqAsc))
      .filter(col("next_item").isNotNull && col("next_item") =!= col("item"))
      .groupBy(col("item"), col("next_item"))
      .agg(count(lit(1)).as("c"))
    val byItem = Window.partitionBy(col("item"))
      .orderBy(col("c").desc, col("next_item"))
    val ranked = model.withColumn("rank", row_number().over(byItem))
      .select(col("item").as("ctx_item"), col("next_item").as("held_item"),
        col("rank"))
    held.join(ctx, "user_id")
      .join(ranked, Seq("ctx_item", "held_item"), "left")
      .select(col("user_id"), col("ctx_item"), col("held_item"),
        coalesce(col("rank"), lit(0)).as("rank"),
        coalesce(col("rank"), lit(0)).between(1, k).as("hit"))
      .orderBy(col("user_id"))
  }

  /** Leave-last-out BACKTEST of the recommender — the "would these
    * recommendations have predicted real behavior" gate (the
    * forecast_eval counterpart on the CF arc): for every user with
    * ≥2 interactions, hold out ONE item (the max item id —
    * deterministic, no sampling), train the model on the rest, vote
    * the user's remaining history, and report the held-out item's
    * rank among unseen candidates (0 sentinel when it shares no
    * co-occurrence with the history) and whether it landed in the
    * top-k. All integer/boolean outputs — exact cross-engine.
    *
    * Scale shape: the train carve is one anti-join; everything after
    * is the recommend_collab machinery (shared-user equi-join,
    * catalog-bounded model, per-user windows). */
  def recommendEval(s: SparkSession, d: String, k: Int = 5): DataFrame =
    recommendEvalOn(interactions(graft.Tables.events(s, d)), k)

  /** The [[recommendEval]] core on an explicit interaction frame. */
  def recommendEvalOn(inter: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the held item is the per-user md5-ARGMAX, not max(item): a
    // shared deterministic order (every user holding out their max
    // id) drains the top items from the ENTIRE training carve —
    // item 99 vanished for all 57 of its owners and scored rank 0.
    // The 32-bit md5 prefix of "user:item" decorrelates holdouts
    // across users (conv on 8 nibbles is exact — the A-ES rule) and
    // stays reproducible cross-engine (the digit-sum recipe).
    val held = inter
      .withColumn("hv", expr(
        "CAST(conv(substring(md5(concat(user_id, ':', item)), 1, 8), 16, 10) AS BIGINT)"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("hv"), col("item"))).as("m"),
        count(lit(1)).as("n_items"))
      .filter(col("n_items") >= 2)
      .select(col("user_id"), col("m.item").as("held_item"))
    // the carve feeds SIX plan branches (both pair-join sides, item
    // counts, votes, the unseen anti-join) — lineage would rebuild
    // the events scan + distinct + md5 argmax per branch (measured
    // 4.1s -> 1.0s at sf0.1). EAGER localCheckpoint (itself an
    // action, so nothing stays lazily surprising)
    val train = inter.join(held,
      inter("user_id") === held("user_id") &&
        inter("item") === held("held_item"), "left_anti")
      .localCheckpoint()
    val sims = scoredSym(pairCounts(train), itemCounts(train))
      .select(col("i").as("item"), col("j").as("rec_item"), col("cos_e6"))
    val votes = train.join(sims, Seq("item"))
      .groupBy(col("user_id"), col("rec_item"))
      .agg(sum(col("cos_e6")).as("score_e6"))
      .join(train.select(col("user_id"), col("item").as("rec_item")),
        Seq("user_id", "rec_item"), "left_anti")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("score_e6").desc, col("rec_item"))
    val ranked = votes.withColumn("rank", row_number().over(w))
      .select(col("user_id"), col("rec_item").as("held_item"), col("rank"))
    held.join(ranked, Seq("user_id", "held_item"), "left")
      .select(col("user_id"), col("held_item"),
        coalesce(col("rank"), lit(0)).as("rank"),
        coalesce(col("rank"), lit(0)).between(1, k).as("hit"))
      .orderBy(col("user_id"))
  }

  // ---- maintained CF-model artifact --------------------------------------

  /** Train and persist the model: `pairs/` + `items/`. */
  def writeCfModel(inter: DataFrame, dir: String): Unit = {
    pairCounts(inter).write.mode("overwrite").parquet(s"$dir/pairs")
    itemCounts(inter).write.mode("overwrite").parquet(s"$dir/items")
  }

  /** Item-item top-k served from the stored model — bit-identical to
    * the in-query form of the same interactions (one scoring body;
    * spec'd). */
  def recommendTopKFromModel(s: SparkSession, dir: String,
                             k: Int = 10): DataFrame =
    topKFromCounts(s.read.parquet(s"$dir/pairs"),
      s.read.parquet(s"$dir/items"), k)

  /** PER-USER recommendations from the stored model: each history
    * item votes its neighbors with its cosine, votes sum per
    * candidate (exact BIGINT e6 sums), items the user already
    * touched are excluded, top-n per user by (score desc, item).
    * `history` = (user_id, item) rows — typically today's serving
    * batch, corpus-size-independent. */
  def recommendForUsers(s: SparkSession, dir: String, history: DataFrame,
                        n: Int = 5, ordered: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct BEFORE voting: a duplicate (user, item) row in one
    // request (a repeated item in a RecRequest's items list) would
    // double-count that item's votes and diverge from the model's
    // distinct-interaction semantics (the anti-join side already
    // dedups — the vote side must match)
    val hist = history.select(col("user_id"), col("item")).distinct()
      .localCheckpoint() // feeds 3 branches: prune, votes, anti-join
    // SERVING PRUNE: only pair rows whose i-side is in the request
    // batch's item set can ever vote — semi-join the symmetrized
    // model on those items (batch-bounded, broadcast) BEFORE the
    // count joins and cosine math, so serve cost tracks the request
    // batch, not the catalog²-support model size (the
    // annIvfServeBatch bucket-prune precedent)
    val histItems = hist.select(col("item").as("i")).distinct()
    val rawPairs = s.read.parquet(s"$dir/pairs")
    // per-orientation semi-join (a semi join does not push through a
    // union the way a filter would — prune each branch at its scan)
    val sym = rawPairs.select(col("i"), col("j"), col("c"))
      .join(broadcast(histItems), Seq("i"), "left_semi")
      .union(rawPairs.select(col("j").as("i"), col("i").as("j"), col("c"))
        .join(broadcast(histItems), Seq("i"), "left_semi"))
    val sims = scoreSym(sym, s.read.parquet(s"$dir/items"))
      .select(col("i").as("item"), col("j").as("rec_item"), col("cos_e6"))
    val votes = hist
      .join(sims, Seq("item"))
      .groupBy(col("user_id"), col("rec_item"))
      .agg(sum(col("cos_e6")).as("score_e6"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("score_e6").desc, col("rec_item"))
    val out = votes
      .join(hist.select(col("user_id"), col("item").as("rec_item")),
        Seq("user_id", "rec_item"), "left_anti")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("user_id"), col("rank"), col("rec_item"), col("score_e6"))
    if (ordered) out.orderBy(col("user_id"), col("rank")) else out
  }

  /** HYBRID per-user serving — the production twin of
    * [[recommendHybridEval]]'s fused ranking: each request user's
    * PRUNED CF serve list ([[recommendForUsers]] — per-orientation
    * semi-join on the batch's history items) and PRUNED Markov serve
    * list ([[markovNextServeBatch]] — item-granular model prune on
    * the batch's context items) fuse through the exact
    * [[Search.rrfFuse]] recipe. Both inputs read only what the
    * request batch touches, so the fused serve inherits BOTH pruning
    * stories — cost tracks the batch, never the stored models.
    * `history` = (user_id, item) interaction snapshots, `ctx` =
    * (user_id, item) current-context rows (one per user). Output one
    * (user_id, rank, rec_item, rrf) row per fused slot. Spec'd equal
    * to a driver-side exact-arithmetic replay of fusing the two
    * serve lists. */
  def recommendHybridServeBatch(s: SparkSession, cfDir: String,
                                mkDir: String, history: DataFrame,
                                ctx: DataFrame, k: Int = 5,
                                depth: Int = 10): DataFrame = {
    val cf = recommendForUsers(s, cfDir, history, depth, ordered = false)
      .select(col("user_id").as("query_id"), col("rec_item").as("doc_id"),
        col("rank"))
    val mk = markovNextServeBatch(s, mkDir, ctx, depth, ordered = false)
      .select(col("user_id").as("query_id"), col("next_item").as("doc_id"),
        col("rank"))
    Search.rrfFuse(Seq(cf, mk), k)
      .select(col("query_id").as("user_id"), col("rank"),
        col("doc_id").as("rec_item"), col("rrf"))
      .orderBy(col("user_id"), col("rank"))
  }

  /** Incremental training: fold a batch of NEW USERS' interactions
    * into the model. EXACT — equals fresh training of the
    * concatenated interactions (count algebra; spec'd equal),
    * PROVIDED the batch's users are new: an existing user's new
    * items would need their stored history to pair against (see the
    * object doc). */
  def appendToCfModel(batchInter: DataFrame, dir: String): Unit = {
    val s = batchInter.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val pairs = s.read.parquet(s"$dir/pairs")
        .unionByName(pairCounts(batchInter))
        .groupBy(col("i"), col("j")).agg(sum(col("c")).as("c"))
      val items = s.read.parquet(s"$dir/items")
        .unionByName(itemCounts(batchInter))
        .groupBy(col("item")).agg(sum(col("n")).as("n"))
      pairs.write.parquet(s"$tmp/pairs")
      items.write.parquet(s"$tmp/items")
    }
  }

  /** Erasure: subtract the victim users' interactions (passed whole
    * by the caller — the forgetFromNbModel shape). Pair rows whose
    * count reaches zero disappear, items with no remaining users
    * disappear, and the result EQUALS a fresh training of the
    * surviving users (spec'd in ErasureSpec). */
  def forgetFromCfModel(victimInter: DataFrame, dir: String): Unit = {
    val s = victimInter.sparkSession
    graft.sources.Compact.swap(s, dir) { tmp =>
      val pairs = s.read.parquet(s"$dir/pairs")
        .unionByName(pairCounts(victimInter).withColumn("c", -col("c")))
        .groupBy(col("i"), col("j")).agg(sum(col("c")).as("c"))
        .filter(col("c") > 0)
      val items = s.read.parquet(s"$dir/items")
        .unionByName(itemCounts(victimInter).withColumn("n", -col("n")))
        .groupBy(col("item")).agg(sum(col("n")).as("n"))
        .filter(col("n") > 0)
      pairs.write.parquet(s"$tmp/pairs")
      items.write.parquet(s"$tmp/items")
    }
  }
}
