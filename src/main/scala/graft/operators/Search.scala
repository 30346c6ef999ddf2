package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Lexical retrieval — BM25 ranked search and its inverted-index
  * serving layout (SURVEY.md §2b). The semantic half of search lives
  * in [[Similarity]] (ANN over embeddings); this is the lexical half
  * a training-data/search pipeline pairs with it (and [[hybridRrf]]
  * fuses the two rankings).
  *
  * Reference scope: the reference (Jiawei57/steam-data-pipeline) has
  * no search capability; this extends the engine the same way the
  * dedup/ANN families do, per the mandate.
  *
  * Scale shape: token rows come from ONE typed pass per doc (the
  * HOF-under-Generate trap — see CLAUDE.md); tf/df/dl are
  * partial-aggregated groupBys of that frame; the query set is tiny
  * and BROADCAST against tf; per-query top-k uses the bounded
  * [[graft.functions.TopK.TopKAggregator]] (map-side partial top-k —
  * k rows per query per partition cross the shuffle, not the
  * candidate lists). The production path is the artifact split:
  * [[writeInvertedIndexBucketed]] once, then [[bm25ServeBatch]] reads
  * ONLY the probed terms' hash-bucket partitions (pushed-down
  * `token IN (...)`) — the lexical analog of the IVF bucket-pruned
  * probe ([[Similarity.annIvfServeBatch]]).
  *
  * Cross-engine determinism (the [[graft.Util]] discipline): with
  * k1 = 1.2 and b = 0.75, the per-term weight
  * tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) multiplied through by
  * 10·S·N⁻¹-free denominators becomes the INTEGER rational
  * 22·tf·S / (10·tf·S + 3·S + 9·dl·N) (S = Σdl, N = docs) — both
  * engines divide the same exactly-representable BIGINTs (one IEEE
  * division, identical bits; exact while 22·tf·S < 2^53 — beyond
  * that, compute in double and keep the 1e-9 snap). The idf uses the
  * +1 variant ln((2N+2)/(2·df+1)) — again an integer rational into
  * ln(). Both factors round to the 1e-9 grid, multiply and sum in
  * exact DECIMAL(13,9)×DECIMAL(13,9), and the final score is ONE
  * double cast rounded to 6 dp; ranking orders by the ROUNDED score
  * with doc_id tie-break, so rank assignment is identical in both
  * engines.
  */
object Search {

  /** Fixed benchmark query set over the synthetic vocabulary:
    * common terms (low idf), the rare 'dup' (high idf), and an
    * out-of-vocabulary term ('warehouse') that must contribute
    * nothing. */
  val BmQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("hash", "join", "merge"),
    2L -> Seq("vector", "scan", "filter"),
    3L -> Seq("stream", "window", "batch"),
    4L -> Seq("dup", "customer", "warehouse"),
    5L -> Seq("spark", "query", "fast"))

  val DefaultK = 10

  /** Per-(doc, token) term frequencies — one typed corpus pass. */
  private[graft] def termFreqs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        t.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty).map(id -> _) }
      .toDF("doc_id", "token")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
  }

  /** The two rounded DECIMAL(13,9) factors of a term's BM25
    * contribution (see object doc for the integer-rational
    * derivation). `nDocs`/`sTok` are the corpus scalars as COLUMNS:
    * a literal would compile them into the scoring stage's generated
    * code, which every index append would then recompile. */
  private def idfCol(df: Column, nDocs: Column): Column =
    round(log((lit(2L) * nDocs + lit(2L)).cast("double") /
      (lit(2L) * df + lit(1L)).cast("double")), 9).cast(DecimalType(13, 9))

  private def wCol(tf: Column, dl: Column, nDocs: Column, sTok: Column): Column =
    round((lit(22L) * tf * sTok).cast("double") /
      (lit(10L) * tf * sTok + lit(3L) * sTok + lit(9L) * dl * nDocs)
        .cast("double"), 9).cast(DecimalType(13, 9))

  /** The broadcast query side of [[scoreAndRank]]: the batch's
    * (query_id, term) rows, collected once, each carrying the corpus
    * scalars as data — (query_id, token, n_docs, s_tok), a local
    * relation. */
  private def queryRows(s: SparkSession, batch: Seq[(Long, String)],
                        stats: (Long, Long)): DataFrame = {
    import s.implicits._
    batch.map { case (q, t) => (q, t, stats._1, stats._2) }
      .toDF("query_id", "token", "n_docs", "s_tok")
  }

  /** Score a query side ([[queryRows]]) against per-doc stats and emit
    * the per-query top-k: (query_id, doc_id, bm25, rank), ordered
    * unless an interior consumer (a fusion) reorders anyway. Shared
    * core of the inline query and the index-served path — identical
    * results by construction. `tfd` must carry (doc_id, token, tf, dl,
    * df). */
  private def scoreAndRank(queries: DataFrame, tfd: DataFrame, k: Int,
                           ordered: Boolean): DataFrame = {
    val s = tfd.sparkSession
    import s.implicits._
    val contrib = tfd
      .join(broadcast(queries), Seq("token"))
      .select(col("query_id"), col("doc_id"),
        (idfCol(col("df"), col("n_docs")) *
          wCol(col("tf"), col("dl"), col("n_docs"), col("s_tok"))).as("contrib"))
    val scored = contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")).cast("double"), 6).as("bm25"))
    val top = scored.select(col("query_id"), col("doc_id"), col("bm25"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => graft.functions.TopK.Scored(t._2, t._3))
      .agg(new graft.functions.TopK.TopKAggregator(k).toColumn)
      .flatMap { case (qid, arr) =>
        arr.iterator.zipWithIndex.map { case (sc, i) => (qid, sc.id, sc.score, i + 1) } }
      .toDF("query_id", "doc_id", "bm25", "rank")
    if (ordered) Similarity.inRankOrder(top) else top
  }

  /** bm25_topk — the oracle-gated inline query: stats are derived
    * from the corpus in-plan (the lineage recomputes the token pass
    * per aggregate — acceptable for the gate query; production uses
    * [[writeInvertedIndexBucketed]] + [[bm25ServeBatch]], the artifact split,
    * exactly like ngram_lm's model split). The two corpus scalars
    * (N, S) are a bounded driver artifact (one 2-value collect, the
    * centroid precedent), carried as data on the query side. */
  def bm25TopK(s: SparkSession, d: String, k: Int = DefaultK): DataFrame =
    bm25Ranked(s, d, k, ordered = true)

  private def bm25Ranked(s: SparkSession, d: String, k: Int,
                         ordered: Boolean): DataFrame = {
    import s.implicits._
    // the stats collect below forces evaluation anyway, so the
    // checkpoint is EAGER here (not the lazy-cache trap — CLAUDE.md):
    // tf feeds dl/df/stats/scoring, and without it the token pass
    // re-executes once per consumer
    val tf = termFreqs(Tables.documents(s, d)).localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val Array(nDocs, sTok) = dl.agg(count(lit(1)), sum(col("dl")))
      .as[(Long, Long)].collect().flatMap(t => Array(t._1, t._2))
    val tfd = tf.join(dl, "doc_id").join(broadcast(df), "token")
    val batch = BmQueries.flatMap { case (q, ts) => ts.map(q -> _) }
    scoreAndRank(queryRows(s, batch, (nDocs, sTok)), tfd, k, ordered)
  }

  // ---- inverted-index artifact + pruned serving ------------------------

  /** Parquet row-group size of the bucketed postings (the skipping
    * granule inside a probed bucket), and the per-file target of the
    * index compactions. */
  private val PostingsRowGroupBytes = 8L << 20
  private val CompactTargetBytes = 128L << 20

  /** The hash bucket of the `token` column — the ONE assignment every
    * writer, append, fold and serve replays (serve derives its probed
    * buckets through this same Spark hash; a driver-side
    * reimplementation could drift). */
  private def tokenBucket(nBuckets: Int): Column =
    pmod(xxhash64(col("token")), lit(nBuckets)).cast("int")

  /** A stored inverted or positional index as of ONE listing of `dir`
    * ([[Tables.Version]]): every table is read through it, and the
    * per-generation values — the `meta` bucket count, the `stats`
    * scalars, the tombstone log's ids, the schemas — are computed at
    * most once per file version ([[Tables.memo]], [[Tables.read]]). An
    * append, delete, compaction or rewrite makes new files, so a value
    * of an older generation never serves. */
  private final case class Index(s: SparkSession, v: Tables.Version) {
    def table(name: String): Tables.Version = v.sub(name)

    /** The one-row `meta` contract that keeps writer, append and serve
      * on the same `n_buckets`. */
    lazy val nBuckets: Int = Tables.memo(s, table("meta"), "n_buckets") {
      Tables.read(s, table("meta")).head().getInt(0)
    }

    /** The corpus scalars (n_docs, s_tok) of the one-row `stats`. */
    lazy val stats: (Long, Long) = Tables.memo(s, table("stats"), "stats") {
      val r = Tables.read(s, table("stats")).head()
      (r.getLong(0), r.getLong(1))
    }

    /** The distinct buckets `terms` hash into, through the stored hash
      * (a projection of a local relation: evaluated on the driver). */
    def bucketsOf(terms: Seq[String]): Seq[Int] = {
      import s.implicits._
      terms.toDF("token").select(tokenBucket(nBuckets)).as[Int]
        .collect().distinct.sorted.toSeq
    }

    /** Whether any of `buckets` holds files of `name` (the listing
      * answers; a missing bucket holds no probed term). */
    def holdsAny(name: String, buckets: Seq[Int]): Boolean = {
      val held = table(name).partitions("tb").toSet
      buckets.exists(b => held(b.toString))
    }

    /** `name`'s rows of the probed `terms`: partition pruning to their
      * `buckets` over the listing, and the `token IN` filter pushed into
      * the token-sorted scan (row-group skipping). */
    def probed(name: String, terms: Seq[String], buckets: Seq[Int]): DataFrame =
      Tables.read(s, table(name))
        .filter(col("tb").isin(buckets: _*) && col("token").isin(terms: _*))

    /** `rows` minus the index's pending doc deletes. */
    def live(rows: DataFrame): DataFrame =
      graft.sources.Compact.minusTombstones(s, table("_tombstones"), "doc_id")(rows)
  }

  private def open(s: SparkSession, dir: String): Index = Index(s, Tables.version(s, dir))

  /** (token, doc_id, tf, dl, tb) posting rows, clustered by bucket and
    * token-sorted within each file so parquet row-group statistics
    * skip non-probed terms inside a probed bucket — shared by the
    * writer and the append. */
  private def postingRows(tf: DataFrame, dl: DataFrame,
                          nBuckets: Int): DataFrame =
    tf.join(dl, "doc_id")
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
      .withColumn("tb", tokenBucket(nBuckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("token"), col("doc_id"))

  /** Write the inverted index as FOUR tables under `dir`:
    *
    *   - `postings/tb=.../` — `(token, doc_id, tf, dl)` partitioned by
    *     a HASH BUCKET of the token (`nBuckets` directories total,
    *     vocabulary-independent — a per-term directory layout would
    *     cost millions of directories at a real corpus vocabulary),
    *     so a query batch's scan is pruned to its terms' buckets (the
    *     lexical analog of [[Similarity.writeIvfPartitioned]]),
    *   - `df/tb=.../` — `(token, df)`, bucketed like the postings: a
    *     flat vocabulary-sized table would be scanned whole on every
    *     serve; bucketed, serve reads only the probed df buckets and
    *     appends merge only the touched ones,
    *   - `stats` — the 1-row corpus scalars (n_docs, s_tok),
    *   - `meta` — `n_buckets`, replayed by append and serve.
    *
    * df/stats live OUTSIDE the posting rows (not denormalized) so the
    * index is incrementally maintainable: appending a batch of NEW
    * docs ([[appendInvertedIndexBucketed]]) appends postings in place
    * and ADDS the batch's df/stats deltas — exact, because a new doc
    * contributes to each count once. A denormalized df would go stale
    * corpus-wide on every append. */
  def writeInvertedIndexBucketed(docs: DataFrame, dir: String,
                                 nBuckets: Int = 1024): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    val tf = termFreqs(docs).localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    postingRows(tf, dl, nBuckets)
      .write.mode("overwrite").partitionBy("tb")
      .option("parquet.block.size", PostingsRowGroupBytes)
      .parquet(s"$dir/postings")
    tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("tb", tokenBucket(nBuckets))
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dir/df")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_tok"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Daily index maintenance: fold a batch of NEW docs into the
    * standing index — postings append INSIDE the existing bucket
    * directories (pruned probes see the new docs with no index
    * rewrite, the [[Similarity.appendIvfPartitioned]] shape), and the
    * df/stats tables merge the batch's exact deltas: df through
    * [[graft.sources.Compact.rewriteBuckets]] (only the buckets the
    * batch's tokens hash into), stats through
    * [[graft.sources.Compact.swap]]. Docs must be new
    * (append-only corpus, the dedup_incremental posture): re-appended
    * doc_ids would double-count df. Spec'd: append-then-serve ≡
    * one-shot index of the union. */
  def appendInvertedIndexBucketed(batch: DataFrame, dir: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    val ix = open(s, dir)
    val tf = termFreqs(batch).localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    postingRows(tf, dl, ix.nBuckets)
      .write.mode("append").partitionBy("tb").parquet(s"$dir/postings")
    val deltas = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("tb", tokenBucket(ix.nBuckets))
    // bounded by the batch's vocabulary
    val affected = ix.bucketsOf(tf.select(col("token")).as[String].collect().distinct.toSeq)
    graft.sources.Compact.rewriteBuckets(s, s"$dir/df", "tb", affected)(
      _.unionByName(deltas)
        .groupBy(col("token"), col("tb")).agg(sum(col("df")).as("df"))
        .select(col("token"), col("df"), col("tb")))
    val (nDocs, sTok) = ix.stats
    val (dn, ds) = dl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .as[(Long, Long)].head()
    val next = (nDocs + dn, sTok + ds)
    graft.sources.Compact.swap(s, s"$dir/stats")(
      Seq(next).toDF("n_docs", "s_tok").coalesce(1).write.parquet(_))
    // the scalars of the generation just written, under its own listing
    Tables.memo(s, Tables.version(s, s"$dir/stats"), "stats")(next)
  }

  /** Serve ONE batch of term queries against the stored index: the
    * batch's distinct terms (bounded by the batch) map to their
    * buckets through the stored hash, only those bucket directories
    * are read (partition pruning over the index's one listing) — for
    * the postings AND the df lookup — and
    * the `token IN` filter pushes into the scan, where the within-file
    * token sort lets row-group stats skip non-probed terms. Per-batch
    * cost tracks the probed posting lists, never the corpus or the
    * vocabulary. Result-identical to [[bm25TopK]] over the same corpus
    * and queries (spec'd).
    *
    * The batch is collected once (it is bounded); its distinct terms,
    * their buckets and the broadcast query side come from that collect,
    * and the index opens once per file version ([[Index]]), so a warm
    * serve launches no driver-probe job. */
  def bm25ServeBatch(s: SparkSession, dir: String, queries: DataFrame,
                     k: Int = DefaultK): DataFrame =
    bm25Serve(s, dir, queries, k, ordered = true)

  private def bm25Serve(s: SparkSession, dir: String, queries: DataFrame,
                        k: Int, ordered: Boolean): DataFrame = {
    import s.implicits._
    def empty = Seq.empty[(Long, Long, Double, Int)]
      .toDF("query_id", "doc_id", "bm25", "rank")
    val batch = queries.select(col("query_id"), col("term")).as[(Long, String)]
      .collect().toSeq
    val terms = batch.map(_._2).distinct.sorted
    if (terms.isEmpty) return empty
    val ix = open(s, dir)
    val buckets = ix.bucketsOf(terms)
    // every term OOV: empty result, ranked schema (postings and df
    // buckets are written together)
    if (!ix.holdsAny("postings", buckets) || !ix.holdsAny("df", buckets)) return empty
    val post = ix.live(ix.probed("postings", terms, buckets))
      .join(broadcast(ix.probed("df", terms, buckets).drop("tb")), "token")
    scoreAndRank(queryRows(s, batch, ix.stats), post, k, ordered)
  }

  /** Periodic maintenance for the inverted index: daily
    * [[appendInvertedIndexBucketed]] runs accrete one small file per
    * touched bucket — re-collapse the postings in place, keeping the
    * bucket partitioning and the within-file token sort so pruned
    * probes keep pruning; the df table keeps its bucket partitioning
    * too. stats is a single row rewritten whole each append and needs
    * no maintenance. A pending tombstone log FOLDS here (see
    * [[deleteFromInvertedIndex]]). Serve-identical (spec'd). */
  def compactInvertedIndexBucketed(s: SparkSession, dir: String): Unit = {
    val hadTombstones = graft.sources.Compact.hasTombstones(s, dir)
    graft.sources.Compact.compactInPlace(s, s"$dir/postings",
      CompactTargetBytes,
      partitionCols = Seq("tb"),
      sortCols = Seq("tb", "token", "doc_id"),
      transform = graft.sources.Compact.minusTombstones(s, dir, "doc_id")(_))
    if (hadTombstones) foldIndexTombstones(s, dir)
    else {
      graft.sources.Compact.compactInPlace(s, s"$dir/df", CompactTargetBytes,
        partitionCols = Seq("tb"))
      ()
    }
  }

  // ---- deletion support (doc tombstones over the stored index) -----------

  /** DELETE documents from a stored inverted or positional index —
    * the lexical twin of [[Similarity.deleteFromLayout]]: doc_ids
    * go to the index's tombstone log
    * ([[graft.sources.Compact.addTombstones]]; posting files stay
    * immutable between compactions). Serving subtracts the log from the probed
    * postings — a deleted doc can never be returned — while df/stats
    * keep counting it until compaction (the Lucene deleted-docs
    * discipline: survivor scores use the stale corpus stats, and the
    * compaction fold restores exactness). Compaction FOLDS the log:
    * postings rewritten without the docs, df and stats RECOMPUTED
    * from the surviving postings, log cleared. */
  def deleteFromInvertedIndex(s: SparkSession, dir: String,
                              docIds: DataFrame): Unit =
    graft.sources.Compact.addTombstones(dir, docIds, "doc_id")

  /** Recompute df + stats from the (already tombstone-folded)
    * postings and clear the log — the tail of the compaction fold.
    * df/stats derive exactly: df = postings per token, stats from the
    * per-doc (doc_id, dl) distinct view. */
  private def foldIndexTombstones(s: SparkSession, dir: String): Unit = {
    val post = s.read.parquet(s"$dir/postings")
    val nBuckets = open(s, dir).nBuckets
    graft.sources.Compact.swap(s, s"$dir/df")(
      post.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .withColumn("tb", tokenBucket(nBuckets))
        .repartition(col("tb"))
        .write.partitionBy("tb").parquet(_))
    graft.sources.Compact.swap(s, s"$dir/stats")(
      post.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_tok"))
        .coalesce(1).write.parquet(_))
    graft.sources.Compact.clearTombstones(s, dir)
  }

  // ---- hybrid retrieval: reciprocal-rank fusion ------------------------

  /** search_hybrid_rrf — fuse the lexical ([[bm25TopK]]) and semantic
    * (exact cosine top-k, the ANN family's correctness baseline)
    * rankings per query via reciprocal-rank fusion:
    * rrf(d) = Σ_lists 1/(60 + rank_list(d)) (Cormack et al.'s k=60).
    * The query set pairs each [[BmQueries]] term set with the
    * embedding of the SAME id — doc_id and vec_id are an aligned id
    * space in this corpus. RRF consumes ANY ranked lists, so the
    * production form feeds the IVF-served semantic list
    * ([[Similarity.annIvfServeBatch]]) and the index-served lexical
    * list ([[bm25ServeBatch]]) — rank fusion itself is a tiny
    * groupBy over 2·depth rows per query.
    *
    * Determinism: each 1/(60+rank) is one IEEE division of exact
    * integers, snapped to the 1e-9 grid and summed in exact decimal;
    * final score is one double cast rounded to 6 dp; ranking orders
    * by (rounded rrf, doc_id) in both engines. */
  /** Fuse ANY ranked lists `(query_id, doc_id, rank)` via RRF — list-
    * agnostic: the gate query feeds it exact rankings, the serving
    * path feeds it the index-served lexical and IVF-served semantic
    * lists. Fusion itself is one tiny groupBy over Σ|lists| rows per
    * query.
    *
    * `weights` (optional, positional with `lists`; missing entries
    * default to 1.0) turn this into weighted RRF — the production
    * knob for biasing lexical vs semantic evidence. Determinism holds
    * unchanged: w/(60+rank) is ONE IEEE division of a literal by an
    * exact small integer, snapped to the 1e-9 grid before the exact
    * decimal sum. The fused top-k of a bounded batch sorts in one
    * partition ([[Similarity.inRankOrder]]). */
  def rrfFuse(lists: Seq[DataFrame], k: Int = DefaultK,
              weights: Seq[Double] = Nil): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(weights.isEmpty || weights.length <= lists.length,
      "more weights than lists")
    val s = lists.head.sparkSession
    import s.implicits._
    def rrfTerm(w: Double) = round(lit(w) /
      (lit(60) + col("rank")).cast("double"), 9).cast(DecimalType(13, 9))
    lists.zipWithIndex.map { case (l, i) =>
        val w = if (i < weights.length) weights(i) else 1.0
        l.select(col("query_id"), col("doc_id"), rrfTerm(w).as("c"))
      }
      .reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("c")).cast("double"), 6).as("rrf"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => graft.functions.TopK.Scored(t._2, t._3))
      .agg(new graft.functions.TopK.TopKAggregator(k).toColumn)
      .flatMap { case (qid, arr) =>
        arr.iterator.zipWithIndex.map { case (sc, i) => (qid, sc.id, sc.score, i + 1) } }
      .toDF("query_id", "doc_id", "rrf", "rank")
      .transform(Similarity.inRankOrder)
  }

  def hybridRrf(s: SparkSession, d: String, k: Int = DefaultK,
                depth: Int = 20): DataFrame =
    hybridRrfWeighted(s, d, k, depth, Nil)

  /** search_hybrid_wrrf — the WEIGHTED fusion gate query: same two
    * rankings as [[hybridRrf]], lexical evidence down-weighted to
    * 0.75 (both default weights are binary-exact doubles, so the
    * oracle's decimal literals parse to identical bits). Oracle-gated
    * separately from the unweighted form so the weighted path is
    * hash-verified, not just spec'd. */
  val WrrfLexWeight = 0.75
  def hybridRrfWeighted(s: SparkSession, d: String, k: Int = DefaultK,
                        depth: Int = 20,
                        weights: Seq[Double] = Seq(WrrfLexWeight, 1.0))
      : DataFrame = {
    val cosSim = graft.functions.CosineSimilarity.cosineSim _
    val lex = bm25Ranked(s, d, depth, ordered = false)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val qids = BmQueries.map(_._1)
    // semantic side: the exhaustive bucket EQUI-join pair product
    // (bit-identical to the broadcast cross product this used through
    // r13, but it plans as a hash join — the last two hybrid BNLJs
    // retired by the annIvfPrefix precedent)
    val semScored = Similarity.exhaustivePairsFor(s, d, qids)
      .select(col("query_id"), col("neighbor_id"),
        round(cosSim(col("qv"), col("v")), 6).as("cos_sim"))
    val sem = Similarity.topKPerQuery(semScored, depth, ordered = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, sem), k, weights)
  }

  /** Serve ONE batch of hybrid queries against the STORED layouts:
    * the index-served lexical list ([[bm25ServeBatch]], bucket-pruned)
    * fused with the IVF-served semantic list
    * ([[Similarity.annIvfServeBatch]], bucket-pruned). Both probes
    * read only what the batch touches, so hybrid serving inherits
    * both pruning stories. With `nprobe` = nlist the semantic list is
    * exhaustive and this is result-identical to [[hybridRrf]]
    * (spec'd); at serving nprobe it trades that for the probe cost,
    * exactly the IVF recall trade documented in [[Similarity]]. Both
    * lists feed the fusion UNORDERED: an inner `orderBy` would cost a
    * range-sampling job and a shuffle the fusion's groupBy discards. */
  def hybridServeBatch(s: SparkSession, invDir: String, ivfDir: String,
                       cents: Array[Array[Double]],
                       termQueries: DataFrame, vecQueries: DataFrame,
                       k: Int = DefaultK, depth: Int = 20,
                       nprobe: Int = Similarity.IvfNprobe,
                       weights: Seq[Double] = Nil): DataFrame = {
    val lex = bm25Serve(s, invDir, termQueries, depth, ordered = false)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = Similarity.ivfServe(s, ivfDir, cents, vecQueries, depth, nprobe,
        excludeSelf = false, ordered = false)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, sem), k, weights)
  }

  /** Fusion-quality channel (the recall analog for hybrid serving):
    * top-k overlap between the SERVING-form fusion — lexical list +
    * IVF semantic list at serving nprobe — and the gate fusion, whose
    * semantic side is the exhaustive exact cosine ranking. 1.0 means
    * the nprobe trade cost the fused ranking nothing; measured
    * per-round by Bench next to the ANN recalls, floored in
    * RecallSpec. */
  def hybridFusionQuality(s: SparkSession, d: String, k: Int = DefaultK,
                          depth: Int = 20,
                          nprobe: Int = Similarity.IvfNprobe): Double = {
    val qids = BmQueries.map(_._1)
    val lex = bm25TopK(s, d, depth)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = Similarity
      .annIvf(s, d, nQueries = qids.max.toInt + 1, k = depth, nprobe = nprobe)
      .filter(col("query_id").isInCollection(qids))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val served = rrfFuse(Seq(lex, sem), k).select("query_id", "doc_id")
    val gate = hybridRrf(s, d, k).select("query_id", "doc_id")
    val n = gate.count().toDouble
    if (n == 0) 0.0
    else served.join(gate, Seq("query_id", "doc_id"), "left_semi").count() / n
  }

  /** DuckDB oracle for [[hybridRrf]] — the bm25 pipeline as CTEs, the
    * brute-force cosine ranking, and the fused decimal sum. `wLex` /
    * `wSem` are SQL literal texts (kept as strings so both engines
    * parse the same decimal — the defaults are binary-exact anyway);
    * "1" reproduces the unweighted gate. */
  def hybridRrfOracleSql(k: Int = DefaultK, depth: Int = 20,
                         wLex: String = "1", wSem: String = "1"): String = {
    val qids = BmQueries.map(_._1).mkString(", ")
    val qvals = BmQueries.flatMap { case (q, ts) =>
      ts.map(t => s"(CAST($q AS BIGINT), '$t')") }.mkString(",\n        ")
    raw"""
      WITH tok AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
                             x -> length(x) > 0)) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS s_tok FROM dl),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      qt(query_id, term) AS (VALUES
        $qvals),
      contrib AS (
        SELECT q.query_id, f.doc_id,
          CAST(round(ln(CAST(2 * s.n_docs + 2 AS DOUBLE) /
                        CAST(2 * d.df + 1 AS DOUBLE)), 9) AS DECIMAL(13,9)) *
          CAST(round(CAST(22 * f.tf * s.s_tok AS DOUBLE) /
                     CAST(10 * f.tf * s.s_tok + 3 * s.s_tok
                          + 9 * l.dl * s.n_docs AS DOUBLE), 9)
               AS DECIMAL(13,9)) AS c
        FROM qt q
        JOIN tf f ON f.token = q.term
        JOIN df d ON d.token = q.term
        JOIN dl l ON l.doc_id = f.doc_id
        CROSS JOIN stats s),
      bm AS (
        SELECT query_id, doc_id,
          round(CAST(sum(c) AS DOUBLE), 6) AS bm25
        FROM contrib GROUP BY 1, 2),
      lex AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY bm25 DESC, doc_id) AS rank
          FROM bm) WHERE rank <= $depth),
      qv AS (SELECT vec_id AS query_id, embedding FROM embeddings
             WHERE vec_id IN ($qids)),
      semscore AS (
        SELECT q.query_id, e.vec_id AS doc_id,
          round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])), 6) AS cs
        FROM qv q CROSS JOIN embeddings e),
      sem AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cs DESC, doc_id) AS rank
          FROM semscore) WHERE rank <= $depth),
      rrlists AS (
        SELECT query_id, doc_id,
          CAST(round(CAST($wLex AS DOUBLE) / CAST(60 + rank AS DOUBLE), 9)
               AS DECIMAL(13,9)) AS c
        FROM lex
        UNION ALL
        SELECT query_id, doc_id,
          CAST(round(CAST($wSem AS DOUBLE) / CAST(60 + rank AS DOUBLE), 9)
               AS DECIMAL(13,9)) AS c
        FROM sem),
      fused AS (
        SELECT query_id, doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS rrf
        FROM rrlists GROUP BY 1, 2)
      SELECT query_id, doc_id, rrf, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id) AS INT) AS rank
        FROM fused)
      WHERE rank <= $k
      ORDER BY query_id, rank"""
  }

  /** DuckDB oracle for [[bm25TopK]] — replays the tokenization, the
    * integer-rational factors, and the decimal sum. */
  def bm25OracleSql(k: Int = DefaultK): String = {
    val qvals = BmQueries.flatMap { case (q, ts) =>
      ts.map(t => s"(CAST($q AS BIGINT), '$t')") }.mkString(",\n        ")
    raw"""
      WITH tok AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
                             x -> length(x) > 0)) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS s_tok FROM dl),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      qt(query_id, term) AS (VALUES
        $qvals),
      contrib AS (
        SELECT q.query_id, f.doc_id,
          CAST(round(ln(CAST(2 * s.n_docs + 2 AS DOUBLE) /
                        CAST(2 * d.df + 1 AS DOUBLE)), 9) AS DECIMAL(13,9)) *
          CAST(round(CAST(22 * f.tf * s.s_tok AS DOUBLE) /
                     CAST(10 * f.tf * s.s_tok + 3 * s.s_tok
                          + 9 * l.dl * s.n_docs AS DOUBLE), 9)
               AS DECIMAL(13,9)) AS c
        FROM qt q
        JOIN tf f ON f.token = q.term
        JOIN df d ON d.token = q.term
        JOIN dl l ON l.doc_id = f.doc_id
        CROSS JOIN stats s),
      agg AS (
        SELECT query_id, doc_id,
          round(CAST(sum(c) AS DOUBLE), 6) AS bm25
        FROM contrib GROUP BY 1, 2)
      SELECT query_id, doc_id, bm25, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        FROM agg)
      WHERE rank <= $k
      ORDER BY query_id, rank"""
  }

  // ---- phrase search: positional postings --------------------------------

  /** Fixed phrase set over the synthetic vocabulary: two-term phrases
    * that occur naturally, a rarer three-term phrase, and the
    * repeated-token phrase ("window window") that exercises the
    * OVERLAPPING-occurrence semantics (position-based counting finds
    * both matches in "window window window"; a string replace-count
    * would miss one). */
  val PhraseQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("merge", "join"),
    2L -> Seq("sort", "order"),
    3L -> Seq("stream", "batch"),
    4L -> Seq("hash", "join", "merge"),
    5L -> Seq("window", "window"))

  /** phrase_search — exact phrase containment over the corpus: every
    * (query, doc) pair where the phrase occurs as a CONSECUTIVE token
    * sequence, with total (overlapping) match count and first
    * position. The inline form is one typed scan per doc (phrases
    * broadcast in the closure, O(len × phrases) per doc, no shuffle
    * before the final sort); the production path is the positional
    * index split ([[writePositionalIndex]] + [[phraseServeBatch]]),
    * spec'd result-identical. */
  def phraseSearch(s: SparkSession, d: String,
                   phrases: Seq[(Long, Seq[String])] = PhraseQueries)
      : DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(phrases)
    graft.Util.fanOutIfAtLeast(
        Tables.documents(s, d).select(col("doc_id"), col("text"))
          .as[(Long, String)])
      .flatMap { case (id, t) =>
        val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        bc.value.iterator.flatMap { case (qid, terms) =>
          var n = 0L; var first = -1L
          var p = 0
          val L = terms.length
          while (p + L <= toks.length) {
            var i = 0
            while (i < L && toks(p + i) == terms(i)) i += 1
            if (i == L) { n += 1; if (first < 0) first = p.toLong }
            p += 1
          }
          if (n > 0) Iterator.single((qid, id, n, first)) else Iterator.empty
        }
      }
      .toDF("query_id", "doc_id", "n_matches", "first_pos")
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** DuckDB replay of [[phraseSearch]]: positions via a lateral
    * unnest(range) and the phrase match as a LIST-SLICE equality —
    * position-based, so overlapping occurrences count exactly like
    * the Spark scan. */
  val phraseSearchOracle: String = {
    val qvals = PhraseQueries.map { case (q, ts) =>
      s"($q, [${ts.map(t => s"'$t'").mkString(", ")}])"
    }.mkString(",\n        ")
    raw"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(text), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      q(query_id, terms) AS (VALUES
        $qvals),
      m AS (
        SELECT q.query_id, t.doc_id, u.p
        FROM t, q, unnest(range(0, len(t.toks))) AS u(p)
        WHERE u.p + len(q.terms) <= len(t.toks)
          AND t.toks[u.p + 1 : u.p + len(q.terms)] = q.terms)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        COUNT(*) AS n_matches, MIN(p) AS first_pos
      FROM m GROUP BY query_id, doc_id
      ORDER BY query_id, doc_id"""
  }

  /** Positional-postings layout — the phrase-serving artifact:
    * (token, doc_id, pos) rows partitioned by a token hash bucket
    * (the [[writeInvertedIndexBucketed]] vocabulary-independent
    * discipline: bounded directory count, within-file token sort for
    * row-group skipping, n_buckets stored in `meta` so writer and
    * serve can never disagree). Shares the inverted-index tombstone
    * log contract: [[deleteFromInvertedIndex]] against this dir, and
    * [[phraseServeBatch]] subtracts. */
  /** One typed pass: (token, doc_id, pos) rows with the bucket key —
    * shared by the writer and the append so assignment cannot
    * drift. */
  private def positionRows(docs: DataFrame, nBuckets: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        t.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty).zipWithIndex
          .map { case (tok, p) => (tok, id, p.toLong) } }
      .toDF("token", "doc_id", "pos")
      .withColumn("tb", tokenBucket(nBuckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("token"), col("doc_id"), col("pos"))
  }

  def writePositionalIndex(docs: DataFrame, dir: String,
                           nBuckets: Int = 1024): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    positionRows(docs, nBuckets)
      .write.mode("overwrite").partitionBy("tb")
      .option("parquet.block.size", PostingsRowGroupBytes)
      .parquet(s"$dir/postings")
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Daily maintenance for the positional layout — the
    * [[appendInvertedIndexBucketed]] twin WITHOUT a stats merge
    * (positions carry no corpus statistics, so append is pure): the
    * batch's postings append inside the existing bucket directories,
    * assignment replayed from the stored `n_buckets`. Docs must be
    * NEW (the append-only corpus contract). Spec'd: append-then-serve
    * ≡ one-shot index of the union. */
  def appendPositionalIndex(batch: DataFrame, dir: String): Unit =
    positionRows(batch, open(batch.sparkSession, dir).nBuckets)
      .write.mode("append").partitionBy("tb")
      .parquet(s"$dir/postings")

  /** Compaction for the positional layout: small files fold, the
    * within-file token sort (row-group skipping) is re-established,
    * and the tombstone log FOLDS into the postings — after the swap,
    * serves answer identically without paying the subtract join, and
    * a retestable delete can never resurrect (the
    * [[compactInvertedIndexBucketed]] discipline, minus the df/stats
    * recompute this layout does not carry). */
  def compactPositionalIndex(s: SparkSession, dir: String): Unit = {
    graft.sources.Compact.compactInPlace(s, s"$dir/postings",
      CompactTargetBytes,
      partitionCols = Seq("tb"),
      sortCols = Seq("tb", "token", "doc_id", "pos"),
      transform = graft.sources.Compact.minusTombstones(s, dir, "doc_id")(_))
    graft.sources.Compact.clearTombstones(s, dir)
  }

  /** Serve a phrase batch against the positional layout — result-
    * identical to the inline scan (spec'd). Probed terms → probed
    * buckets (pruned over the index's one listing, [[Index]]; `token
    * IN` pushed into the sorted scan); the phrase join is ONE broadcast join + ONE
    * aggregation, not a per-term join chain: each posting row joins
    * the tiny (query, i, term) set, every row votes for the anchor
    * position pos − i, and an anchor with all |phrase| DISTINCT i
    * votes is a match (distinctness handles repeated-token phrases,
    * where one posting row votes for several anchors). */
  def phraseServeBatch(s: SparkSession, dir: String,
                       phrases: Seq[(Long, Seq[String])]): DataFrame = {
    import s.implicits._
    def empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("query_id", "doc_id", "n_matches", "first_pos")
    val terms = phrases.flatMap(_._2).distinct.sorted
    if (terms.isEmpty) return empty
    val ix = open(s, dir)
    val buckets = ix.bucketsOf(terms)
    if (!ix.holdsAny("postings", buckets)) return empty
    val post = ix.live(ix.probed("postings", terms, buckets))
    val qterms = phrases.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (qid, i, t, ts.length) } }
      .toDF("query_id", "i", "token", "plen")
    post.join(broadcast(qterms), "token")
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("i")).as("anchor"), col("i"), col("plen"))
      .filter(col("anchor") >= 0)
      .groupBy(col("query_id"), col("doc_id"), col("anchor"), col("plen"))
      .agg(countDistinct(col("i")).as("hits"))
      .filter(col("hits") === col("plen"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("anchor")).as("first_pos"))
      .orderBy(col("query_id"), col("doc_id"))
  }
}
