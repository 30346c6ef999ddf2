package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale deduplication suite (SURVEY.md §2b).
  *
  * The driver corpus is duplicate-free, so the exact/ngram/minhash/
  * simhash queries PLANT deterministic duplicates (doc_id + 100000,
  * text perturbed) before deduplicating — the oracle SQL plants the
  * same rows, so detection is still hash-checked end-to-end.
  *
  * Scale shape: every pair-generation step is an equi-join on a
  * blocking key (content hash, shingle, LSH band bucket, simhash
  * chunk) — the cross product is never materialized, and each join
  * shuffles once on its bucket key. This is the standard shape for
  * trillion-row dedup (cf. MinHashLSH in Spark MLlib and the
  * SimHash near-dup literature).
  */
object Dedup {

  /** Documents plus planted duplicates: docs 0-24 duplicated verbatim
    * (exact dups) and docs 25-49 with a small suffix (near dups). */
  def withPlants(docs: DataFrame): DataFrame = {
    val exact = docs.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + 100000)
    val near = docs.filter(col("doc_id") >= 25 && col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" zz qq")))
    docs.unionByName(exact).unionByName(near)
  }

  /** Exact dedup: md5 content hash → group → keep min id.
    * md5 is shared with DuckDB so the oracle verifies the hashes
    * themselves, not just the grouping. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    dedupExact(withPlants(Tables.documents(s, d)))

  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
      .filter(col("n_copies") >= 2)
      .orderBy(col("keeper_id"))

  /** Tokenization shared by the typed shingle/signature paths — must
    * match the oracle SQL exactly: lower → split \s+ → drop empties. */
  private def tokenize(text: String): Array[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty)

  private def shingleSet(text: String, n: Int): Array[String] = {
    val toks = tokenize(text)
    if (toks.length < n) Array.empty
    else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** doc_id, lang, shingle rows via a typed flatMap.
    *
    * Deliberately NOT a `transform`/`explode` column pipeline: Spark's
    * higher-order functions are CodegenFallback, and a fallback
    * expression fused into a codegen'd Generate stage is re-evaluated
    * per output element (measured 20-40x slowdown). A typed flatMap
    * runs the per-row string loop natively and stays embarrassingly
    * parallel. */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, lang, text) =>
        shingleSet(text, n).iterator.map(sh => (id, lang, sh)) }
      .toDF("doc_id", "lang", "shingle")
  }

  /** Near-dedup via word-3-gram Jaccard ≥ tau, language-blocked.
    * Inverted-index join on the shingle: pairs only materialize for
    * docs that actually share a shingle. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccard(withPlants(Tables.documents(s, d)))

  def ngramJaccard(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val sh = shingles(docs, 3)
    val shared = sharedCounts(sh)
    jaccardFromShared(shared, sh, tau)
  }

  /** Prefix-filtered variant (AllPairs/PPJoin): under a global
    * rare-first shingle order, any pair with J ≥ tau must share a
    * shingle within each doc's first (n - ceil(tau*n) + 1) shingles —
    * the smallest common shingle is provably inside both prefixes.
    * Exact (no false negatives), so results are identical to
    * [[ngramJaccard]] (equivalence spec in DedupSpec).
    *
    * Strategy choice: on mostly-unique corpora the candidate space
    * collapses to pairs sharing a RARE shingle and this wins big; on
    * duplication-heavy corpora (every shingle frequent — e.g. the
    * replicated Scale10 probe) rarity prunes nothing and the plain
    * counting form is faster. */
  def ngramJaccardPrefix(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(docs, 3)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("f"), col("shingle"))
    val prefix = sh.join(freq, "shingle")
      .join(sizes, "doc_id")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("n_sh") - ceil(col("n_sh") * tau) + 1)
      .select(col("doc_id"), col("lang"), col("shingle"))
    val cand = prefix.as("pa").join(prefix.hint("shuffle_hash").as("pb"),
        col("pa.shingle") === col("pb.shingle") &&
        col("pa.lang") === col("pb.lang") &&
        col("pa.doc_id") < col("pb.doc_id"))
      .select(col("pa.doc_id").as("d1"), col("pb.doc_id").as("d2"))
      .distinct()
    // exact verification restricted to candidates BEFORE the count
    // shuffle (the broadcast semi filter runs map-side)
    val shared = sharedCounts(sh, Some(cand))
    jaccardFromShared(shared, sh, tau)
  }

  /** dedup_containment — ASYMMETRIC containment dedup (Broder's
    * containment coefficient next to the Jaccard family): for
    * language-blocked pairs sharing a shingle, c(A→B) = shared/|A| —
    * the score that catches SUBSET duplicates Jaccard structurally
    * misses (a quoted excerpt, a truncated mirror, a doc embedded in
    * a larger page: shared/|A| = 1 while shared/(|A|+|B|−shared) can
    * sit far below any usable τ). Planted prefix-slice docs (ids
    * +300000, the first 30 tokens of a real doc — an exact token
    * subset) exercise the one-sided regime in-query.
    *
    * Scale shape: identical to [[ngramJaccard]] — the shingle
    * inverted-index equi-join (pairs only materialize on actual
    * co-occurrence, never all-pairs), two partial-agg shuffles.
    * Counts exact BIGINTs; each containment is ONE double division
    * rounded 6 dp, and the gate compares the ROUNDED values. */
  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val plants = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 300000).as("doc_id"), col("lang"),
        array_join(slice(split(col("text"), "\\s+"), 1, 30), " ").as("text"))
    dedupContainment(docs.select(col("doc_id"), col("lang"), col("text"))
      .unionByName(plants))
  }

  def dedupContainment(docs: DataFrame, tau: Double = 0.8): DataFrame = {
    val sh = shingles(docs, 3)
    val shared = sharedCounts(sh)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    shared
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2")
      .select(col("d1"), col("d2"), col("shared"), col("n1"), col("n2"),
        round(col("shared").cast("double") / col("n1"), 6).as("c_d1"),
        round(col("shared").cast("double") / col("n2"), 6).as("c_d2"))
      .filter(greatest(col("c_d1"), col("c_d2")) >= lit(tau))
      .orderBy(col("d1"), col("d2"))
  }

  /** Batch-vs-corpus form of [[dedupContainment]] — the shape the
    * daily loop runs (an arriving batch's shingles equi-join the
    * standing corpus's shingle stream/artifact; NEVER a corpus
    * self-join): containment of each batch doc in corpus docs and
    * the reverse, gated on the rounded max. Equivalence with the
    * one-shot on the union's cross pairs is spec'd. */
  def dedupContainmentIncremental(corpusDocs: DataFrame, batchDocs: DataFrame,
                                  tau: Double = 0.8): DataFrame = {
    val cSh = shingles(corpusDocs, 3)
      .select(col("doc_id").as("corpus_id"), col("lang"), col("shingle"))
    val bSh = shingles(batchDocs, 3)
      .select(col("doc_id").as("batch_id"), col("lang"), col("shingle"))
    val shared = cSh.hint("shuffle_hash").join(bSh, Seq("shingle", "lang"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("shared"))
    val cSizes = cSh.groupBy(col("corpus_id")).agg(count(lit(1)).as("n_corpus"))
    val bSizes = bSh.groupBy(col("batch_id")).agg(count(lit(1)).as("n_batch"))
    shared
      .join(bSizes, "batch_id")
      .join(cSizes, "corpus_id")
      .select(col("batch_id"), col("corpus_id"), col("shared"),
        col("n_batch"), col("n_corpus"),
        round(col("shared").cast("double") / col("n_batch"), 6).as("c_batch"),
        round(col("shared").cast("double") / col("n_corpus"), 6).as("c_corpus"))
      .filter(greatest(col("c_batch"), col("c_corpus")) >= lit(tau))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** (d1, d2, shared) — shared-shingle counts via the inverted-index
    * self-join, optionally restricted to a candidate pair set.
    * shuffle_hash hints: Generate-output stats are badly
    * underestimated by Catalyst, which would otherwise broadcast
    * millions of exploded shingle rows. */
  private def sharedCounts(sh: DataFrame,
                           cand: Option[DataFrame] = None): DataFrame = {
    val a = sh.as("a"); val b = sh.hint("shuffle_hash").as("b")
    val pairs = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    cand.fold(pairs)(c => pairs.join(broadcast(c), Seq("d1", "d2"), "left_semi"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("shared"))
  }

  private def jaccardFromShared(shared: DataFrame, sh: DataFrame,
                                tau: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"), col("shared"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Span-level exact dedup: repeated fixed-length character spans
    * ACROSS documents — the substring-granular operator training-data
    * pipelines run alongside doc-level dedup (boilerplate headers,
    * license blocks, quoted passages repeat across otherwise-distinct
    * docs; cf. the "deduplicating repeated training-data substrings"
    * line of work). Every doc emits its rolling `spanLen`-char window
    * hashes in one typed pass (no shuffle until the groupBy; the
    * declarative explode form would copy the full text into every
    * generated row); a span kept by ≥2 distinct docs is a cross-doc
    * repeat. The span key is the 60-bit md5-derived value
    * ([[md5Hash60]] — the simhash recipe), so the oracle reconstructs
    * the exact keys in SQL while the shuffle moves 8-byte longs
    * instead of 32-char hex strings (measured 2× on the window agg).
    * Output is bounded by distinct repeated spans — the groupBy is a
    * plain partial-aggregated hash agg, so the shape is scan + one
    * shuffle at any corpus size. */
  def dedupSpans(s: SparkSession, d: String): DataFrame =
    dedupSpans(withPlants(Tables.documents(s, d)))

  /** (doc_id, off, span_hash) rolling-window hashes WITH their
    * offsets — the shared front-end of [[dedupSpans]] (which discards
    * offsets at its aggregate) and [[dedupSpansExcise]] (which needs
    * them for the interval surgery). One typed scan, no shuffle. */
  private[graft] def spansWithOffsets(docs: DataFrame, spanLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ~len(text) hashes per doc: the dominant CPU of the span family —
    // never let a single-row-group input serialize it onto one task
    graft.Util.fanOut(docs.select(col("doc_id"), col("text")).as[(Long, String)])
      .flatMap { case (id, t) =>
        if (t.length < spanLen) Iterator.empty
        else (0 to t.length - spanLen).iterator
          .map(i => (id, i, md5Hash60(t.substring(i, i + spanLen))))
      }
      .toDF("doc_id", "off", "span_hash")
  }

  def dedupSpans(docs: DataFrame, spanLen: Int = 32): DataFrame = {
    val spans = spansWithOffsets(docs, spanLen)
    spans.groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occurrences"),
           min(col("doc_id")).as("keeper_id"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("span_hash"))
  }

  // ---- content-defined chunking (CDC) ------------------------------------

  /** The CDC chunk size: a cut after every `ChunkW`-char window whose
    * hash ≡ 0 (mod `ChunkDivisor`). One pair for every writer, day step
    * and stream consumer: the chunk index does not record the size it
    * was written with, so a reader chunking differently would silently
    * match nothing. The dedup_chunks oracle SQL spells out 16 and 64. */
  val ChunkW = 16
  val ChunkDivisor = 64

  /** Content-defined chunk decomposition of each doc (the rolling-
    * hash boundary scheme of storage dedup — Rabin/LBFS, FastCDC
    * family): a cut falls after every `ChunkW`-char window whose 60-bit
    * md5 hash ≡ 0 (mod `ChunkDivisor`), so boundaries are decided by
    * CONTENT, not position — an insertion shifts only the chunks up
    * to the first cut after it, and the decomposition resynchronizes
    * (spec'd), where fixed-offset windows would shift every chunk.
    * Expected chunk length ≈ `ChunkDivisor` chars; docs shorter than `ChunkW`
    * are one chunk; the final remainder closes the last chunk. Pure
    * boundary rule (no min/max clamps) so the DuckDB oracle can
    * replay it exactly. One typed scan, ~len(text) hashes per doc
    * (the [[dedupSpans]] CPU shape — fanned out, no shuffle);
    * emits (doc_id, chunk_idx, chunk_start, chunk_len, chunk_hash)
    * with chunk_hash the 60-bit md5 of the chunk text. */
  /** The per-doc CDC decomposition: (chunk_idx, chunk_start,
    * chunk_len, chunk_hash) — shared by the batch operator and the
    * streaming form so the two cannot drift.
    *
    * Cost note: the window hash is a FULL md5 per position — O(len)
    * md5 calls per doc where a true Rabin polynomial updates in
    * O(1)/char. Deliberate: md5 is the only hash both engines share
    * (the cross-engine oracle contract), the stage is distributed
    * and output-linear (§6: 7.3/10.0s at 10×/20×), and no
    * oracle-replayable O(1) rolling hash is available in DuckDB. At
    * real scale this constant factor is the chunking stage's CPU
    * bill; an engine free of the oracle contract would swap in a
    * Rabin fingerprint with identical boundary semantics. */
  private[graft] def cdcChunksOf(t: String): Seq[(Int, Int, Int, Long)] = {
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + ChunkW <= t.length) {
      if (md5Hash60(t.substring(i, i + ChunkW)) % ChunkDivisor == 0) ends += (i + ChunkW)
      i += 1
    }
    if (ends.isEmpty || ends.last != t.length) ends += t.length
    var start = 0
    ends.iterator.zipWithIndex.map { case (e, idx) =>
      val r = (idx, start, e - start, md5Hash60(t.substring(start, e)))
      start = e
      r
    }.toSeq
  }

  def chunkCdc(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.Util.fanOut(docs.select(col("doc_id"), col("text")).as[(Long, String)])
      .flatMap { case (id, t) =>
        cdcChunksOf(t).iterator.map {
          case (idx, st, len, h) => (id, idx, st, len, h) }
      }
      .toDF("doc_id", "chunk_idx", "chunk_start", "chunk_len", "chunk_hash")
  }

  /** dedup_chunks query: the cross-doc duplicate-chunk view — every
    * chunk (from [[chunkCdc]] over the planted corpus) that appears
    * in ≥2 distinct docs, kept at FULL decomposition detail
    * (doc/idx/offset/length/hash + its doc count), because the
    * decomposition IS the operator: sub-doc storage-granular dedup
    * dedupes chunk stores and ships only novel chunks. The chunk
    * stream feeds both the doc-count aggregate and the join back, so
    * it is checkpointed once (the dedupSpansExcise discipline). */
  def dedupChunks(s: SparkSession, d: String): DataFrame =
    dedupChunks(withPlants(Tables.documents(s, d)))

  def dedupChunks(docs: DataFrame): DataFrame = {
    val chunks = chunkCdc(docs).localCheckpoint()
    val dups = chunks.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
    chunks.join(dups, Seq("chunk_hash"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_len"), col("chunk_hash"), col("n_docs"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** dedup_chunks_excise: the REMOVAL half of chunk dedup — keep ONE
    * occurrence of every duplicated chunk corpus-wide (the FIRST in
    * (doc_id, chunk_idx) order — one window rank per chunk hash,
    * identical on both engines) and cut every other occurrence out of
    * its document, each replaced by one `marker` char (the
    * [[dedupSpansExcise]] seam discipline at chunk granularity — the
    * RefinedWeb-style boilerplate removal a chunk-store pipeline runs
    * so repeated blocks survive exactly once into training).
    *
    * Scale shape: the decomposition scan ([[chunkCdc]], checkpointed
    * once), one window rank partitioned by chunk hash (chunk-count
    * rows of longs, never text), one per-doc collect_list (bounded by
    * a doc's own chunk count), and a typed rebuild over (text,
    * interval list). Nothing quadratic, nothing driver-side. */
  def dedupChunksExcise(s: SparkSession, d: String): DataFrame =
    dedupChunksExcise(withPlants(Tables.documents(s, d)))

  def dedupChunksExcise(docs: DataFrame, marker: String = "~"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = chunkCdc(docs).localCheckpoint()
    val rankW = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    val marked = chunks
      .withColumn("kept", row_number().over(rankW) === 1)
    val plan = marked.groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(
          col("chunk_idx").as("_1"), col("chunk_start").as("_2"),
          col("chunk_len").as("_3"), col("kept").as("_4")))).as("cs"),
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("kept"), 0).otherwise(1)).cast("int").as("n_excised"))
    docs.select(col("doc_id"), col("text"))
      .join(plan, "doc_id")
      .as[(Long, String, Seq[(Int, Int, Int, Boolean)], Int, Int)]
      .map { case (id, t, cs, nc, ne) =>
        val sb = new java.lang.StringBuilder(t.length)
        cs.foreach { case (_, st, len, kept) =>
          if (kept) sb.append(t, st, st + len) else sb.append(marker) }
        (id, nc, ne, sb.toString)
      }
      .toDF("doc_id", "n_chunks", "n_excised", "excised_text")
      .orderBy(col("doc_id"))
  }

  // ---- line-level corpus dedup (C4 family) -------------------------------

  private[graft] val BoilerplateA = "subscribe to our newsletter today"
  private[graft] val BoilerplateB = "follow us on social media now"

  /** The family's ONE per-doc lining rule (the [[cdcChunksOf]]
    * discipline: every batch/incremental/streaming form decomposes
    * through this same function, so they cannot drift): lowercase
    * whitespace tokens grouped 10 per line, plus the deterministic
    * boilerplate plants (docs ≡0 mod 7 / mod 11 at fixed indices
    * 1000000/1000001). Emits (doc_id, idx, line, hash60). */
  private[graft] def linesOf(id: Long, text: String)
      : Iterator[(Long, Long, String, Long)] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val content = toks.grouped(10).zipWithIndex.map { case (g, j) =>
      (id, j.toLong, g.mkString(" ")) }
    val extra =
      (if (id % 7 == 0) Iterator((id, 1000000L, BoilerplateA))
       else Iterator.empty) ++
      (if (id % 11 == 0) Iterator((id, 1000001L, BoilerplateB))
       else Iterator.empty)
    (content ++ extra).map { case (i, j, l) => (i, j, l, md5Hash60(l)) }
  }

  /** Distributed lining scan: (doc_id, idx, line, h) via [[linesOf]],
    * gated fan-out (cheap per row at bench scale). */
  private[graft] def docLines(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.Util.fanOutIfAtLeast(
        docs.select(col("doc_id"), col("text")).as[(Long, String)])
      .flatMap { case (id, t) => linesOf(id, t) }
      .toDF("doc_id", "idx", "line", "h")
  }

  /** dedup_lines: LINE-level corpus dedup — the C4/RefinedWeb stage
    * that strips boilerplate by deduplicating individual lines ACROSS
    * the whole corpus (navigation bars, cookie banners, newsletter
    * footers repeat verbatim on thousands of pages; C4 "deduplicated
    * at the line level", RefinedWeb removes lines seen many times):
    * every distinct line keeps exactly ONE occurrence corpus-wide
    * (the first in (doc_id, line_idx) order), every other occurrence
    * is dropped from its document. Granularity sits between
    * [[dedupSpans]] (fixed windows) and [[dedupChunks]] (content-cut
    * blocks): lines are SEMANTIC units, so removal never cuts
    * mid-sentence.
    *
    * The synthetic corpus is single-line, so lines are materialized
    * in-query (the text_redact planting discipline, so the oracle
    * verifies real removal arithmetic): a newline after every 10
    * tokens, plus deterministic boilerplate plants — docs ≡0 (mod 7)
    * gain a newsletter footer, ≡0 (mod 11) a social footer (fixed
    * indices 1000000/1000001 keep ordering trivial on both engines).
    * Output per doc: line/removal counts and the md5 of the rebuilt
    * text (surviving lines joined by newline) — removal is
    * hash-verified, not just counted.
    *
    * Scale shape: one typed line scan (cheap per row — gated fan-out),
    * lines keyed by their 60-bit md5 ([[md5Hash60]] — the shuffle
    * carries (hash, doc, idx) longs plus the line once), ONE
    * partial-agg shuffle for (count, min-keeper) per hash, the join
    * back, and a bounded per-doc rebuild. Never quadratic; the
    * frequency table at 100 TB is exactly the span/chunk-index
    * artifact shape. */
  def dedupLines(s: SparkSession, d: String): DataFrame =
    dedupLines(Tables.documents(s, d))

  def dedupLines(docs: DataFrame): DataFrame = {
    val lines = docLines(docs)
    // lexicographic min over (doc_id, idx) structs — a packed
    // doc_id*K+idx key silently breaks keep-first selection past K
    // lines per doc; the struct min has no such bound and matches the
    // incremental step's row_number ordering exactly
    val stats = lines.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("idx"))).as("keep_key"))
    lines.join(stats, "h")
      .withColumn("kept", col("n_occ") === 1 ||
        struct(col("doc_id"), col("idx")) === col("keep_key"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), lit(0L)).otherwise(lit(1L))).as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("idx"), col("line"))))),
            x => x.getField("line")),
          "\n")).as("out_md5"))
      .orderBy(col("doc_id"))
  }

  /** One-shot EXCISE form of [[dedupLines]] — C4's removal semantics
    * materialized as text instead of a verification hash: every line
    * keeps exactly its FIRST corpus occurrence in (doc_id, idx)
    * order, every other occurrence is dropped from its document, and
    * survivors rejoin by newline. Returns (doc_id, n_lines,
    * n_removed, out_text). Keep-first is the granularity that
    * composes incrementally ([[dedupLinesExciseIncrementalStep]] is
    * the daily twin; N-day ≡ one-shot spec'd through the pipeline
    * composition invariant under arrival ≡ id order). Same scale
    * shape as [[dedupLines]]: one typed line scan, one partial-agg
    * shuffle, a bounded per-doc rebuild. */
  def dedupLinesExcise(docs: DataFrame): DataFrame = {
    val lines = docLines(docs)
    // lexicographic min over (doc_id, idx) structs — a packed
    // doc_id*K+idx key silently breaks keep-first selection past K
    // lines per doc; the struct min has no such bound and matches the
    // incremental step's row_number ordering exactly
    val stats = lines.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("idx"))).as("keep_key"))
    lines.join(stats, "h")
      .withColumn("kept", col("n_occ") === 1 ||
        struct(col("doc_id"), col("idx")) === col("keep_key"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), lit(0L)).otherwise(lit(1L))).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("idx"), col("line"))))),
            x => x.getField("line")),
          "\n").as("out_text"))
      .orderBy(col("doc_id"))
  }

  /** One-shot NEW-BATCH vs CORPUS line detection — the line-granular
    * member of the cross-set family ([[dedupIncremental]] /
    * [[dedupSpansIncremental]] / [[dedupChunksIncremental]]): both
    * sides decompose through [[linesOf]], batch lines equi-join the
    * corpus's DISTINCT line hashes (min-doc keeper), report per
    * (hash, keeper) how many batch docs/occurrences carry it. Cost
    * tracks the batch — the corpus side is one distinct-hash
    * aggregate, at scale the maintained [[writeLineIndex]] artifact. */
  def dedupLinesIncremental(corpus: DataFrame, batch: DataFrame): DataFrame =
    keeperHits(LineIndex, lineParts(batch),
      keeperRows(LineIndex, lineParts(corpus)))
      .orderBy(col("line_hash"))

  private def lineParts(docs: DataFrame): DataFrame =
    docLines(docs).withColumnRenamed("h", "line_hash")

  // ---- Maintained indexes: described once, one forget, one compact ------

  /** One append-maintained dedup index, described once. Erasure,
    * compaction and the keeper-hash readers all go through the
    * description, so a new maintained index is a new descriptor in
    * [[maintainedIndexes]], not new verbs:
    *
    *   - `idCol` — the stored column [[forget]] matches: `keeper_id`
    *     for the keeper-attributed hash indexes, `doc_id` or `vec_id`
    *     for the per-doc ones, `node` for the cluster map;
    *   - `hashKey` — set for the keeper-hash indexes (line, chunk,
    *     span, winnow). Their appends may repeat a hash across
    *     generations, so readers, [[compact]] and [[forget]] all
    *     collapse to min(keeper_id) per hash ([[collapse]]); the
    *     file-level indexes store distinct rows and have no collapse;
    *   - `bucketForget` — set for the cluster map only. Its writes
    *     replace the hash-bucket directories they touch, so it never
    *     accretes files (no compaction), and erasure is its bounded
    *     relabel instead of an anti-join rewrite. */
  final case class MaintainedIndex(
      name: String, idCol: String, hashKey: Option[String] = None,
      bucketForget: Option[(SparkSession, String, DataFrame) => Unit] = None) {
    /** The reader's view of stored rows: min(keeper_id) per hash for a
      * keeper-hash index, the rows as stored otherwise. */
    def collapse(rows: DataFrame): DataFrame = hashKey.fold(rows)(h =>
      rows.groupBy(col(h)).agg(min(col("keeper_id")).as("keeper_id")))
  }

  val LineIndex = MaintainedIndex("line_index", "keeper_id", Some("line_hash"))
  val ChunkIndex = MaintainedIndex("chunk_index", "keeper_id", Some("chunk_hash"))
  val SpanIndex = MaintainedIndex("span_index", "keeper_id", Some("span_hash"))
  val WinnowIndex = MaintainedIndex("winnow_index", "keeper_id", Some("h"))
  val BandIndex = MaintainedIndex("band_index", "doc_id")
  val SimhashIndex = MaintainedIndex("simhash_index", "doc_id")
  val EmbCodeIndex = MaintainedIndex("emb_code_index", "vec_id")
  val PhashIndex = MaintainedIndex("phash_index", "doc_id")
  val ClusterMap = MaintainedIndex("cluster_map", "node",
    bucketForget = Some(forgetClusterBuckets(_, _, _)))

  /** Every maintained dedup index; ErasureSpec and CompactIndexSpec
    * run their forget and compact cases over exactly this list. */
  val maintainedIndexes: Seq[MaintainedIndex] = Seq(LineIndex, ChunkIndex,
    SpanIndex, WinnowIndex, BandIndex, SimhashIndex, EmbCodeIndex,
    PhashIndex, ClusterMap)

  /** ERASE ids from a maintained index. `ids` holds them in its one
    * column (doc ids; vector ids for the emb-code index). Stored rows
    * whose `idCol` is forgotten are rewritten away and a keeper-hash
    * index re-collapses, so the content fingerprint leaves with its
    * attributed owner: a copy of erased content re-arrives NOVEL.
    * Erasure removes the corpus's memory of the content, the
    * deliberate consequence spec'd for every forget. The emb-code
    * index stores the vectors themselves, so there the scrub is also
    * a data deletion. The rewrite is a compaction too. */
  def forget(s: SparkSession, index: MaintainedIndex, dir: String,
             ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"forget takes one id column, got ${ids.columns.mkString(", ")}")
    val victims = ids.select(col(ids.columns.head).as(index.idCol)).distinct()
    index.bucketForget match {
      case Some(relabel) => relabel(s, dir, victims)
      case None => rewrite(s, index, dir, DefaultTargetBytes,
        _.join(broadcast(victims), Seq(index.idCol), "left_anti"))
    }
  }

  /** Periodic maintenance for a maintained index: ~30 daily appends
    * leave ~30 small files whose per-file open cost comes to dominate
    * the daily probe join. Re-collapse them in place, path-stable, so
    * the day steps keep addressing the same directory; a keeper-hash
    * index folds its min(keeper_id) collapse into the rewrite, which
    * drops superseded rows and is reader-identical (spec'd in
    * CompactIndexSpec). */
  def compact(s: SparkSession, index: MaintainedIndex, dir: String,
              targetBytes: Long = DefaultTargetBytes)
      : graft.sources.Compact.CompactReport = {
    require(index.bucketForget.isEmpty, s"${index.name} needs no " +
      "compaction: each write replaces the bucket directories it touches")
    rewrite(s, index, dir, targetBytes, identity)
  }

  private val DefaultTargetBytes = 128L << 20

  /** The one rewrite every forget and compaction rides:
    * [[graft.sources.Compact.compactInPlace]] (read, drop, collapse,
    * swap). */
  private def rewrite(s: SparkSession, index: MaintainedIndex, dir: String,
                      targetBytes: Long, drop: DataFrame => DataFrame) =
    graft.sources.Compact.compactInPlace(s, dir, targetBytes,
      transform = rows => index.collapse(drop(rows)))

  /** The order every maintained-index day step keeps: the batch's
    * detection is MATERIALIZED against the index before the batch's
    * own rows append, so tomorrow's batch sees today's. A lazy plan
    * would re-list the index after the write and report every batch
    * row as its own duplicate. It is the micro-batch rule of
    * Structured Streaming: read the state, then commit the output.
    * Returns the materialized detection. */
  private[graft] def detectThenAppend(dir: String, detection: DataFrame,
                                      rows: DataFrame): DataFrame = {
    val hits = detection.localCheckpoint() // eager: detect strictly before the append
    rows.write.mode("append").parquet(dir)
    hits
  }

  /** A keeper-hash index's rows for a frame decomposed into (doc_id,
    * <hash key>) parts: one row per distinct hash, keeper = min
    * doc_id. What the writer persists and a day step appends. */
  private def keeperRows(index: MaintainedIndex, parts: DataFrame): DataFrame =
    index.collapse(parts.select(col(index.hashKey.get),
      col("doc_id").as("keeper_id")))

  /** The detection of the keeper-hash family (line, chunk, span): per
    * hash of the batch's parts found among `keepers`, its keeper and
    * the batch docs / occurrences carrying it. */
  private def keeperHits(index: MaintainedIndex, parts: DataFrame,
                         keepers: DataFrame): DataFrame = {
    val key = index.hashKey.get
    parts.join(keepers, key)
      .groupBy(col(key), col("keeper_id"))
      .agg(countDistinct(col("doc_id")).as("n_batch_docs"),
        count(lit(1)).as("n_batch_occurrences"))
  }

  /** One day of a keeper-hash index loop (line, chunk, span) over the
    * batch's parts, decomposed ONCE by the caller: [[keeperHits]]
    * against the maintained index read through its collapse, then
    * the batch's own keeper rows append. Loop invariant spec'd in
    * DedupSpec: day-N detection ≡ the one-shot cross-set form of
    * (corpus ∪ earlier batches, day-N batch). */
  private def keeperHashStep(s: SparkSession, index: MaintainedIndex,
                             dir: String, parts: DataFrame): DataFrame =
    detectThenAppend(dir,
      keeperHits(index, parts, index.collapse(s.read.parquet(dir))),
      keeperRows(index, parts))
      .orderBy(col(index.hashKey.get))

  /** Persist the corpus's line index — (line_hash, keeper_id), one row
    * per DISTINCT line (the C4 boilerplate-frequency table; repeated
    * navigation/footer lines collapse to single rows, so the artifact
    * is far smaller than the line stream). Appends from
    * [[dedupLinesIncrementalStep]] may repeat a hash across
    * generations; readers collapse through [[LineIndex]] and
    * [[compact]] folds the collapse into the periodic rewrite. */
  def writeLineIndex(docs: DataFrame, dir: String): Unit =
    keeperRows(LineIndex, lineParts(docs)).write.mode("overwrite").parquet(dir)

  /** One day of the line-dedup production loop ([[keeperHashStep]]);
    * day-N detection ≡ [[dedupLinesIncremental]] of (corpus ∪ earlier
    * batches, day-N batch). */
  def dedupLinesIncrementalStep(s: SparkSession, indexDir: String,
                                batch: DataFrame): DataFrame =
    keeperHashStep(s, LineIndex, indexDir, lineParts(batch).localCheckpoint())

  /** The excise form of the daily line loop — C4's removal semantics
    * applied incrementally: DROP from each batch doc every line the
    * MAINTAINED index already holds (corpus-known boilerplate) AND
    * every repeat within the batch beyond its first (doc_id, idx)
    * occurrence; then append the batch's line hashes so tomorrow's
    * batch sees today's lines. Unlike the chunk form (which leaves a
    * `marker` so offsets stay auditable), removed LINES vanish
    * wholesale — lines are semantic units and that is the C4 rule.
    * Returns (doc_id, n_lines, n_removed, out_text) with survivors
    * joined by newline in idx order. Composition spec'd in DedupSpec:
    * a batch copying corpus content comes back empty; running the
    * same batch twice removes everything the second time. */
  def dedupLinesExciseIncrementalStep(s: SparkSession, indexDir: String,
                                      batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bLines = lineParts(batch).localCheckpoint()
    val idx = s.read.parquet(indexDir)
      .select(col("line_hash"), lit(1).as("_corpus_hit")).distinct()
    val rankW = Window.partitionBy(col("line_hash"))
      .orderBy(col("doc_id"), col("idx"))
    val out = bLines
      .join(idx, Seq("line_hash"), "left_outer")
      .withColumn("kept", col("_corpus_hit").isNull &&
        row_number().over(rankW) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), lit(0L)).otherwise(lit(1L))).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("idx"), col("line"))))),
            x => x.getField("line")),
          "\n").as("out_text"))
    detectThenAppend(indexDir, out, keeperRows(LineIndex, bLines))
      .orderBy(col("doc_id"))
  }

  /** One-shot NEW-BATCH vs CORPUS chunk detection — the chunk-granular
    * member of the cross-set family ([[dedupIncremental]] /
    * [[dedupSpansIncremental]]): decompose both sides with
    * [[chunkCdc]], equi-join batch chunks to the corpus's DISTINCT
    * chunk hashes (min-doc keeper), report per (hash, keeper) how many
    * batch docs/occurrences carry it. Cost tracks the batch — the
    * corpus side is one distinct-hash aggregate, at scale a maintained
    * artifact ([[writeChunkIndex]]). */
  def dedupChunksIncremental(corpus: DataFrame, batch: DataFrame): DataFrame =
    keeperHits(ChunkIndex, chunkCdc(batch), keeperRows(ChunkIndex, chunkCdc(corpus)))
      .orderBy(col("chunk_hash"))

  /** Persist the corpus's chunk index — (chunk_hash, keeper_id), one
    * row per DISTINCT CDC chunk hash (≈ text_bytes/ChunkDivisor rows,
    * orders of magnitude smaller than the window stream): the
    * write-once artifact of the chunk-store dedup loop, mirroring
    * [[writeSpanIndex]]. Appends from [[dedupChunksIncrementalStep]]
    * may repeat a hash across generations; readers collapse through
    * [[ChunkIndex]] and [[compact]] folds the collapse into the
    * periodic rewrite. */
  def writeChunkIndex(docs: DataFrame, dir: String): Unit =
    keeperRows(ChunkIndex, chunkCdc(docs))
      .write.mode("overwrite").parquet(dir)

  /** One day of the chunk-dedup production loop ([[keeperHashStep]],
    * the CDC analog of [[dedupSpansIncrementalStep]]); day-N
    * detection ≡ [[dedupChunksIncremental]] of (corpus ∪ earlier
    * batches, day-N batch). */
  def dedupChunksIncrementalStep(s: SparkSession, indexDir: String,
                                 batch: DataFrame): DataFrame =
    keeperHashStep(s, ChunkIndex, indexDir, chunkCdc(batch).localCheckpoint())

  /** The excise form of the daily chunk loop — what an incremental
    * curation pipeline actually runs per day: cut from each batch doc
    * every chunk the MAINTAINED index already holds (corpus-known
    * content survives only at its original keeper) AND every repeat
    * within the batch beyond its first occurrence (the
    * [[dedupChunksExcise]] window-rank rule, scoped to the batch),
    * each replaced by one `marker` char; then append the batch's
    * chunk hashes so tomorrow's batch sees today's content. Returns
    * (doc_id, n_chunks, n_excised, excised_text). Composition
    * invariant spec'd in DedupSpec: a batch that copies a corpus doc
    * comes back all-marker; running the same batch twice excises
    * everything the second time. */
  def dedupChunksExciseIncrementalStep(s: SparkSession, indexDir: String,
                                       batch: DataFrame,
                                       marker: String = "~"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val bChunks = chunkCdc(batch).localCheckpoint()
    val idx = s.read.parquet(indexDir)
      .select(col("chunk_hash"), lit(1).as("_corpus_hit")).distinct()
    val rankW = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    val marked = bChunks
      .join(idx, Seq("chunk_hash"), "left_outer")
      .withColumn("kept", col("_corpus_hit").isNull &&
        row_number().over(rankW) === 1)
    val plan = marked.groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(
          col("chunk_idx").as("_1"), col("chunk_start").as("_2"),
          col("chunk_len").as("_3"), col("kept").as("_4")))).as("cs"),
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("kept"), 0).otherwise(1)).cast("int").as("n_excised"))
    val out = batch.select(col("doc_id"), col("text"))
      .join(plan, "doc_id")
      .as[(Long, String, Seq[(Int, Int, Int, Boolean)], Int, Int)]
      .map { case (id, t, cs, nc, ne) =>
        val sb = new java.lang.StringBuilder(t.length)
        cs.foreach { case (_, st, len, kept) =>
          if (kept) sb.append(t, st, st + len) else sb.append(marker) }
        (id, nc, ne, sb.toString)
      }
      .toDF("doc_id", "n_chunks", "n_excised", "excised_text")
    detectThenAppend(indexDir, out, keeperRows(ChunkIndex, bChunks))
      .orderBy(col("doc_id"))
  }

  /** dedup_spans_excise: the REMOVAL half of span dedup — the
    * remove-substring surgery real pipelines run on the [[dedupSpans]]
    * detections (the C4/RefinedWeb boilerplate-excision step; cf. Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better"). Per doc: every offset whose `spanLen`-char window hash
    * repeats ACROSS documents is marked, overlapping/adjacent marks
    * coalesce into maximal intervals (gaps-and-islands — window ends
    * are offset+spanLen, monotone in offset, so one lag per doc
    * decides island breaks), and the intervals are cut out of the
    * text, each replaced by one `marker` char.
    *
    * The marker seals the surgery: every seam carries it, so any
    * marker-free window of the excised text is a window of the
    * ORIGINAL text — and had it been a cross-doc repeat it would have
    * been excised. Hence no detected span survives anywhere
    * (spec'd: original repeated hashes ∩ excised window hashes = ∅).
    *
    * Scale shape: the detection is [[dedupSpans]]'s scan + one
    * partial-agg shuffle; marking is a semi join on the span hash;
    * islands are one window pass partitioned by doc_id (doc-count
    * parallelism); surgery is a typed map over (text, interval list).
    * Nothing touches the driver. The span stream feeds BOTH the
    * repeated-hash aggregate and the semi join, and their exchanges
    * differ, so ReuseExchange cannot dedupe the subtree — the stream
    * is localCheckpoint'ed so the window-hash scan (the dominant
    * cost, ~len(text) rows per doc) executes ONCE; the materialized
    * index is ~3x the corpus text bytes, spilled past memory, and
    * its lineage is cut so nothing upstream recomputes. */
  def dedupSpansExcise(s: SparkSession, d: String): DataFrame =
    dedupSpansExcise(withPlants(Tables.documents(s, d)))

  def dedupSpansExcise(docs: DataFrame, spanLen: Int = 32,
                       marker: String = "~"): DataFrame = {
    val spans = spansWithOffsets(docs, spanLen).localCheckpoint()
    val repeated = spans.groupBy(col("span_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("span_hash"))
    val hits = spans.join(repeated, Seq("span_hash"), "left_semi")
      .select(col("doc_id"), col("off"))
    exciseHitWindows(docs, hits, spanLen, marker)
  }

  /** Shared excision surgery: given `(doc_id, off)` hit windows,
    * coalesce overlapping/adjacent windows into islands, cut each
    * island and rejoin the kept pieces with `marker` — the tail of
    * [[dedupSpansExcise]], also used by [[decontaminateExcise]]
    * (same surgery, different hit criterion). */
  private[graft] def exciseHitWindows(docs: DataFrame, hits: DataFrame,
                                      spanLen: Int,
                                      marker: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("off"))
    val prev = lag(col("off"), 1).over(byDoc)
    val islands = hits
      .withColumn("brk",
        when(prev.isNull || col("off") > prev + spanLen, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(byDoc))
    val intervals = islands.groupBy(col("doc_id"), col("grp"))
      .agg(min(col("off")).as("s"), (max(col("off")) + spanLen).as("e"))
    val perDoc = intervals.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("s").as("_1"), col("e").as("_2")))).as("ivs"))
    docs.select(col("doc_id"), col("text"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id").as("_1"), col("text").as("_2"),
        col("ivs").as("_3"))
      .as[(Long, String, Option[Seq[(Int, Int)]])]
      .map { case (id, text, ivsOpt) =>
        val ivs = ivsOpt.getOrElse(Seq.empty)
        // java.lang.StringBuilder: the (CharSequence, start, end)
        // overload (scala's StringBuilder lacks it and would silently
        // auto-tuple the arguments into one appended Tuple3 string)
        val sb = new java.lang.StringBuilder
        var pos = 0
        ivs.foreach { case (st, en) =>
          sb.append(text, pos, st).append(marker)
          pos = en
        }
        sb.append(text, pos, text.length)
        (id, ivs.length, ivs.iterator.map { case (st, en) => en - st }.sum,
          sb.toString)
      }
      .toDF("doc_id", "n_intervals", "chars_removed", "excised_text")
      .orderBy(col("doc_id"))
  }

  // ---- winnowing fingerprints (MOSS) -------------------------------------

  private[graft] val WinnowK = 24 // k-gram chars
  private[graft] val WinnowW = 8  // hashes per selection window

  /** Winnowing selection (Schleimer, Wilkerson & Aiken, SIGMOD'03):
    * in every window of `w` consecutive k-gram hashes keep the
    * minimum, ties to the RIGHTMOST occurrence — the local algorithm
    * whose guarantee is that any shared substring of length ≥
    * w + k − 1 shares a selected fingerprint. Monotone-deque sliding
    * min: O(n) total (each off enters/leaves the deque once). A doc
    * with fewer than w hashes selects from the one truncated
    * window. Returns the distinct (off, hash) selections. */
  private[graft] def winnowSelect(hs: Array[Long], w: Int)
      : Set[(Int, Long)] = {
    if (hs.isEmpty) return Set.empty
    if (hs.length <= w) {
      var best = 0
      var i = 1
      while (i < hs.length) { if (hs(i) <= hs(best)) best = i; i += 1 }
      return Set(best -> hs(best))
    }
    val out = scala.collection.mutable.Set.empty[(Int, Long)]
    val dq = new java.util.ArrayDeque[Int]
    var i = 0
    while (i < hs.length) {
      // >= pops equal hashes: the incoming (rightmost) equal wins
      while (!dq.isEmpty && hs(dq.peekLast) >= hs(i)) dq.pollLast()
      dq.addLast(i)
      while (dq.peekFirst <= i - w) dq.pollFirst()
      if (i >= w - 1) out += dq.peekFirst -> hs(dq.peekFirst)
      i += 1
    }
    out.toSet
  }

  /** Brute-force reference for [[winnowSelect]] — spec-only. */
  private[graft] def winnowSelectNaive(hs: Array[Long], w: Int)
      : Set[(Int, Long)] = {
    if (hs.isEmpty) return Set.empty
    val n = hs.length
    (0 to math.max(0, n - w)).map { p =>
      val end = math.min(p + w, n)
      var best = p
      var i = p + 1
      while (i < end) { if (hs(i) <= hs(best)) best = i; i += 1 }
      best -> hs(best)
    }.toSet
  }

  /** Per-doc winnowed fingerprint rows: (doc_id, off, h) — the
    * ~len(text) hash scan of the span family plus the O(len) deque
    * pass, fanned out. */
  private[graft] def winnowedFingerprints(docs: DataFrame,
                                          k: Int = WinnowK,
                                          w: Int = WinnowW): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.Util.fanOut(
        docs.select(col("doc_id"), col("text")).as[(Long, String)])
      .flatMap { case (id, t) =>
        if (t.length < k) Iterator.empty
        else {
          val hs = Array.tabulate(t.length - k + 1)(i =>
            md5Hash60(t.substring(i, i + k)))
          winnowSelect(hs, w).iterator.map { case (off, h) =>
            (id, off.toLong, h) }
        }
      }
      .toDF("doc_id", "off", "h")
  }

  /** dedup_winnow: candidate near-dup pairs by SHARED WINNOWED
    * FINGERPRINTS — the MOSS/plagiarism-detection member of the
    * dedup family, between dedup_spans (every window, exact
    * substring evidence) and dedup_minhash (whole-doc similarity):
    * winnowing keeps ~2/(w+1) of the span family's hashes yet still
    * GUARANTEES any shared run of ≥ w + k − 1 chars yields a shared
    * fingerprint (the paper's theorem — spec'd against plants). The
    * pair join is an equi-join on the fingerprint hash (inverted-
    * index shape, never all-pairs); at 100 TB the fingerprint frame
    * is the write-once artifact, ~8× smaller than the span index. */
  def dedupWinnow(s: SparkSession, d: String): DataFrame =
    dedupWinnow(withPlants(Tables.documents(s, d)))

  def dedupWinnow(docs: DataFrame, k: Int = WinnowK, w: Int = WinnowW,
                  minShared: Long = 2): DataFrame = {
    val fps = winnowedFingerprints(docs, k, w)
      .select(col("doc_id"), col("h")).distinct()
      .localCheckpoint()
    fps.join(fps.select(col("doc_id").as("doc_b"), col("h"))
        .hint("shuffle_hash"), "h")
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** One-shot NEW-BATCH vs CORPUS winnow detection — the fingerprint
    * member of the cross-set family: batch docs' winnowed
    * fingerprints equi-join the corpus's DISTINCT fingerprint hashes
    * (min-doc keeper per hash — the index discipline: pairs report
    * to the KEEPER, not to every corpus holder), pairs held at ≥
    * `minShared` shared hashes. Cost tracks the batch; the corpus
    * side is one distinct-hash aggregate — at scale the maintained
    * [[writeWinnowIndex]] artifact. */
  def dedupWinnowIncremental(corpus: DataFrame, batch: DataFrame,
                             k: Int = WinnowK, w: Int = WinnowW,
                             minShared: Long = 2): DataFrame = {
    val cIdx = keeperRows(WinnowIndex, winnowedFingerprints(corpus, k, w))
    winnowedFingerprints(batch, k, w)
      .select(col("doc_id"), col("h")).distinct()
      .join(cIdx, "h")
      .groupBy(col("doc_id").as("batch_id"), col("keeper_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("batch_id"), col("keeper_id"))
  }

  /** Persist the corpus's winnow index — (h, keeper_id), one row per
    * DISTINCT fingerprint hash (~2/(w+1) of the span index's rows).
    * Appends from [[dedupWinnowIncrementalStep]] may repeat a hash
    * across generations; readers collapse through [[WinnowIndex]] and
    * [[compact]] folds the collapse — the [[writeLineIndex]]
    * discipline verbatim. */
  def writeWinnowIndex(docs: DataFrame, dir: String,
                       k: Int = WinnowK, w: Int = WinnowW): Unit =
    keeperRows(WinnowIndex, winnowedFingerprints(docs, k, w))
      .write.mode("overwrite").parquet(dir)

  /** One day of the winnow production loop: fingerprint the arriving
    * batch ONCE, detect its corpus-known fingerprints against the
    * maintained index, then append the batch's own (h, keeper) rows
    * so tomorrow's batch sees today's docs ([[detectThenAppend]]).
    * Loop invariant spec'd: day-N detection ≡
    * [[dedupWinnowIncremental]] of (corpus ∪ earlier batches,
    * day-N batch). */
  def dedupWinnowIncrementalStep(s: SparkSession, indexDir: String,
                                 batch: DataFrame,
                                 k: Int = WinnowK, w: Int = WinnowW,
                                 minShared: Long = 2): DataFrame = {
    val bFp = winnowedFingerprints(batch, k, w)
      .select(col("doc_id"), col("h")).distinct()
      .localCheckpoint()
    detectThenAppend(indexDir,
      bFp.join(WinnowIndex.collapse(s.read.parquet(indexDir)), "h")
        .groupBy(col("doc_id").as("batch_id"), col("keeper_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared),
      keeperRows(WinnowIndex, bFp))
      .orderBy(col("batch_id"), col("keeper_id"))
  }

  /** dedup_spans_incremental: NEW-BATCH vs STANDING-CORPUS span
    * dedup — the substring-granularity member of the incremental
    * family (doc-level has minhash/embedding/phash): which windows of
    * the ARRIVING batch already exist somewhere in the corpus, keyed
    * to the corpus keeper. The corpus side reduces to a (span_hash,
    * keeper_id) index — at 100 TB a write-once artifact
    * ([[writeSpanIndex]] / [[dedupSpansIncrementalStep]] are the
    * maintained-loop form) — and the batch's window stream equi-joins
    * it on the hash; there is NO corpus self-join and no cross-batch
    * pairing. Output: one row per corpus-known span hash seen in the
    * batch, with batch doc/occurrence counts (the excision step then
    * cuts those spans from the batch exactly as [[dedupSpansExcise]]
    * does). */
  def dedupSpansIncremental(s: SparkSession, d: String): DataFrame = {
    val all = withPlants(Tables.documents(s, d))
    dedupSpansIncremental(all.filter(col("doc_id") < 100000),
      all.filter(col("doc_id") >= 100000))
  }

  def dedupSpansIncremental(corpus: DataFrame, batch: DataFrame,
                            spanLen: Int = 32): DataFrame =
    keeperHits(SpanIndex, spansWithOffsets(batch, spanLen),
      keeperRows(SpanIndex, spansWithOffsets(corpus, spanLen)))
      .orderBy(col("span_hash"))

  /** Persist the corpus's span index — (span_hash, keeper_id), one
    * row per DISTINCT window hash (orders of magnitude smaller than
    * the raw window stream): the write-once artifact
    * [[dedupSpansIncremental]]'s corpus side assumes. Appends from
    * [[dedupSpansIncrementalStep]] may repeat a hash across
    * generations; readers collapse through [[SpanIndex]] (the step
    * does), and a periodic [[compact]] pass re-collapses the log. */
  def writeSpanIndex(docs: DataFrame, dir: String, spanLen: Int = 32): Unit =
    keeperRows(SpanIndex, spansWithOffsets(docs, spanLen))
      .write.mode("overwrite").parquet(dir)

  /** One day of the span-dedup production loop ([[keeperHashStep]],
    * the substring analog of [[dedupIncrementalStep]]); day-N
    * detection ≡ [[dedupSpansIncremental]] of (corpus ∪ earlier
    * batches, day-N batch). */
  def dedupSpansIncrementalStep(s: SparkSession, indexDir: String,
                                batch: DataFrame,
                                spanLen: Int = 32): DataFrame =
    keeperHashStep(s, SpanIndex, indexDir,
      spansWithOffsets(batch, spanLen).localCheckpoint())

  /** dedup_spans_maximal: VARIABLE-LENGTH repeated-substring dedup —
    * the suffix-array semantics of Lee et al.'s dedup (maximal shared
    * substrings of length ≥ `spanLen` between document PAIRS), built
    * seed-and-extend on the fixed-window machinery: [[dedupSpans]]'
    * windows are the seeds, and runs of CONSECUTIVE matching windows
    * along a pair's alignment diagonal extend them to maximal
    * matches. A shared substring of length ℓ contributes exactly
    * ℓ − spanLen + 1 consecutive window matches at constant diagonal
    * (off1 − off2), so per (d1, d2, diag) the gaps-and-islands pass
    * (the [[dedupSpansExcise]] recipe with gap 1) recovers (off1,
    * off2, ℓ) exactly. Maximality is structural: the run cannot
    * extend by one window iff the characters just outside differ —
    * the flanking window's other spanLen−1 chars already lie in the
    * known-equal region (property-spec'd in DedupSpec).
    *
    * Scale shape: window scan (once — localCheckpoint'ed, both join
    * sides), equi-join on span_hash (bucketed, never all-pairs), one
    * keyed window pass, one partial agg. Hot span hashes (boilerplate
    * shared by g docs) cost C(g,2) matched seeds — the output-bound
    * combinatorics every pair-reporting dedup here shares; islands of
    * window-granule detections stay pair-local, so parallelism is
    * pair-count, not doc-count. */
  def dedupSpansMaximal(s: SparkSession, d: String): DataFrame =
    dedupSpansMaximal(withPlants(Tables.documents(s, d)))

  def dedupSpansMaximal(docs: DataFrame, spanLen: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = spansWithOffsets(docs, spanLen).localCheckpoint()
    val m = spans.as("a").join(spans.hint("shuffle_hash").as("b"),
        col("a.span_hash") === col("b.span_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.off").as("o1"), (col("a.off") - col("b.off")).as("diag"))
    val w = Window.partitionBy(col("d1"), col("d2"), col("diag"))
      .orderBy(col("o1"))
    val prev = lag(col("o1"), 1).over(w)
    m.withColumn("brk",
        when(prev.isNull || col("o1") =!= prev + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(min(col("o1")).as("off1"),
        (max(col("o1")) - min(col("o1")) + spanLen).as("match_len"))
      .select(col("d1"), col("d2"), col("off1"),
        (col("off1") - col("diag")).as("off2"), col("match_len"))
      .orderBy(col("d1"), col("d2"), col("off1"), col("off2"))
  }

  // ---- MinHash + LSH ----------------------------------------------------

  private val MersennePrime = 2147483647L // 2^31 - 1
  private val NumHashes = 64
  private val BandRows = 4 // 16 bands x 4 rows

  /** Deterministic permutation parameters (seeded, engine-internal). */
  private val perms: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
                         rnd.nextInt(Int.MaxValue - 1).toLong))
  }

  /** The permutation parameters as a DuckDB VALUES list `(pid, a, b)`
    * so the minhash oracle uses the identical permutations. */
  def permsSqlValues: String =
    perms.zipWithIndex.map { case ((a, b), i) => s"($i, $a, $b)" }
      .mkString(",\n        ")

  /** md5-derived hashes — md5 is the one hash both engines share, so
    * deriving minhash/simhash inputs from its hex digits makes those
    * pipelines oracle-checkable end-to-end. The digest instance is
    * thread-local (getInstance per call dominated the signature pass)
    * and values are read straight from the digest bytes — no hex
    * string materialization. */
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def digest(s: String): Array[Byte] = {
    val md = mdLocal.get()
    md.reset()
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The position-mask hash ([[graft.functions.TextFunctions
    * .maskSpans]]): the 32-bit md5 prefix of "docId:pos" — the SQL
    * side reconstructs it with the minhash digit-sum recipe. */
  private[graft] def posMaskHash(docId: Long, pos: Int): Long =
    md5Hash32(s"$docId:$pos")

  /** First 8 md5 hex digits as an unsigned 32-bit value. */
  private[operators] def md5Hash32(s: String): Long = {
    val d = digest(s)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Test hook: the span-window key of a string (the [[md5Hash60]]
    * value [[dedupSpans]]/[[dedupSpansExcise]] group on) — lets the
    * excision spec recompute hashes of excised text outside this
    * package. */
  private[graft] def spanHashOf(s: String): Long = md5Hash60(s)

  /** First 15 md5 hex digits as a 60-bit value (60 divides evenly
    * into every supported banding geometry — 4×15, 5×12, 6×10 — and
    * keeps every SQL intermediate exactly representable). */
  private[operators] def md5Hash60(s: String): Long = {
    val d = digest(s)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** doc_id → 16 LSH band buckets of the 64-wide minhash signature,
    * computed in one typed pass (tight loop per doc, no shuffle until
    * the band-bucket join). Band signatures are the joined min values
    * as a string — reproducible in plain SQL. Docs with no shingles
    * emit no bands. */
  def minhashBands(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ps = perms.toArray
    val pa = ps.map(_._1); val pb = ps.map(_._2)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, java.lang.Long]()
        it.flatMap { case (id, text) =>
          val shs = shingleSet(text, 3)
          if (shs.isEmpty) Iterator.empty
          else {
            val sig = Array.fill(NumHashes)(Long.MaxValue)
            shs.foreach { sh =>
              var hv = cache.get(sh)
              if (hv == null) { hv = md5Hash32(sh) % MersennePrime; cache.put(sh, hv) }
              val h = hv.longValue()
              var i = 0
              while (i < NumHashes) {
                val v = (pa(i) * h + pb(i)) % MersennePrime
                if (v < sig(i)) sig(i) = v
                i += 1
              }
            }
            (0 until NumHashes / BandRows).iterator.map { bi =>
              (id, bi, (bi * BandRows until (bi + 1) * BandRows)
                .map(sig).mkString("_"))
            }
          }
        }
      }
      .toDF("doc_id", "band", "sig")
  }

  /** Per-doc raw 64-value minhash signature — the [[minhashBands]]
    * loop without the banding fold; feeds the calibration query. */
  private[graft] def minhashSigValues(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ps = perms.toArray
    val pa = ps.map(_._1); val pb = ps.map(_._2)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, java.lang.Long]()
        it.flatMap { case (id, text) =>
          val shs = shingleSet(text, 3)
          if (shs.isEmpty) Iterator.empty
          else {
            val sig = Array.fill(NumHashes)(Long.MaxValue)
            shs.foreach { sh =>
              var hv = cache.get(sh)
              if (hv == null) { hv = md5Hash32(sh) % MersennePrime; cache.put(sh, hv) }
              val h = hv.longValue()
              var i = 0
              while (i < NumHashes) {
                val v = (pa(i) * h + pb(i)) % MersennePrime
                if (v < sig(i)) sig(i) = v
                i += 1
              }
            }
            Iterator.single((id, sig.toSeq))
          }
        }
      }
      .toDF("doc_id", "sig")
  }

  /** lsh_calibration: the geometry's CALIBRATION REPORT on real data
    * — for every LSH candidate pair, the minhash-ESTIMATED similarity
    * (matching hashes / 64: the unbiased Jaccard estimator banding is
    * built on) next to the EXACT shingle Jaccard. This is how a
    * production run justifies its τ threshold and band geometry
    * before trusting the bands at 100 TB: a healthy geometry shows
    * est ≈ exact on collisions and a collision floor near the τ the
    * bands were derived for. Scale shape: the banding machinery plus
    * one signature join (64 longs per doc), with the exact-Jaccard
    * verification restricted to CANDIDATE pairs only (the semi join —
    * never the all-pairs shingle join). est = n_agree/64 is an exact
    * binary rational; both divisions round 6 dp. */
  def lshCalibration(s: SparkSession, d: String): DataFrame =
    lshCalibration(withPlants(Tables.documents(s, d)))

  def lshCalibration(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pairs = minhashCandidates(docs)
      .select(col("d1"), col("d2")).localCheckpoint()
    val sigs = minhashSigValues(docs)
    val agree = pairs
      .join(sigs.toDF("d1", "sig1"), "d1")
      .join(sigs.toDF("d2", "sig2"), "d2")
      // using-column joins move the join key FIRST — reorder before
      // the positional tuple decode or d1/d2 arrive swapped
      .select(col("d1"), col("d2"), col("sig1"), col("sig2"))
      .as[(Long, Long, Seq[Long], Seq[Long])]
      .map { case (d1, d2, a, b) =>
        (d1, d2, a.zip(b).count(t => t._1 == t._2)) }
      .toDF("d1", "d2", "n_agree")
    val sh = shingles(docs, 3).select(col("doc_id"), col("shingle"))
    val shared = sh.as("a").join(sh.hint("shuffle_hash").as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .join(broadcast(pairs), Seq("d1", "d2"), "left_semi")
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("shared"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    agree
      .join(shared, Seq("d1", "d2"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2")
      .select(col("d1"), col("d2"), col("n_agree").cast("int").as("n_agree"),
        round(col("n_agree") / lit(64.0), 6).as("est_sim"),
        col("shared"),
        round(col("shared").cast("double") /
          (col("n1") + col("n2") - col("shared")), 6).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  // ---- lsh_plan: S-curve geometry planner --------------------------------

  /** Candidate (bands, rows/band) splits of the 64-hash signature —
    * all power-of-two factorizations, so the collision S-curve
    * p = 1 − (1 − s^r)^b evaluates by REPEATED SQUARING: the same
    * fixed multiplication tree in Scala doubles and in generated SQL,
    * hence bit-identical cross-engine (the quality_distill principle:
    * fixed-size double arithmetic on identical inputs cannot
    * drift — only data-dependent accumulation needs decimals). */
  private[graft] val PlanGeometries: Seq[(Int, Int)] =
    Seq((64, 1), (32, 2), (16, 4), (8, 8), (4, 16), (2, 32), (1, 64))

  private def ntz(x: Int): Int = Integer.numberOfTrailingZeros(x)
  private def sqChainD(x: Double, t: Int): Double = {
    var y = x; var i = 0
    while (i < t) { y = y * y; i += 1 }
    y
  }
  private[graft] def planCollide(s: Double, bands: Int, rows: Int): Double =
    1.0 - sqChainD(1.0 - sqChainD(s, ntz(rows)), ntz(bands))
  private def sqChainCol(x: org.apache.spark.sql.Column, t: Int) =
    (0 until t).foldLeft(x)((e, _) => e * e)
  private def planCollideCol(j: org.apache.spark.sql.Column,
                             bands: Int, rows: Int) =
    lit(1.0) - sqChainCol(lit(1.0) - sqChainCol(j, ntz(rows)), ntz(bands))
  private[graft] def sqChainSql(x: String, t: Int): String =
    (0 until t).foldLeft(x)((e, _) => s"(($e)*($e))")
  // every level fully parenthesized: with bands = 1 the outer chain
  // is the identity, and an unparenthesized "1.0 - 1.0 - x" would
  // parse as -x
  private[graft] def planCollideSql(j: String, bands: Int, rows: Int): String =
    s"1.0 - (${sqChainSql(s"(1.0 - (${sqChainSql(j, ntz(rows))}))",
      ntz(bands))})"

  /** lsh_plan — the GEOMETRY PLANNER beside [[lshCalibration]]'s
    * accuracy report: for every power-of-two split of the 64-hash
    * signature, (a) the S-curve knee — the smallest grid similarity
    * s = k/20 where collision probability reaches 0.5 (what Jaccard
    * the geometry actually targets), and (b) the EXPECTED CATCH RATE
    * over this corpus's verified candidate-pair Jaccards — Σ p(j)/n,
    * the fraction of the observed near-dup population each geometry
    * would recall. This is the table you consult before re-banding at
    * 100 TB: more bands ⇒ lower knee ⇒ higher catch AND higher
    * false-positive load; the report quantifies the trade ON THE
    * CORPUS rather than on folklore.
    *
    * Determinism: p evaluates by repeated squaring (identical
    * multiplication tree both engines), is rounded to 9 dp, summed in
    * exact DECIMAL(13,9), ONE double division, 6 dp; knees compare
    * the un-rounded (bit-identical) p against the exact 0.5. */
  def lshPlan(s: SparkSession, d: String): DataFrame =
    lshPlan(withPlants(Tables.documents(s, d)))

  def lshPlan(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val s = docs.sparkSession
    val pairs = minhashCandidates(docs)
      .select(col("d1"), col("d2")).localCheckpoint()
    val sh = shingles(docs, 3).select(col("doc_id"), col("shingle"))
    val shared = sh.as("a").join(sh.hint("shuffle_hash").as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .join(broadcast(pairs), Seq("d1", "d2"), "left_semi")
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("shared"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val jac = pairs
      .join(shared, Seq("d1", "d2"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2")
      .select(round(col("shared").cast("double") /
        (col("n1") + col("n2") - col("shared")), 6).as("j"))
      .localCheckpoint()
    PlanGeometries.map { case (b, r) =>
      val knee = (1 to 19).map(_ / 20.0)
        .find(s0 => planCollide(s0, b, r) >= 0.5).getOrElse(1.0)
      jac.agg(count(lit(1)).as("n_pairs"),
          round(sum(round(planCollideCol(col("j"), b, r), 9)
              .cast(DecimalType(13, 9))).cast("double") / count(lit(1)), 6)
            .as("exp_catch"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(knee).as("knee_s"), col("n_pairs"), col("exp_catch"))
    }.reduce(_ unionByName _).orderBy(col("bands").desc)
  }

  /** LSH candidate pairs: equal band signature in ≥1 of 16 bands. */
  def minhashCandidates(s: SparkSession, d: String): DataFrame =
    minhashCandidates(withPlants(Tables.documents(s, d)))

  def minhashCandidates(docs: DataFrame): DataFrame = {
    // deliberately NOT checkpointed: both join sides replay the
    // signature scan, but it is a scan-only typed map — the lazy
    // sides run concurrently across cores, and an eager
    // materialization barrier measured SLOWER at sf0.1 (r17 A/B:
    // dedup_minhash 0.81→0.91s with a checkpoint here)
    val buckets = minhashBands(docs)
    buckets.as("x").join(buckets.hint("shuffle_hash").as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** jaccard_topk over the planted corpus: queries = the original
    * docs that own a planted twin (doc_id < 50) — every query has a
    * known jaccard-1.0 (exact plant) or near-1.0 (suffixed plant)
    * neighbor to retrieve. */
  def jaccardTopK(s: SparkSession, d: String): DataFrame =
    jaccardTopK(withPlants(Tables.documents(s, d)))

  /** jaccard_topk — NEAR-DUP LOOKUP in JACCARD space: the minhash
    * family's serving story, completing the per-metric top-k arc
    * (simhash [[hammingTopK]], image dHash phash_topk, the cosine
    * ANN tiers — and now shingle Jaccard): for each query document,
    * its banded minhash CANDIDATES reranked by EXACT 3-shingle
    * Jaccard, ranked (jaccard desc, doc_id), cut at k. Unlike the
    * Hamming tiers the banding here is probabilistic (the LSH recall
    * floor, measured per geometry in lsh_calibration) — the
    * candidates-are-banded contract is exactly what the oracle
    * replays. The jaccard value is ONE IEEE division of exact
    * integers (shared, set sizes — the q8 unrounded class: a single
    * shared expression tree on both engines), so ranks compare
    * identical doubles.
    *
    * Scale shape: candidates from the banded equi-join (never
    * all-pairs); the rerank joins are bounded by the candidates'
    * actual shingle overlap. At 100 TB the corpus side is the
    * maintained band index ([[writeBandIndex]]) and a query batch
    * bands only itself — the [[dedupIncremental]] shape with a rank
    * cut instead of the pair dump. */
  def jaccardTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    val cand = minhashCandidates(docs).select(col("d1"), col("d2"))
    val qcand = cand.filter(col("d1") < 50)
        .select(col("d1").as("q_id"), col("d2").as("doc_id"))
      .unionByName(cand.filter(col("d2") < 50)
        .select(col("d2").as("q_id"), col("d1").as("doc_id")))
    val sh = shingles(docs, 3).select(col("doc_id"), col("shingle"))
    jaccardRerankTopK(qcand,
      sh.select(col("doc_id").as("q_id"), col("shingle")), sh, k)
  }

  /** The exact-Jaccard rerank-and-cut shared by the in-query
    * [[jaccardTopK]] and the stored-index serve
    * ([[jaccardTopKServeBatch]]) — one contract, so the two cannot
    * drift. `qcand` = (q_id, doc_id) candidate pairs, `qsh`/`csh` =
    * (q_id|doc_id, shingle) distinct-shingle frames covering (at
    * least) the candidates' two sides. */
  private def jaccardRerankTopK(qcand: DataFrame, qsh: DataFrame,
                                csh: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("jaccard").desc, col("doc_id"))
    qcand
      .join(qsh, Seq("q_id"))
      .join(csh, Seq("doc_id", "shingle"))
      .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("shared"))
      .join(qsh.groupBy(col("q_id")).agg(count(lit(1)).as("n1")), Seq("q_id"))
      .join(csh.groupBy(col("doc_id")).agg(count(lit(1)).as("n2")),
        Seq("doc_id"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n1") + col("n2") - col("shared")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("shared"),
        col("jaccard"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Serve jaccard top-k off the maintained band index — the
    * production form the [[jaccardTopK]] Scaladoc promises: the
    * standing corpus is banded ONCE ([[writeBandIndex]]); a query
    * batch bands only itself, equi-joins the index for candidates
    * (the [[dedupIncrementalStep]] probe, minus the append), and the
    * exact-shingle rerank touches corpus TEXT only for the candidate
    * ids (semi-join pruned — the bounded-decode discipline). Query
    * and corpus ids are independent spaces, so self-exclusion is
    * OPT-IN (the annIvfServeBatch rule); parity with the in-query
    * form on a shared id space is spec'd with excludeSelf = true. */
  def jaccardTopKServeBatch(s: SparkSession, indexDir: String,
                            corpus: DataFrame, batch: DataFrame,
                            k: Int = 5,
                            excludeSelf: Boolean = false): DataFrame = {
    val cand0 = s.read.parquet(indexDir).as("c")
      .join(minhashBands(batch).hint("shuffle_hash").as("b"),
        col("c.band") === col("b.band") && col("c.sig") === col("b.sig"))
      .select(col("b.doc_id").as("q_id"), col("c.doc_id").as("doc_id"))
      .distinct()
    val cand = if (excludeSelf) cand0.filter(col("q_id") =!= col("doc_id"))
               else cand0
    val pruned = corpus.join(
      cand.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    jaccardRerankTopK(cand,
      shingles(batch, 3).select(col("doc_id").as("q_id"), col("shingle")),
      shingles(pruned, 3).select(col("doc_id"), col("shingle")), k)
  }

  /** dedup_incremental: NEW-BATCH vs CORPUS near-dup detection — the
    * production shape at 100 TB, where the standing corpus's band
    * index is computed once (and at scale stored bucketed by
    * (band, sig) — the [[graft.sources.Bucketed]] layout) and each
    * arriving batch bands only ITS docs and equi-joins the index:
    * cost tracks the BATCH, never a corpus self-join. Output is the
    * (corpus_id, batch_id) collision pairs; batch-internal dups are
    * the streaming detectors' job ([[graft.streaming.EventStream]]
    * streamingMinhashPairsTtl). The planted docs (id ≥ 100000) play
    * the arriving batch against the raw corpus. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val all = withPlants(Tables.documents(s, d))
    dedupIncremental(all.filter(col("doc_id") < 100000),
      all.filter(col("doc_id") >= 100000))
  }

  def dedupIncremental(corpus: DataFrame, batch: DataFrame): DataFrame =
    minhashBands(corpus).as("c")
      .join(minhashBands(batch).hint("shuffle_hash").as("b"),
        col("c.band") === col("b.band") && col("c.sig") === col("b.sig"))
      .select(col("c.doc_id").as("corpus_id"), col("b.doc_id").as("batch_id"))
      .distinct()
      .orderBy(col("corpus_id"), col("batch_id"))

  // ---- Maintained band-index artifact (the daily incremental loop) ------

  /** Persist the corpus's minhash band index — the write-once artifact
    * [[dedupIncremental]]'s design assumes, made real: at 100 TB the
    * standing corpus is banded exactly once, the index (doc_id, band,
    * sig — a few hundred bytes per doc, orders of magnitude smaller
    * than the text) lives as parquet, and every arriving batch joins
    * it without ever re-scanning corpus text. At scale the index is
    * written bucketed by (band, sig) ([[graft.sources.Bucketed]]) so
    * the daily probe join is co-located. */
  def writeBandIndex(docs: DataFrame, dir: String): Unit =
    minhashBands(docs).write.mode("overwrite").parquet(dir)

  /** One day of the production loop (the cadence of the reference's
    * daily batch runs): band the arriving batch ONCE, detect its
    * near-dups against the maintained index, then append the batch's
    * bands so tomorrow's batch sees today's docs
    * ([[detectThenAppend]]). Per-day cost tracks the day's batch + the
    * index scan — the corpus text is never touched again.
    *
    * Loop invariant (spec'd in DedupSpec): running day-1 then day-2
    * against the maintained artifact yields exactly the one-shot
    * [[minhashCandidates]] pairs of corpus ∪ batch₁ ∪ batch₂ sliced
    * to cross-arrival pairs — nothing is lost or invented by
    * maintaining the index incrementally. (Batch-INTERNAL pairs are
    * the streaming detectors' job, exactly as in [[dedupIncremental]].) */
  def dedupIncrementalStep(s: SparkSession, indexDir: String,
                           batch: DataFrame): DataFrame = {
    val bands = minhashBands(batch).localCheckpoint()
    detectThenAppend(indexDir,
      s.read.parquet(indexDir).as("c")
        .join(bands.hint("shuffle_hash").as("b"),
          col("c.band") === col("b.band") && col("c.sig") === col("b.sig"))
        .select(col("c.doc_id").as("corpus_id"), col("b.doc_id").as("batch_id"))
        .distinct(),
      bands)
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** Maintained CLUSTER-MAP artifact — the incremental form of the CC
    * capstone, closing the loop the maintained band/span/emb/phash
    * indexes feed: detection was already incremental
    * ([[dedupIncrementalStep]]), but clustering still recomputed CC
    * over ALL pairs. The artifact is the (node, cluster_id) map
    * (cluster_id = component min id, the keeper convention),
    * PARTITIONED by a cluster_id hash bucket so the daily step can
    * rewrite only the buckets it touches (the scd2SinkBatch bound). */
  /** Rows are CLUSTERED by bucket before partitionBy (unclustered,
    * every task writes a file into every directory it holds). */
  def writeClusterIndex(pairs: DataFrame, dir: String): Unit =
    connectedComponentsSafe(pairs)
      .select(col("node"), col("cluster_id"))
      .withColumn("_cb", clusterBucket)
      .repartition(col("_cb"))
      .write.mode("overwrite").partitionBy("_cb").parquet(dir)

  /** The cluster map's hash-bucket count, the same for every map: the
    * layout does not record it, so the writer, the day step and the
    * forget must agree on it. It trades initial-write directory churn
    * against the daily rewrite bound: a day touching C clusters
    * rewrites ≤min(C, buckets) directories ≈ C/buckets of the map, and
    * 1024 holds a ~70-cluster day to ~6%. */
  private[graft] val ClusterBuckets = 1024

  private def clusterBucket =
    pmod(xxhash64(col("cluster_id")), lit(ClusterBuckets)).cast("int")

  /** The map without its internal bucket column. */
  def readClusterIndex(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir).drop("_cb")

  /** Unlike the APPEND-maintained artifacts (band/span/emb/phash/
    * postings), the cluster map needs no periodic compaction: a daily
    * step REPLACES each touched bucket's directory with one file
    * ([[graft.sources.Compact.rewriteBuckets]]), so file count stays bounded
    * by the bucket count however many days run — spec'd in
    * CompactIndexSpec alongside the compaction loops; [[compact]]
    * refuses [[ClusterMap]]. */

  /** One day of incremental clustering: relabel ONLY the clusters the
    * day's edges touch. An existing cluster is represented in the
    * merge subgraph by its STAR edges (member → cluster_id — exactly
    * the connectivity the map encodes), so the CC rerun covers
    * affected members + the day's nodes, never the corpus; an
    * untouched cluster shares no node with the subgraph, so labels
    * stay globally consistent (the merged component's min is a
    * subgraph node). The WRITE is bounded too: only the touched
    * clusters' hash buckets are read and rewritten
    * ([[graft.sources.Compact.rewriteBuckets]]), which deletes a
    * bucket a relabel drained and keeps the rows of a bucket a NEW
    * cluster_id hashes into from outside the touched set. Day
    * cost tracks |day's edges| + |touched clusters' members| +
    * |touched buckets|, never the corpus.
    *
    * Loop invariant (spec'd): N daily steps over an edge stream ≡
    * one-shot [[connectedComponentsSafe]] over all edges; a
    * one-cluster day moves only that cluster's bucket directories. */
  def ccIncrementalStep(s: SparkSession, dir: String,
                        newPairs: DataFrame): DataFrame = {
    val map = s.read.parquet(dir)
    val edges = newPairs.select(col("d1"), col("d2")).localCheckpoint()
    val endpoints = edges.select(col("d1").as("node"))
      .unionByName(edges.select(col("d2").as("node"))).distinct()
    val touched = endpoints.join(map, Seq("node"))
      .select(col("cluster_id")).distinct().localCheckpoint()
    // a relabeled/NEW cluster_id can hash into a bucket OUTSIDE the
    // touched set (an all-new-nodes day, or a merge whose component
    // min is a new node); its rows are disjoint from the relabeled
    // nodes, whose OLD rows live in touched buckets
    graft.sources.Compact.rewriteBuckets(s, dir, "_cb", touchedBuckets(touched)) { slice =>
      val members = slice.join(touched, Seq("cluster_id"), "left_semi")
      val starEdges = members.filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("d1"), col("cluster_id").as("d2"))
      val relabeled = connectedComponentsSafe(starEdges.unionByName(edges))
      slice.join(touched, Seq("cluster_id"), "left_anti")
        .select(col("node"), col("cluster_id"))
        .unionByName(relabeled.select(col("node"), col("cluster_id")))
        .withColumn("_cb", clusterBucket)
        .localCheckpoint() // returned after the rewrite moves its input
    }.drop("_cb")
  }

  /** The cluster-map buckets holding the `touched` cluster ids (bounded
    * by [[ClusterBuckets]]). */
  private def touchedBuckets(touched: DataFrame): Seq[Int] =
    touched.select(clusterBucket).distinct().collect().map(_.getInt(0)).toSeq

  /** dedup_profile: the corpus DUPLICATION statistics — the first
    * report a dedup run publishes (what fraction of the corpus is
    * duplicated, and in what cluster sizes?): minhash near-dup pairs
    * → connected components → cluster-size histogram, with
    * singleton docs counted as size-1 clusters (left join +
    * coalesce(cluster, own id) — no driver-side counting). Output
    * (cluster_size, n_clusters, n_docs) tells the whole story:
    * Σ n_docs = corpus, n_docs − n_clusters = docs dedup would
    * remove. Scale shape: the pair/CC machinery this builds on plus
    * two partial-agg shuffles of long rows. */
  def dedupProfile(s: SparkSession, d: String): DataFrame =
    dedupProfile(withPlants(Tables.documents(s, d)))

  def dedupProfile(docs: DataFrame): DataFrame = {
    val cc = connectedComponentsSafe(minhashCandidates(docs))
      .withColumnRenamed("node", "doc_id")
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy(col("cluster_size"))
  }

  /** REMOVE nodes from the maintained cluster map — the
    * `bucketForget` of [[ClusterMap]], run by [[forget]], and the
    * erasure half of the incremental-clustering loop
    * ([[ccIncrementalStep]] adds edges; this forgets documents).
    * `victims` holds the forgotten ids as `node`. Rows of forgotten
    * nodes vanish, and clusters whose LABEL was a forgotten doc
    * (cluster_id = min member) relabel their remaining members to the
    * new min — a label IS a doc id, so erasure must not leave it
    * behind. Same bounded write as the daily step: only the touched
    * clusters' hash buckets are read and rewritten
    * ([[graft.sources.Compact.rewriteBuckets]]). */
  private def forgetClusterBuckets(s: SparkSession, dir: String,
                                   victims: DataFrame): Unit = {
    val map = s.read.parquet(dir)
    val forget = victims.localCheckpoint()
    val touched = map.join(forget, Seq("node"))
      .select(col("cluster_id")).distinct().localCheckpoint()
    if (touched.limit(1).count() == 0) return
    graft.sources.Compact.rewriteBuckets(s, dir, "_cb", touchedBuckets(touched)) { slice =>
      val survivors = slice.join(touched, Seq("cluster_id"), "left_semi")
        .join(forget, Seq("node"), "left_anti")
      val newLabels = survivors.groupBy(col("cluster_id"))
        .agg(min(col("node")).as("new_id"))
      slice.join(touched, Seq("cluster_id"), "left_anti")
        .select(col("node"), col("cluster_id"))
        .unionByName(survivors.join(newLabels, "cluster_id")
          .select(col("node"), col("new_id").as("cluster_id")))
        .withColumn("_cb", clusterBucket)
    }
    ()
  }

  // ---- SimHash ----------------------------------------------------------

  private[operators] val SimhashBits = 60 // divides into 4/5/6 equal chunks

  /** 60-bit SimHash per doc: sign of per-bit ±1 sums over token
    * hashes (token multiset, not set — classic SimHash weighting),
    * computed in one typed shuffle-free pass. 60 bits = 15 md5 hex
    * digits, which keeps the SQL oracle's arithmetic exact. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // token vocabularies repeat heavily — memoize hashes per task
        val cache = new java.util.HashMap[String, java.lang.Long]()
        it.map { case (id, text) =>
          val sums = new Array[Int](SimhashBits)
          tokenize(text).foreach { t =>
            var hv = cache.get(t)
            if (hv == null) { hv = md5Hash60(t); cache.put(t, hv) }
            val h = hv.longValue()
            var j = 0
            while (j < SimhashBits) {
              if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
              j += 1
            }
          }
          var packed = 0L
          var j = 0
          while (j < SimhashBits) { if (sums(j) > 0) packed |= (1L << j); j += 1 }
          (id, packed)
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** Near-dup pairs with hamming(simhash) ≤ 3, via Manku-style banding
    * — see [[simhashNearDups(docs:*]] for the scheme and parameters. */
  def simhashNearDups(s: SparkSession, d: String): DataFrame =
    simhashNearDups(withPlants(Tables.documents(s, d)))

  /** Pure mirror of the banding key extraction below (ScalaCheck
    * proves the pigeonhole guarantee on it over random signatures —
    * BandingProps): the compound keys for one signature. */
  private[graft] def bandingKeys(sig: Long, maxHamming: Int,
                                 numChunks: Int): Seq[(Int, Long)] = {
    val width = SimhashBits / numChunks
    val mask = (1L << width) - 1
    (0 until numChunks).combinations(numChunks - maxHamming)
      .toSeq.zipWithIndex.map { case (combo, comboId) =>
        comboId -> combo.foldLeft(0L) { (acc, ci) =>
          (acc << width) | ((sig >>> (ci * width)) & mask)
        }
      }
  }

  /** Candidate pairs from the banding join, BEFORE the hamming filter
    * — distinct (d1, d2) with the pair's hamming distance: the
    * candidate volume per (maxHamming, numChunks) geometry. */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3,
                        numChunks: Int = 6): DataFrame =
    bandedHammingCandidates(simhashSignatures(docs), "simhash",
      maxHamming, numChunks)

  /** The Manku banding join over ANY (doc_id, <hashCol>) 60-bit
    * signature frame — shared by the text simhash and the image
    * perceptual hash ([[graft.sources.Multimodal.phashDups]]): the
    * hamming-ball guarantee is a property of the banding, not of how
    * the signature was computed. */
  /** The banding key index for one signature frame: every
    * (numChunks − maxHamming)-subset of chunks becomes a compound
    * (ci, cv) key row per doc — the exploded form both the self-join
    * and the cross-set join shuffle on. */
  private def hammingIndex(sig: DataFrame, hashCol: String,
                           maxHamming: Int, numChunks: Int): DataFrame = {
    require(SimhashBits % numChunks == 0, s"numChunks must divide $SimhashBits")
    require(numChunks > maxHamming, "need more chunks than the hamming budget")
    val width = SimhashBits / numChunks
    val mask = (1L << width) - 1
    val keys = (0 until numChunks).combinations(numChunks - maxHamming)
      .toSeq.zipWithIndex.map { case (combo, comboId) =>
        val key = combo.foldLeft(lit(0L)) { (acc, ci) =>
          shiftleft(acc, width).bitwiseOR(
            shiftrightunsigned(col(hashCol), ci * width).bitwiseAND(lit(mask)))
        }
        struct(lit(comboId).as("ci"), key.as("cv"))
      }
    sig.select(col("doc_id"), col(hashCol), explode(array(keys: _*)).as("c"))
      .select(col("doc_id"), col(hashCol), col("c.ci"), col("c.cv"))
  }

  private[graft] def bandedHammingCandidates(sig: DataFrame, hashCol: String,
                                             maxHamming: Int,
                                             numChunks: Int): DataFrame = {
    val idx = hammingIndex(sig, hashCol, maxHamming, numChunks)
    idx.as("x").join(idx.hint("shuffle_hash").as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col(s"x.$hashCol").bitwiseXOR(col(s"y.$hashCol"))).as("hamming"))
      .distinct()
  }

  /** The CROSS-SET banding join — batch-vs-corpus near-dup for any
    * 60-bit signature family (the [[dedupIncremental]] shape moved to
    * hamming space): corpus and batch each build their key index, the
    * equi-join on (ci, cv) pairs them, and there is NO corpus
    * self-join. The (small) batch side is the shuffle-hash build
    * side; at 100 TB the corpus index is a write-once artifact
    * (exactly [[writeBandIndex]]'s role for minhash). */
  private[graft] def bandedHammingCandidatesAcross(corpusSig: DataFrame,
                                                   batchSig: DataFrame,
                                                   hashCol: String,
                                                   maxHamming: Int,
                                                   numChunks: Int): DataFrame = {
    val c = hammingIndex(corpusSig, hashCol, maxHamming, numChunks)
    val b = hammingIndex(batchSig, hashCol, maxHamming, numChunks)
    c.as("x").join(b.hint("shuffle_hash").as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv"))
      .select(col("x.doc_id").as("corpus_id"), col("y.doc_id").as("batch_id"),
        bit_count(col(s"x.$hashCol").bitwiseXOR(col(s"y.$hashCol"))).as("hamming"))
      .distinct()
  }

  /** Near-dup pairs with hamming(simhash) ≤ maxHamming, found by
    * Manku-style multi-table banding (Manku, Jain & Das Sarma, WWW'07
    * §3): the 60 signature bits split into `numChunks` equal chunks,
    * and every combination of (numChunks - maxHamming) chunks forms a
    * compound equi-join key. A pair within the hamming budget differs
    * in at most maxHamming chunks, so at least one combination avoids
    * every differing chunk — EXACT banding (no false negatives), and
    * pair generation is an equi-join on (combo_id, key), never
    * all-pairs.
    *
    * The default (6 chunks, hamming ≤ 3) is C(6,3) = 20 tables keyed
    * by 30 bits: 2^30 key space, so bucket occupancy stays bounded
    * into the 10^10-doc regime. numChunks=4 reduces to single-chunk
    * pigeonhole banding (C(4,1) = 4 tables, one 15-bit chunk) — fewer
    * index rows but only 2^15 buckets, which saturates: the Scale10
    * occupancy probe measured 27.4M candidate pairs (13.0s) for 4
    * chunks vs 1.38M (2.2s) for 6 at 10x SF, for an identical final
    * pair set (equivalence spec'd in DedupSpec — both geometries are
    * exact, so the oracle holds for any of them). */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
                      numChunks: Int = 6): DataFrame =
    simhashCandidates(docs, maxHamming, numChunks)
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("d1"), col("d2"))

  // ---- Maintained simhash-signature artifact (hamming serving) ----------

  /** Persist the corpus's SimHash signatures — (doc_id, simhash), 8
    * stored bytes per doc: the text-hamming analog of
    * [[graft.sources.Multimodal.writePhashIndex]]. What the index
    * saves per serve is the corpus tokenize+hash pass; the banding
    * keys re-derive from the stored signature in pure column
    * arithmetic, so any (maxHamming, numChunks) geometry can probe
    * the same artifact. */
  def writeSimhashIndex(docs: DataFrame, dir: String): Unit =
    simhashSignatures(docs).write.mode("overwrite").parquet(dir)

  /** Serve hamming top-k off the maintained signature index — the
    * production form the [[hammingTopK]] Scaladoc promises: the
    * batch is tokenized+hashed once, both sides band, and they meet
    * in the one cross-set equi-join; corpus text is never touched.
    * Self-exclusion is opt-in (independent id spaces — the
    * annIvfServeBatch rule); parity with the in-query form on a
    * shared id space is spec'd with excludeSelf = true. */
  def hammingTopKServeBatch(s: SparkSession, indexDir: String,
                            batch: DataFrame, k: Int = 5,
                            maxHamming: Int = 3, numChunks: Int = 6,
                            excludeSelf: Boolean = false): DataFrame =
    bandedTopK(s.read.parquet(indexDir), simhashSignatures(batch),
      "simhash", k, maxHamming, numChunks, excludeSelf)

  /** hamming_topk over the planted corpus: queries = the original
    * docs that own a planted twin (doc_id < 50), so every query has
    * a known hamming-0 (exact plant) or near-0 (suffixed plant)
    * neighbor to retrieve. */
  def hammingTopK(s: SparkSession, d: String): DataFrame =
    hammingTopK(withPlants(Tables.documents(s, d)))

  /** hamming_topk: Hamming-space top-k retrieval over SimHash codes —
    * the ANN serving form of the Manku banding (the dedup family's
    * metric space joining the cosine tiers' serving story): for each
    * query document, the corpus neighbors within `maxHamming` bits,
    * ranked by (hamming, doc_id) and cut at k. The banding guarantee
    * makes this EXACT within the ball — a pair inside the budget
    * differs in at most maxHamming chunks, so at least one
    * (numChunks − maxHamming)-combination matches — while pair
    * generation stays an equi-join on the compound (combo, key): no
    * brute-force scan, no BNLJ. The self row (identical doc_id) is
    * excluded; radius misses simply produce fewer than k rows (a
    * bounded-radius top-k, the standard near-dup-lookup contract).
    *
    * Scale shape: both sides build the same banded key index and
    * meet in ONE shuffle-hash equi-join keyed by 30-bit compound
    * keys (2^30 key space — occupancy bounded into the 10^10-doc
    * regime, same geometry note as [[simhashNearDups]]); the final
    * rank is a per-query window over candidate sets the radius
    * already bounded. At 100 TB the corpus-side index is the
    * write-once artifact ([[writeBandIndex]]'s role) and only the
    * query batch is indexed per run. */
  def hammingTopK(docs: DataFrame, k: Int = 5, maxHamming: Int = 3,
                  numChunks: Int = 6): DataFrame =
    // the query-side signature pass runs over the FILTERED docs (the
    // signature is per-doc, so the filter commutes — and it cannot be
    // pushed through the signature computation by Catalyst)
    bandedTopK(simhashSignatures(docs),
      simhashSignatures(docs.filter(col("doc_id") < 50)), "simhash",
      k, maxHamming, numChunks)

  /** The banded Hamming TOP-K core shared by [[hammingTopK]] (text
    * SimHash) and [[graft.sources.Multimodal.phashTopK]] (image
    * dHash): cross-set Manku banding, radius cut, self-exclusion,
    * per-query (hamming, doc_id) rank — one contract, two
    * modalities (they cannot drift). */
  private[graft] def bandedTopK(sig: DataFrame, queries: DataFrame,
                                hashCol: String, k: Int, maxHamming: Int,
                                numChunks: Int,
                                excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("doc_id"))
    val cand = bandedHammingCandidatesAcross(sig, queries, hashCol,
        maxHamming, numChunks)
      .filter(col("hamming") <= maxHamming)
    // the in-query forms draw queries FROM the corpus, so the id
    // equality really is the self row; serving batches live in an
    // independent id space, where the same filter would silently
    // drop a legitimate neighbor (the annIvfServeBatch rule) —
    // exclusion is the caller's choice
    (if (excludeSelf) cand.filter(col("corpus_id") =!= col("batch_id"))
     else cand)
      .select(col("batch_id").as("q_id"), col("corpus_id").as("doc_id"),
        col("hamming"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("hamming"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ---- Dedup clustering (pairs -> connected components) -----------------

  /** Connected components over candidate near-dup pairs — the step
    * that turns pairwise hits into KEEP/DROP decisions (a doc can be
    * transitively near-duplicate of a doc it shares no band with).
    *
    * Min-label propagation: every node starts labeled with its own
    * id; each round every node takes the min label in its
    * neighborhood; fixpoint = per-component min id. Each round is one
    * shuffle (join on the edge endpoint + groupBy min) over
    * `localCheckpoint`-ed frames (lineage stays flat), and rounds are
    * bounded by the component DIAMETER — near-dup graphs are
    * star/clique-shaped (every member collides with the keeper's
    * bands), so this converges in a handful of rounds. For
    * adversarially chain-shaped graphs use
    * [[connectedComponentsStar]] — O(log²n) rounds regardless of
    * diameter, equivalence-spec'd against this implementation.
    *
    * Convergence detection: labels only ever decrease, so the label
    * sum is strictly decreasing until fixpoint — one cheap aggregate
    * per round instead of a change-count join.
    *
    * Checkpointing: the per-round lineage cut defaults to
    * `localCheckpoint` (executor-resident — fast, but an executor
    * loss on a real cluster kills the cached blocks and fails the job
    * LOUDLY). Cluster runs pass `reliable = true` to use RELIABLE
    * checkpoints instead: rounds persist to the session's checkpoint
    * directory (`sparkContext.setCheckpointDir` — HDFS/object store),
    * surviving executor loss at the price of a write per round.
    * Output-identical (spec'd). */
  private def cpRound(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint() else df.localCheckpoint()

  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
                          reliable: Boolean = false): DataFrame = {
    // Pair generation is shuffle-bearing for every caller (band
    // joins, salted LSH self-joins, mutual-kNN joins), and the
    // symmetrizing union evaluates its input once PER BRANCH
    // (ReuseExchange does not fire across aliased subtrees here —
    // r12/r17): checkpoint the pair list once and keep the union
    // LAZY over it — the replay is then a scan of cached blocks
    // (the r17 rule: checkpoint shuffle-bearing replays, leave
    // scan-only replays lazy).
    val ep = cpRound(
      pairs.select(col("d1").as("u"), col("d2").as("v")), reliable)
    val sym = ep.unionByName(ep.select(col("v").as("u"), col("u").as("v")))
    // Round 1 fused into initialization: label(u) = min(u, min of u's
    // neighbors) — algebraically identical to labels=self followed by
    // one propagation round (groupBy-min over self ∪ neighbor labels:
    // every node of sym appears as u, so the groups coincide), but as
    // ONE aggregation: no distinct exchange, no round-1 join, one
    // fewer checkpoint barrier (guide §2.4 — remove shuffles outright).
    var labels = cpRound(sym.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u").as("node"),
        least(col("u"), col("mv")).as("cluster_id")), reliable)
    var prevSum: java.math.BigDecimal =
      labels.agg(sum(col("cluster_id").cast("decimal(38,0)")))
        .head.getDecimal(0)
    var iter = 1
    var done = false
    // maxIters buys maxIters PROPAGATION rounds; the sum-equality
    // check needs one extra no-change round to confirm, hence the +1
    while (!done && iter < maxIters + 1) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("node", "v"), "v")
        .select(col("u").as("node"), col("cluster_id"))
      val next = cpRound(labels.unionByName(neighborMin)
        .groupBy(col("node")).agg(min(col("cluster_id")).as("cluster_id")),
        reliable)
      val s = next.agg(sum(col("cluster_id").cast("decimal(38,0)")))
        .head.getDecimal(0)
      done = s == prevSum
      prevSum = s
      labels = next
      iter += 1
    }
    // partial labels are silently WRONG (and would fail the oracle in
    // confusing ways) — fail loudly if a pathological graph outruns
    // the round budget instead of returning them
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters propagation " +
        "rounds (component diameter exceeds the budget — raise maxIters " +
        "or switch the propagation step to large-star/small-star)")
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * adversarial-graph-safe alternative to [[connectedComponents]]:
    * rounds are bounded by O(log² n) regardless of component DIAMETER
    * (min-label propagation pays diameter rounds, which a pathological
    * near-dup chain can stretch).
    *
    *   - large-star(u): every neighbor larger than u re-attaches to
    *     the minimum of u's neighborhood (incl. u),
    *   - small-star(u): u and its smaller neighbors re-attach to the
    *     smallest of them.
    *
    * Both steps are groupBy-min + equi-join — the same per-round
    * shuffle shape as label propagation. Fixpoint = star edge sets
    * (component-min → member), detected by edge-set equality.
    * Equivalence with [[connectedComponents]] and a union-find ground
    * truth is spec'd in DedupSpec, including a 100-hop chain that the
    * default label-propagation budget cannot finish. */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 50,
                              reliable: Boolean = false): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    def symmetrize(edges: DataFrame): DataFrame =
      edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = symmetrize(edges)
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      canon(sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    def smallStar(edges: DataFrame): DataFrame = {
      val smaller = symmetrize(edges).filter(col("v") < col("u"))
      val mins = smaller.groupBy("u").agg(min(col("v")).as("m"))
      val fromNeighbors = smaller.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val fromSelf = mins.select(col("u"), col("m").as("v"))
      canon(fromNeighbors.unionByName(fromSelf))
    }
    var edges = cpRound(
      canon(pairs.select(col("d1").as("u"), col("d2").as("v"))), reliable)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val next = cpRound(smallStar(largeStar(edges)), reliable)
      // canon-deduped sets: equal counts + next ⊆ edges ⇒ equal sets
      done = next.count() == edges.count() && next.exceptAll(edges).isEmpty
      edges = next
      round += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxRounds rounds")
    // fixpoint edges are (center=min, member) stars
    edges.select(col("v").as("node"), col("u").as("cluster_id"))
      .unionByName(edges.select(col("u").as("node"), col("u").as("cluster_id")))
      .distinct()
  }

  /** Production CC entry point: min-label propagation first (diameter-
    * bound rounds — measured fastest on star/clique-shaped near-dup
    * graphs), falling back to [[connectedComponentsStar]] (O(log²n)
    * rounds regardless of diameter) when a chain-shaped graph exhausts
    * the propagation budget. Both algorithms hash-match the same
    * reachability oracle, so the fallback changes cost, never results
    * — and a pathological graph degrades to the slower-but-terminating
    * algorithm instead of failing the pipeline. */
  def connectedComponentsSafe(pairs: DataFrame, maxIters: Int = 25,
                              reliable: Boolean = false): DataFrame =
    try connectedComponents(pairs, maxIters, reliable)
    catch {
      case e: IllegalStateException =>
        System.err.println(
          s"[graft] ${e.getMessage} — falling back to large-star/small-star")
        connectedComponentsStar(pairs, reliable = reliable)
    }

  /** dedup_clusters query: minhash-LSH candidate pairs → connected
    * components → (doc_id, cluster_id); cluster_id is the component's
    * min doc id, i.e. the keeper under keep-min-id policy. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    connectedComponentsSafe(minhashCandidates(withPlants(Tables.documents(s, d))))
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  /** dedup_soft — SOFT DEDUPLICATION: reweight duplicates instead of
    * removing them (the SoftDeDup posture — down-weighting a
    * near-dup cluster to one document's worth of gradient keeps the
    * coverage hard removal throws away, and several modern pretrain
    * mixes prefer it for high-quality sources): every document gets
    * a training weight of 1e6/|its minhash near-dup cluster| in ppm
    * (exact integer floor-division — the sample_temperature ppm
    * discipline), so each cluster contributes ~one doc of total
    * weight; singletons keep 1e6. The weight column is what a
    * sampling loader consumes directly.
    *
    * Composition: the [[dedupClusters]] chain verbatim (banded
    * minhash candidates → verified CC labels) + one cluster-size
    * aggregate + a left join back to the full corpus — all
    * equi-joins on ids, nothing new shuffles at scale. */
  def dedupSoft(s: SparkSession, d: String): DataFrame = {
    val plants = withPlants(Tables.documents(s, d))
    val cc = connectedComponentsSafe(minhashCandidates(plants))
      .select(col("node").as("doc_id"), col("cluster_id"))
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
    plants.select(col("doc_id"))
      .join(cc.join(sizes, "cluster_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("csize"), lit(1L)).as("csize"))
      .withColumn("w_ppm", expr("1000000 div csize"))
      .orderBy(col("doc_id"))
  }

  /** Same clustering through [[connectedComponentsStar]] — exposed as
    * its own query so the star algorithm is ALSO hash-verified
    * against the DuckDB reachability oracle, not just against the
    * label-propagation implementation. */
  def dedupClustersStar(s: SparkSession, d: String): DataFrame =
    connectedComponentsStar(minhashCandidates(withPlants(Tables.documents(s, d))))
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  /** Embedding near-dup: cosine ≥ tau, label-blocked — the exact
    * WITHIN-BLOCK baseline, not the generic dedup: blocking on a
    * semantic label only ever finds same-label pairs (measured 9.5%
    * of the corpus's true ≥τ pairs; [[embLshDups]] finds 92.5%) and
    * its per-block pairing is O(n²/L) with L fixed by the data.
    * Cosine is computed in double and rounded to 6 dp on both engines
    * before thresholding. */
  def embCosineDups(s: SparkSession, d: String): DataFrame =
    embCosineDups(Tables.embeddings(s, d))

  def embCosineDups(e: DataFrame, tau: Double = 0.35): DataFrame = {
    val a = e.as("a"); val b = e.as("b")
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        round(graft.functions.CosineSimilarity.cosineSim(
          col("a.embedding"), col("b.embedding")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .orderBy(col("v1"), col("v2"))
  }

  /** Embedding near-dup, LSH-blocked — the generic 100 TB path for
    * [[embCosineDups]]: the blocking key is the multi-table random-
    * hyperplane code ([[Similarity.lshCodes]] — the same planes and
    * geometry as ann_lsh), not a low-cardinality label. Candidates
    * are pairs colliding in ANY table (an equi-join on (tid, code) —
    * the cross product is never materialized), verified with the
    * native codegen'd CosineSimilarity expression and thresholded at
    * `tau`.
    *
    * Semantically this is the GENERIC corpus-wide near-dup: the
    * label-blocked baseline only sees same-label pairs (measured
    * 9.5% pair recall vs ground truth); this path measures 92.5%.
    *
    * Recall/occupancy trade (measured per round in Bench as
    * `dedup_emb_lsh` pair-recall vs the exact all-pairs ground truth,
    * floored at 0.8 by RecallSpec): bucket count is 2^bits per table,
    * a PARAMETER — unlike the label key, whose cardinality is fixed by
    * the data — and it must be chosen JOINTLY with τ. The default
    * 16×4 geometry holds 0.93 recall at τ=0.35 on the deliberately
    * isotropic synthetic corpus (threshold pairs sit barely 2.5σ above
    * random — LSH's hardest regime), at the price of coarse buckets:
    * Scale10 measures 128M candidates at 10× — still ~10× below the
    * 1.25G all-pairs, but candidate-heavy. Real near-dup corpora
    * thresholded at τ≥0.8 use 16 bits/table (p_bit = 1 − θ/π ≥ 0.85
    * ⇒ 32×16 holds recall ≥0.9 with 65k buckets per table), which
    * Scale10 measures OUTPUT-BOUND (294k candidates at 10×, 433×
    * fewer than 16×4). */
  def embLshDups(s: SparkSession, d: String): DataFrame =
    embLshDups(Tables.embeddings(s, d))

  /** Distinct candidate pairs from the LSH bucket join, BEFORE the
    * cosine verify — the candidate volume per (tables, bits)
    * geometry, exactly like [[simhashCandidates]] for the simhash
    * bandings. */
  def embLshCandidates(e: DataFrame,
                       numBits: Int = Similarity.LshBits,
                       numTables: Int = Similarity.LshTables): DataFrame = {
    val bc = e.sparkSession.sparkContext.broadcast(
      Similarity.lshPlanes(numTables, numBits))
    val codes = Similarity.lshCodes(e, bc)
    // shuffle_hash: the code table is |e| × numTables rows — Catalyst
    // underestimates it and would broadcast the exploded side
    codes.as("x").join(codes.hint("shuffle_hash").as("y"),
        col("x.tid") === col("y.tid") && col("x.code") === col("y.code") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
      .distinct()
  }

  /** Execution strategy: SCORE IN THE BUCKET JOIN. The codes carry
    * their embedding through the (tid, code) join, each collision is
    * scored immediately by the native cosine expression, the τ filter
    * kills the junk (>99% on coarse geometries), and only true pairs
    * pay the distinct. The alternative — distinct candidate ids, then
    * two rerank joins against the corpus — shuffles the full
    * candidate set three times; with coarse buckets the candidate set
    * is orders of magnitude larger than the output, so scoring at the
    * collision site wins (Scale10 10×, 128M candidates: 94s vs
    * 112-196s for rerank — and the bare candidate join measured 75s
    * on the same run, so scoring+distinct adds ~25% over the join
    * floor where rerank adds 50-150%).
    * The extra cost is carrying numTables copies of each embedding
    * through one shuffle — ~16·256B per vector, flat in corpus size
    * per row. Both strategies are result-identical (spec'd). */
  /** Coarse geometries are salted by default: 16 tables × 2⁴ codes is
    * only 256 distinct join keys, so without salting the bucket join
    * caps at 256 tasks and each task pairs ~n/16 of the corpus
    * internally — a parallelism/straggler ceiling that candidate-
    * volume numbers don't capture (occupancy on the isotropic corpus
    * is near-UNIFORM, so every bucket is oversized at scale: the
    * ceiling is structural, not a hot-key anomaly, and uniform
    * salting — not per-key detection — is the fix). Fine geometries
    * (≥4096 keys) already spread; salting them would only pay the
    * groups× replication. */
  private[graft] def defaultSaltGroups(numTables: Int, numBits: Int): Int =
    if ((numTables.toLong << numBits) < 4096) 8 else 1

  /** Inputs below this row count bypass coarse-geometry salting: at
    * bench scale (2k vectors) the G× replication costs more than the
    * 256-key ceiling it removes (~0.5s on dedup_emb_clusters), while
    * at 10×/20× (20k/40k rows) salting measured 1.6×/2.5× faster.
    * The dispatch probe is a LIMIT-bounded count (the BPE vocab
    * dispatch pattern): it stops after SaltBypassRows rows, so a
    * DERIVED input (plants, transforms — no parquet footer to answer
    * from) pays bounded work, never a full recomputation, and a big
    * input answers "not below" after 10k rows regardless of its true
    * size. Paid only when the geometry is coarse enough to be
    * salting-eligible; hot callers pass `saltGroups` explicitly to
    * skip the probe entirely. Output-invariant (spec'd: salted ==
    * unsalted). */
  private[graft] val SaltBypassRows = 10000L

  /** True iff `df` has fewer than [[SaltBypassRows]] rows, decided by
    * scanning AT MOST that many. */
  private def belowSaltBypass(df: DataFrame): Boolean =
    df.limit(SaltBypassRows.toInt).count() < SaltBypassRows

  def embLshDups(e: DataFrame, tau: Double = 0.35,
                 numBits: Int = 0, numTables: Int = 0,
                 saltGroups: Int = 0): DataFrame = {
    // geometry defaults are derived from τ (Similarity.geometryFor):
    // (bits, τ) is a JOINT choice, and the coarse 4-bit buckets that
    // τ=0.35 forces must never be silently applied at production
    // thresholds where 16-bit buckets hold recall output-bound
    val g = Similarity.geometryFor(tau)
    val bits = if (numBits > 0) numBits else g.bits
    val tables = if (numTables > 0) numTables else g.tables
    // auto mode sizes the salt from the geometry AND the input: small
    // inputs skip the replication (the 1× overhead the bench pays)
    val groups =
      if (saltGroups > 0) saltGroups
      else if (defaultSaltGroups(tables, bits) <= 1) 1
      else if (belowSaltBypass(e)) 1
      else defaultSaltGroups(tables, bits)
    val bc = e.sparkSession.sparkContext.broadcast(
      Similarity.lshPlanes(tables, bits))
    val codes = Similarity.lshCodesWithVec(e, bc)
    // the SkewJoin replicate-salt pattern adapted to a pair-generating
    // SELF-join: each member gets a deterministic group in [0, G); side
    // x fans out over the OTHER side's group, side y over x's, and the
    // join keys on (tid, code, gx, gy) — a (u, v) pair meets exactly
    // once, at (gu, gv), so each bucket's quadratic pairing spreads
    // over G² shuffle keys at the linear cost of G extra copies of
    // each (code, embedding) row per side
    val (x, y) =
      if (groups <= 1) (codes.as("x"), codes.hint("shuffle_hash").as("y"))
      else {
        val grouped = codes.withColumn("_g",
          pmod(xxhash64(col("vec_id")), lit(groups)).cast("int"))
        (grouped.withColumnRenamed("_g", "_gx")
           .withColumn("_gy", explode(sequence(lit(0), lit(groups - 1)))).as("x"),
         grouped.withColumnRenamed("_g", "_gy")
           .withColumn("_gx", explode(sequence(lit(0), lit(groups - 1))))
           .hint("shuffle_hash").as("y"))
      }
    val saltCond = if (groups <= 1) lit(true)
      else col("x._gx") === col("y._gx") && col("x._gy") === col("y._gy")
    x.join(y,
        col("x.tid") === col("y.tid") && col("x.code") === col("y.code") &&
        saltCond && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        round(graft.functions.CosineSimilarity.cosineSim(
          col("x.embedding"), col("y.embedding")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .distinct()
      .orderBy(col("v1"), col("v2"))
  }

  /** dedup_keep_best: keeper by QUALITY, not min-id — the production
    * keeper policy (of a near-dup cluster you keep the best-scoring
    * copy, e.g. the least boilerplate-damaged crawl of a page). Per
    * CC cluster: argmax quality_score, ties to min doc_id. Composes
    * the verified CC with the verified text_stats score; the per-
    * cluster window partitions on cluster_id (cluster-count
    * parallelism, clusters are small). */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = withPlants(Tables.documents(s, d))
    val clusters = connectedComponentsSafe(minhashCandidates(docs))
    val quality = graft.functions.TextFunctions.textStats(docs)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.select(col("node").as("doc_id"), col("cluster_id"))
      .join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("keeper_id"),
        max(when(col("rn") === 1, col("quality_score"))).as("keeper_quality"))
      .orderBy(col("cluster_id"))
  }

  /** dedup_emb_incremental: NEW-BATCH vs STANDING-CORPUS embedding
    * near-dup — the semantic-dedup production shape (the embedding
    * analog of [[dedupIncremental]]): the corpus's LSH codes are a
    * write-once artifact at 100 TB, the arriving batch's codes
    * equi-join them on (tid, code), and every collision is scored
    * in-join by the native cosine (the [[embLshDups]] strategy — the
    * candidate set never shuffles twice). Cost tracks the BATCH and
    * the corpus code scan; there is NO corpus self-join, and the
    * batch side of the shuffle-hash join is the small build side.
    * The query splits the embeddings table 80/20 by vec_id%5 so the
    * oracle can replay the same split. */
  def dedupEmbIncremental(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    dedupEmbIncremental(e.filter(col("vec_id") % 5 =!= 4),
      e.filter(col("vec_id") % 5 === 4))
  }

  def dedupEmbIncremental(corpus: DataFrame, batch: DataFrame,
                          tau: Double = 0.35, saltGroups: Int = 0): DataFrame = {
    val g = Similarity.geometryFor(tau)
    // coarse geometries (16×4 at the at-noise default τ = 256 (tid,
    // code) keys) cap the corpus-batch join at 256 shuffle keys, the
    // same structural ceiling the self-join path salts. Here the salt
    // is one-sided and cheaper than the pair-join's G² form: the
    // corpus keeps one deterministic group per row, the (small) BATCH
    // side replicates over all G groups, and the join adds _g to the
    // key — each (corpus, batch) pair still meets exactly once, at the
    // corpus row's group, so the output is invariant (spec'd) while
    // every bucket's work spreads over G keys at the cost of G copies
    // of the batch rows only.
    val groups = if (saltGroups > 0) saltGroups
                 else defaultSaltGroups(g.tables, g.bits)
    val bc = corpus.sparkSession.sparkContext.broadcast(
      Similarity.lshPlanes(g.tables, g.bits))
    val c0 = Similarity.lshCodesWithVec(corpus, bc)
    val b0 = Similarity.lshCodesWithVec(batch, bc)
    val (c, b, saltCond) =
      if (groups <= 1) (c0.as("c"), b0.hint("shuffle_hash").as("b"), lit(true))
      else (
        c0.withColumn("_g",
          pmod(xxhash64(col("vec_id")), lit(groups)).cast("int")).as("c"),
        b0.withColumn("_g", explode(sequence(lit(0), lit(groups - 1))))
          .hint("shuffle_hash").as("b"),
        col("c._g") === col("b._g"))
    c.join(b,
        col("c.tid") === col("b.tid") && col("c.code") === col("b.code") &&
        saltCond)
      .select(col("c.vec_id").as("corpus_id"), col("b.vec_id").as("batch_id"),
        round(graft.functions.CosineSimilarity.cosineSim(
          col("c.embedding"), col("b.embedding")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .distinct()
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  // ---- Maintained embedding code-index artifact (the semantic daily loop) -

  /** Persist the corpus's LSH code index — the write-once artifact
    * [[dedupEmbIncremental]]'s design assumes, made real (the
    * embedding analog of [[writeBandIndex]]): at 100 TB the standing
    * corpus is coded exactly once and every arriving batch joins the
    * stored codes without re-hashing corpus vectors. Each row carries
    * its EMBEDDING through the index — `numTables` copies per vector —
    * because scoring collisions inside the bucket join measured
    * 1.2-2× faster than the distinct-then-rerank shape that a
    * codes-only layout forces ([[embLshDupsRerank]]); the payload is
    * bounded (tables × dim × 4 B per vector, independent of corpus
    * text size). The salt group is precomputed per row (`_g` —
    * deterministic in vec_id), so the daily one-sided salted join
    * ([[dedupEmbIncremental]]'s shape) needs no corpus-side rewrite.
    * [[dedupEmbIncrementalStep]] DERIVES the group count from the
    * stored `_g` domain (max + 1), so the writer's `saltGroups`
    * choice can never silently disagree with a later step. */
  def writeEmbCodeIndex(e: DataFrame, dir: String, tau: Double = 0.35,
                        saltGroups: Int = 0): Unit = {
    val g = Similarity.geometryFor(tau)
    val groups = if (saltGroups > 0) saltGroups
                 else defaultSaltGroups(g.tables, g.bits)
    val bc = e.sparkSession.sparkContext.broadcast(
      Similarity.lshPlanes(g.tables, g.bits))
    Similarity.lshCodesWithVec(e, bc)
      .withColumn("_g", pmod(xxhash64(col("vec_id")), lit(groups)).cast("int"))
      .write.mode("overwrite").parquet(dir)
  }

  /** One day of the semantic-dedup production loop (the embedding
    * analog of [[dedupIncrementalStep]]): code the arriving batch
    * ONCE, detect its near-dups against the maintained index —
    * collisions scored in-join by the native cosine, the batch side
    * replicated over the stored salt groups exactly as in
    * [[dedupEmbIncremental]] — then append the batch's coded rows so
    * tomorrow's batch sees today's vectors ([[detectThenAppend]]).
    * Per-day cost tracks the day's batch and the index scan; corpus
    * embeddings are never re-hashed.
    *
    * Loop invariant (spec'd in DedupSpec, mirroring the band-index
    * one): day-1 then day-2 against the maintained artifact yields
    * exactly the one-shot [[embLshDups]] pairs of corpus ∪ batch₁ ∪
    * batch₂ sliced to cross-arrival pairs. */
  def dedupEmbIncrementalStep(s: SparkSession, indexDir: String,
                              batch: DataFrame,
                              tau: Double = 0.35): DataFrame = {
    val g = Similarity.geometryFor(tau)
    // the salt-group count is a property of the ARTIFACT, not a
    // parameter: a step run with a different G than the writer would
    // silently lose every pair whose corpus group the batch never
    // replicated into — so read it from the stored _g domain (a
    // stats-only max over one int column). A drained index (every
    // vector forgotten) has no domain left: its next rows take the
    // writer's default count.
    val stored = s.read.parquet(indexDir).agg(max(col("_g"))).head
    val groups =
      if (stored.isNullAt(0)) defaultSaltGroups(g.tables, g.bits)
      else stored.getInt(0) + 1
    val bc = s.sparkContext.broadcast(
      Similarity.lshPlanes(g.tables, g.bits))
    // the batch's index rows: coded once, with their own one-group
    // salt assignment (what gets APPENDED — the join-side replication
    // below is never persisted)
    val bCodes = Similarity.lshCodesWithVec(batch, bc)
      .withColumn("_g", pmod(xxhash64(col("vec_id")), lit(groups)).cast("int"))
      .localCheckpoint()
    val bJoin =
      if (groups <= 1) bCodes.hint("shuffle_hash").as("b")
      else bCodes.drop("_g")
        .withColumn("_g", explode(sequence(lit(0), lit(groups - 1))))
        .hint("shuffle_hash").as("b")
    detectThenAppend(indexDir,
      s.read.parquet(indexDir).as("c")
        .join(bJoin,
          col("c.tid") === col("b.tid") && col("c.code") === col("b.code") &&
          col("c._g") === col("b._g"))
        .select(col("c.vec_id").as("corpus_id"), col("b.vec_id").as("batch_id"),
          round(graft.functions.CosineSimilarity.cosineSim(
            col("c.embedding"), col("b.embedding")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= tau)
        .distinct(),
      bCodes)
      .orderBy(col("corpus_id"), col("batch_id"))
  }

  /** dedup_emb_clusters: embedding near-dup pairs → connected
    * components → (vec_id, cluster_id) — the step that turns the
    * pairwise [[embLshDups]] hits into KEEP/DROP decisions (a vector
    * can be transitively near-duplicate of one it shares no bucket
    * with), exactly parallel to [[dedupClusters]] over the minhash
    * pairs. cluster_id is the component's min vec_id — the keeper
    * under keep-min-id. Same scale shape as the minhash capstone:
    * bucketed pair generation + the safe CC (label propagation with
    * star-contraction fallback). */
  def dedupEmbClusters(s: SparkSession, d: String): DataFrame =
    connectedComponentsSafe(
      embLshDups(Tables.embeddings(s, d))
        .select(col("v1").as("d1"), col("v2").as("d2")))
      .select(col("node").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))

  /** The rerank-join strategy (distinct candidates → fetch embeddings
    * → score): the write-side-friendly shape when codes are
    * precomputed without embeddings. Result-identical to
    * [[embLshDups]]; kept for the documented strategy comparison
    * (like ngramJaccardPrefix vs the counting form). */
  def embLshDupsRerank(e: DataFrame, tau: Double = 0.35,
                       numBits: Int = 0, numTables: Int = 0): DataFrame = {
    val g = Similarity.geometryFor(tau)
    val bits = if (numBits > 0) numBits else g.bits
    val tables = if (numTables > 0) numTables else g.tables
    embLshCandidates(e, bits, tables)
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1")), "v1")
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")), "v2")
      .select(col("v1"), col("v2"),
        round(graft.functions.CosineSimilarity.cosineSim(
          col("e1"), col("e2")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .orderBy(col("v1"), col("v2"))
  }

  /** Exact all-pairs ground truth for measuring [[embLshDups]] pair
    * recall — O(n²) BY CONSTRUCTION and used ONLY as the recall
    * baseline in Bench/RecallSpec/Scale10 (the correctness analog of
    * ann_bruteforce), never as a production query. */
  def embCosineAllPairs(e: DataFrame, tau: Double = 0.35): DataFrame = {
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    a.join(b, col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(graft.functions.CosineSimilarity.cosineSim(
          col("e1"), col("e2")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }
}
