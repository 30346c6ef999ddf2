package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) merge training — the actual
  * tokenizer-training step downstream of `vocab_topk`'s corpus
  * counts (Sennrich et al., "Neural Machine Translation of Rare
  * Words with Subword Units", ACL'16).
  *
  * Scale shape: classic BPE trains on the WORD VOCABULARY with
  * frequencies, not on raw tokens — the corpus reduces ONCE to
  * `(word, count)` (one shuffle over the corpus, shared with
  * vocab_topk via [[TextFunctions.tokenCounts]]). After that
  * reduction the vocab is millions of rows at 100 TB, not trillions
  * — it fits on the driver, so the production path is the same as
  * IVF's centroid training ([[graft.operators.Similarity]]
  * ivfCentroids): distributed reduction, bounded deterministic
  * driver-side training. [[trainMergesLocal]] is INCREMENTAL — a
  * pair→words inverted index plus an ordered count set make each
  * merge cost O(affected words × log pairs), independent of total
  * vocab — so 10k-100k merges don't rescan the vocabulary per round.
  *
  * [[trainMergesDistributed]] is the out-of-core fallback for a
  * vocab that genuinely cannot fit (no min-count pruning allowed):
  * the pair counts live in a Dataset that is DELTA-updated — each
  * round shuffles only the pair-count deltas of words CONTAINING the
  * merged pair (a co-partitioned outer join against the standing
  * counts), never a full-vocab pair recount. [[trainMerges]]
  * dispatches between the two on measured vocab size; both paths are
  * equality-spec'd against an independent reference implementation
  * (BpeSpec).
  */
object Bpe {

  /** End-of-word marker appended to each word's last symbol so
    * merges cannot cross word boundaries (standard BPE). */
  private val Eow = "</w>"

  private[graft] def toSymbols(word: String): Seq[String] = {
    val cs = word.map(_.toString)
    if (cs.isEmpty) Seq.empty
    else cs.init :+ (cs.last + Eow)
  }

  /** (word, count) vocabulary of the documents' whitespace tokens —
    * the one corpus-wide pass, THE SAME aggregate vocab_topk heads
    * ([[TextFunctions.tokenCounts]]): one code path, one oracle
    * family. */
  def wordVocab(docs: DataFrame): DataFrame =
    TextFunctions.tokenCounts(docs)
      .select(col("token").as("word"), col("n").as("count"))

  /** Vocab row budget for driver-side training: ~4M (word, count)
    * rows is a few hundred MB — comfortably inside a production
    * driver, and far above real post-reduction vocabularies. */
  private[graft] val DriverVocabLimit = 4000000

  /** Train `numMerges` merges over the given word vocabulary.
    * Returns the ordered merge list — the tokenizer artifact. Ties
    * on pair frequency break lexicographically, so training is
    * deterministic across partitionings and engines.
    *
    * Production path: collect the (already-reduced) vocab and train
    * incrementally on the driver. Falls back to the distributed
    * delta-update loop only when the vocab exceeds
    * [[DriverVocabLimit]]. */
  def trainMerges(vocab: DataFrame, numMerges: Int): Seq[(String, String)] = {
    val slim = vocab.select(col("word"), col("count"))
    // limit+1 count probe answers the dispatch question without
    // shipping any rows; only the under-limit path pays a collect
    if (slim.limit(DriverVocabLimit + 1).count() > DriverVocabLimit)
      trainMergesDistributed(vocab, numMerges)
    else
      trainMergesLocal(
        slim.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq, numMerges)
  }

  /** Incremental driver-side BPE trainer. State:
    *   - per-word symbol sequences + an (a, b) → word-ids inverted
    *     index over the pairs each word currently contains,
    *   - pair counts, mirrored into a TreeSet ordered by
    *     (count desc, pair asc) so argmax is O(log P).
    * A merge touches ONLY the words the index lists for the winning
    * pair: each such word retracts its old adjacent-pair counts, is
    * merged, and adds its new ones — O(affected words × word length ×
    * log P) per round, independent of total vocab size (the full-scan
    * trainer this replaces paid O(vocab) per round). Result-identical
    * to the naive reference trainer (BpeSpec). */
  def trainMergesLocal(vocab: Seq[(String, Long)],
                       numMerges: Int,
                       verbose: Boolean = false): Seq[(String, String)] = {
    type Pair = (String, String)
    val t0 = System.nanoTime()
    val words = vocab.map(v => toSymbols(v._1).toArray).toArray
    val counts = vocab.map(_._2).toArray
    val pairCounts = scala.collection.mutable.HashMap.empty[Pair, Long]
    val pairWords = scala.collection.mutable.HashMap
      .empty[Pair, scala.collection.mutable.Set[Int]]
    // argmax order: frequency desc, then lexicographic pair
    val ord = Ordering.by[(Long, String, String), (Long, String, String)](
      t => (-t._1, t._2, t._3))
    val byCount = scala.collection.mutable.TreeSet.empty[(Long, String, String)](ord)

    def adjCounts(syms: Array[String]): scala.collection.mutable.HashMap[Pair, Int] = {
      val m = scala.collection.mutable.HashMap.empty[Pair, Int]
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        m.update(p, m.getOrElse(p, 0) + 1)
        i += 1
      }
      m
    }
    def bump(p: Pair, delta: Long): Unit = {
      val old = pairCounts.getOrElse(p, 0L)
      if (old > 0) byCount.remove((old, p._1, p._2))
      val nu = old + delta
      if (nu > 0) { pairCounts(p) = nu; byCount.add((nu, p._1, p._2)) }
      else pairCounts.remove(p)
    }

    words.indices.foreach { wi =>
      adjCounts(words(wi)).foreach { case (p, n) =>
        bump(p, n.toLong * counts(wi))
        pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
      }
    }

    if (verbose) println(
      f"BPE local init: ${words.length} words, ${pairCounts.size} distinct " +
        f"pairs, ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val tLoop = System.nanoTime()
    var affectedTotal = 0L
    val merges = scala.collection.mutable.ArrayBuffer.empty[Pair]
    var round = 0
    while (round < numMerges && byCount.nonEmpty) {
      val (_, a, b) = byCount.head
      val best = (a, b)
      merges += best
      val affected = pairWords.get(best).map(_.size).getOrElse(0)
      affectedTotal += affected
      // only words CONTAINING the winning pair recount
      pairWords.get(best).map(_.toArray).getOrElse(Array.empty).foreach { wi =>
        val c = counts(wi)
        val before = adjCounts(words(wi))
        words(wi) = applyMerge(words(wi).toSeq, best).toArray
        val after = adjCounts(words(wi))
        before.foreach { case (p, n) =>
          val kept = after.getOrElse(p, 0)
          if (kept != n) bump(p, (kept - n).toLong * c)
          if (kept == 0) pairWords.get(p).foreach { s =>
            s -= wi; if (s.isEmpty) pairWords.remove(p)
          }
        }
        after.foreach { case (p, n) =>
          if (!before.contains(p)) {
            bump(p, n.toLong * c)
            pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
          }
        }
      }
      round += 1
    }
    if (verbose) println(
      f"BPE local loop: $round merges touched $affectedTotal word-updates " +
        f"(full recount would pay ${round.toLong * words.length}) in " +
        f"${(System.nanoTime() - tLoop) / 1e9}%.2fs")
    merges.toSeq
  }

  private def adjPairs(syms: Seq[String]): Iterator[(String, String)] =
    syms.iterator.zip(syms.iterator.drop(1))

  private def containsAdj(syms: Seq[String], p: (String, String)): Boolean =
    adjPairs(syms).contains(p)

  /** Out-of-core fallback: the distributed merge loop with
    * DELTA-updated pair counts. Standing state per round:
    *   - `words` — the vocab's symbol sequences (map-only updates),
    *   - `pairCounts` — (a, b, cnt), hash-partitioned by (a, b) from
    *     its aggregation and kept so through `localCheckpoint`.
    * Each round: one-row argmax to the driver; the DELTA frame
    * (old-pairs retracted, merged-pairs added, ONLY from words
    * containing the winning pair) is aggregated — a shuffle bounded
    * by affected words' pairs, not the vocab — and outer-joined into
    * the standing counts, which are already partitioned on the join
    * key and so do not re-shuffle. The full-vocab work left per round
    * is a map-side filter/merge scan with NO shuffle; the old
    * implementation re-flatMapped and re-shuffled every word's pairs
    * every round. */
  def trainMergesDistributed(vocab: DataFrame, numMerges: Int,
                             verbose: Boolean = false): Seq[(String, String)] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    var words: Dataset[(Seq[String], Long)] = vocab
      .select(col("word"), col("count"))
      .as[(String, Long)]
      .map { case (w, c) => (toSymbols(w), c) }
      .localCheckpoint()
    var pairCounts: DataFrame = words
      .flatMap { case (syms, c) => adjPairs(syms).map(p => (p._1, p._2, c)) }
      .toDF("a", "b", "cnt")
      .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val best = pairCounts
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // argmax — one row to the driver
      if (best.isEmpty) done = true
      else {
        val pair = (best.head.getString(0), best.head.getString(1))
        merges += pair
        val bc = spark.sparkContext.broadcast(pair)
        val t0 = System.nanoTime()
        val nAffected =
          if (verbose) words.filter(w => containsAdj(w._1, bc.value)).count()
          else -1L
        // pair-count deltas from AFFECTED words only
        val delta = words
          .filter(w => containsAdj(w._1, bc.value))
          .flatMap { case (syms, c) =>
            adjPairs(syms).map(p => (p._1, p._2, -c)) ++
              adjPairs(applyMerge(syms, bc.value)).map(p => (p._1, p._2, c))
          }
          .toDF("a", "b", "d")
          .groupBy(col("a"), col("b")).agg(sum(col("d")).as("d"))
        pairCounts = pairCounts
          .join(delta.hint("shuffle_hash"), Seq("a", "b"), "full_outer")
          .select(col("a"), col("b"),
            (coalesce(col("cnt"), lit(0L)) + coalesce(col("d"), lit(0L))).as("cnt"))
          .filter(col("cnt") > 0)
          .localCheckpoint()
        words = words.map { case (syms, c) =>
          (if (containsAdj(syms, bc.value)) applyMerge(syms, bc.value) else syms, c)
        }.localCheckpoint()
        if (verbose)
          println(f"BPE round $round merge=$pair affected=$nAffected " +
            f"time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      round += 1
    }
    merges.toSeq
  }

  /** One left-to-right merge pass: every non-overlapping occurrence
    * of the pair collapses into its concatenation. */
  private[graft] def applyMerge(syms: Seq[String],
                                pair: (String, String)): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Persist a trained merge list — the on-disk tokenizer artifact
    * (ORDER IS THE ARTIFACT: merges apply in training order, so the
    * parquet carries the index). */
  def writeMerges(s: SparkSession, merges: Seq[(String, String)],
                  dir: String): Unit = {
    import s.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("mi", "a", "b").coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  /** Load a persisted merge list in training order. */
  def readMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    s.read.parquet(dir).select(col("mi"), col("a"), col("b"))
      .collect().sortBy(_.getInt(0)).map(r => r.getString(1) -> r.getString(2))
      .toSeq

  /** Convenience: train directly from the documents table. */
  def trainMerges(s: SparkSession, d: String, numMerges: Int): Seq[(String, String)] =
    trainMerges(wordVocab(graft.Tables.documents(s, d)), numMerges)

  /** Segment a word with a trained merge list (applied in training
    * order — standard BPE inference, used by the spec to check the
    * merges actually tokenize). */
  def encode(word: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(toSymbols(word))((syms, m) => applyMerge(syms, m))

  // ---- bpe_segment: oracle-gated merge APPLICATION ----------------------

  /** bpe_segment defaults: merges trained per dataset, top-k ASCII
    * words segmented. Both are parameters; the defaults size the
    * oracle's recursive replay (k rows × ~(merges + word length)
    * recursion steps) well inside DuckDB comfort. */
  private[graft] val SegMerges = 60
  private[graft] val SegTopK = 200

  /** Train-once-per-dataset merges shared by [[bpeSegment]] and its
    * oracle renderer, so the query and the SQL replay tokenize with
    * bit-identical merge lists (the ann_ivf centroid pattern);
    * memoized per file version of `documents` ([[graft.Tables.memo]]),
    * so a rewritten dataset retrains. */
  private[graft] def trainedMerges(s: SparkSession, d: String,
                                   numMerges: Int): Seq[(String, String)] =
    graft.Tables.memo(s, d, "documents", ("bpe", numMerges)) {
      trainMerges(s, d, numMerges)
    }

  /** Only words the oracle can replay char-for-char are segmented:
    * ASCII alphanumerics sidestep Java-UTF-16 vs DuckDB-codepoint
    * indexing drift. Training still sees the FULL vocabulary (merges
    * travel to the oracle as literals, so they need no SQL replay). */
  private[graft] val SegWordRe = "^[a-z0-9]+$"

  /** bpe_segment: tokenize the top-k corpus words with the trained
    * merge list — BPE merge APPLICATION as an oracle-gated query
    * (training itself is equality-spec'd in BpeSpec; a merges-literal
    * oracle for training would be self-fulfilling, but application
    * COMPUTES from data + merges on both engines).
    *
    * Scale shape: the merge list is a tokenizer artifact (tiny,
    * broadcast in the closure); segmentation is a stateless per-word
    * typed map — at 100 TB the same map runs over the full vocabulary
    * (or raw corpus) with no shuffle beyond the vocab reduction. */
  def bpeSegment(s: SparkSession, d: String,
                 numMerges: Int = SegMerges, k: Int = SegTopK): DataFrame = {
    import s.implicits._
    val merges = trainedMerges(s, d, numMerges)
    wordVocab(graft.Tables.documents(s, d))
      .filter(col("word").rlike(SegWordRe))
      .orderBy(col("count").desc, col("word"))
      .limit(k)
      .select(col("word")).as[String]
      .map { w =>
        val toks = encode(w, merges)
        (w, toks.mkString(" "), toks.length)
      }
      .toDF("word", "tokens", "n_tokens")
      .orderBy(col("word"))
  }

  /** DuckDB replay of [[bpeSegment]]: the trained merges become a
    * (mi, pattern, replacement) VALUES table over space-delimited
    * symbol strings, and a recursive CTE applies ITERATED LEFTMOST
    * REPLACE-FIRST — replace the leftmost occurrence of ' a b ' with
    * ' ab ' until none remain, then advance to the next merge. That
    * iteration equals [[applyMerge]]'s single left-to-right pass
    * (property-spec'd in BpeSpec: a naive replace-ALL chain diverges
    * on runs like [a,a,a,a], where consumed delimiters hide the next
    * overlapping occurrence; leftmost-one-at-a-time re-scans and
    * collapses them exactly as the greedy pass does). */
  /** The shared oracle recursion: `merges` VALUES + per-word symbol
    * init + the iterated leftmost replace-first CTE, parameterized on
    * an upstream `words(word)` CTE. Callers append their final
    * SELECT over `seg WHERE mi = <n>`. */
  private def segCtes(merges: Seq[(String, String)]): String = {
    def lit(x: String) = "'" + x.replace("'", "''") + "'"
    val rows = merges.zipWithIndex.map { case ((a, b), i) =>
      s"($i, ${lit(s" $a $b ")}, ${lit(s" $a$b ")})"
    }.mkString(",\n        ")
    raw"""merges(mi, pat, rep) AS (VALUES
        $rows),
      init AS (
        SELECT word,
          ' ' || array_to_string(list_transform(range(1, length(word) + 1),
            i -> substr(word, i, 1) ||
                 CASE WHEN i = length(word) THEN '</w>' ELSE '' END), ' ')
              || ' ' AS s
        FROM words),
      seg(word, mi, s) AS (
        SELECT word, 0, s FROM init
        UNION ALL
        SELECT word,
          CASE WHEN strpos(s, pat) > 0 THEN mi ELSE mi + 1 END,
          CASE WHEN strpos(s, pat) > 0
            THEN substr(s, 1, strpos(s, pat) - 1) || rep
                 || substr(s, strpos(s, pat) + length(pat))
            ELSE s END
        FROM seg JOIN merges USING (mi))"""
  }

  def bpeSegmentOracleSql(s: SparkSession, d: String,
                          numMerges: Int = SegMerges, k: Int = SegTopK): String = {
    val merges = trainedMerges(s, d, numMerges)
    raw"""
      WITH RECURSIVE tok AS (
        SELECT tok AS word, COUNT(*) AS n FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                        x -> length(x) > 0)) AS tok
          FROM documents)
        GROUP BY tok),
      words AS (
        SELECT word FROM tok WHERE regexp_matches(word, '$SegWordRe')
        ORDER BY n DESC, word LIMIT $k),
      ${segCtes(merges)}
      SELECT word, trim(s) AS tokens,
        CAST(len(string_split(trim(s), ' ')) AS INT) AS n_tokens
      FROM seg WHERE mi = ${merges.length}
      ORDER BY word"""
  }

  /** bpe_token_count: per-document token accounting under the REAL
    * tokenizer — the budget numbers packing/pricing actually needs
    * (whitespace word counts under- or over-state BPE sequence
    * length). Encoding runs once per DISTINCT word (vocab-sized typed
    * map) and broadcasts back onto the corpus word stream — at 100 TB
    * the same shape: tokenizing cost tracks the vocabulary, the
    * corpus pays one explode + broadcast join + partial agg. Counts
    * cover the replayable alphanumeric tokens (SegWordRe) on both
    * engines. */
  def bpeTokenCount(s: SparkSession, d: String,
                    numMerges: Int = SegMerges): DataFrame = {
    val merges = trainedMerges(s, d, numMerges)
    docTokenCounts(graft.Tables.documents(s, d), merges)
      .select(col("doc_id"), col("n_tokens").as("bpe_tokens"), col("words"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, n_tokens, words) under a PRECOMPUTED merge artifact —
    * the reusable core of [[bpeTokenCount]], and the budget producer
    * [[graft.Pipeline]] plugs into packing when a tokenizer artifact
    * is supplied (whitespace word counts under- or over-state BPE
    * sequence length; a training loader packs by what the tokenizer
    * will actually emit). Same scale shape: encode once per DISTINCT
    * word, broadcast back. */
  def docTokenCounts(docs: DataFrame,
                     merges: Seq[(String, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val words = docs
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("word"))
      .filter(col("word").rlike(SegWordRe))
    val wordTokens = words.select(col("word")).distinct().as[String]
      .map(w => (w, encode(w, merges).length))
      .toDF("word", "w_tokens")
    words.join(broadcast(wordTokens), "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("w_tokens")).as("n_tokens"),
        count(org.apache.spark.sql.functions.lit(1)).as("words"))
  }

  def bpeTokenCountOracleSql(s: SparkSession, d: String,
                             numMerges: Int = SegMerges): String = {
    val merges = trainedMerges(s, d, numMerges)
    raw"""
      WITH RECURSIVE tokstream AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> length(x) > 0)) AS word
        FROM documents),
      words AS (
        SELECT DISTINCT word FROM tokstream
        WHERE regexp_matches(word, '$SegWordRe')),
      ${segCtes(merges)},
      wtok AS (
        SELECT word,
          CAST(len(string_split(trim(s), ' ')) AS INT) AS w_tokens
        FROM seg WHERE mi = ${merges.length})
      SELECT t.doc_id, CAST(SUM(w.w_tokens) AS BIGINT) AS bpe_tokens,
        COUNT(*) AS words
      FROM tokstream t JOIN wtok w USING (word)
      GROUP BY t.doc_id ORDER BY t.doc_id"""
  }

  /** Coverage form of the segmentation oracle — the inner query of
    * tokenizer_coverage's BPE row: the corpus vocabulary plus injected
    * OOV probe words, each segmented by the trained merges; BPE never
    * fails outright, so "covered" is the CHAR-level rule (every char
    * of the word in the trained alphabet — a word with an unseen char
    * keeps it as an untrained singleton symbol). */
  private[graft] def coverageInnerSql(s: SparkSession, d: String,
                                      extraWords: Seq[String],
                                      alphabet: Seq[Char],
                                      numMerges: Int = SegMerges): String = {
    val merges = trainedMerges(s, d, numMerges)
    val vals = extraWords.map(w => s"('$w')").mkString(", ")
    val alpha = alphabet.mkString
    raw"""
      WITH RECURSIVE tokstream AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> length(x) > 0)) AS word
        FROM documents),
      words AS (
        SELECT DISTINCT word FROM (
          SELECT word FROM tokstream
          WHERE regexp_matches(word, '$SegWordRe')
          UNION ALL SELECT word FROM (VALUES $vals) v(word))),
      ${segCtes(merges)},
      cov AS (
        SELECT word, CAST(len(string_split(trim(s), ' ')) AS INT) AS nt,
          CASE WHEN regexp_replace(word, '[$alpha]', '', 'g') = ''
               THEN 1 ELSE 0 END AS c
        FROM seg WHERE mi = ${merges.length})
      SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(c) AS BIGINT) AS n_covered,
        CAST(SUM(CASE WHEN c = 1 AND nt = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_whole,
        CAST(MAX(CASE WHEN c = 1 THEN nt END) AS INT) AS max_pieces
      FROM cov"""
  }

  /** Corpus-total form of the token-count oracle — the inner query of
    * tokenizer_fertility's BPE row ([[graft.functions.TokenizerStats]]). */
  private[graft] def fertilityInnerSql(s: SparkSession, d: String,
                                       numMerges: Int = SegMerges): String = {
    val merges = trainedMerges(s, d, numMerges)
    raw"""
      WITH RECURSIVE tokstream AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> length(x) > 0)) AS word
        FROM documents),
      words AS (
        SELECT DISTINCT word FROM tokstream
        WHERE regexp_matches(word, '$SegWordRe')),
      ${segCtes(merges)},
      wtok AS (
        SELECT word,
          CAST(len(string_split(trim(s), ' ')) AS INT) AS w_tokens
        FROM seg WHERE mi = ${merges.length})
      SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(length(t.word)) AS BIGINT) AS n_chars,
        CAST(SUM(w.w_tokens) AS BIGINT) AS n_tokens
      FROM tokstream t JOIN wtok w USING (word)"""
  }
}
