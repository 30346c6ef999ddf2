package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training and inference — the SentencePiece
  * subword family next to [[Bpe]] (Kudo, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", ACL'18): pieces carry unigram log-probabilities and a
  * word's tokenization is the Viterbi-best segmentation, rather than
  * a replayed merge history.
  *
  * Scale shape (the [[Bpe]] discipline): training runs on the
  * `(word, count)` vocabulary — one corpus reduction shared with
  * vocab_topk — never the raw token stream. The piece set is bounded
  * (`seedSize`, a driver-safe few-hundred/few-thousand rows) and
  * broadcasts; the hard-EM E-step is embarrassingly parallel per
  * word (a typed map over the distributed vocab + one bounded
  * aggregation), so per-round cost is one vocab scan regardless of
  * corpus size. Inference is a stateless per-word Viterbi DP —
  * O(len × maxPieceLen) per word, run once per DISTINCT word and
  * broadcast back onto the corpus (the [[Bpe.docTokenCounts]]
  * shape).
  *
  * Determinism contract (the oracle rides on it):
  *   - piece scores are NANOLOG integers — floor(ln(p)·1e9 + 0.5) —
  *     so Viterbi sums are exact BIGINT on both engines (the
  *     ngram_lm transcendental recipe: ln is computed ONCE, in
  *     Scala; the oracle receives the integers as literals),
  *   - Viterbi ties (equal score) break on the LEXICOGRAPHICALLY
  *     SMALLEST space-joined token string — replayed in DuckDB as
  *     `ORDER BY score DESC, path ASC` over an enumerated
  *     segmentation set (pure ASCII pieces, so Java and DuckDB
  *     string orders agree),
  *   - EM/seed selection ties break on (count DESC, piece ASC).
  *
  * Training is hard-EM (Viterbi counts), the deterministic member of
  * the EM family — SentencePiece's soft E-step (forward-backward
  * expected counts) converges to similar vocabularies but sums
  * IEEE doubles in data-dependent order; hard-EM keeps every
  * intermediate an exact integer, which is what makes the
  * distributed and single-process trainers bit-identical
  * (UnigramSpec) and the artifact engine-replayable. */
object Unigram {

  /** Defaults sized for the synthetic corpus (31-word soup, max word
    * length 8): maxPieceLen 6 forces 7-8 char words to SPLIT (the
    * segmentation stays non-trivial), the 80-piece budget sits
    * between the char alphabet and the full word list so EM must
    * choose which words earn whole-word pieces. All parameters. */
  private[graft] val MaxPieceLen = 6
  private[graft] val SeedSize = 300
  private[graft] val UniVocabSize = 80
  private[graft] val EmIters = 3

  /** Replayable-word filter — the [[Bpe.SegWordRe]] contract: pieces
    * travel to the oracle as SQL string literals, so training and
    * inference cover the ASCII-alphanumeric vocabulary. */
  private[graft] val WordRe = Bpe.SegWordRe

  // ---- training ----------------------------------------------------------

  private[graft] def substrings(word: String, maxLen: Int): Iterator[String] =
    for {
      i <- word.indices.iterator
      j <- (i + 1) to math.min(word.length, i + maxLen)
    } yield word.substring(i, j)

  /** Deterministic seed: every substring of length ≤ maxPieceLen,
    * weighted by word count × occurrences; ALL single chars kept
    * (coverage guarantee — every word stays segmentable through
    * every prune), multi-char pieces top-(seedSize − chars) by
    * (weight DESC, piece ASC). */
  private def seedSelect(weights: Seq[(String, Long)], seedSize: Int)
      : Seq[(String, Long)] = {
    val (chars, multi) = weights.partition(_._1.length == 1)
    chars ++ multi.sortBy { case (p, w) => (-w, p) }
      .take(math.max(0, seedSize - chars.size))
  }

  /** counts → nanolog scores: p = cnt/total on the 1e-9 ln grid.
    * Computed ONCE here, in Scala — the integers are the artifact. */
  private def toNanolog(counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.map(_._2).sum.toDouble
    counts.map { case (p, c) =>
      p -> math.floor(math.log(c / total) * 1e9 + 0.5).toLong
    }.toMap
  }

  /** Viterbi-best segmentation under nanolog scores: maximize the
    * score sum; break ties on the lexicographically smallest
    * space-joined token string. Backward DP — best(i) is the best
    * (score, path) for the suffix starting at i; the lex-min
    * tie-break composes (a global-optimum path's suffix is itself
    * optimal-and-lex-min for its position, by exchange), so the DP
    * is exact. O(len × maxPieceLen) score work per word. */
  def segment(word: String, nl: Map[String, Long],
              maxPieceLen: Int = MaxPieceLen): Option[Seq[String]] = {
    val L = word.length
    val score = Array.fill(L + 1)(Long.MinValue)
    val path = new Array[List[String]](L + 1)
    score(L) = 0L; path(L) = Nil
    var i = L - 1
    while (i >= 0) {
      var bestS = Long.MinValue
      var bestP: List[String] = null
      var j = i + 1
      val jMax = math.min(L, i + maxPieceLen)
      while (j <= jMax) {
        if (score(j) != Long.MinValue) {
          nl.get(word.substring(i, j)) match {
            case Some(lp) =>
              val s = lp + score(j)
              val p = word.substring(i, j) :: path(j)
              if (s > bestS || (s == bestS &&
                  p.mkString(" ") < bestP.mkString(" "))) {
                bestS = s; bestP = p
              }
            case None =>
          }
        }
        j += 1
      }
      if (bestP != null) { score(i) = bestS; path(i) = bestP }
      i -= 1
    }
    if (score(0) == Long.MinValue) None else Some(path(0))
  }

  /** Exhaustive-enumeration reference for [[segment]] — exponential,
    * spec-only (UnigramSpec proves DP ≡ enumeration). */
  private[graft] def segmentEnum(word: String, nl: Map[String, Long],
                                 maxPieceLen: Int = MaxPieceLen)
      : Option[Seq[String]] = {
    def all(i: Int): Seq[(Long, List[String])] =
      if (i == word.length) Seq((0L, Nil))
      else for {
        j <- (i + 1) to math.min(word.length, i + maxPieceLen)
        p = word.substring(i, j)
        lp <- nl.get(p).toSeq
        (s, rest) <- all(j)
      } yield (lp + s, p :: rest)
    val cands = all(0)
    if (cands.isEmpty) None
    else Some(cands.minBy { case (s, p) => (-s, p.mkString(" ")) }._2)
  }

  /** The shared EM loop over an abstract E-step: `usage` returns the
    * Viterbi piece-usage counts (piece → Σ word-count over uses)
    * under the given scores. Rounds: score → E-step → counts := usage
    * with single chars floored at 1 (required pieces never die);
    * multi-char pieces with zero usage drop. Final prune keeps the
    * top (vocabSize − chars) multi-char pieces by (count DESC, piece
    * ASC) plus every char, and the artifact's scores renormalize over
    * the kept set. */
  private def emLoop(seed: Seq[(String, Long)], emIters: Int, vocabSize: Int,
                     usage: Map[String, Long] => Seq[(String, Long)])
      : Seq[(String, Long)] = {
    var counts = seed
    for (_ <- 0 until emIters) {
      val used = usage(toNanolog(counts)).toMap
      counts = counts.flatMap { case (p, _) =>
        val u = used.getOrElse(p, 0L)
        if (u > 0) Some(p -> u)
        else if (p.length == 1) Some(p -> 1L)
        else None
      }
    }
    val (chars, multi) = counts.partition(_._1.length == 1)
    val kept = chars ++ multi.sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, vocabSize - chars.size))
    val nl = toNanolog(kept)
    kept.map { case (p, _) => p -> nl(p) }.sortBy(_._1)
  }

  /** Train the unigram piece table over a `(word, count)` vocabulary
    * frame. Returns (piece, nanolog) sorted by piece — the tokenizer
    * artifact. The vocab stays DISTRIBUTED: seeding is one
    * flatMap + aggregate, each E-step one typed map + aggregate,
    * both bounded by the piece-set size on the driver. */
  def trainUnigram(vocab: DataFrame, vocabSize: Int = UniVocabSize,
                   seedSize: Int = SeedSize, maxPieceLen: Int = MaxPieceLen,
                   emIters: Int = EmIters): Seq[(String, Long)] = {
    val s = vocab.sparkSession
    import s.implicits._
    val words = vocab.select(col("word"), col("count"))
      .filter(col("word").rlike(WordRe))
      .as[(String, Long)].localCheckpoint()
    val seedWeights = words
      .flatMap { case (w, c) => substrings(w, maxPieceLen).map(_ -> c) }
      .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .collect().toSeq.map { case (p, w) => (p, w) }
    val seed = seedSelect(seedWeights, seedSize)
    emLoop(seed, emIters, vocabSize, { nl =>
      val bc = s.sparkContext.broadcast(nl)
      words.flatMap { case (w, c) =>
        segment(w, bc.value, maxPieceLen).getOrElse(Nil).map(_ -> c) }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .collect().toSeq.map { case (p, u) => (p, u) }
    })
  }

  /** Single-process reference trainer — the independent
    * implementation the distributed form is equality-spec'd against
    * (UnigramSpec): same seed, same EM, same prune, no Spark. */
  private[graft] def trainUnigramLocal(vocab: Seq[(String, Long)],
                                       vocabSize: Int = UniVocabSize,
                                       seedSize: Int = SeedSize,
                                       maxPieceLen: Int = MaxPieceLen,
                                       emIters: Int = EmIters)
      : Seq[(String, Long)] = {
    val words = vocab.filter(_._1.matches(WordRe))
    val seedWeights = words
      .flatMap { case (w, c) => substrings(w, maxPieceLen).map(_ -> c) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }.toSeq
    val seed = seedSelect(seedWeights, seedSize)
    emLoop(seed, emIters, vocabSize, { nl =>
      words.flatMap { case (w, c) =>
        segment(w, nl, maxPieceLen).getOrElse(Nil).map(_ -> c) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }.toSeq
    })
  }

  // ---- artifact persistence ----------------------------------------------

  /** Persist the trained piece table — the on-disk tokenizer artifact
    * the daily pipeline loads back (the lm_model/lm_ctx pattern):
    * train once, every later run reads the SAME integers. */
  def writePieces(s: SparkSession, pieces: Seq[(String, Long)],
                  dir: String): Unit = {
    import s.implicits._
    pieces.toDF("piece", "nanolog").coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  /** Load a persisted piece table; bit-identical round trip spec'd
    * (exact Long scores — nothing to drift). */
  def readPieces(s: SparkSession, dir: String): Seq[(String, Long)] =
    s.read.parquet(dir).select(col("piece"), col("nanolog"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1).toSeq

  // ---- per-dataset trained artifact (the trainedMerges pattern) ----------

  /** Train-once-per-dataset pieces shared by the queries and their
    * oracle renderers (the ann_ivf centroid / bpe merges pattern),
    * memoized per file version of `documents` so a rewritten dataset
    * retrains. */
  private[graft] def trainedPieces(s: SparkSession, d: String,
                                   vocabSize: Int = UniVocabSize)
      : Seq[(String, Long)] =
    graft.Tables.memo(s, d, "documents", ("unigram", vocabSize)) {
      trainUnigram(Bpe.wordVocab(graft.Tables.documents(s, d)), vocabSize)
    }

  // ---- unigram_segment ---------------------------------------------------

  private[graft] val SegTopK = Bpe.SegTopK

  /** unigram_segment: Viterbi-tokenize the top-k corpus words with
    * the trained piece table — unigram-LM inference as an
    * oracle-gated query (training is equality-spec'd; the oracle
    * COMPUTES the argmax segmentation from data + the piece/score
    * literals by enumerating segmentations and ranking
    * (score DESC, path ASC) — exact BIGINT scores make the ranking
    * engine-identical). */
  def unigramSegment(s: SparkSession, d: String,
                     vocabSize: Int = UniVocabSize,
                     k: Int = SegTopK): DataFrame = {
    import s.implicits._
    val nl = trainedPieces(s, d, vocabSize).toMap
    val bc = s.sparkContext.broadcast(nl)
    Bpe.wordVocab(graft.Tables.documents(s, d))
      .filter(col("word").rlike(WordRe))
      .orderBy(col("count").desc, col("word"))
      .limit(k)
      .select(col("word")).as[String]
      .map { w =>
        val toks = segment(w, bc.value).getOrElse(Nil)
        (w, toks.mkString(" "), toks.length)
      }
      .toDF("word", "tokens", "n_tokens")
      .orderBy(col("word"))
  }

  /** Shared oracle CTEs: the trained (piece, nanolog) VALUES table
    * and the recursive segmentation enumerator over an upstream
    * `words(word)` CTE — every full path scored in exact BIGINT,
    * then `best` ranks (score DESC, path ASC) per word. Enumeration
    * is bounded by the piece matches per position (words ≤ 8 chars
    * here); the QUERY side stays a linear DP. */
  private def segCtes(pieces: Seq[(String, Long)]): String = {
    val rows = pieces.map { case (p, nlv) => s"('$p', $nlv)" }
      .mkString(",\n        ")
    s"""pieces(p, nl) AS (VALUES
        $rows),
      paths(word, pos, score, path) AS (
        SELECT word, 0, CAST(0 AS BIGINT), '' FROM words
        UNION ALL
        SELECT s.word, s.pos + length(p.p), s.score + p.nl,
          CASE WHEN s.path = '' THEN p.p ELSE s.path || ' ' || p.p END
        FROM paths s JOIN pieces p
          ON substr(s.word, s.pos + 1, length(p.p)) = p.p
        WHERE s.pos < length(s.word)),
      best AS (
        SELECT word, path, row_number() OVER (PARTITION BY word
                 ORDER BY score DESC, path) AS rn
        FROM paths WHERE pos = length(word))"""
  }

  def unigramSegmentOracleSql(s: SparkSession, d: String,
                              vocabSize: Int = UniVocabSize,
                              k: Int = SegTopK): String = {
    val pieces = trainedPieces(s, d, vocabSize)
    raw"""
      WITH RECURSIVE tok AS (
        SELECT tok AS word, COUNT(*) AS n FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                        x -> length(x) > 0)) AS tok
          FROM documents)
        GROUP BY tok),
      words AS (
        SELECT word FROM tok WHERE regexp_matches(word, '$WordRe')
        ORDER BY n DESC, word LIMIT $k),
      ${segCtes(pieces)}
      SELECT word, path AS tokens,
        CAST(len(string_split(path, ' ')) AS INT) AS n_tokens
      FROM best WHERE rn = 1
      ORDER BY word"""
  }

  // ---- unigram_token_count -----------------------------------------------

  /** (doc_id, n_tokens, words) under a PRECOMPUTED piece artifact —
    * the unigram twin of [[Bpe.docTokenCounts]], and the budget
    * producer [[graft.Pipeline]] packing accepts: Viterbi runs once
    * per DISTINCT word (vocab-sized typed map), broadcasts back onto
    * the corpus word stream, one partial agg. */
  def docTokenCounts(docs: DataFrame,
                     pieces: Seq[(String, Long)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val nl = pieces.toMap
    val bc = s.sparkContext.broadcast(nl)
    val words = docs
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("word"))
      .filter(col("word").rlike(WordRe))
    val wordTokens = words.select(col("word")).distinct().as[String]
      .map(w => (w, segment(w, bc.value).map(_.length).getOrElse(0)))
      .toDF("word", "w_tokens")
    words.join(broadcast(wordTokens), "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("w_tokens")).as("n_tokens"), count(lit(1)).as("words"))
  }

  /** unigram_token_count: per-document token accounting under the
    * unigram tokenizer — the [[Bpe.bpeTokenCount]] twin. */
  def unigramTokenCount(s: SparkSession, d: String,
                        vocabSize: Int = UniVocabSize): DataFrame = {
    val pieces = trainedPieces(s, d, vocabSize)
    docTokenCounts(graft.Tables.documents(s, d), pieces)
      .select(col("doc_id"), col("n_tokens").as("uni_tokens"), col("words"))
      .orderBy(col("doc_id"))
  }

  def unigramTokenCountOracleSql(s: SparkSession, d: String,
                                 vocabSize: Int = UniVocabSize): String = {
    val pieces = trainedPieces(s, d, vocabSize)
    raw"""
      WITH RECURSIVE tokstream AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> length(x) > 0)) AS word
        FROM documents),
      words AS (
        SELECT DISTINCT word FROM tokstream
        WHERE regexp_matches(word, '$WordRe')),
      ${segCtes(pieces)},
      wtok AS (
        SELECT word,
          CAST(len(string_split(path, ' ')) AS INT) AS w_tokens
        FROM best WHERE rn = 1)
      SELECT t.doc_id, CAST(SUM(w.w_tokens) AS BIGINT) AS uni_tokens,
        COUNT(*) AS words
      FROM tokstream t JOIN wtok w USING (word)
      GROUP BY t.doc_id ORDER BY t.doc_id"""
  }

  /** Coverage form — the inner query of tokenizer_coverage's unigram
    * row: corpus vocabulary plus injected OOV probes; a word is
    * covered iff the Viterbi lattice has ANY path (the enumeration
    * `best` CTE has no row otherwise — a word with an untrained char
    * has no piece covering it). */
  private[graft] def coverageInnerSql(s: SparkSession, d: String,
                                      extraWords: Seq[String],
                                      vocabSize: Int = UniVocabSize): String = {
    val pieces = trainedPieces(s, d, vocabSize)
    val vals = extraWords.map(w => s"('$w')").mkString(", ")
    raw"""
      WITH RECURSIVE tokstream AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> length(x) > 0)) AS word
        FROM documents),
      words AS (
        SELECT DISTINCT word FROM (
          SELECT word FROM tokstream
          WHERE regexp_matches(word, '$WordRe')
          UNION ALL SELECT word FROM (VALUES $vals) v(word))),
      ${segCtes(pieces)},
      seg1 AS (
        SELECT word, CAST(len(string_split(path, ' ')) AS INT) AS nt
        FROM best WHERE rn = 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN s.nt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_covered,
        CAST(SUM(CASE WHEN s.nt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole,
        CAST(MAX(s.nt) AS INT) AS max_pieces
      FROM words w LEFT JOIN seg1 s USING (word)"""
  }

  /** Corpus-total form of the token-count oracle — the inner query of
    * tokenizer_fertility's unigram row. */
  private[graft] def fertilityInnerSql(s: SparkSession, d: String,
                                       vocabSize: Int = UniVocabSize): String = {
    val pieces = trainedPieces(s, d, vocabSize)
    raw"""
      WITH RECURSIVE tokstream AS (
        SELECT doc_id,
          unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> length(x) > 0)) AS word
        FROM documents),
      words AS (
        SELECT DISTINCT word FROM tokstream
        WHERE regexp_matches(word, '$WordRe')),
      ${segCtes(pieces)},
      wtok AS (
        SELECT word,
          CAST(len(string_split(path, ' ')) AS INT) AS w_tokens
        FROM best WHERE rn = 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(length(t.word)) AS BIGINT) AS n_chars,
        CAST(SUM(w.w_tokens) AS BIGINT) AS n_tokens
      FROM tokstream t JOIN wtok w USING (word)"""
  }
}
