package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer — the third standard subword family next to
  * [[Bpe]] (merge replay) and [[Unigram]] (Viterbi): BERT's tokenizer
  * (Schuster & Nakajima, "Japanese and Korean voice search",
  * ICASSP'12; Devlin et al., BERT, NAACL'19 §WordPiece). Training is
  * greedy pair merging like BPE but the winning pair maximizes the
  * unigram-LM LIKELIHOOD GAIN cnt(ab) / (cnt(a)·cnt(b)) rather than
  * raw frequency; inference is greedy longest-match-first (MaxMatch)
  * against the piece set, with `##`-prefixed continuation pieces.
  *
  * Scale shape (the [[Bpe]] discipline): training runs on the reduced
  * `(word, count)` vocabulary — one corpus shuffle shared with
  * vocab_topk — and is driver-side and incremental: a merge touches
  * only the words that contain the winning pair (pair→word inverted
  * index), so a round costs O(affected words × word length) plus one
  * scan of the DISTINCT-PAIR table for the score argmax (the score's
  * denominators are global symbol counts, which every merge perturbs,
  * so a BPE-style standing order by count cannot be maintained — the
  * pair table is vocabulary-bounded, not corpus-bounded, so the scan
  * is cheap at any corpus size). Vocabularies beyond
  * [[Bpe.DriverVocabLimit]] train on the top-limit words by
  * (count DESC, word) — a bounded deterministic truncation, the
  * standard tokenizer-training practice (SentencePiece's own trainer
  * caps its training sentences the same way).
  *
  * Inference is a stateless per-word greedy scan, run once per
  * DISTINCT word and broadcast back onto the corpus
  * (the [[Bpe.docTokenCounts]] shape).
  *
  * Determinism contract: all training state is exact integers; score
  * comparisons cross-multiply in BigInt (cnt₁·a₂·b₂ vs cnt₂·a₁·b₁ —
  * no division ever happens), ties break on the lexicographic pair.
  * The piece set travels to the oracle as SQL literals and MaxMatch
  * replays as a recursive CTE whose step keeps the longest matching
  * piece via NOT EXISTS — greedy means ONE successor per state, so
  * the recursion is linear in word length. */
object Wordpiece {

  private[graft] val Cont = "##"

  /** word → WordPiece symbols: first char bare, rest ##-prefixed. */
  private[graft] def toSymbols(word: String): Seq[String] =
    word.toSeq.zipWithIndex.map { case (c, i) =>
      if (i == 0) c.toString else Cont + c
    }

  private def body(sym: String): String = sym.stripPrefix(Cont)

  /** Merged symbol keeps the LEFT symbol's continuation prefix:
    * "a"+"##b" → "ab", "##a"+"##b" → "##ab". */
  private def mergedSym(a: String, b: String): String = a + body(b)

  private def applyMergeWp(syms: Seq[String],
                           pair: (String, String)): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += mergedSym(syms(i), syms(i + 1))
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Defaults sized like the BPE/Unigram queries: enough merges that
    * frequent words become single pieces while the 7-8 char tail
    * still splits; top-k replayable words segmented. */
  private[graft] val WpMerges = 50
  private[graft] val SegTopK = Bpe.SegTopK
  private[graft] val WordRe = Bpe.SegWordRe

  /** Incremental driver-side WordPiece trainer over a (word, count)
    * vocabulary. Returns the SORTED final piece set (alphabet symbols
    * observed in the vocab plus one symbol per merge) — the tokenizer
    * artifact MaxMatch inference needs (merge ORDER does not matter at
    * inference time, unlike BPE).
    *
    * State: per-word symbol seqs, global symbol counts, pair counts,
    * and a pair→words inverted index; each round scans the pair table
    * once for the argmax (exact BigInt cross-multiplied scores, lex
    * tie-break) and recounts ONLY the affected words. */
  def trainWordpieceLocal(vocab: Seq[(String, Long)],
                          numMerges: Int = WpMerges): Seq[String] = {
    type Pair = (String, String)
    val kept = vocab.filter(_._1.nonEmpty)
    val words = kept.map(v => toSymbols(v._1).toArray).toArray
    val counts = kept.map(_._2).toArray
    val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
    val pairCounts = scala.collection.mutable.HashMap.empty[Pair, Long]
    val pairWords = scala.collection.mutable.HashMap
      .empty[Pair, scala.collection.mutable.Set[Int]]

    def addWord(wi: Int, sign: Long): Unit = {
      val syms = words(wi); val c = counts(wi) * sign
      var i = 0
      while (i < syms.length) {
        symCounts.updateWith(syms(i)) { o =>
          val n = o.getOrElse(0L) + c; if (n != 0) Some(n) else None
        }
        if (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          val nu = pairCounts.getOrElse(p, 0L) + c
          if (nu > 0) pairCounts(p) = nu else pairCounts.remove(p)
          // retraction leaves pairWords untouched: a stale (pair, wi)
          // entry only means a later merge round retracts and re-adds
          // an unchanged word (exact cancellation) — benign, and far
          // cheaper than tracking disappearance
          if (sign > 0)
            pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
        }
        i += 1
      }
    }
    words.indices.foreach(addWord(_, 1L))

    val alphabet = symCounts.keySet.toSet
    val merged = scala.collection.mutable.ArrayBuffer.empty[String]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      // argmax over the pair table: maximize cnt(ab)/(cnt a · cnt b),
      // compared exactly by BigInt cross-multiplication
      var best: Pair = null
      var bestC = 0L; var bestA = 0L; var bestB = 0L
      pairCounts.foreach { case (p, c) =>
        val sa = symCounts(p._1); val sb = symCounts(p._2)
        val better =
          if (best == null) true
          else {
            val l = BigInt(c) * BigInt(bestA) * BigInt(bestB)
            val r = BigInt(bestC) * BigInt(sa) * BigInt(sb)
            l > r || (l == r && (p._1 < best._1 ||
              (p._1 == best._1 && p._2 < best._2)))
          }
        if (better) { best = p; bestC = c; bestA = sa; bestB = sb }
      }
      if (best == null) done = true
      else {
        merged += mergedSym(best._1, best._2)
        pairWords.get(best).map(_.toArray).getOrElse(Array.empty).foreach { wi =>
          addWord(wi, -1L)
          words(wi) = applyMergeWp(words(wi).toSeq, best).toArray
          addWord(wi, 1L)
        }
        round += 1
      }
    }
    (alphabet ++ merged).toSeq.sorted
  }

  /** Naive reference trainer — full recount every round, no indexes;
    * spec-only (WordpieceSpec proves incremental ≡ naive). */
  private[graft] def trainWordpieceNaive(vocab: Seq[(String, Long)],
                                         numMerges: Int = WpMerges)
      : Seq[String] = {
    var words = vocab.filter(_._1.nonEmpty)
      .map(v => (toSymbols(v._1), v._2))
    val alphabet = words.flatMap(_._1).toSet
    val merged = scala.collection.mutable.ArrayBuffer.empty[String]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val sym = scala.collection.mutable.HashMap.empty[String, Long]
      val pair = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        syms.foreach(x => sym.update(x, sym.getOrElse(x, 0L) + c))
        syms.zip(syms.drop(1)).foreach(p =>
          pair.update(p, pair.getOrElse(p, 0L) + c))
      }
      val cands = pair.toSeq.map { case (p, c) =>
        (p, BigInt(c), BigInt(sym(p._1)) * BigInt(sym(p._2)))
      }
      if (cands.isEmpty) done = true
      else {
        val best = cands.minBy { case (p, c, d) => (Rational(-c, d), p) }._1
        merged += mergedSym(best._1, best._2)
        words = words.map { case (syms, c) => (applyMergeWp(syms, best), c) }
        round += 1
      }
    }
    (alphabet ++ merged).toSeq.sorted
  }

  /** Exact rational for the naive trainer's sort key (num/den compared
    * by cross-multiplication; den > 0 always here). */
  private[graft] case class Rational(num: BigInt, den: BigInt)
  private[graft] object Rational {
    implicit val ord: Ordering[Rational] = (x: Rational, y: Rational) =>
      (x.num * y.den).compare(y.num * x.den)
  }

  /** Truncation accounting for [[trainWordpiece]] — the repo's
    * no-silent-caps rule applied to the trainer: when the vocabulary
    * exceeds the driver budget, training uses the top-`limit` words
    * by (count DESC, word) — standard tokenizer practice
    * (SentencePiece caps its training sentences the same way), but
    * the CALLER must be able to see it happened. `truncated` says so;
    * `vocabWords`/`trainedWords` quantify it. */
  case class WpTrainReport(pieces: Seq[String], vocabWords: Long,
                           trainedWords: Long) {
    def truncated: Boolean = trainedWords < vocabWords
  }

  /** Train from a (word, count) vocabulary frame — the [[Bpe]]
    * dispatch shape. Vocabularies beyond the driver budget truncate
    * to the top-limit words by (count DESC, word), deterministically;
    * the truncation is NOT silent — use [[trainWordpieceWithReport]]
    * to observe it (this convenience form notes it on stderr). */
  def trainWordpiece(vocab: DataFrame,
                     numMerges: Int = WpMerges): Seq[String] = {
    val r = trainWordpieceWithReport(vocab, numMerges)
    if (r.truncated)
      System.err.println(s"[graft] wordpiece trainer truncated the " +
        s"vocabulary: ${r.trainedWords} of ${r.vocabWords} words " +
        s"(top by count desc, word) — use trainWordpieceWithReport " +
        s"to handle this explicitly")
    r.pieces
  }

  /** [[trainWordpiece]] with the truncation made observable. `limit`
    * is a parameter so the behavior is testable below the real
    * [[Bpe.DriverVocabLimit]] budget. */
  def trainWordpieceWithReport(vocab: DataFrame,
                               numMerges: Int = WpMerges,
                               limit: Int = Bpe.DriverVocabLimit)
      : WpTrainReport = {
    val slim = vocab.select(col("word"), col("count"))
      .filter(col("word").rlike(WordRe))
    val over = slim.limit(limit + 1).count() > limit
    val src =
      if (over) slim.orderBy(col("count").desc, col("word")).limit(limit)
      else slim
    val rows = src.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val total = if (over) slim.count() else rows.length.toLong
    WpTrainReport(trainWordpieceLocal(rows, numMerges), total,
      rows.length.toLong)
  }

  /** Greedy longest-match-first (MaxMatch) encoding. None = [UNK]
    * (some position has no matching piece — impossible for words the
    * training vocabulary covered, since the alphabet survives in the
    * piece set; spec'd total over corpus words). */
  def encode(word: String, pieces: Set[String]): Option[Seq[String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < word.length) {
      var j = word.length
      var hit: String = null
      while (j > pos && hit == null) {
        val cand = (if (pos == 0) "" else Cont) + word.substring(pos, j)
        if (pieces.contains(cand)) hit = cand else j -= 1
      }
      if (hit == null) return None
      out += hit
      pos = j
    }
    Some(out.toSeq)
  }

  // ---- artifact persistence ----------------------------------------------

  /** Persist the trained piece set — order-free (MaxMatch needs only
    * the SET), stored sorted for a bit-identical round trip. */
  def writePieces(s: SparkSession, pieces: Seq[String], dir: String): Unit = {
    import s.implicits._
    pieces.toDF("piece").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def readPieces(s: SparkSession, dir: String): Seq[String] =
    s.read.parquet(dir).select(col("piece"))
      .collect().map(_.getString(0)).sorted.toSeq

  // ---- per-dataset trained artifact (the trainedMerges pattern) ----------

  private[graft] def trainedPieces(s: SparkSession, d: String,
                                   numMerges: Int = WpMerges): Seq[String] =
    graft.Tables.memo(s, d, "documents", ("wordpiece", numMerges)) {
      trainWordpiece(Bpe.wordVocab(graft.Tables.documents(s, d)), numMerges)
    }

  // ---- wordpiece_segment --------------------------------------------------

  /** wordpiece_segment: MaxMatch-tokenize the top-k corpus words with
    * the trained piece set — WordPiece inference as an oracle-gated
    * query (training is equality-spec'd; the oracle COMPUTES the
    * greedy segmentation from data + the piece literals). */
  def wordpieceSegment(s: SparkSession, d: String,
                       numMerges: Int = WpMerges,
                       k: Int = SegTopK): DataFrame = {
    import s.implicits._
    val pieces = trainedPieces(s, d, numMerges).toSet
    val bc = s.sparkContext.broadcast(pieces)
    Bpe.wordVocab(graft.Tables.documents(s, d))
      .filter(col("word").rlike(WordRe))
      .orderBy(col("count").desc, col("word"))
      .limit(k)
      .select(col("word")).as[String]
      .map { w =>
        val toks = encode(w, bc.value).getOrElse(Seq("[UNK]"))
        (w, toks.mkString(" "), toks.length)
      }
      .toDF("word", "tokens", "n_tokens")
      .orderBy(col("word"))
  }

  /** Shared oracle CTEs: the trained pieces as a (cont, body) VALUES
    * table and the MaxMatch walk over an upstream `words(word)` CTE —
    * the step joins every piece matching at the cursor with the right
    * continuation class and keeps the LONGEST via NOT EXISTS, so each
    * state has exactly one successor and the recursion is linear. */
  private def segCtes(pieces: Seq[String]): String = {
    val rows = pieces.map { p =>
      val cont = if (p.startsWith(Cont)) 1 else 0
      s"($cont, '${p.stripPrefix(Cont)}')"
    }.mkString(",\n        ")
    s"""pieces(cont, body) AS (VALUES
        $rows),
      walk(word, pos, path) AS (
        SELECT word, 0, '' FROM words
        UNION ALL
        SELECT w.word, w.pos + length(p.body),
          CASE WHEN w.pos = 0 THEN p.body
               ELSE w.path || ' ##' || p.body END
        FROM walk w JOIN pieces p
          ON p.cont = CASE WHEN w.pos = 0 THEN 0 ELSE 1 END
         AND substr(w.word, w.pos + 1, length(p.body)) = p.body
        WHERE w.pos < length(w.word)
          AND NOT EXISTS (SELECT 1 FROM pieces q
              WHERE q.cont = CASE WHEN w.pos = 0 THEN 0 ELSE 1 END
                AND length(q.body) > length(p.body)
                AND substr(w.word, w.pos + 1, length(q.body)) = q.body))"""
  }

  def wordpieceSegmentOracleSql(s: SparkSession, d: String,
                                numMerges: Int = WpMerges,
                                k: Int = SegTopK): String = {
    val pieces = trainedPieces(s, d, numMerges)
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
      FROM walk WHERE pos = length(word)
      ORDER BY word"""
  }

  // ---- wordpiece_token_count ----------------------------------------------

  /** (doc_id, n_tokens, words) under a PRECOMPUTED piece set — the
    * WordPiece twin of [[Bpe.docTokenCounts]] and the third budget
    * producer [[graft.Pipeline]] packing accepts: MaxMatch runs once
    * per DISTINCT word, broadcasts back onto the corpus word stream,
    * one partial agg. */
  def docTokenCounts(docs: DataFrame, pieces: Seq[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(pieces.toSet)
    val words = docs
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("word"))
      .filter(col("word").rlike(WordRe))
    val wordTokens = words.select(col("word")).distinct().as[String]
      .map(w => (w, encode(w, bc.value).map(_.length).getOrElse(1)))
      .toDF("word", "w_tokens")
    words.join(broadcast(wordTokens), "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("w_tokens")).as("n_tokens"), count(lit(1)).as("words"))
  }

  def wordpieceTokenCount(s: SparkSession, d: String,
                          numMerges: Int = WpMerges): DataFrame = {
    val pieces = trainedPieces(s, d, numMerges)
    docTokenCounts(graft.Tables.documents(s, d), pieces)
      .select(col("doc_id"), col("n_tokens").as("wp_tokens"), col("words"))
      .orderBy(col("doc_id"))
  }

  def wordpieceTokenCountOracleSql(s: SparkSession, d: String,
                                   numMerges: Int = WpMerges): String = {
    val pieces = trainedPieces(s, d, numMerges)
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
        FROM walk WHERE pos = length(word))
      SELECT t.doc_id, CAST(SUM(w.w_tokens) AS BIGINT) AS wp_tokens,
        COUNT(*) AS words
      FROM tokstream t JOIN wtok w USING (word)
      GROUP BY t.doc_id ORDER BY t.doc_id"""
  }

  /** Coverage form — the inner query of tokenizer_coverage's
    * WordPiece row: corpus vocabulary plus injected OOV probes; a
    * word is covered iff greedy MaxMatch reaches the end of the word
    * (the `walk` CTE dead-ends otherwise — the UNK case). */
  private[graft] def coverageInnerSql(s: SparkSession, d: String,
                                      extraWords: Seq[String],
                                      numMerges: Int = WpMerges): String = {
    val pieces = trainedPieces(s, d, numMerges)
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
        FROM walk WHERE pos = length(word))
      SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN s.nt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_covered,
        CAST(SUM(CASE WHEN s.nt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole,
        CAST(MAX(s.nt) AS INT) AS max_pieces
      FROM words w LEFT JOIN seg1 s USING (word)"""
  }

  /** Corpus-total form of the token-count oracle — the inner query of
    * tokenizer_fertility's WordPiece row. */
  private[graft] def fertilityInnerSql(s: SparkSession, d: String,
                                       numMerges: Int = WpMerges): String = {
    val pieces = trainedPieces(s, d, numMerges)
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
        FROM walk WHERE pos = length(word))
      SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(length(t.word)) AS BIGINT) AS n_chars,
        CAST(SUM(w.w_tokens) AS BIGINT) AS n_tokens
      FROM tokstream t JOIN wtok w USING (word)"""
  }
}
