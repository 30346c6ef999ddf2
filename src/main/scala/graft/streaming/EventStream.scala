package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming jobs — the streaming form of the reference's
  * daily micro-batch cadence (ref main.py:432-482 batch loop;
  * runner.py scheduling). The batch/stream duality is deliberate:
  * `tumblingCounts` runs unchanged over a batch DataFrame (oracle-
  * checked as q18) or a readStream source.
  */
object EventStream {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Int)

  /** Per-user session accumulator (public: Spark's state encoder
    * codegen requires accessible constructors). */
  case class SessionState(start: Long, last: Long, n: Int)

  /** Schema for streaming reads of the events table; `ts` here is the
    * placeholder slot — its physical parquet type varies by generator
    * (TIMESTAMP(NANOS) → long via the legacy escape hatch, or
    * pyarrow's naive timestamp[us] → TIMESTAMP_NTZ), so `readEvents`
    * substitutes the actual type before opening the stream. */
  val eventsFileSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a directory of events parquet files.
    * A file-source stream needs a declared schema, but the events
    * table's `ts` physical type varies (see graft.Tables.events) —
    * peek at the directory with a one-shot batch read, declare that
    * type, and normalize to plain TimestampType (session is UTC, so
    * the naive micros value maps to the same instant). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = scala.util.Try(spark.read.parquet(dir).schema("ts").dataType)
      .getOrElse(TimestampNTZType: DataType)
    tsType match {
      case LongType =>
        spark.readStream.schema(eventsFileSchema).parquet(dir)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case t =>
        val sch = StructType(eventsFileSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = t) else f))
        spark.readStream.schema(sch).parquet(dir)
          .withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling-window counts with a watermark — works identically on
    * batch and streaming inputs. */
  def tumblingCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** Stateful gap sessionization via flatMapGroupsWithState — the
    * streaming analog of the batch q11 window. Emits a session when
    * the gap exceeds `gapSeconds` (plus the open session on timeout).
    * State is per-user and bounded, so it scales horizontally with
    * key cardinality. */
  def sessionize(events: Dataset[Event], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var st = state.getOption.orNull
          for (e <- sorted) {
            val t = e.ts.getTime / 1000
            if (st == null) st = SessionState(t, t, 1)
            else if (t - st.last > gapSeconds) {
              out += SessionOut(userId,
                new java.sql.Timestamp(st.start * 1000),
                new java.sql.Timestamp(st.last * 1000), st.n)
              st = SessionState(t, t, 1)
            } else st = SessionState(st.start, t, st.n + 1)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Stream-stream interval join: purchases enriched with the clicks
    * of the same user in the preceding 30 minutes. Watermarks on both
    * sides bound the join state, so state size tracks the interval —
    * not the stream length — at any scale. Works identically on batch
    * inputs (spec checks stream/batch parity). */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks, expr(
      """user_id = c_user AND
         click_ts BETWEEN purchase_ts - INTERVAL 30 MINUTES AND purchase_ts"""),
      "inner")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
              col("click_id"), col("click_ts"))
  }

  /** Maintain an SCD-1 snapshot from a stream — the streaming analog
    * of the reference's batch loop (fetch batch → upsert into
    * Postgres, main.py:432-482): every micro-batch merges
    * last-write-wins into a versioned parquet snapshot
    * (`dir/v{batchId}`; the highest version is current — versioning
    * keeps the read/overwrite cycle atomic).
    */
  def upsertSink(updates: DataFrame, snapshotDir: String, keys: Seq[String],
                 versionCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val current = latestSnapshot(spark, snapshotDir)
          .getOrElse(batch.limit(0))
        graft.operators.Upsert.upsert(current, batch, keys, versionCol)
          .write.mode("overwrite").parquet(s"$snapshotDir/v$batchId")
        ()
      }
      .start()

  /** Highest-versioned snapshot under `dir`, if any. Listed through
    * the Hadoop FileSystem API, so the sink works against any
    * supported scheme (hdfs://, s3a://, file:/), not just the local
    * filesystem. */
  def latestSnapshot(spark: SparkSession, dir: String): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else {
      val versions = fs.listStatus(path)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
        .flatMap(st => scala.util.Try(st.getPath.getName.drop(1).toLong)
          .toOption.map(_ -> st.getPath))
      if (versions.isEmpty) None
      else Some(spark.read.parquet(versions.maxBy(_._1)._2.toString))
    }
  }

  // ---- the two stateful folds behind the streaming detectors -------------

  /** Event-time lateness every TTL'd detector tolerates: its watermark
    * trails the newest event time seen by this much. */
  val WatermarkDelay = "10 minutes"

  /** The event time of an unbounded form's arrivals. Without a horizon
    * the folds read event time only to order a micro-batch, so every
    * arrival at one instant leaves (event time, id) order = id order. */
  private val NoTime = new Timestamp(0L)

  /** A fold's input, watermarked on `tsCol` when it has a horizon. */
  private def timed[T](rows: Dataset[T], tsCol: String,
                       horizonMs: Option[Long]): Dataset[T] =
    if (horizonMs.isEmpty) rows else rows.withWatermark(tsCol, WatermarkDelay)

  private def timeoutOf(horizonMs: Option[Long]): GroupStateTimeout =
    if (horizonMs.isEmpty) GroupStateTimeout.NoTimeout
    else GroupStateTimeout.EventTimeTimeout

  /** Whether an arrival at `t` lies past the horizon of state last seen
    * at `lastSeen` — never, without a horizon. */
  private def expired(lastSeen: Long, t: Long, horizonMs: Option[Long]): Boolean =
    horizonMs.exists(t > lastSeen + _)

  /** Remove a group's state once the watermark passes `lastSeen` + the
    * horizon. The timeout tracks the UPDATED lastSeen (a fully-late
    * batch must not shrink the TTL) and stays ahead of the watermark,
    * or setting it throws. */
  private def expireAfter(state: GroupState[_], lastSeen: Long,
                          horizonMs: Option[Long]): Unit =
    horizonMs.foreach(h => state.setTimeoutTimestamp(
      math.max(lastSeen, state.getCurrentWatermarkMs()) + h))

  /** The first-seen keeper fold behind every streaming exact dedup.
    * Arrivals are (key, id, event time); each micro-batch folds a key's
    * rows in (event time, id) order, and a key emits (key, id) for its
    * first arrival and drops the rest. State is one long per key: its
    * newest event time (lastSeen).
    *
    * `horizonMs = None` is the unbounded form: no watermark, no
    * timeout, and a key once seen is dropped for the stream's lifetime
    * (arrivals carry [[NoTime]], so the keeper is the batch's min id).
    * `Some(h)` is dedup-within-horizon: an arrival more than `h` past
    * its key's lastSeen opens a new window and emits again. That is
    * checked against the arrival's own event time, so it holds inside
    * one batch and on a quiet stream whose watermark has not moved
    * (watermark timeouts fire only when other traffic moves the
    * clock). Late rows never move lastSeen back, and the key's state
    * is removed when the watermark passes lastSeen + h, so state is
    * bounded by the distinct-key arrival rate × horizon. */
  private def firstSeen[K: TypeTag](arrivals: Dataset[(K, Long, Timestamp)],
                                    horizonMs: Option[Long]): Dataset[(K, Long)] = {
    import arrivals.sparkSession.implicits._
    implicit val keyEnc: Encoder[K] = ExpressionEncoder[K]()
    timed(arrivals, "_3", horizonMs).groupByKey(_._1)
      .flatMapGroupsWithState[Long, (K, Long)](OutputMode.Append, timeoutOf(horizonMs)) {
        (key: K, rows: Iterator[(K, Long, Timestamp)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[(K, Long)]
            val stored = state.getOption
            var lastSeen = stored
            rows.toSeq.sortBy(r => (r._3.getTime, r._2)).foreach { case (_, id, ts) =>
              val t = ts.getTime
              if (lastSeen.forall(expired(_, t, horizonMs))) out += ((key, id))
              lastSeen = Some(lastSeen.fold(t)(math.max(_, t)))
            }
            // a key re-arriving unchanged costs no state-store write
            if (lastSeen != stored) state.update(lastSeen.get)
            expireAfter(state, lastSeen.get, horizonMs)
            out.iterator
          }
      }
  }

  /** The bucket-pair fold behind every streaming near-dup detector.
    * Members are (bucket key, id, payload, event time); a bucket's
    * state is its members' (id, payload, lastSeen). Each micro-batch
    * folds a bucket's rows in (event time, id) order: an id already in
    * the bucket only refreshes its lastSeen, and a new one is checked
    * against every member before it — `verify(smaller id, larger id,
    * member payload, arrival payload)` — and emits what `verify`
    * returns. So no id pairs with itself and no pair repeats within a
    * bucket; pairs may repeat ACROSS buckets, exactly like the batch
    * join before its distinct (consumers dedupe). Candidates never
    * leave the state operator: only verified pairs are emitted.
    *
    * `horizonMs = None` is the unbounded form: no watermark, no
    * timeout, and state bounded by bucket occupancy (what LSH banding
    * bounds by construction) for the stream's lifetime. `Some(h)` also
    * bounds it in TIME: an arrival pairs only with members seen within
    * `h` of its own event time (stale members are evicted inline), and
    * the bucket's state is removed once the watermark passes its
    * newest member + h, so state is bounded by the bucket arrival rate
    * × horizon. A member re-arriving within the horizon refreshes
    * without re-pairing; one returning after eviction pairs anew.
    * Lateness is bounded by [[WatermarkDelay]], so a late arrival
    * pairs with members at most that much newer than itself. With all
    * arrivals inside one horizon the two forms emit the same rows
    * (spec'd). */
  private def bucketPairs[K: TypeTag, P: TypeTag, U <: Product : TypeTag](
      members: Dataset[(K, Long, P, Timestamp)], horizonMs: Option[Long])(
      verify: (Long, Long, P, P) => Option[U]): Dataset[U] = {
    import members.sparkSession.implicits._
    implicit val keyEnc: Encoder[K] = ExpressionEncoder[K]()
    implicit val stateEnc: Encoder[Seq[(Long, P, Long)]] =
      ExpressionEncoder[Seq[(Long, P, Long)]]()
    timed(members, "_4", horizonMs).groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, P, Long)], U](OutputMode.Append, timeoutOf(horizonMs)) {
        (_: K, rows: Iterator[(K, Long, P, Timestamp)],
         state: GroupState[Seq[(Long, P, Long)]]) =>
          if (state.hasTimedOut) {
            // the timeout fires a horizon past the newest member, so
            // every member is stale by construction
            state.remove()
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[U]
            var bucket = state.getOption.getOrElse(Seq.empty)
            rows.toSeq.sortBy(r => (r._4.getTime, r._2)).foreach { case (_, id, p, ts) =>
              val t = ts.getTime
              bucket = bucket.filterNot(m => expired(m._3, t, horizonMs))
              val i = bucket.indexWhere(_._1 == id)
              if (i >= 0)
                bucket = bucket.updated(i, bucket(i).copy(_3 = math.max(bucket(i)._3, t)))
              else {
                bucket.foreach { case (m, mp, _) =>
                  out ++= (if (m < id) verify(m, id, mp, p) else verify(id, m, mp, p))
                }
                bucket = bucket :+ ((id, p, t))
              }
            }
            state.update(bucket)
            expireAfter(state, bucket.map(_._3).max, horizonMs)
            out.iterator
          }
      }
  }

  /** The arrivals whose `key` the static `corpus` does not hold in
    * `corpusKey`: a stream-static left_outer + IS NULL (anti is not a
    * supported stream-static join shape). The join is stateless, so
    * corpus membership costs no streaming state and only corpus-novel
    * arrivals reach a fold. */
  private def corpusNovel[T](arrivals: Dataset[T], key: String,
                             corpus: DataFrame, corpusKey: String): Dataset[T] =
    arrivals.join(corpus.select(col(corpusKey).as(key), lit(1).as("_corpus_hit")),
        Seq(key), "left_outer")
      .filter(col("_corpus_hit").isNull)
      .select(arrivals.columns.toSeq.map(col): _*)
      .as(arrivals.encoder)

  // ---- streaming exact dedup: first-seen keepers -------------------------

  case class DocIn(doc_id: Long, content_hash: String)

  /** Streaming exact dedup: the first-seen fold keyed by content hash —
    * the streaming form of Dedup.dedupExact. Emits (content_hash,
    * keeper_id) once per novel hash; later arrivals of the same content
    * are dropped (streams can't retract, so the keeper is the FIRST
    * arrival — min doc_id within its micro-batch group for
    * determinism). State is one long per distinct hash, partitioned by
    * hash, for the stream's lifetime; production streams bound it with
    * [[streamingDedupTtl]] under the RocksDB state store provider. */
  def streamingDedup(docs: Dataset[DocIn]): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    firstSeen(docs.map(d => (d.content_hash, d.doc_id, NoTime)), None)
  }

  case class DocText(doc_id: Long, text: String)

  /** (chunk_hash, doc_id) arrivals of a doc stream, through
    * [[graft.operators.Dedup.cdcChunksOf]] — the SAME per-doc
    * decomposition the batch operator uses, so the two cannot drift.
    * The decompose is a stateless flatMap ahead of the keyed state, so
    * the shuffle moves (hash, doc) longs, never text. */
  private def chunkArrivals(docs: Dataset[DocText]): Dataset[(Long, Long, Timestamp)] = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => graft.operators.Dedup.cdcChunksOf(d.text)
      .map(c => (c._4, d.doc_id, NoTime)))
  }

  /** (line_hash, doc_id) arrivals of a doc stream, through
    * [[graft.operators.Dedup.linesOf]] — the batch operator's lining. */
  private def lineArrivals(docs: Dataset[DocText]): Dataset[(Long, Long, Timestamp)] = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => graft.operators.Dedup.linesOf(d.doc_id, d.text)
      .map(l => (l._4, d.doc_id, NoTime)))
  }

  /** Streaming CHUNK-granular dedup: novelty is tracked per
    * content-defined chunk hash ([[chunkArrivals]]) — a chunk any
    * earlier doc already carried is dropped, a novel one emits
    * (chunk_hash, keeper_doc): the streaming half of sub-doc
    * storage-granular dedup, where a chunk-store ingest ships only
    * novel chunks. State is one long per distinct chunk hash. Spec'd:
    * a two-batch split equals the batch keeper view. */
  def streamingChunkDedup(docs: Dataset[DocText]): Dataset[(Long, Long)] =
    firstSeen(chunkArrivals(docs), None)

  /** Streaming INCREMENTAL chunk dedup: the maintained chunk-index
    * artifact ([[graft.operators.Dedup.writeChunkIndex]]) consumed
    * the way [[streamingIncrementalDedup]] consumes the band index —
    * arriving chunks are first filtered against the STATIC
    * standing-corpus chunk hashes ([[corpusNovel]]), and only
    * corpus-novel chunks pay the keyed first-seen state. Emits
    * (chunk_hash, keeper_doc) once per chunk novel to corpus AND
    * stream. Parity spec'd in StreamingSpec: equals the batch
    * [[streamingChunkDedup]] view minus index-known hashes. */
  def streamingIncrementalChunkDedup(docs: Dataset[DocText],
                                     chunkIndex: DataFrame): Dataset[(Long, Long)] =
    firstSeen(corpusNovel(chunkArrivals(docs), "_1", chunkIndex, "chunk_hash"), None)

  /** Streaming LINE dedup: novelty is tracked per line hash
    * ([[lineArrivals]]) — a line any earlier doc already carried is
    * dropped, a novel one emits (line_hash, keeper_doc): the streaming
    * half of C4-style boilerplate stripping, where the ingest ships
    * only corpus-novel lines. State is one long per distinct line
    * hash. Spec'd: a two-batch split equals the batch min-doc keeper
    * view. */
  def streamingLineDedup(docs: Dataset[DocText]): Dataset[(Long, Long)] =
    firstSeen(lineArrivals(docs), None)

  /** Streaming INCREMENTAL line dedup: the maintained line-index
    * artifact ([[graft.operators.Dedup.writeLineIndex]]) consumed the
    * way [[streamingIncrementalChunkDedup]] consumes the chunk index.
    * Emits (line_hash, keeper_doc) once per line novel to corpus AND
    * stream. Parity spec'd in StreamingSpec. */
  def streamingIncrementalLineDedup(docs: Dataset[DocText],
                                    lineIndex: DataFrame): Dataset[(Long, Long)] =
    firstSeen(corpusNovel(lineArrivals(docs), "_1", lineIndex, "line_hash"), None)

  /** Streaming INCREMENTAL dedup: arrivals are dropped when their
    * content hash already exists in a STATIC standing-corpus index
    * ([[corpusNovel]]; re-read per micro-batch, so at scale the index
    * lives bucketed/broadcastable by hash), then first-seen-deduped
    * within the stream itself. The streaming form of
    * [[graft.operators.Dedup.dedupIncremental]]'s exact tier: only
    * intra-stream novelty pays state, which production bounds with
    * the TTL variant. */
  def streamingIncrementalDedup(docs: Dataset[DocIn],
                                corpusHashes: DataFrame): Dataset[(String, Long)] =
    streamingDedup(corpusNovel(docs, "content_hash", corpusHashes, "content_hash"))

  /** Streaming n-gram NOVELTY scoring: every arriving doc scored
    * against a STORED train shingle set (distinct `shingle` rows —
    * the daily pipeline's train_shingles artifact shape) via
    * foreachBatch, so each micro-batch runs the BATCH
    * [[graft.operators.Curate.ngramNoveltySh]] plan: a shingle-keyed
    * equi-join against the static artifact, per-doc partial agg.
    * Corpus membership costs ZERO streaming state (the
    * streamingIncrementalDedup discipline) and batch/stream parity
    * is structural — spec'd on a two-batch split. */
  def streamingNgramNovelty(docs: Dataset[DocText], trainShingles: DataFrame,
                            n: Int = 3)(writeBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[DocText], _: Long) =>
        val evalSh = graft.operators.Dedup.shingles(
            batch.toDF().withColumn("lang", lit("")), n)
          .select(col("doc_id"), col("shingle"))
        writeBatch(
          graft.operators.Curate.ngramNoveltyServe(trainShingles, evalSh))
      }
      .start()

  /** Streaming maintenance of the kNN-graph artifact
    * ([[graft.operators.Similarity.writeKnnGraph]]): each arriving
    * vector micro-batch runs the BATCH append step — pruned
    * probed-bucket edges for the batch, affected standing nodes
    * re-top-k'd, touched edge partitions dynamically overwritten —
    * so the standing graph costs ZERO streaming state and
    * stream-maintained ≡ batch-maintained is structural (two-batch
    * parity spec'd). The ingest path that keeps graph-based curation
    * (SemDeDup, prototypes, PageRank audits) current between full
    * rebuilds. */
  def streamingKnnGraphMaintain(vecs: Dataset[QueryVec], dir: String,
                                cents: Array[Array[Double]])
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[QueryVec], _: Long) =>
        if (!batch.isEmpty)
          graft.operators.Similarity.knnGraphAppendStep(
            batch.sparkSession, dir,
            batch.toDF().withColumnRenamed("query_id", "vec_id"), cents)
      }
      .start()

  /** Streaming VOCABULARY-DRIFT monitor: each arriving micro-batch is
    * scored against a stored reference vocabulary
    * ([[graft.functions.TextFunctions.vocabCounts]] artifact) — one
    * (n_tokens, n_types, novel_types, jsd_vs_ref) row per batch, the
    * alert feed a pipeline hangs a drift threshold on (a crawl
    * snapshot whose JSD jumps re-opens mixture weights BEFORE it
    * ships). foreachBatch runs the batch operator
    * ([[graft.functions.TextFunctions.vocabDriftAgainst]]) — zero
    * streaming state, per-batch parity is structural (spec'd). */
  def streamingVocabDrift(docs: Dataset[DocText], refCounts: DataFrame)(
                          writeBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[DocText], _: Long) =>
        writeBatch(graft.functions.TextFunctions.vocabDriftAgainst(
          refCounts, batch.toDF()))
      }
      .start()

  case class DocInTs(doc_id: Long, content_hash: String, ts: java.sql.Timestamp)

  /** [[streamingDedup]] with BOUNDED state: dedup-within-horizon — the
    * first-seen fold with an event-time TTL `horizonMs` past each
    * hash's newest arrival (sliding). A hash re-appearing after the
    * horizon is emitted again, even on a quiet stream whose watermark
    * has not advanced, and total state is bounded by the distinct-hash
    * ARRIVAL RATE × horizon instead of the stream's lifetime
    * cardinality. This is the semantics production dedup runs at 100
    * TB/day: state cannot grow without bound, and the horizon is the
    * declared dedup guarantee. StreamingSpec runs this under the
    * RocksDB state store provider and asserts eviction from the query
    * progress state-operator metrics.
    *
    * UPGRADE NOTE: the state row is one long (lastSeen) since this
    * operator moved onto the shared first-seen fold; it was a
    * (keeper, lastSeen) pair. Spark does not evolve state schemas, so
    * a query restored from a checkpoint written before the change
    * fails to deserialize its state. Restart from a FRESH checkpoint
    * path on upgrade. */
  def streamingDedupTtl(docs: Dataset[DocInTs], horizonMs: Long): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    firstSeen(docs.map(d => (d.content_hash, d.doc_id, d.ts)), Some(horizonMs))
  }

  // ---- streaming near-dup pairs: one bucket fold, three verifies ---------

  /** A minhash band bucket holds no payload: every co-member is a
    * candidate pair. */
  private def minhashPair(lo: Long, hi: Long, a: Boolean, b: Boolean): Option[(Long, Long)] =
    Some((lo, hi))

  /** An image pair within `maxHamming` bits of its dHash signatures. */
  private def phashPair(maxHamming: Int)(lo: Long, hi: Long, a: Long, b: Long)
      : Option[(Long, Long, Int)] = {
    val hm = java.lang.Long.bitCount(a ^ b)
    if (hm <= maxHamming) Some((lo, hi, hm)) else None
  }

  /** An embedding pair whose cosine on the batch path's 6-dp HALF_UP
    * grid clears `tau`. NaN (zero-norm or length-mismatched vector)
    * drops the pair exactly like the batch path's round+filter does —
    * BigDecimal(NaN) would kill the whole query. */
  private def embPair(tau: Double)(lo: Long, hi: Long, a: Array[Float], b: Array[Float])
      : Option[(Long, Long, Double)] = {
    val raw = graft.functions.CosineSimilarity.cosineScalar(a, b)
    if (raw.isNaN) None
    else {
      val cos = BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (cos >= tau) Some((lo, hi, cos)) else None
    }
  }

  case class BandRow(doc_id: Long, band: Int, sig: String)

  /** Streaming NEAR-dup candidate detection: the incremental form of
    * the batch minhash-LSH band join — the bucket-pair fold keyed by
    * (band, sig), each arriving doc paired with every earlier member of
    * its bucket exactly once. Pairs may repeat ACROSS bands, so
    * downstream consumers dedupe, and the spec compares distinct sets.
    * State per bucket is bounded by bucket occupancy but lives for the
    * stream's lifetime; production streams run
    * [[streamingMinhashPairsTtl]], which also bounds it in TIME.
    *
    * UPGRADE NOTE: a bucket's state row is (doc_id, true, lastSeen)
    * per member since this operator moved onto the shared bucket-pair
    * fold; it was a bare doc_id. Spark does not evolve state schemas:
    * restart from a FRESH checkpoint path on upgrade. */
  def streamingMinhashPairs(bands: Dataset[BandRow]): Dataset[(Long, Long)] = {
    import bands.sparkSession.implicits._
    bucketPairs(bands.map(b => ((b.band, b.sig), b.doc_id, true, NoTime)), None)(minhashPair)
  }

  case class BandRowTs(doc_id: Long, band: Int, sig: String,
                       ts: java.sql.Timestamp)

  /** [[streamingMinhashPairs]] with BOUNDED state: near-dup detection
    * within an event-time horizon (the bucket-pair fold's TTL form —
    * the same contract as [[streamingDedupTtl]]). With all arrivals
    * inside one horizon this reduces exactly to the unbounded form
    * (parity spec'd); eviction is spec'd under RocksDB via the
    * state-operator metrics.
    *
    * UPGRADE NOTE: a member's state row is (doc_id, true, lastSeen)
    * since this operator moved onto the shared bucket-pair fold; it
    * was (doc_id, lastSeen). Restart from a FRESH checkpoint path on
    * upgrade. */
  def streamingMinhashPairsTtl(bands: Dataset[BandRowTs], horizonMs: Long): Dataset[(Long, Long)] = {
    import bands.sparkSession.implicits._
    bucketPairs(bands.map(b => ((b.band, b.sig), b.doc_id, true, b.ts)),
      Some(horizonMs))(minhashPair)
  }

  case class EmbCodeRow(vec_id: Long, tid: Int, code: Int,
                        embedding: Array[Float])

  /** Multi-table LSH code rows for an embedding stream (or batch
    * frame) — the streaming front half of [[streamingEmbLshPairs]];
    * same planes/geometry as the batch `Dedup.embLshDups`, so stream
    * and batch bucket identically. */
  def embLshCodes(emb: DataFrame,
                  numBits: Int = graft.operators.Similarity.LshBits,
                  numTables: Int = graft.operators.Similarity.LshTables): Dataset[EmbCodeRow] = {
    import emb.sparkSession.implicits._
    val bc = emb.sparkSession.sparkContext.broadcast(
      graft.operators.Similarity.lshPlanes(numTables, numBits))
    graft.operators.Similarity.lshCodesWithVec(emb, bc).as[EmbCodeRow]
  }

  /** Streaming embedding near-dup pairs: the incremental form of the
    * batch `Dedup.embLshDups` — the bucket-pair fold keyed by (tid,
    * code), each arriving vector cosine-verified against every earlier
    * member AT THE BUCKET and emitted when it clears `tau` (pairs may
    * repeat ACROSS tables, like the batch join before its distinct;
    * the parity spec compares distinct sets). State per bucket is
    * member count × vector bytes, bounded by bucket occupancy — the
    * quantity the (bits, τ) geometry choice bounds in batch;
    * production streams run [[streamingEmbLshPairsTtl]], which also
    * bounds it in TIME.
    *
    * UPGRADE NOTE: a member's state row is (vec_id, embedding,
    * lastSeen) since this operator moved onto the shared bucket-pair
    * fold; it was (vec_id, embedding). Restart from a FRESH checkpoint
    * path on upgrade. */
  def streamingEmbLshPairs(codes: Dataset[EmbCodeRow],
                           tau: Double = 0.35): Dataset[(Long, Long, Double)] = {
    import codes.sparkSession.implicits._
    bucketPairs(codes.map(c => ((c.tid, c.code), c.vec_id, c.embedding, NoTime)),
      None)(embPair(tau))
  }

  case class HashKeyRow(doc_id: Long, sig: Long, ci: Int, cv: Long)

  /** Manku banding key rows for an image stream (or batch frame) —
    * the streaming front half of [[streamingPhashPairs]]: REAL decode
    * → dHash60 → the SAME compound chunk keys as the batch
    * `Dedup.bandedHammingCandidates` (via `Dedup.bandingKeys`, the
    * pure mirror ScalaCheck already proves the pigeonhole guarantee
    * on), so stream and batch bucket identically. */
  def phashKeyRows(docs: DataFrame, maxHamming: Int = 3,
                   numChunks: Int = 6): Dataset[HashKeyRow] = {
    import docs.sparkSession.implicits._
    graft.sources.Multimodal.phashSignatures(docs)
      .as[(Long, Long)]
      .flatMap { case (id, sig) =>
        graft.operators.Dedup.bandingKeys(sig, maxHamming, numChunks)
          .iterator.map { case (ci, cv) => HashKeyRow(id, sig, ci, cv) }
      }
  }

  /** Streaming image near-dup pairs: the incremental form of the
    * batch `Multimodal.phashDups`, completing the streaming near-dup
    * triple (minhash ✓ embedding ✓ image ✓) — the bucket-pair fold
    * keyed by (ci, cv) compound chunk bucket, each arriving image
    * hamming-verified against every earlier member AT THE BUCKET. The
    * banding is exact (a pair within the budget shares ≥1 bucket), so
    * emitted pairs may repeat across buckets exactly like the batch
    * join before its distinct (the parity spec compares distinct
    * sets). State per bucket is member count × 24 bytes — bounded by
    * bucket occupancy, the quantity the 2^30 key space bounds by
    * construction.
    *
    * UPGRADE NOTE: a member's state row is (doc_id, sig, lastSeen)
    * since this operator moved onto the shared bucket-pair fold; it
    * was (doc_id, sig). Restart from a FRESH checkpoint path on
    * upgrade. */
  def streamingPhashPairs(keys: Dataset[HashKeyRow],
                          maxHamming: Int = 3): Dataset[(Long, Long, Int)] = {
    import keys.sparkSession.implicits._
    bucketPairs(keys.map(k => ((k.ci, k.cv), k.doc_id, k.sig, NoTime)),
      None)(phashPair(maxHamming))
  }

  case class HashKeyRowTs(doc_id: Long, sig: Long, ci: Int, cv: Long,
                          ts: java.sql.Timestamp)

  /** [[streamingPhashPairs]] with BOUNDED state — the image analog of
    * [[streamingMinhashPairsTtl]]. State is bounded by bucket arrival
    * rate × horizon × 24 bytes instead of the stream's lifetime bucket
    * membership; with all arrivals inside one horizon this reduces
    * exactly to the unbounded form (parity spec'd). */
  def streamingPhashPairsTtl(keys: Dataset[HashKeyRowTs], horizonMs: Long,
                             maxHamming: Int = 3): Dataset[(Long, Long, Int)] = {
    import keys.sparkSession.implicits._
    bucketPairs(keys.map(k => ((k.ci, k.cv), k.doc_id, k.sig, k.ts)),
      Some(horizonMs))(phashPair(maxHamming))
  }

  case class EmbCodeRowTs(vec_id: Long, tid: Int, code: Int,
                          embedding: Array[Float], ts: java.sql.Timestamp)

  /** [[streamingEmbLshPairs]] with BOUNDED state — the embedding
    * analog of [[streamingMinhashPairsTtl]]. State is bounded by bucket
    * arrival rate × horizon × vector bytes instead of the stream's
    * lifetime bucket membership. */
  def streamingEmbLshPairsTtl(codes: Dataset[EmbCodeRowTs], horizonMs: Long,
                              tau: Double = 0.35): Dataset[(Long, Long, Double)] = {
    import codes.sparkSession.implicits._
    bucketPairs(codes.map(c => ((c.tid, c.code), c.vec_id, c.embedding, c.ts)),
      Some(horizonMs))(embPair(tau))
  }

  /** Streaming HyperLogLog: per-group register state updated
    * incrementally via mapGroupsWithState — the streaming form of
    * [[graft.operators.Sketches.sketchDistinct]]. State per group is
    * the FIXED 4096-int register array (the keys never enter state —
    * the property that makes a distinct-count over an unbounded
    * stream feasible at all); each micro-batch emits the group's
    * refreshed estimate (Update mode). The registers a stream builds
    * are by construction the MAX-merge of its batches, so the final
    * streaming estimate equals the batch sketch over the union of all
    * arrivals — spec'd against [[graft.operators.Sketches
    * .hllRegisters]]/[[graft.operators.Sketches.hllEstimateLocal]]
    * on a two-batch split. */
  def streamingSketchDistinct(rows: Dataset[(String, String)]
                             ): Dataset[(String, Double)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState[Array[Int], (String, Double)](
        GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[(String, String)], state: GroupState[Array[Int]]) =>
          val regs = state.getOption
            .getOrElse(new Array[Int](graft.operators.Sketches.HllM))
          it.foreach { case (_, k) =>
            val (idx, rho) = graft.operators.Sketches.hllIdxRho(k)
            if (rho > regs(idx)) regs(idx) = rho
          }
          state.update(regs)
          (grp, graft.operators.Sketches.hllEstimateLocal(regs))
      }
  }

  /** Per-user exact moment state for [[streamingAnomalyStats]]:
    * value lives on the 2-dp grid, so cents and cents² accumulate as
    * exact longs — 24 bytes per user, unbounded history for free. */
  case class MomentState(n: Long, s1c: Long, s2e4: Long)

  /** Streaming per-user anomaly model — the model half of
    * [[graft.operators.Timeseries.eventsAnomaly]] maintained
    * incrementally: mapGroupsWithState keyed by user, state = the
    * exact integer moments (n, Σcents, Σcents²); each batch emits
    * the user's refreshed (n, mean, variance, std) in Update mode.
    * The doubles are reconstructed through the SAME decimal→double
    * casts the batch aggregate performs (BigDecimal scale 2/4), so
    * after any arrival split the streaming stats are BIT-equal to
    * the batch [[graft.operators.Timeseries.anomalyStats]] — feed
    * them to `anomalyFlag` for identical flags (spec'd). Scoring
    * stays a batch read-out (the annIvfServeBatch pattern); the
    * stream maintains the model, which is the half that needs the
    * full history. */
  def streamingAnomalyStats(rows: Dataset[(Long, Double)]
                           ): Dataset[(Long, Long, Double, Double, Double)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState[MomentState, (Long, Long, Double, Double, Double)](
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Double)], state: GroupState[MomentState]) =>
          var st = state.getOption.getOrElse(MomentState(0L, 0L, 0L))
          it.foreach { case (_, v) =>
            val c = math.round(v * 100)
            st = MomentState(st.n + 1, st.s1c + c, st.s2e4 + c * c)
          }
          state.update(st)
          val s1 = new java.math.BigDecimal(
            java.math.BigInteger.valueOf(st.s1c), 2).doubleValue()
          val s2 = new java.math.BigDecimal(
            java.math.BigInteger.valueOf(st.s2e4), 4).doubleValue()
          val mean = s1 / st.n
          val variance = s2 / st.n - mean * mean
          (user, st.n, mean, variance, math.sqrt(variance))
      }
  }

  /** Streaming data-quality monitor — the streaming form of
    * [[graft.operators.DataQuality.rowMetrics]]: cumulative
    * (metric, violation_count) maintained by the built-in streaming
    * aggregation (state = one row per metric, never per data row —
    * bounded whatever the stream volume; read in Complete/Update
    * mode). The SAME plan runs over a batch DataFrame and equals
    * rowMetrics' counts — the tumblingCounts batch/stream duality,
    * spec'd on a two-batch split. Referential checks don't fit a
    * stream-static anti join (unsupported shape); run
    * [[graft.operators.DataQuality.orphans]] inside foreachBatch as
    * a batch plan instead (the annIvfServeBatch pattern). */
  def streamingDqMetrics(rows: DataFrame,
                         metrics: Seq[(String, org.apache.spark.sql.Column)]
                        ): DataFrame = {
    val pairs = array(
      struct(lit("row_count").as("metric"), lit(1L).as("hit")) +:
        metrics.map { case (n, p) =>
          struct(lit(n).as("metric"),
            when(p, 1L).otherwise(0L).as("hit")) }: _*)
    rows.select(explode(pairs).as("mp"))
      .select(col("mp.metric").as("metric"), col("mp.hit").as("hit"))
      .groupBy("metric").agg(sum("hit").as("value"))
  }

  /** Streaming Count-Min counters: the CMS state (d×w = 4×1024 Long
    * counters) maintained incrementally — arrivals fan out to their
    * d buckets, each (j, b) key's counter ADDS the batch's hits
    * (mapGroupsWithState keyed by the bucket, state = one Long). The
    * state is FIXED at ≤ 4096 rows whatever the token volume — the
    * same never-store-the-keys property as
    * [[streamingSketchDistinct]]; final counters equal the batch
    * [[graft.operators.Sketches.cmsCounters]] over the union of all
    * arrivals (spec'd). Heavy-hitter read-out stays a batch lookup
    * against the counter table. */
  def streamingCmsCounters(toks: Dataset[String]): Dataset[(Int, Long, Long)] = {
    import toks.sparkSession.implicits._
    runningCounts(toks.flatMap(t => (0 until graft.operators.Sketches.CmsD)
        .map(j => (j, graft.operators.Sketches.cmsBucketLocal(j, t))))) {
      case ((j, b), c) => (j, b, c)
    }
  }

  /** Streaming histogram-quantile counters: the
    * [[graft.operators.Sketches.sketchQuantiles]] bucket state
    * maintained incrementally against a FIXED grid (the per-group
    * [min,max] trained on a reference corpus — at scale the grid is
    * a write-once artifact exactly like the SQ8 grid; a streaming
    * operator cannot re-derive a global min/max anyway). Arrivals
    * bucket on the grid (values outside clamp to the edge bins),
    * each ((grp, b)) counter ADDS its batch hits — state ≤ 256 rows
    * per group whatever the volume. Quantile read-out stays the
    * batch cumulative walk over the counter table. */
  def streamingQuantileCounters(rows: Dataset[(String, Double)],
                                grid: Map[String, (Double, Double)]
                               ): Dataset[(String, Int, Long)] = {
    import rows.sparkSession.implicits._
    val b = graft.operators.Sketches.QsB
    val cells = rows.flatMap { case (g, v) =>
      grid.get(g).map { case (mn, mx) =>
        val raw = if (mx > mn) math.floor((v - mn) * b / (mx - mn)) else 0.0
        (g, math.max(0, math.min(b - 1, raw.toInt)))
      }
    }
    runningCounts(cells) { case ((g, bin), c) => (g, bin, c) }
  }

  /** A running count per key for the streaming counters: each
    * micro-batch adds its arrivals to the key's count (state = one
    * Long) and emits `out(key, count)` in Update mode. */
  private def runningCounts[K, U: Encoder](keys: Dataset[K])(out: (K, Long) => U): Dataset[U] = {
    implicit val countEnc: Encoder[Long] = Encoders.scalaLong
    keys.groupByKey(identity)(keys.encoder)
      .mapGroupsWithState[Long, U](GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[K], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + it.size
          state.update(c)
          out(key, c)
      }
  }

  // ---- streaming serving over stored artifacts --------------------------

  case class QueryVec(query_id: Long, embedding: Array[Float])

  /** Serve a stream against any stored artifact: each micro-batch of
    * `queries` runs `serve` as an ordinary BATCH plan inside
    * `foreachBatch` and hands the result to `writeBatch`. Every
    * `*ServeBatch` of the engine (IVF layouts, the kNN graph, the
    * classifiers, the recommenders, the inverted indexes) is a
    * stream serve this way, e.g.
    * `serveEachBatch(qs)(b => Similarity.annIvfServeBatch(b.sparkSession,
    * dir, cents, b.toDF("query_id", "embedding")))(sink)`.
    *
    * Why a batch plan per micro-batch and not a stream-static join:
    * the serve collects the batch's probed buckets (or terms, or
    * context items) and reads the artifact with a pushed-down
    * `IN (...)`, so per-batch cost tracks the probes, never the
    * artifact's size — DPP does not run in streaming plans, so a
    * stream-static join cannot be pruned this way.
    *
    * Why it is correct: the serve is STATE-FREE and BATCH-COMPLETE. A
    * request's whole candidate set is read from the standing artifact
    * within its arrival micro-batch, so the per-batch answer (a
    * bounded top-k, a vote, a fused list) IS the global answer for
    * that request — no watermark, no group state, and any split of
    * the stream into batches gives the one-shot serve's rows
    * (StreamingSpec and SearchSpec check two-batch splits). The
    * artifact is the state, maintained out of band. Request ids are
    * an independent id space from artifact ids, so serves default to
    * keeping self-matches. */
  def serveEachBatch[T](queries: Dataset[T])(serve: Dataset[T] => DataFrame)(
      writeBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[T], _: Long) => writeBatch(serve(batch)) }
      .start()

  /** One recommendation request: a user id with their interaction
    * history snapshot (the items they've engaged). */
  case class RecRequest(user_id: Long, items: Seq[Long])

  /** A finalized daily count arriving on the stream (the daily
    * micro-batch cadence: one row per (series, day) once the day
    * closes). */
  case class DayCount(event_type: String, day: java.sql.Date, y: Long)

  /** A one-step-ahead fit emitted by the streaming forecaster. */
  case class HwFit(event_type: String, r: Long, y: Long, fitted_e6: Long)

  // NOT `private`: the state encoder's generated serializer calls
  // the accessors from Janino-compiled code, which cannot see a
  // Scala-private inner class ("no applicable constructor/method
  // found ... candidates are: public long trend()")
  case class HwStreamState(bufE6: Seq[Long], rank: Long, lvl: Long,
                           trend: Long, seaE6: Seq[Long], seeded: Boolean,
                           lastDay: Long)

  /** Streaming Holt-Winters — the [[graft.operators.Timeseries
    * .holtWintersOn]] recurrence as per-series stream state (9
    * BIGINTs once seeded, a ≤14-value buffer before): each arriving
    * closed day advances the state through the SHARED hwStep (one
    * step function, batch and stream cannot drift) and emits its
    * one-step-ahead fit; the first two seasons buffer, seed
    * (hwSeed), then replay rows 8..14 exactly like the batch form.
    * State is bounded per series by construction — no TTL needed.
    * Requires per-series arrival in day order across batches (the
    * r12 arrival-order invariant; within a batch rows are sorted).
    * Two-batch parity with the batch fitted rows is spec'd in
    * StreamingSpec. `damped` switches to the Gardner damped-trend
    * step; `mul` (r17) to the multiplicative-seasonality step — the
    * seasonal slots then hold e6-unit RATIOS, the same 9-BIGINT
    * shape, so the state encoder is identical across modes.
    *
    * UPGRADE NOTE: [[HwStreamState]] gained a `lastDay` field in r16,
    * which changed the flatMapGroupsWithState state-encoder schema —
    * Spark does not evolve state schemas, so a query restored from a
    * checkpoint written by the pre-r16 operator fails to deserialize
    * its state. Restart from a FRESH checkpoint path on upgrade (or
    * version the checkpoint directory per state-schema revision). */
  def streamingHoltWinters(days: Dataset[DayCount],
                           damped: Boolean = false,
                           mul: Boolean = false): Dataset[HwFit] = {
    require(!(damped && mul), "damped and mul modes are exclusive")
    import days.sparkSession.implicits._
    import graft.operators.Timeseries
    days.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[DayCount],
         state: GroupState[HwStreamState]) =>
          val arrived = rows.toArray.sortBy(_.day.getTime)
          var st = state.getOption
            .getOrElse(HwStreamState(Vector.empty, 7L, 0L, 0L, Nil, false,
              Long.MinValue))
          val out = Array.newBuilder[HwFit]
          arrived.foreach { dRow =>
            // guard the per-series day-order invariant ACROSS batches
            // (within a batch the sort handles it): a duplicate or
            // late-arriving day would otherwise be stepped as the
            // next rank, silently corrupting the state and every
            // subsequent fit — drop it instead (the closed-day
            // contract says it was already consumed)
            val epochDay = dRow.day.toLocalDate.toEpochDay
            if (epochDay <= st.lastDay) ()
            else {
            st = st.copy(lastDay = epochDay)
            val yy = dRow.y * 1000000L
            if (!st.seeded) {
              val buf = st.bufE6 :+ yy
              if (buf.size < 14) st = st.copy(bufE6 = buf)
              else {
                // seed, then replay rows 8..14 exactly like the
                // batch loop (they feed the trend init AND step)
                var hw = if (mul) Timeseries.hwMulSeed(buf.toIndexedSeq)
                         else Timeseries.hwSeed(buf.toIndexedSeq)
                var r = 8
                while (r <= 14) {
                  val (fitted, next) =
                    if (mul) Timeseries.hwMulStep(hw, r, buf(r - 1))
                    else if (damped) Timeseries.hwStepDamped(hw, r, buf(r - 1))
                    else Timeseries.hwStep(hw, r, buf(r - 1))
                  out += HwFit(et, r.toLong, buf(r - 1) / 1000000L, fitted)
                  hw = next
                  r += 1
                }
                st = HwStreamState(Vector.empty, 14L, hw.l, hw.b, hw.sea,
                  seeded = true, lastDay = epochDay)
              }
            } else {
              val r = st.rank + 1
              val prev = Timeseries.HwState(st.lvl, st.trend, st.seaE6)
              val (fitted, next) =
                if (mul) Timeseries.hwMulStep(prev, r.toInt, yy)
                else if (damped) Timeseries.hwStepDamped(prev, r.toInt, yy)
                else Timeseries.hwStep(prev, r.toInt, yy)
              out += HwFit(et, r, dRow.y, fitted)
              st = HwStreamState(Vector.empty, r, next.l, next.b, next.sea,
                seeded = true, lastDay = epochDay)
            }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming per-user recommendations over the stored CF model
    * ([[graft.operators.Recommend.writeCfModel]]): each arriving
    * request carries ITS OWN history snapshot (one row per request —
    * a user's history is request state, not stream state), explodes to
    * (user, item) votes and joins the catalog²-bounded model, per
    * micro-batch through [[serveEachBatch]]. Two-batch parity with the
    * batch [[graft.operators.Recommend.recommendForUsers]] is spec'd
    * in StreamingSpec. */
  def streamingRecommend(reqs: Dataset[RecRequest], cfDir: String,
                         n: Int = 5)(writeBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    serveEachBatch(reqs) { batch =>
      graft.operators.Recommend.recommendForUsers(batch.sparkSession, cfDir,
        batch.toDF("user_id", "items")
          .select(col("user_id"), explode(col("items")).as("item")), n)
    }(writeBatch)

  /** One next-item request: the user's current context item. */
  case class NextRequest(user_id: Long, item: Long)

  /** One hybrid recommendation request: the user's interaction
    * history snapshot plus their current context item. */
  case class HybridRequest(user_id: Long, items: Seq[Long], ctx: Long)

  /** Streaming HYBRID serving over BOTH stored recommender models:
    * each arriving request explodes its history for the pruned CF
    * vote list and carries its context item for the pruned Markov
    * list; each micro-batch fuses the two via
    * [[graft.operators.Recommend.recommendHybridServeBatch]] through
    * [[serveEachBatch]]. Two-batch parity with the batch serve is
    * spec'd in StreamingSpec. */
  def streamingHybridRecommend(reqs: Dataset[HybridRequest], cfDir: String,
                               mkDir: String, k: Int = 5, depth: Int = 10)(
      writeBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    serveEachBatch(reqs) { batch =>
      val b = batch.toDF("user_id", "items", "ctx")
      graft.operators.Recommend.recommendHybridServeBatch(batch.sparkSession,
        cfDir, mkDir, b.select(col("user_id"), explode(col("items")).as("item")),
        b.select(col("user_id"), col("ctx").as("item")), k, depth)
    }(writeBatch)

  case class QueryVecLabeled(query_id: Long, embedding: Array[Float],
                             label: Int)

  // ---- streaming lexical search (pruned inverted-index probe) ------------

  case class QueryTerms(query_id: Long, terms: Seq[String])

  /** Streaming lexical search: arriving term queries probe a STANDING
    * inverted index ([[graft.operators.Search.writeInvertedIndexBucketed]]'s
    * layout) through [[serveEachBatch]]: each micro-batch's distinct
    * terms prune the postings scan via a pushed-down `token IN (...)`,
    * so per-batch cost tracks the probed posting lists, never the
    * corpus (BM25 stats live in the index, not in stream state).
    * Parity with the batch [[graft.operators.Search.bm25TopK]] on a
    * two-batch split is spec'd in SearchSpec. */
  def streamingBm25TopK(queries: Dataset[QueryTerms], indexDir: String,
                        k: Int = graft.operators.Search.DefaultK)(
                        writeBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    serveEachBatch(queries) { batch =>
      val s = batch.sparkSession
      import s.implicits._
      graft.operators.Search.bm25ServeBatch(s, indexDir,
        batch.flatMap(q => q.terms.map(q.query_id -> _)).toDF("query_id", "term"), k)
    }(writeBatch)

  /** Streaming phrase serving over the positional layout — the
    * [[streamingBm25TopK]] twin: each micro-batch of (query_id,
    * phrase terms) probes ONLY its terms' bucket directories via
    * [[graft.operators.Search.phraseServeBatch]]. The query batch is
    * driver-collected (bounded by the arriving batch, the phrase-set
    * contract). Two-batch parity with the batch serve is spec'd. */
  def streamingPhraseSearch(queries: Dataset[QueryTerms], posDir: String)(
                            writeBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    serveEachBatch(queries) { batch =>
      graft.operators.Search.phraseServeBatch(batch.sparkSession, posDir,
        batch.collect().map(q => q.query_id -> q.terms.toSeq).toSeq)
    }(writeBatch)

  /** Streaming SCD-2 sink: maintain a type-2 dimension history as a
    * parquet snapshot updated per micro-batch via
    * [[graft.operators.Upsert.scd2Apply]] — the SCD-2 twin of the
    * foreachBatch SCD-1 upsert sink. Each batch's affected keys
    * replay their stored change points + the batch; untouched
    * history passes through.
    *
    * The history is PARTITIONED by a key-hash bucket (`_kb`, one of
    * [[SinkBuckets]], an internal column — read back through
    * [[readScd2History]]), and each batch rewrites ONLY the buckets
    * its keys hash into ([[graft.sources.Compact.rewriteBuckets]]):
    * per-batch write cost tracks the batch's key spread, not the full
    * history — the bound that keeps a year-lived dimension sink
    * viable at 100 TB. At-least-once replays are IDEMPOTENT by construction: a
    * change event already present as a change point collapses against
    * itself in the run-collapse (spec'd). In-order batches per key,
    * like the batch operator. */
  def streamingScd2Sink(events: DataFrame, dir: String, key: String,
                        attr: String, ts: String, tie: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scd2SinkBatch(batch, dir, key, attr, ts, tie)
      }
      .start()

  /** The key-hash bucket count of the SCD-2 and CDC sinks, the same
    * for every sink: the layout does not record it, so the snapshot
    * writer and every later batch must agree on it. */
  private[graft] val SinkBuckets = 64

  private def sinkBucket(keys: Seq[String]) =
    pmod(xxhash64(keys.map(col): _*), lit(SinkBuckets)).cast("int")

  /** One micro-batch of the SCD-2 sink, exposed so batch callers can
    * drive the same bounded-write path the streaming sink runs. */
  def scd2SinkBatch(batch: DataFrame, dir: String, key: String,
                    attr: String, ts: String, tie: String): Unit = {
    val s = batch.sparkSession
    if (!committed(s, dir)) {
      graft.operators.Upsert.scd2Build(batch, key, attr, ts, tie)
        .withColumn("_kb", sinkBucket(Seq(key)))
        .write.mode("overwrite").partitionBy("_kb").parquet(dir)
    } else {
      graft.sources.Compact.rewriteBuckets(s, dir, "_kb", sinkBuckets(batch, Seq(key)))(
        slice => graft.operators.Upsert
          .scd2Apply(slice.drop("_kb"), batch, key, attr, ts, tie)
          .withColumn("_kb", sinkBucket(Seq(key))))
    }
    ()
  }

  /** Whether a sink's snapshot at `dir` has been written. */
  private def committed(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The sink buckets a batch's `keys` hash into (bounded by
    * [[SinkBuckets]]). */
  private def sinkBuckets(batch: DataFrame, keys: Seq[String]): Seq[Int] =
    batch.select(sinkBucket(keys)).distinct().collect().map(_.getInt(0)).toSeq

  /** Read back the [[streamingScd2Sink]] history without its internal
    * bucket column. */
  def readScd2History(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir).drop("_kb")

  // ---- streaming CDC apply ------------------------------------------------

  /** Initialize the snapshot a [[streamingCdcApply]] sink maintains:
    * the old snapshot written key-hash-bucketed (`_kb`), so every
    * later micro-batch rewrites only the buckets its diff keys hash
    * into. Read back through [[readCdcSnapshot]]. */
  def writeCdcSnapshot(df: DataFrame, dir: String, keys: Seq[String]): Unit =
    df.withColumn("_kb", sinkBucket(keys))
      .repartition(col("_kb"))
      .write.mode("overwrite").partitionBy("_kb").parquet(dir)

  /** The [[graft.operators.Cdc.applyCdc]] stream half: maintain a
    * keyed parquet snapshot folded from a stream of snapshotDiff-
    * style change rows (keys, change_type, old_/new_ columns) —
    * the incremental-refresh consumer that turns a few-GB daily/hourly
    * change feed into an always-current 100 TB table copy without
    * re-reading snapshots.
    *
    * Per micro-batch ([[cdcSinkBatch]], the scd2SinkBatch write
    * discipline): the batch's affected key-hash buckets are read
    * partition-pruned, the diff folds in, and ONLY those buckets are
    * rewritten ([[graft.sources.Compact.rewriteBuckets]]) — write
    * cost tracks the batch's key spread, never the snapshot. The fold is
    * UPSERT-flavored (ALL diff keys drop out of the kept slice, then
    * insert/update rows come back in), which makes at-least-once
    * replays idempotent: a replayed insert re-lands on its own key
    * instead of duplicating, a replayed delete anti-joins nothing
    * (spec'd) — on a true diff it equals applyCdc exactly. A bucket a
    * delete-only batch drains entirely is removed. In-order batches
    * per key, like the batch operator. */
  def streamingCdcApply(diffs: DataFrame, dir: String, keys: Seq[String],
                        compareCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    diffs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cdcSinkBatch(batch, dir, keys, compareCols)
      }
      .start()

  /** One micro-batch of the CDC sink, exposed so batch callers drive
    * the same bounded-write path. */
  def cdcSinkBatch(batch: DataFrame, dir: String, keys: Seq[String],
                   compareCols: Seq[String]): Unit = {
    val s = batch.sparkSession
    val incoming = batch
      .filter(col("change_type").isin("insert", "update"))
      .select(keys.map(col) ++
        compareCols.map(c => col("new_" + c).as(c)): _*)
    if (!committed(s, dir)) {
      // bootstrap from empty: inserts/updates land, deletes no-op
      writeCdcSnapshot(incoming, dir, keys)
    } else {
      // upsert fold: ALL diff keys leave the kept slice (idempotent
      // replay), insert/update rows come back with their new values
      val touched = batch.select(keys.map(col): _*).distinct()
      graft.sources.Compact.rewriteBuckets(s, dir, "_kb", sinkBuckets(batch, keys))(
        _.drop("_kb").join(touched, keys, "left_anti")
          .unionByName(incoming)
          .withColumn("_kb", sinkBucket(keys)))
    }
    ()
  }

  /** The maintained CDC snapshot without its internal bucket column. */
  def readCdcSnapshot(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir).drop("_kb")

  case class QueryHybrid(query_id: Long, terms: Seq[String],
                         embedding: Array[Float])

  /** Streaming HYBRID search: each arriving query carries a term set
    * and an embedding; per micro-batch the bucket-pruned lexical probe
    * and the bucket-pruned IVF probe both run as batch plans and fuse
    * via RRF ([[graft.operators.Search.hybridServeBatch]]) through
    * [[serveEachBatch]]. */
  def streamingHybridTopK(queries: Dataset[QueryHybrid], invDir: String,
                          ivfDir: String, cents: Array[Array[Double]],
                          k: Int = graft.operators.Search.DefaultK,
                          depth: Int = 20,
                          nprobe: Int = graft.operators.Similarity.IvfNprobe,
                          weights: Seq[Double] = Nil)(
                          writeBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    serveEachBatch(queries) { batch =>
      val s = batch.sparkSession
      import s.implicits._
      val b = batch.localCheckpoint() // two probes, one materialization
      graft.operators.Search.hybridServeBatch(s, invDir, ivfDir, cents,
        b.flatMap(q => q.terms.map(q.query_id -> _)).toDF("query_id", "term"),
        b.map(q => (q.query_id, q.embedding)).toDF("query_id", "embedding"),
        k, depth, nprobe, weights)
    }(writeBatch)

  /** Run the tumbling aggregation as a real streaming query into an
    * in-memory sink and return the sink contents (used by specs and
    * local smoke runs; `processAllAvailable` drains the source). */
  def runToMemory(spark: SparkSession, source: DataFrame, name: String): DataFrame = {
    val q = tumblingCounts(source).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
