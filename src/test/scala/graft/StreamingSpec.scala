package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("tumbling counts over a file-source stream match the batch query") {
    // stage the events parquet as a source directory
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val streamed = EventStream.runToMemory(spark,
      EventStream.readEvents(spark, dir), "tumbling_test")
    // watermark in append mode withholds the max-event-time windows,
    // so compare as subset of the batch result
    val batch = EventStream.tumblingCounts(Tables.events(spark, sf))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val got = streamed.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(batch))
  }

  test("stream-stream interval join matches its batch execution") {
    val dir = java.nio.file.Files.createTempDirectory("evjoin").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = EventStream.clickPurchaseJoin(EventStream.readEvents(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_test").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ss_join_test").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    val batch = EventStream.clickPurchaseJoin(Tables.events(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(streamed.nonEmpty)
    // append-mode watermarking may withhold the newest rows; parity is
    // subset in one direction, equality on the withheld-free prefix
    assert(streamed.subsetOf(batch))
    assert(streamed.size >= batch.size / 2)
  }

  test("streaming anomaly stats are bit-equal to batch and flag identically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"))
    val rows = ev.select("user_id", "value").as[(Long, Double)]
      .collect().toSeq
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, Double)]
    val q = EventStream.streamingAnomalyStats(input.toDS())
      .toDF("user_id", "n", "mean", "variance", "std")
      .writeStream.outputMode("update")
      .format("memory").queryName("anomaly_stats_test").start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // Update mode re-emits a user on every batch that touches it —
    // the LAST emission per user is the live state
    val emitted = spark.table("anomaly_stats_test").collect()
    val statsByUser = emitted.map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(4))).toMap
    val batchStats = graft.operators.Timeseries.anomalyStats(ev).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // bit-equality of the doubles (same decimal->double casts)
    batchStats.foreach { case (u, (m, s)) =>
      val (_, sm, ss) = statsByUser(u)
      assert(sm == m && ss == s, s"user $u stats drifted")
    }
    // composed read-out: identical flagged events
    val streamedStats = statsByUser.toSeq
      .map { case (u, (_, m, s)) => (u, m, s) }
      .toDF("user_id", "mean", "std")
      .filter(col("std") > 0)
    val gotFlags = graft.operators.Timeseries.anomalyFlag(ev, streamedStats)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantFlags = graft.operators.Timeseries
      .anomalyFlag(ev, graft.operators.Timeseries.anomalyStats(ev))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotFlags == wantFlags && wantFlags.nonEmpty)
  }

  test("streaming upsert sink maintains a last-write-wins snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    val input = MemoryStream[(String, String, Long)]
    val q = EventStream.upsertSink(
      input.toDS().toDF("id", "payload", "v"), dir, Seq("id"), "v")
    input.addData(("a", "a1", 1L), ("b", "b1", 1L))
    q.processAllAvailable()
    input.addData(("b", "b2", 2L), ("c", "c1", 2L))
    q.processAllAvailable()
    q.stop()
    val snap = EventStream.latestSnapshot(spark, dir).get
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(snap == Map("a" -> "a1", "b" -> "b2", "c" -> "c1"))
  }

  test("checkpointed query resumes after stop without duplicating output") {
    // graceful shutdown + resume: the engine-side analog of the
    // reference's restart-safe batch loop (runner.py / lock table)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("ckptout").toString
    val input = MemoryStream[Event]
    def start() = input.toDS().toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()

    val q1 = start()
    input.addData(Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0))
    q1.processAllAvailable()
    q1.stop() // graceful shutdown mid-stream

    val q2 = start() // resume from the checkpoint
    input.addData(Event(2, ts("2024-01-01 00:01:00"), 1, "view", 2.0))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 2L)), s"got ${got.toList}")
  }

  test("streaming exact dedup matches the batch keeper set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.DocIn]
    val q = EventStream.streamingDedup(input.toDS())
      .toDF("content_hash", "keeper_id")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_stream_test").start()
    // batch 1: the original corpus; batch 2: the planted duplicates —
    // first-seen keepers must equal the batch keep-min-id keepers
    val docs = operators.Dedup.withPlants(Tables.documents(spark, sf))
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .as[EventStream.DocIn].collect()
    val (originals, plants) = docs.partition(_.doc_id < 100000)
    input.addData(originals.toSeq)
    q.processAllAvailable()
    input.addData(plants.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_stream_test").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchKeepers = operators.Dedup.withPlants(Tables.documents(spark, sf))
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batchKeepers)
    // replaying the duplicate batch emits nothing new (idempotent)
    assert(streamed.size == batchKeepers.size)
  }

  test("streaming chunk dedup matches the batch chunk-keeper view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.DocText]
    val q = EventStream.streamingChunkDedup(input.toDS())
      .toDF("chunk_hash", "keeper_doc")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("chunk_dedup_stream_test").start()
    // batch 1 originals, batch 2 plants (higher ids): first-seen
    // keeper per CHUNK hash == the batch min-doc keeper, because the
    // planted duplicates arrive strictly after the originals
    val docs = operators.Dedup.withPlants(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text"))
      .as[EventStream.DocText].collect()
    val (originals, plants) = docs.partition(_.doc_id < 100000)
    input.addData(originals.toSeq)
    q.processAllAvailable()
    input.addData(plants.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("chunk_dedup_stream_test").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchKeepers = operators.Dedup
      .chunkCdc(operators.Dedup.withPlants(Tables.documents(spark, sf)))
      .groupBy(col("chunk_hash"))
      .agg(min(col("doc_id")).as("keeper_doc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batchKeepers)
    // duplicate chunks really exist (the plants guarantee repeats
    // across docs), yet each hash emitted exactly once
    assert(streamed.size == batchKeepers.size)
    assert(streamed.nonEmpty)
  }

  test("streaming line dedup matches the batch line-keeper view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.DocText]
    val q = EventStream.streamingLineDedup(input.toDS())
      .toDF("line_hash", "keeper_doc")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("line_dedup_stream_test").start()
    // batch 1 originals, batch 2 plants (higher ids): first-seen
    // keeper per LINE hash == the batch min-doc keeper, because the
    // planted duplicates arrive strictly after the originals
    val docs = operators.Dedup.withPlants(Tables.documents(spark, sf))
      .select(col("doc_id"), col("text"))
      .as[EventStream.DocText].collect()
    val (originals, plants) = docs.partition(_.doc_id < 100000)
    input.addData(originals.toSeq)
    q.processAllAvailable()
    input.addData(plants.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("line_dedup_stream_test").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchKeepers = operators.Dedup
      .docLines(operators.Dedup.withPlants(Tables.documents(spark, sf)))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper_doc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batchKeepers)
    // duplicate lines really exist (the boilerplate plants guarantee
    // cross-doc repeats), yet each hash emitted exactly once
    assert(streamed.size == batchKeepers.size)
    assert(streamed.nonEmpty)
  }

  test("streaming incremental line dedup consumes the maintained line index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lineidxstream")
      .toString + "/idx"
    val corpus = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    operators.Dedup.writeLineIndex(corpus, dir)
    val idx = spark.read.parquet(dir)
    val input = MemoryStream[EventStream.DocText]
    val q = EventStream.streamingIncrementalLineDedup(input.toDS(), idx)
      .toDF("line_hash", "keeper_doc")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("inc_line_stream_test").start()
    // arrivals: a copy of corpus doc 1's text under an id whose lines
    // (incl. plants, 1001 ≡ 0 mod 7 and mod 11 — both corpus-held)
    // are ALL corpus-known — must emit NOTHING — and two later copies
    // of a novel doc (its lines emit ONCE, keyed to the first arrival)
    val copyText = corpus.filter(col("doc_id") === 1)
      .head.getAs[String]("text")
    val novelText = (1 to 25).map(i => s"streamnovel$i").mkString(" ")
    input.addData(Seq(EventStream.DocText(1001L, copyText),
      EventStream.DocText(7001L, novelText)))
    q.processAllAvailable()
    input.addData(Seq(EventStream.DocText(7002L, novelText)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("inc_line_stream_test").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every emission is keyed to the FIRST arrival of the novel doc
    assert(got.nonEmpty && got.values.forall(_ == 7001L))
    // and equals exactly the novel doc's corpus-unknown line hashes
    val novelHashes = operators.Dedup.linesOf(7001L, novelText)
      .map(_._4).toSet
    val corpusHashes = idx.select(col("line_hash"))
      .collect().map(_.getLong(0)).toSet
    assert(got.keySet == novelHashes -- corpusHashes)
  }

  test("streaming incremental chunk dedup consumes the maintained chunk index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // standing corpus = the maintained chunk-index artifact
    val dir = java.nio.file.Files.createTempDirectory("chunkidxstream")
      .toString + "/idx"
    val corpus = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    operators.Dedup.writeChunkIndex(corpus, dir)
    val idx = spark.read.parquet(dir)
    val input = MemoryStream[EventStream.DocText]
    val q = EventStream.streamingIncrementalChunkDedup(input.toDS(), idx)
      .toDF("chunk_hash", "keeper_doc")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("inc_chunk_stream_test").start()
    // arrivals: an exact copy of corpus doc 1 (all chunks corpus-known
    // — must emit NOTHING) and two later copies of a novel doc (its
    // chunks emit ONCE, keyed to the first arrival)
    val copy = corpus.filter(col("doc_id") === 1)
      .select(col("doc_id") + 1000, col("text"))
      .as[(Long, String)].collect()
      .map { case (id, t) => EventStream.DocText(id, t) }
    val novelText = "a stream-novel paragraph the corpus never carried; " +
      "it is long enough to decompose into several cdc chunks for sure " * 3
    input.addData(copy.toSeq :+ EventStream.DocText(7001L, novelText))
    q.processAllAvailable()
    input.addData(Seq(EventStream.DocText(7002L, novelText)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("inc_chunk_stream_test").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every emission is keyed to the FIRST arrival of the novel doc
    assert(got.nonEmpty && got.values.forall(_ == 7001L))
    // and equals exactly the novel doc's corpus-unknown chunk hashes
    val novelHashes = operators.Dedup.cdcChunksOf(novelText)
      .map(_._4).toSet
    val corpusHashes = idx.select(col("chunk_hash"))
      .collect().map(_.getLong(0)).toSet
    assert(got.keySet == novelHashes -- corpusHashes)
  }

  test("streaming incremental dedup: corpus hashes drop statelessly, stream novelty dedups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // standing corpus = the raw docs' hashes (static frame)
    val corpus = Tables.documents(spark, sf)
      .select(md5(col("text")).as("content_hash")).distinct()
    val input = MemoryStream[EventStream.DocIn]
    val q = EventStream.streamingIncrementalDedup(input.toDS(), corpus)
      .toDF("content_hash", "keeper_id")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("inc_dedup_stream_test").start()
    // arriving batch: the exact plants (corpus dups — must ALL drop)
    // plus two genuinely novel docs, the second repeated in-stream
    val plants = operators.Dedup.withPlants(Tables.documents(spark, sf))
      .filter(col("doc_id") >= 100000 && col("doc_id") < 100025)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .as[EventStream.DocIn].collect()
    input.addData(plants.toSeq :+ EventStream.DocIn(900001L, "novelhash1"))
    q.processAllAvailable()
    input.addData(Seq(EventStream.DocIn(900002L, "novelhash2"),
      EventStream.DocIn(900003L, "novelhash2"),   // in-batch dup
      EventStream.DocIn(900004L, "novelhash1")))  // cross-batch dup
    q.processAllAvailable()
    q.stop()
    val got = spark.table("inc_dedup_stream_test").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("novelhash1" -> 900001L, "novelhash2" -> 900002L))
  }

  test("streaming IVF search matches the batch annIvf on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    // the standing corpus = the bucket-partitioned IVF layout (the
    // serving shape); centroids are the same trained artifact the
    // batch query uses
    val dir = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, dir)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVec]
    // queries here REPLAY corpus vectors (the benchmark form), so
    // self-exclusion is opted in to match the batch annIvf semantics
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Similarity.annIvfServeBatch(b.sparkSession, dir, cents,
        b.toDF("query_id", "embedding"), excludeSelf = true)) {
      topk => results ++= topk.collect().map(_.toSeq)
    }
    // a query's candidates are complete within its arrival batch, so
    // the split must not change any answer
    input.addData(queries.take(5).toSeq)
    q.processAllAvailable()
    input.addData(queries.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Similarity.annIvf(spark, sf).collect().map(_.toSeq).toSet
    assert(results.nonEmpty)
    assert(results.toSet == batch,
      s"streaming ${results.size} rows != batch ${batch.size}")
  }

  test("streaming graph-walk search matches the one-shot serve on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("gwstream").toString + "/g"
    Similarity.writeKnnGraph(Tables.embeddings(spark, sf),
      Similarity.ivfCentroids(spark, sf), dir, k = 8)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVec]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Similarity.annGraphWalkServeBatch(b.sparkSession, dir,
        b.toDF("query_id", "embedding"), excludeSelf = true)) {
      topk => results ++= topk.collect().map(_.toSeq)
    }
    // a walk is per-query independent, so the split changes nothing
    input.addData(queries.take(5).toSeq)
    q.processAllAvailable()
    input.addData(queries.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val oneShot = Similarity.annGraphWalkServeBatch(spark, dir,
        Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding")),
        excludeSelf = true)
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == oneShot)
  }

  test("streaming prefix IVF search matches the batch annIvfPrefix on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivfprefstream").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, dir)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVec]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Similarity.annIvfPrefixServeBatch(b.sparkSession, dir,
        Similarity.FloatCodec(cents), b.toDF("query_id", "embedding"),
        excludeSelf = true)) {
      topk => results ++= topk.collect().map(_.toSeq)
    }
    input.addData(queries.take(5).toSeq)
    q.processAllAvailable()
    input.addData(queries.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Similarity.annIvfPrefix(spark, sf).collect().map(_.toSeq).toSet
    assert(results.nonEmpty)
    assert(results.toSet == batch,
      s"streaming ${results.size} rows != batch ${batch.size}")
  }

  test("streaming filtered IVF search matches the batch annIvfFiltered on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivffiltstream").toString
    val labeled = Similarity.writeLayout(
      Similarity.LabeledCodec(Similarity.ivfCentroids(spark, sf)),
      Tables.embeddings(spark, sf), dir)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)].collect()
      .map { case (id, v, lb) => EventStream.QueryVecLabeled(id, v, lb) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVecLabeled]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Similarity.annIvfFilteredServeBatch(b.sparkSession, dir, labeled,
        b.toDF("query_id", "embedding", "label"), excludeSelf = true)) {
      topk => results ++= topk.collect().map(_.toSeq)
    }
    input.addData(queries.take(5).toSeq)
    q.processAllAvailable()
    input.addData(queries.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Similarity.annIvfFiltered(spark, sf).collect().map(_.toSeq).toSet
    assert(results.nonEmpty)
    assert(results.toSet == batch,
      s"streaming ${results.size} rows != batch ${batch.size}")
  }

  test("streaming SQ8 IVF search matches the batch annIvfSq8 on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8stream").toString
    val (mns, mxs) = Similarity.sq8Grid(Tables.embeddings(spark, sf))
    val sq8 = Similarity.writeLayout(
      Similarity.Sq8Codec(Similarity.ivfCentroids(spark, sf), mns, mxs),
      Tables.embeddings(spark, sf), dir)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVec]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Similarity.annIvfSq8ServeBatch(b.sparkSession, dir, sq8,
        b.toDF("query_id", "embedding"), excludeSelf = true)) {
      topk => results ++= topk.collect().map(_.toSeq)
    }
    input.addData(queries.take(5).toSeq)
    q.processAllAvailable()
    input.addData(queries.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Similarity.annIvfSq8(spark, sf).collect().map(_.toSeq).toSet
    assert(results.nonEmpty)
    assert(results.toSet == batch,
      s"streaming ${results.size} rows != batch ${batch.size}")
  }

  test("streaming whitened search matches the batch annIvfWhite on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivfwhitestream").toString
    val m = Similarity.writeLayout(Similarity.whitenModel(spark, sf),
      Tables.embeddings(spark, sf), dir)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVec]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Similarity.annIvfWhiteServeBatch(b.sparkSession, dir, m,
        b.toDF("query_id", "embedding"), excludeSelf = true)) {
      topk => results ++= topk.collect().map(_.toSeq)
    }
    input.addData(queries.take(5).toSeq)
    q.processAllAvailable()
    input.addData(queries.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Similarity.annIvfWhite(spark, sf).collect().map(_.toSeq).toSet
    assert(results.nonEmpty)
    assert(results.toSet == batch,
      s"streaming ${results.size} rows != batch ${batch.size}")
  }

  test("streaming IVF-PQ search matches the batch annIvfPq on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivfpqstream").toString
    val emb = Tables.embeddings(spark, sf)
    val pq = Similarity.writeLayout(Similarity.PqCodec(
      Similarity.ivfCentroids(spark, sf), Similarity.pqResidualCodebooks(spark, sf)),
      emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVec]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Similarity.annIvfPqServeBatch(b.sparkSession, dir, pq,
        b.toDF("query_id", "embedding"), emb, excludeSelf = true)) {
      topk => results ++= topk.collect().map(_.toSeq)
    }
    input.addData(queries.take(5).toSeq)
    q.processAllAvailable()
    input.addData(queries.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Similarity.annIvfPq(spark, sf).collect().map(_.toSeq).toSet
    assert(results.nonEmpty)
    assert(results.toSet == batch,
      s"streaming ${results.size} rows != batch ${batch.size}")
  }

  test("streaming hard-negative mining matches the batch serve on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Classify
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("hnstream")
      .toString + "/layout"
    val emb = Tables.embeddings(spark, sf)
    val labeled = Similarity.writeLayout(
      Similarity.LabeledCodec(Similarity.ivfCentroids(spark, sf)), emb, dir)
    val anchors = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)].collect()
      .map { case (id, v, l) => EventStream.QueryVecLabeled(id, v, l) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVecLabeled]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Classify.mineHardNegativesServeBatch(b.sparkSession, dir, labeled,
        b.toDF("query_id", "embedding", "label"))) {
      negs => results ++= negs.collect().map(_.toSeq)
    }
    input.addData(anchors.take(5).toSeq)
    q.processAllAvailable()
    input.addData(anchors.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Classify.mineHardNegativesServeBatch(spark, dir, labeled,
        emb.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("label"),
            col("embedding")))
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming quality gate matches the batch serve on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Classify
    val dir = java.nio.file.Files.createTempDirectory("qualstream")
      .toString + "/quality"
    val docs = Tables.documents(spark, sf)
    Classify.writeQualityModel(docs, dir)
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => EventStream.DocText(id, t) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.DocText]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Classify.qualityNbServeBatch(b.sparkSession, dir, b.toDF("doc_id", "text"))) {
      scores => results ++= scores.collect().map(_.toSeq)
    }
    // per-doc answers are batch-independent: the split changes nothing
    input.addData(newDocs.take(10).toSeq)
    q.processAllAvailable()
    input.addData(newDocs.drop(10).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Classify.qualityNbServeBatch(spark, dir,
        docs.filter(col("doc_id") % 5 === 0))
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming recommendations match the batch serve on a user-split two-batch stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Recommend
    val dir = java.nio.file.Files.createTempDirectory("cfstream")
      .toString + "/cf"
    val inter = Recommend.interactions(Tables.events(spark, sf))
      .localCheckpoint()
    Recommend.writeCfModel(inter, dir)
    // each request carries its own history snapshot (the serving
    // contract) — splitting REQUESTS across batches changes nothing
    val reqs = inter.filter(col("user_id") < 6).as[(Long, Long)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (u, rows) =>
        EventStream.RecRequest(u, rows.map(_._2).sorted.toSeq) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.RecRequest]
    val q = EventStream.streamingRecommend(input.toDS(), dir) {
      recs => results ++= recs.collect().map(_.toSeq)
    }
    input.addData(reqs.take(3))
    q.processAllAvailable()
    input.addData(reqs.drop(3))
    q.processAllAvailable()
    q.stop()
    val batch = Recommend.recommendForUsers(spark, dir,
        inter.filter(col("user_id") < 6))
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming Markov next-item serving matches the batch serve on a two-batch request split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Recommend
    val dir = java.nio.file.Files.createTempDirectory("markovstream")
      .toString + "/mk"
    val events = Tables.events(spark, sf)
    Recommend.writeMarkovModel(events, dir)
    val reqs = (0L until 8L).map(i => EventStream.NextRequest(800L + i, i))
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.NextRequest]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Recommend.markovNextServeBatch(b.sparkSession, dir, b.toDF("user_id", "item"))) {
      recs => results ++= recs.collect().map(_.toSeq)
    }
    input.addData(reqs.take(4)); q.processAllAvailable()
    input.addData(reqs.drop(4)); q.processAllAvailable()
    q.stop()
    val batch = Recommend.markovNextServeBatch(spark, dir,
        reqs.map(r => (r.user_id, r.item)).toDF("user_id", "item"))
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming hybrid serving matches the batch fused serve on a two-batch request split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Recommend
    val base = java.nio.file.Files.createTempDirectory("hybstream").toString
    val events = Tables.events(spark, sf)
    val inter = Recommend.interactions(events).localCheckpoint()
    Recommend.writeCfModel(inter, s"$base/cf")
    Recommend.writeMarkovModel(events, s"$base/mk")
    val reqs = inter.filter(col("user_id") < 6).as[(Long, Long)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (u, rows) =>
        val items = rows.map(_._2).sorted.toSeq
        EventStream.HybridRequest(u, items, items.max) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.HybridRequest]
    val q = EventStream.streamingHybridRecommend(input.toDS(),
        s"$base/cf", s"$base/mk") {
      recs => results ++= recs.collect().map(_.toSeq)
    }
    input.addData(reqs.take(3)); q.processAllAvailable()
    input.addData(reqs.drop(3)); q.processAllAvailable()
    q.stop()
    val history = reqs.flatMap(r => r.items.map(i => (r.user_id, i)))
      .toDF("user_id", "item")
    val ctx = reqs.map(r => (r.user_id, r.ctx)).toDF("user_id", "item")
    val batch = Recommend.recommendHybridServeBatch(spark,
        s"$base/cf", s"$base/mk", history, ctx)
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming Holt-Winters matches the batch fitted rows on a mid-seeding split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Timeseries
    val ys = (0 until 25).map(i =>
      100L + 3L * i + Seq(5L, -2L, 7L, 0L, -4L, 2L, 1L)(i % 7) + (i * i % 5))
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.parse("2024-01-01").plusDays(i))
    val rows = ys.zipWithIndex.map { case (y, i) =>
      EventStream.DayCount("a", day(i), y) }
    val input = MemoryStream[EventStream.DayCount]
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventStream.streamingHoltWinters(input.toDS()).writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.HwFit],
                       _: Long) =>
        results ++= b.collect().map(f =>
          Seq(f.event_type, f.r, f.y, f.fitted_e6)); ()
      }
      .start()
    // split MID-SEEDING (10 < 14) and again mid-recurrence
    input.addData(rows.take(10)); q.processAllAvailable()
    input.addData(rows.slice(10, 18)); q.processAllAvailable()
    input.addData(rows.drop(18)); q.processAllAvailable()
    q.stop()
    val batch = Timeseries.holtWintersOn(
        ys.zipWithIndex.map { case (y, i) => ("a", day(i), y) }
          .toDF("event_type", "day", "y"))
      .filter(col("y") > 0).collect()
      .map(r => Seq(r.getAs[String]("event_type"), r.getAs[Long]("r"),
        r.getAs[Long]("y"), r.getAs[Long]("fitted_e6"))).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming DAMPED Holt-Winters matches the batch damped fit on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Timeseries
    val ys = (0 until 25).map(i =>
      80L + 5L * i + Seq(4L, -1L, 6L, 0L, -3L, 2L, 1L)(i % 7))
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.parse("2024-01-01").plusDays(i))
    val rows = ys.zipWithIndex.map { case (y, i) =>
      EventStream.DayCount("a", day(i), y) }
    val input = MemoryStream[EventStream.DayCount]
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventStream.streamingHoltWinters(input.toDS(), damped = true)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.HwFit],
                       _: Long) =>
        results ++= b.collect().map(f =>
          Seq(f.event_type, f.r, f.y, f.fitted_e6)); ()
      }
      .start()
    input.addData(rows.take(16)); q.processAllAvailable()
    input.addData(rows.drop(16)); q.processAllAvailable()
    q.stop()
    val batch = Timeseries.holtWintersOn(
        ys.zipWithIndex.map { case (y, i) => ("a", day(i), y) }
          .toDF("event_type", "day", "y"), damped = true)
      .filter(col("y") > 0).collect()
      .map(r => Seq(r.getAs[String]("event_type"), r.getAs[Long]("r"),
        r.getAs[Long]("y"), r.getAs[Long]("fitted_e6"))).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming MULTIPLICATIVE Holt-Winters matches the batch ratio fit on a mid-seeding split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Timeseries
    // amplitude scales with level — the multiplicative regime
    val ratios = Seq(1.5, 0.5, 1.25, 0.75, 1.0, 1.25, 0.75)
    val ys = (0 until 25).map(i => ((100 + 4 * i) * ratios(i % 7)).round)
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.parse("2024-01-01").plusDays(i))
    val rows = ys.zipWithIndex.map { case (y, i) =>
      EventStream.DayCount("a", day(i), y) }
    val input = MemoryStream[EventStream.DayCount]
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventStream.streamingHoltWinters(input.toDS(), mul = true)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.HwFit],
                       _: Long) =>
        results ++= b.collect().map(f =>
          Seq(f.event_type, f.r, f.y, f.fitted_e6)); ()
      }
      .start()
    // split MID-SEEDING (10 < 14) and again mid-recurrence
    input.addData(rows.take(10)); q.processAllAvailable()
    input.addData(rows.slice(10, 18)); q.processAllAvailable()
    input.addData(rows.drop(18)); q.processAllAvailable()
    q.stop()
    val batch = Timeseries.holtWintersMulOn(
        ys.zipWithIndex.map { case (y, i) => ("a", day(i), y) }
          .toDF("event_type", "day", "y"))
      .filter(col("y") > 0).collect()
      .map(r => Seq(r.getAs[String]("event_type"), r.getAs[Long]("r"),
        r.getAs[Long]("y"), r.getAs[Long]("fitted_e6"))).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming Holt-Winters drops replayed and late-arriving days instead of corrupting state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Timeseries
    val ys = (0 until 25).map(i =>
      100L + 3L * i + Seq(5L, -2L, 7L, 0L, -4L, 2L, 1L)(i % 7) + (i * i % 5))
    def day(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.parse("2024-01-01").plusDays(i))
    val rows = ys.zipWithIndex.map { case (y, i) =>
      EventStream.DayCount("a", day(i), y) }
    val input = MemoryStream[EventStream.DayCount]
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventStream.streamingHoltWinters(input.toDS()).writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.HwFit],
                       _: Long) =>
        results ++= b.collect().map(f =>
          Seq(f.event_type, f.r, f.y, f.fitted_e6)); ()
      }
      .start()
    input.addData(rows.take(18)); q.processAllAvailable()
    // batch 2 REPLAYS the tail of batch 1 (a source retry) and one
    // much earlier day (late arrival) — the day-order guard must
    // drop all four, not step them as fresh ranks; a corrupted value
    // rides the replayed day to prove the duplicate isn't re-stepped
    val poisoned = rows.slice(15, 18).map(_.copy(y = 999999L)) ++
      Seq(rows(2).copy(y = 888888L))
    input.addData(poisoned ++ rows.drop(18)); q.processAllAvailable()
    q.stop()
    val batch = Timeseries.holtWintersOn(
        ys.zipWithIndex.map { case (y, i) => ("a", day(i), y) }
          .toDF("event_type", "day", "y"))
      .filter(col("y") > 0).collect()
      .map(r => Seq(r.getAs[String]("event_type"), r.getAs[Long]("r"),
        r.getAs[Long]("y"), r.getAs[Long]("fitted_e6"))).toSet
    assert(results.toSet == batch,
      "replayed/late days must leave the fit stream identical to the clean run")
  }

  test("streaming NB classification matches the batch serve on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Classify
    val dir = java.nio.file.Files.createTempDirectory("nbstream").toString + "/nb"
    val docs = Tables.documents(spark, sf)
    Classify.writeNbModel(docs.filter(col("doc_id") % 5 =!= 0), dir)
    val testDocs = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => EventStream.DocText(id, t) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.DocText]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Classify.classifyNbServeBatch(b.sparkSession, dir, b.toDF("doc_id", "text"))) {
      preds => results ++= preds.collect().map(_.toSeq)
    }
    // per-doc answers are batch-independent: the split changes nothing
    input.addData(testDocs.take(10).toSeq)
    q.processAllAvailable()
    input.addData(testDocs.drop(10).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Classify.classifyNbServeBatch(spark, dir, docs.filter(col("doc_id") % 5 === 0))
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming centroid classification matches the batch serve on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Classify
    val dir = java.nio.file.Files.createTempDirectory("centstream").toString + "/cent"
    val emb = Tables.embeddings(spark, sf)
    Classify.writeCentroidModel(emb.filter(col("vec_id") % 5 =!= 0), dir)
    val testVecs = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVec]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Classify.classifyCentroidServeBatch(b.sparkSession, dir,
        b.toDF("vec_id", "embedding"))) {
      preds => results ++= preds.collect().map(_.toSeq)
    }
    // per-vector answers are batch-independent: the split changes nothing
    input.addData(testVecs.take(10).toSeq)
    q.processAllAvailable()
    input.addData(testVecs.drop(10).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Classify.classifyCentroidServeBatch(spark, dir,
        emb.filter(col("vec_id") % 5 === 0))
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming kNN classification matches the batch serve on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Classify
    val dir = java.nio.file.Files.createTempDirectory("knnstream").toString + "/layout"
    val emb = Tables.embeddings(spark, sf)
    val labeled = graft.operators.Similarity.writeLayout(
      graft.operators.Similarity.LabeledCodec(
        graft.operators.Similarity.ivfCentroids(spark, sf)),
      emb.filter(col("vec_id") % 5 =!= 0), dir)
    val testVecs = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[EventStream.QueryVec]
    val q = EventStream.serveEachBatch(input.toDS())(b =>
      Classify.classifyKnnServeBatch(b.sparkSession, dir, labeled,
        b.toDF("query_id", "embedding"))) {
      preds => results ++= preds.collect().map(_.toSeq)
    }
    input.addData(testVecs.take(10).toSeq)
    q.processAllAvailable()
    input.addData(testVecs.drop(10).toSeq)
    q.processAllAvailable()
    q.stop()
    val batch = Classify.classifyKnnServeBatch(spark, dir, labeled,
        emb.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("query_id"), col("embedding")))
      .collect().map(_.toSeq).toSet
    assert(results.nonEmpty && results.toSet == batch)
  }

  test("streaming HLL estimate equals the batch sketch on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val keyed = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id").cast("string"))
      .as[(String, String)].collect()
    val (a, b) = keyed.splitAt(keyed.length / 2)
    val input = MemoryStream[(String, String)]
    val q = EventStream.streamingSketchDistinct(input.toDS())
      .toDF("grp", "estimate")
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hll_stream_test").start()
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    q.stop()
    // Update sink: the LAST estimate per group is the live one
    val streamed = spark.table("hll_stream_test").collect()
      .zipWithIndex
      .groupBy(_._1.getString(0))
      .map { case (g, rows) => g -> rows.maxBy(_._2)._1.getDouble(1) }
    val batch = operators.Sketches
      .hllEstimate(operators.Sketches.hllRegisters(
        Tables.events(spark, sf).select(col("event_type").as("grp"),
          col("user_id").cast("string").as("key"))))
      .select("grp", "estimate")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed == batch,
      s"streaming HLL $streamed != batch $batch")
  }

  test("streaming CMS counters equal the batch sketch on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val toks = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .as[String].collect()
    val (a, b) = toks.splitAt(toks.length / 2)
    val input = MemoryStream[String]
    val q = EventStream.streamingCmsCounters(input.toDS())
      .toDF("j", "b", "c")
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("cms_stream_test").start()
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream_test").collect()
      .zipWithIndex.groupBy(r => (r._1.getInt(0), r._1.getLong(1)))
      .map { case (k, rows) => k -> rows.maxBy(_._2)._1.getLong(2) }
    val batch = operators.Sketches.cmsCounters(
        graft.functions.TextFunctions.tokenCounts(Tables.documents(spark, sf)))
      .collect().map(r => (r.getAs[Int]("j"), r.getAs[Long]("b")) -> r.getAs[Long]("c"))
      .toMap
    assert(streamed == batch,
      s"${streamed.size} streaming counters vs ${batch.size} batch")
  }

  test("streaming quantile counters match a driver-side recount on a two-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("value").cast("double"))
      .as[(String, Double)].collect()
    val grid = ev.groupBy(_._1).map { case (g, rs) =>
      g -> (rs.map(_._2).min, rs.map(_._2).max) }
    val (a, b) = ev.splitAt(ev.length / 2)
    val input = MemoryStream[(String, Double)]
    val q = EventStream.streamingQuantileCounters(input.toDS(), grid)
      .toDF("grp", "b", "c")
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("qs_stream_test").start()
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qs_stream_test").collect()
      .zipWithIndex.groupBy(r => (r._1.getString(0), r._1.getInt(1)))
      .map { case (k, rows) => k -> rows.maxBy(_._2)._1.getLong(2) }
    val expected = ev.groupBy { case (g, v) =>
      val (mn, mx) = grid(g)
      val raw = if (mx > mn) math.floor((v - mn) * operators.Sketches.QsB / (mx - mn)) else 0.0
      (g, math.max(0, math.min(operators.Sketches.QsB - 1, raw.toInt)))
    }.map { case (k, rs) => k -> rs.length.toLong }
    assert(streamed == expected)
    // counters account for every arrival
    assert(streamed.values.sum == ev.length.toLong)
  }

  test("streaming minhash pair detection matches the batch band join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = operators.Dedup.withPlants(Tables.documents(spark, sf))
    val bands = operators.Dedup.minhashBands(docs)
      .as[(Long, Int, String)].collect()
      .map { case (d, b, s) => EventStream.BandRow(d, b, s) }
    val (originals, plants) = bands.partition(_.doc_id < 100000)
    val input = MemoryStream[EventStream.BandRow]
    val q = EventStream.streamingMinhashPairs(input.toDS())
      .toDF("d1", "d2")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("mh_stream_test").start()
    input.addData(originals.toSeq)
    q.processAllAvailable()
    input.addData(plants.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mh_stream_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = operators.Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} pairs vs batch ${batch.size}")
  }

  test("streaming phash pair detection matches the batch banding join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Multimodal
    val docs = Multimodal.withPhashPlants(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val keys = EventStream.phashKeyRows(docs).collect()
    val (originals, plants) = keys.partition(_.doc_id < 96000)
    val input = MemoryStream[EventStream.HashKeyRow]
    val q = EventStream.streamingPhashPairs(input.toDS())
      .toDF("d1", "d2", "hamming")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("phash_stream_test").start()
    input.addData(originals.toSeq)
    q.processAllAvailable()
    input.addData(plants.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("phash_stream_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = Multimodal.phashDups(docs).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming"))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} pairs vs batch ${batch.size}")
  }

  test("streaming embedding LSH pair detection matches the batch bucket join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf)
    val codes = EventStream.embLshCodes(emb).collect()
    val (early, late) = codes.partition(_.vec_id < 250)
    val input = MemoryStream[EventStream.EmbCodeRow]
    val q = EventStream.streamingEmbLshPairs(input.toDS())
      .toDF("v1", "v2", "cos_sim")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("emb_lsh_stream_test").start()
    input.addData(early.toSeq)
    q.processAllAvailable()
    input.addData(late.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("emb_lsh_stream_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = operators.Dedup.embLshDups(emb).collect()
      .map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"),
        r.getAs[Double]("cos_sim"))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} pairs vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("TTL'd minhash pairs equal the batch band join when arrivals share a horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = operators.Dedup.withPlants(Tables.documents(spark, sf))
    val bands = operators.Dedup.minhashBands(docs)
      .as[(Long, Int, String)].collect()
    val (originals, plants) = bands.partition(_._1 < 100000)
    // two batches 30min apart, both inside the 1h horizon: the TTL
    // form must reduce exactly to the unbounded form = the batch join
    val input = MemoryStream[EventStream.BandRowTs]
    val q = EventStream.streamingMinhashPairsTtl(input.toDS(), horizonMs = 3600 * 1000L)
      .toDF("d1", "d2")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("mh_ttl_parity_test").start()
    input.addData(originals.toSeq.map { case (d, b, s) =>
      EventStream.BandRowTs(d, b, s, ts("2024-01-01 00:00:00")) })
    q.processAllAvailable()
    input.addData(plants.toSeq.map { case (d, b, s) =>
      EventStream.BandRowTs(d, b, s, ts("2024-01-01 00:30:00")) })
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("mh_ttl_parity_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = operators.Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} pairs vs batch ${batch.size}")
  }

  test("TTL'd minhash pair state bounds under RocksDB: buckets evict past the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStream.BandRowTs]
      val q = EventStream.streamingMinhashPairsTtl(input.toDS(), horizonMs = 3600 * 1000L)
        .toDF("d1", "d2")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("mh_ttl_evict_test").start()
      def stateRows: Long = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .last.stateOperators.head.numRowsTotal
      // batch 1: docs 1-2 share bucket A, doc 3 alone in bucket B
      input.addData(Seq(
        EventStream.BandRowTs(1, 0, "A", ts("2024-01-01 00:00:00")),
        EventStream.BandRowTs(2, 0, "A", ts("2024-01-01 00:00:00")),
        EventStream.BandRowTs(3, 0, "B", ts("2024-01-01 00:00:00"))))
      q.processAllAvailable()
      assert(stateRows == 2, s"state after batch 1: $stateRows") // 2 buckets
      assert(q.recentProgress.filter(_.stateOperators.nonEmpty).last
        .stateOperators.head.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))
      // batches 2+3: advance event time far past the horizon; timeouts
      // remove BOTH stale buckets even though bucket B never pairs
      input.addData(Seq(EventStream.BandRowTs(10, 1, "C", ts("2024-01-01 05:00:00"))))
      q.processAllAvailable()
      input.addData(Seq(EventStream.BandRowTs(11, 1, "D", ts("2024-01-01 05:05:00"))))
      q.processAllAvailable()
      assert(stateRows <= 3, s"state after eviction: $stateRows")
      // a doc arriving in bucket A past the horizon must NOT pair with
      // the evicted member — only the in-horizon member that follows
      input.addData(Seq(EventStream.BandRowTs(20, 0, "A", ts("2024-01-01 05:10:00"))))
      q.processAllAvailable()
      input.addData(Seq(EventStream.BandRowTs(21, 0, "A", ts("2024-01-01 05:15:00"))))
      q.processAllAvailable()
      q.stop()
      val pairs = spark.table("mh_ttl_evict_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 2L), (20L, 21L)), s"got $pairs")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("TTL'd phash pairs: in-horizon parity with batch, stale members evict") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Multimodal
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = Multimodal.withPhashPlants(
        Tables.documents(spark, sf).select(col("doc_id"), col("text")))
      val keys = EventStream.phashKeyRows(docs).collect()
      val (originals, plants) = keys.partition(_.doc_id < 96000)
      val input = MemoryStream[EventStream.HashKeyRowTs]
      val q = EventStream.streamingPhashPairsTtl(input.toDS(),
          horizonMs = 3600 * 1000L)
        .toDF("d1", "d2", "hamming")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("phash_ttl_test").start()
      def stateRows: Long = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .last.stateOperators.head.numRowsTotal
      // both halves inside one horizon → exact batch parity
      input.addData(originals.toSeq.map(k => EventStream.HashKeyRowTs(
        k.doc_id, k.sig, k.ci, k.cv, ts("2024-01-01 00:00:00"))))
      q.processAllAvailable()
      input.addData(plants.toSeq.map(k => EventStream.HashKeyRowTs(
        k.doc_id, k.sig, k.ci, k.cv, ts("2024-01-01 00:30:00"))))
      q.processAllAvailable()
      val streamed = spark.table("phash_ttl_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batch = Multimodal.phashDups(docs).collect()
        .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
          r.getAs[Int]("hamming"))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"streamed ${streamed.size} pairs vs batch ${batch.size}")
      val populated = stateRows
      assert(populated > 0)
      // advance past the horizon; timeout processing drains the state
      input.addData(Seq(EventStream.HashKeyRowTs(
        900001L, 0L, 0, 0L, ts("2024-01-01 05:00:00"))))
      q.processAllAvailable()
      input.addData(Seq(EventStream.HashKeyRowTs(
        900002L, 1L, 1, 0L, ts("2024-01-01 05:05:00"))))
      q.processAllAvailable()
      q.stop()
      assert(stateRows <= 3,
        s"state after eviction: $stateRows (was $populated)")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("TTL'd embedding LSH pairs: in-horizon parity with batch, stale members evict") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val emb = Tables.embeddings(spark, sf)
      val codes = EventStream.embLshCodes(emb).collect()
      val (early, late) = codes.partition(_.vec_id < 250)
      val input = MemoryStream[EventStream.EmbCodeRowTs]
      val q = EventStream.streamingEmbLshPairsTtl(input.toDS(), horizonMs = 3600 * 1000L)
        .toDF("v1", "v2", "cos_sim")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("emb_ttl_test").start()
      def stateRows: Long = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .last.stateOperators.head.numRowsTotal
      // both halves inside one horizon → exact batch parity
      input.addData(early.toSeq.map(c => EventStream.EmbCodeRowTs(
        c.vec_id, c.tid, c.code, c.embedding, ts("2024-01-01 00:00:00"))))
      q.processAllAvailable()
      input.addData(late.toSeq.map(c => EventStream.EmbCodeRowTs(
        c.vec_id, c.tid, c.code, c.embedding, ts("2024-01-01 00:30:00"))))
      q.processAllAvailable()
      val streamed = spark.table("emb_ttl_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = operators.Dedup.embLshDups(emb).collect()
        .map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"),
          r.getAs[Double]("cos_sim"))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"streamed ${streamed.size} pairs vs batch ${batch.size}")
      val populated = stateRows
      assert(populated > 0)
      // advance past the horizon; timeout processing drains the state
      input.addData(Seq(EventStream.EmbCodeRowTs(
        900001L, 0, 0, Array.fill(64)(0.1f), ts("2024-01-01 05:00:00"))))
      q.processAllAvailable()
      input.addData(Seq(EventStream.EmbCodeRowTs(
        900002L, 1, 0, Array.fill(64)(0.1f), ts("2024-01-01 05:05:00"))))
      q.processAllAvailable()
      q.stop()
      assert(stateRows <= 3,
        s"state after eviction: $stateRows (was $populated)")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  /** The rows `op` emits when fed `batches`, one micro-batch each, as a
    * sorted multiset. */
  private def emitted[T: org.apache.spark.sql.Encoder](name: String, batches: Seq[Seq[T]])(
      op: org.apache.spark.sql.Dataset[T] => org.apache.spark.sql.Dataset[_]): Seq[Seq[Any]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val q = op(input.toDS()).toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName(name).start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
  }

  test("unbounded and TTL detectors emit the same rows when two batches share a horizon") {
    import spark.implicits._
    import EventStream._
    val h = 3600 * 1000L
    val (t0, t1) = (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00"))
    // each case: (name, unbounded rows, TTL rows, expected rows); batch
    // 1 repeats an id inside itself, batch 2 re-sends it
    val dedup = Seq(
      Seq(DocIn(2, "a"), DocIn(1, "a"), DocIn(3, "b"), DocIn(3, "b")),
      Seq(DocIn(3, "b"), DocIn(4, "c"), DocIn(5, "a")))
    val bands = Seq( // bucket (0, A) holds 1, 2, 4; bucket (1, B) holds 1, 3, 5
      Seq(BandRow(1, 0, "A"), BandRow(2, 0, "A"), BandRow(2, 0, "A"),
        BandRow(3, 1, "B"), BandRow(1, 1, "B")),
      Seq(BandRow(2, 0, "A"), BandRow(4, 0, "A"), BandRow(3, 1, "B"), BandRow(5, 1, "B")))
    val hashes = Seq( // hamming: 1↔2 = 1, 2↔4 = 3, 1↔4 = 4 (over budget), 5↔6 = 2
      Seq(HashKeyRow(1, 0L, 0, 7L), HashKeyRow(2, 1L, 0, 7L), HashKeyRow(2, 1L, 0, 7L),
        HashKeyRow(5, 0L, 1, 9L)),
      Seq(HashKeyRow(2, 1L, 0, 7L), HashKeyRow(4, 15L, 0, 7L), HashKeyRow(6, 3L, 1, 9L)))
    def v(x: Float, y: Float) = Array(x, y)
    val codes = Seq( // 3 is orthogonal to 1 and far from 6; 5 is zero-norm (NaN)
      Seq(EmbCodeRow(1, 0, 1, v(1f, 0f)), EmbCodeRow(2, 0, 1, v(1f, 0.1f)),
        EmbCodeRow(2, 0, 1, v(1f, 0.1f))),
      Seq(EmbCodeRow(2, 0, 1, v(1f, 0.1f)), EmbCodeRow(3, 0, 1, v(0f, 1f)),
        EmbCodeRow(5, 0, 1, v(0f, 0f)), EmbCodeRow(6, 0, 1, v(1f, 0.2f))))
    def timed[A, B](batches: Seq[Seq[A]])(f: (A, java.sql.Timestamp) => B): Seq[Seq[B]] =
      batches.zip(Seq(t0, t1)).map { case (b, t) => b.map(f(_, t)) }
    val cases: Seq[(String, Seq[Seq[Any]], Seq[Seq[Any]], Set[Seq[Any]])] = Seq(
      ("first-seen dedup",
        emitted("parity_dedup", dedup)(streamingDedup),
        emitted("parity_dedup_ttl", timed(dedup)((d, t) => DocInTs(d.doc_id, d.content_hash, t)))(
          streamingDedupTtl(_, h)),
        Set(Seq("a", 1L), Seq("b", 3L), Seq("c", 4L))),
      ("minhash pairs",
        emitted("parity_mh", bands)(streamingMinhashPairs),
        emitted("parity_mh_ttl", timed(bands)((b, t) => BandRowTs(b.doc_id, b.band, b.sig, t)))(
          streamingMinhashPairsTtl(_, h)),
        Set(Seq(1L, 2L), Seq(1L, 4L), Seq(2L, 4L), Seq(1L, 3L), Seq(1L, 5L), Seq(3L, 5L))),
      ("phash pairs",
        emitted("parity_phash", hashes)(streamingPhashPairs(_)),
        emitted("parity_phash_ttl", timed(hashes)((k, t) =>
          HashKeyRowTs(k.doc_id, k.sig, k.ci, k.cv, t)))(streamingPhashPairsTtl(_, h)),
        Set(Seq(1L, 2L, 1), Seq(2L, 4L, 3), Seq(5L, 6L, 2))),
      ("embedding LSH pairs",
        emitted("parity_emb", codes)(streamingEmbLshPairs(_)),
        emitted("parity_emb_ttl", timed(codes)((c, t) =>
          EmbCodeRowTs(c.vec_id, c.tid, c.code, c.embedding, t)))(streamingEmbLshPairsTtl(_, h)),
        Set(Seq(1L, 2L, 0.995037), Seq(1L, 6L, 0.980581), Seq(2L, 6L, 0.995229))))
    for ((name, unbounded, ttl, want) <- cases) {
      assert(unbounded == ttl, s"$name: unbounded $unbounded vs TTL $ttl")
      assert(unbounded.toSet == want, s"$name: emitted $unbounded")
      assert(unbounded.distinct.size == unbounded.size, s"$name: a row repeats: $unbounded")
      if (name != "first-seen dedup")
        assert(unbounded.forall(r => r(0) != r(1)), s"$name: a self-pair: $unbounded")
    }
  }

  test("TTL'd streaming dedup bounds state under RocksDB: rows evict past the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // run THIS query on the RocksDB state store — the provider that
    // makes large state feasible in production (spills to local disk,
    // no JVM-heap residency); restore the default afterwards
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStream.DocInTs]
      val q = EventStream.streamingDedupTtl(input.toDS(), horizonMs = 3600 * 1000L)
        .toDF("content_hash", "keeper_id")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("dedup_ttl_test").start()
      def stateRows: Long = {
        val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
        ps.last.stateOperators.head.numRowsTotal
      }
      // batch 1: ten distinct hashes at t=0 — all emitted, state = 10
      input.addData((1L to 10L).map(i =>
        EventStream.DocInTs(i, s"h$i", ts("2024-01-01 00:00:00"))))
      q.processAllAvailable()
      assert(stateRows == 10, s"state after batch 1: $stateRows")
      // proof the query really runs on RocksDB, not the default HDFS store
      assert(q.recentProgress.filter(_.stateOperators.nonEmpty).last
        .stateOperators.head.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))
      // batch 2: the same hashes again within the horizon — deduped,
      // no growth
      input.addData((11L to 20L).map(i =>
        EventStream.DocInTs(i, s"h${i - 10}", ts("2024-01-01 00:30:00"))))
      q.processAllAvailable()
      assert(spark.table("dedup_ttl_test").count() == 10)
      assert(stateRows == 10, s"state after batch 2: $stateRows")
      // batch 3 advances event time far past every TTL (watermark
      // catches up at batch end); batch 4 triggers timeout processing
      input.addData(Seq(EventStream.DocInTs(100, "hx", ts("2024-01-01 05:00:00"))))
      q.processAllAvailable()
      input.addData(Seq(EventStream.DocInTs(101, "hy", ts("2024-01-01 05:05:00"))))
      q.processAllAvailable()
      assert(stateRows <= 3, s"state after eviction: $stateRows") // hx, hy (+h1 below)
      // horizon semantics: an evicted hash re-emits on re-arrival
      input.addData(Seq(EventStream.DocInTs(200, "h1", ts("2024-01-01 05:10:00"))))
      q.processAllAvailable()
      q.stop()
      val h1Keepers = spark.table("dedup_ttl_test")
        .filter(col("content_hash") === "h1")
        .collect().map(_.getAs[Long]("keeper_id")).sorted
      assert(h1Keepers.sameElements(Array(1L, 200L)),
        s"h1 emitted ${h1Keepers.toList} — expected once per horizon window")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("TTL'd dedup re-emits a post-horizon re-arrival even on a quiet stream") {
    // no other traffic advances the watermark here, so the cleanup
    // timeout never fires — the expiry must be honored against the
    // arrival's own event time
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.DocInTs]
    val q = EventStream.streamingDedupTtl(input.toDS(), horizonMs = 3600 * 1000L)
      .toDF("content_hash", "keeper_id")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_ttl_quiet_test").start()
    input.addData(Seq(EventStream.DocInTs(1, "h", ts("2024-01-01 00:00:00"))))
    q.processAllAvailable()
    // ONE batch spanning the horizon: the in-horizon row is swallowed
    // but the post-horizon row must still re-emit (event-time fold,
    // not a per-batch liveness decision)
    input.addData(Seq(
      EventStream.DocInTs(2, "h", ts("2024-01-01 00:30:00")),
      EventStream.DocInTs(3, "h", ts("2024-01-01 05:00:00"))))
    q.processAllAvailable()
    // and a row within the NEW window is swallowed again
    input.addData(Seq(EventStream.DocInTs(4, "h", ts("2024-01-01 05:30:00"))))
    q.processAllAvailable()
    q.stop()
    val keepers = spark.table("dedup_ttl_quiet_test")
      .collect().map(_.getAs[Long]("keeper_id")).sorted
    assert(keepers.sameElements(Array(1L, 3L)), s"got ${keepers.toList}")
  }

  test("stateful sessionization emits gap-separated sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
      Event(2, ts("2024-01-01 00:10:00"), 7, "click", 1.0),
      Event(3, ts("2024-01-01 02:00:00"), 7, "click", 1.0), // gap > 30min
      Event(4, ts("2024-01-01 02:05:00"), 7, "view", 1.0))
    val q = EventStream.sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_test").start()
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions_test").as[SessionOut].collect()
    // the first session (events 1-2) closed when event 3 arrived
    assert(closed.length == 1)
    assert(closed.head.n_events == 2)
    assert(closed.head.session_start == ts("2024-01-01 00:00:00"))
    assert(closed.head.session_end == ts("2024-01-01 00:10:00"))
  }

  test("streaming kNN-graph maintenance equals the one-shot graph") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.ivfCentroids(spark, sf)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-test-streamkg"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    Similarity.writeKnnGraph(emb.filter(col("vec_id") % 3 === 0), cents, dir)
    val arrivals = emb.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => EventStream.QueryVec(id, v) }
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val input = MemoryStream[EventStream.QueryVec]
    val q = EventStream.streamingKnnGraphMaintain(input.toDS(), dir, cents)
    input.addData(b1.toSeq)
    q.processAllAvailable()
    input.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    assert(rows(Similarity.readKnnGraph(spark, dir)) ==
      rows(Similarity.knnGraphOn(emb, cents)))
  }

  test("streaming novelty: two-batch split equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf)
    val trainSh = operators.Dedup
      .shingles(docs.filter(col("doc_id") % 5 =!= 0), 3)
      .select(col("shingle")).distinct().localCheckpoint()
    val eval = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => EventStream.DocText(id, t) }
    val (b1, b2) = eval.splitAt(eval.length / 2)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    val input = MemoryStream[EventStream.DocText]
    val q = EventStream.streamingNgramNovelty(input.toDS(), trainSh) { df =>
      got ++= df.as[(Long, Long, Long, Double)].collect()
    }
    input.addData(b1.toSeq)
    q.processAllAvailable()
    input.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()
    val want = operators.Curate.ngramNovelty(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0), 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq)
  }
}
