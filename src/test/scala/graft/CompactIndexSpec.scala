package graft

import graft.operators.{Dedup, Search, Similarity}
import graft.sources.{Compact, Multimodal}
import org.apache.spark.sql.functions._

/** Compaction composed into the five maintained-index append loops:
  * after N daily appends the artifact's file count has grown by ~N,
  * a [[Compact.compactInPlace]] pass collapses it back to
  * ceil(bytes/target), and detection/serving results are IDENTICAL
  * before and after — the maintenance step a 30-day-lived index needs
  * so probe latency tracks data size, not append count. */
class CompactIndexSpec extends SparkSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(dir)).size
  }

  private def docs = Tables.documents(spark, sf).filter(col("doc_id") < 30)
  private def batches = (1 to 3).map(i =>
    docs.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + i * 1000L))

  test("band index: compaction collapses append files, content identical") {
    val dir = tmp("bandcompact")
    Dedup.writeBandIndex(docs, dir)
    batches.foreach(b => Dedup.dedupIncrementalStep(spark, dir, b))
    val before = parquetFiles(dir)
    assert(before >= 4, s"appends did not accrete files ($before)")
    val content = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val rep = Dedup.compactBandIndex(spark, dir)
    assert(rep.filesOut < before && parquetFiles(dir) == rep.filesOut)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == content)
    // the loop keeps running against the compacted, path-stable artifact
    val b4 = docs.filter(col("doc_id") === 1)
      .withColumn("doc_id", col("doc_id") + 9000L)
    val day4 = Dedup.dedupIncrementalStep(spark, dir, b4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(day4.contains((1L, 9001L)), "post-compaction step lost detections")
  }

  test("cluster map needs NO compaction: daily rewrites replace, never accrete") {
    import spark.implicits._
    val dir = tmp("ccmapfiles")
    Dedup.writeClusterIndex(
      Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("d1", "d2"), dir)
    val before = parquetFiles(dir)
    // ten daily steps hammering the same cluster: a touched bucket's
    // directory is REPLACED each day (dynamic partition overwrite of
    // bucket-clustered rows), so the artifact cannot accrete files
    // the way the append-maintained indexes do
    (1 to 10).foreach(i => Dedup.ccIncrementalStep(spark, dir,
      Seq((11L, 100L + i)).toDF("d1", "d2")))
    assert(parquetFiles(dir) <= before,
      s"cluster map accreted files: $before -> ${parquetFiles(dir)}")
    val got = Dedup.readClusterIndex(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((101 to 110).forall(i => got(i.toLong) == 10L))
    assert(got(11L) == 10L && got(1L) == 1L && got(21L) == 20L)
  }

  test("span index: compaction folds the min-keeper collapse, reader-identical") {
    val dir = tmp("spancompact")
    Dedup.writeSpanIndex(docs, dir)
    batches.foreach(b => Dedup.dedupSpansIncrementalStep(spark, dir, b))
    val before = parquetFiles(dir)
    val readerView = spark.read.parquet(dir)
      .groupBy(col("span_hash")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(_.toSeq).toSet
    val rawRows = spark.read.parquet(dir).count()
    val rep = Dedup.compactSpanIndex(spark, dir)
    assert(rep.filesOut < before)
    // semantic collapse dropped the superseded generations...
    assert(spark.read.parquet(dir).count() < rawRows)
    // ...but the reader's aggregated view is identical
    assert(spark.read.parquet(dir)
      .groupBy(col("span_hash")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(_.toSeq).toSet == readerView)
  }

  test("chunk index: compaction folds the min-keeper collapse, reader-identical") {
    val dir = tmp("chunkcompact")
    Dedup.writeChunkIndex(docs, dir)
    batches.foreach(b => Dedup.dedupChunksIncrementalStep(spark, dir, b))
    val before = parquetFiles(dir)
    val readerView = spark.read.parquet(dir)
      .groupBy(col("chunk_hash")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(_.toSeq).toSet
    val rawRows = spark.read.parquet(dir).count()
    val rep = Dedup.compactChunkIndex(spark, dir)
    assert(rep.filesOut < before)
    // semantic collapse dropped the superseded generations...
    assert(spark.read.parquet(dir).count() < rawRows)
    // ...but the reader's aggregated view is identical
    assert(spark.read.parquet(dir)
      .groupBy(col("chunk_hash")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(_.toSeq).toSet == readerView)
    // the loop keeps running against the compacted, path-stable artifact
    val b4 = docs.filter(col("doc_id") === 1)
      .withColumn("doc_id", col("doc_id") + 9000L)
    val day4 = Dedup.dedupChunksIncrementalStep(spark, dir, b4).collect()
      .map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_batch_docs")))
    assert(day4.exists(_._1 == 1L), "post-compaction step lost detections")
  }

  test("line index: compaction folds the min-keeper collapse, reader-identical") {
    val dir = tmp("linecompact")
    Dedup.writeLineIndex(docs, dir)
    batches.foreach(b => Dedup.dedupLinesIncrementalStep(spark, dir, b))
    val before = parquetFiles(dir)
    val readerView = spark.read.parquet(dir)
      .groupBy(col("line_hash")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(_.toSeq).toSet
    val rawRows = spark.read.parquet(dir).count()
    val rep = Dedup.compactLineIndex(spark, dir)
    assert(rep.filesOut < before)
    // semantic collapse dropped the superseded generations...
    assert(spark.read.parquet(dir).count() < rawRows)
    // ...but the reader's aggregated view is identical
    assert(spark.read.parquet(dir)
      .groupBy(col("line_hash")).agg(min(col("keeper_id")).as("keeper_id"))
      .collect().map(_.toSeq).toSet == readerView)
    // the loop keeps running against the compacted, path-stable artifact
    val b4 = docs.filter(col("doc_id") === 1)
      .withColumn("doc_id", col("doc_id") + 9000L)
    val day4 = Dedup.dedupLinesIncrementalStep(spark, dir, b4).collect()
      .map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_batch_docs")))
    assert(day4.exists(_._1 == 1L), "post-compaction step lost detections")
  }

  test("emb code index: compaction preserves content and the salt domain") {
    val dir = tmp("embcompact")
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 60)
    Dedup.writeEmbCodeIndex(emb, dir)
    (1 to 3).foreach { i =>
      Dedup.dedupEmbIncrementalStep(spark, dir,
        emb.filter(col("vec_id") < 2)
          .withColumn("vec_id", col("vec_id") + i * 1000L))
    }
    val before = parquetFiles(dir)
    val content = spark.read.parquet(dir)
      .select(col("vec_id"), col("tid"), col("code"), col("_g"))
      .collect().map(_.toSeq).toSet
    val rep = Dedup.compactEmbCodeIndex(spark, dir)
    assert(rep.filesOut < before)
    assert(spark.read.parquet(dir)
      .select(col("vec_id"), col("tid"), col("code"), col("_g"))
      .collect().map(_.toSeq).toSet == content)
    // a post-compaction day still detects through the artifact
    val day4 = Dedup.dedupEmbIncrementalStep(spark, dir,
        emb.filter(col("vec_id") === 1)
          .withColumn("vec_id", col("vec_id") + 9000L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(day4.contains((1L, 9001L)))
  }

  test("phash index: compaction preserves content, loop keeps running") {
    val dir = tmp("phashcompact")
    val media = docs
    Multimodal.writePhashIndex(media, dir)
    batches.foreach(b => Multimodal.dedupPhashIncrementalStep(spark, dir, b))
    val before = parquetFiles(dir)
    val content = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val rep = Multimodal.compactPhashIndex(spark, dir)
    assert(rep.filesOut < before)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == content)
  }

  test("IVF corpus: compaction keeps bucket partitioning and serve results") {
    val dir = tmp("ivfcompact")
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val cents = Similarity.ivfCentroids(spark, sf)
    Similarity.writeLayout(Similarity.FloatCodec(cents), base, dir)
    (0 to 2).foreach(i => Similarity.appendIvfPartitioned(
      emb.filter(col("vec_id") % 4 === 0 && col("vec_id") % 3 === i),
      cents, dir))
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = Similarity.annIvfServeBatch(spark, dir, cents, queries)
      .collect().map(_.toSeq)
    val before = parquetFiles(dir)
    val rep = Similarity.compactIvfPartitioned(spark, dir)
    assert(rep.filesOut < before)
    // layout still bucket-partitioned (directories survive the rewrite)
    assert(new java.io.File(dir).listFiles
      .exists(f => f.isDirectory && f.getName.startsWith("bucket=")))
    val after = Similarity.annIvfServeBatch(spark, dir, cents, queries)
      .collect().map(_.toSeq)
    assert(after.nonEmpty && after.toSeq == served.toSeq)
  }

  test("IVF-PQ corpus: appends equal a one-shot layout; compaction serve-identical") {
    val appendDir = tmp("ivfpqappend")
    val oneShotDir = tmp("ivfpqoneshot")
    val emb = Tables.embeddings(spark, sf)
    val pq = Similarity.PqCodec(Similarity.ivfCentroids(spark, sf),
      Similarity.pqResidualCodebooks(spark, sf))
    // base layout + three daily append waves vs a one-shot layout of
    // the union, encoded under the SAME frozen artifacts
    Similarity.writeLayout(pq, emb.filter(col("vec_id") % 4 =!= 0), appendDir)
    (0 to 2).foreach(i => Similarity.appendLayout(pq,
      emb.filter(col("vec_id") % 4 === 0 && col("vec_id") % 3 === i),
      appendDir))
    Similarity.writeLayout(pq, emb, oneShotDir)
    def queries(f: org.apache.spark.sql.Column) = emb.filter(f)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serve(dir: String) = Similarity.annIvfPqServeBatch(spark, dir, pq,
        queries(col("vec_id") < 8), emb, excludeSelf = true)
      .collect().map(_.toSeq)
    val appended = serve(appendDir)
    assert(appended.nonEmpty && appended.toSeq == serve(oneShotDir).toSeq,
      "appended layout serves differently from the one-shot layout")
    // row-level identity too, not just top-k (codes are BINARY —
    // base64 them so the set compare is by value, not array reference)
    def rows(dir: String) = spark.read.parquet(dir)
      .select(col("vec_id"), col("bucket"), base64(col("codes")))
      .collect().map(_.toSeq).toSet
    assert(rows(appendDir) == rows(oneShotDir))
    // compaction: fewer files, bucket partitioning kept, serve identical
    val before = parquetFiles(appendDir)
    val rep = Similarity.compactIvfPartitioned(spark, appendDir)
    assert(rep.filesOut < before)
    assert(new java.io.File(appendDir).listFiles
      .exists(f => f.isDirectory && f.getName.startsWith("bucket=")))
    assert(serve(appendDir).toSeq == appended.toSeq)
    // the loop keeps running: a post-compaction append still serves
    Similarity.appendLayout(pq,
      emb.filter(col("vec_id") === 1).withColumn("vec_id",
        col("vec_id") + 9000L), appendDir)
    val embPlus = emb.unionByName(emb.filter(col("vec_id") === 1)
      .withColumn("vec_id", col("vec_id") + 9000L))
    val postServe = Similarity.annIvfPqServeBatch(spark, appendDir, pq,
        queries(col("vec_id") === 1), embPlus, k = 1, excludeSelf = true)
      .collect()
    // vec 9001 is an exact replica of query vec 1 — it must be the top hit
    assert(postServe.map(r => r.getAs[Long]("neighbor_id")).toSet == Set(9001L))
  }

  test("inverted index: compaction keeps token pruning and bm25 results") {
    val dir = java.nio.file.Files.createTempDirectory("invcompact").toString
    val all = Tables.documents(spark, sf)
    Search.writeInvertedIndexBucketed(all.filter(col("doc_id") % 3 =!= 0), dir,
      nBuckets = 64)
    (1 to 2).foreach(i => Search.appendInvertedIndexBucketed(
      all.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === i % 2), dir))
    val queries = {
      import spark.implicits._
      Search.BmQueries
        .flatMap { case (qid, terms) => terms.map(t => (qid, t)) }
        .toDF("query_id", "term")
    }
    val served = Search.bm25ServeBatch(spark, dir, queries)
      .collect().map(_.toSeq)
    val before = parquetFiles(s"$dir/postings")
    Search.compactInvertedIndexBucketed(spark, dir)
    assert(parquetFiles(s"$dir/postings") < before)
    assert(new java.io.File(s"$dir/postings").listFiles()
      .exists(_.getName.startsWith("tb=")))
    val after = Search.bm25ServeBatch(spark, dir, queries)
      .collect().map(_.toSeq)
    assert(after.nonEmpty && after.toSeq == served.toSeq)
  }
}
