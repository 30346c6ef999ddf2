package graft

import graft.operators.{Dedup, Search, Similarity}
import graft.sources.{Compact, Multimodal}
import org.apache.spark.sql.functions._

/** Compaction composed into the maintained-index append loops:
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

  /** One compaction case per append-maintained dedup index: `build`
    * writes the index and appends three daily batches, `cols` are the
    * columns compared (all when empty), `dayAfter` runs a
    * post-compaction day with an exact copy of doc 1 and says whether
    * it still finds doc 1 through the compacted, path-stable index. */
  private case class Case(index: Dedup.MaintainedIndex, title: String,
                          build: String => Unit, dayAfter: String => Boolean,
                          cols: Seq[String] = Nil)

  private def copyOfDoc1(offset: Long) = docs.filter(col("doc_id") === 1)
    .withColumn("doc_id", col("doc_id") + offset)

  private def keeper1(day: org.apache.spark.sql.DataFrame) =
    day.collect().exists(_.getAs[Long]("keeper_id") == 1L)

  private def pair(day: org.apache.spark.sql.DataFrame, corpus: Long,
                   batch: Long) =
    day.collect().map(r => (r.getLong(0), r.getLong(1))).contains((corpus, batch))

  private def emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 60)

  private val cases = Seq(
    Case(Dedup.BandIndex,
      "band index: compaction collapses append files, content identical",
      dir => {
        Dedup.writeBandIndex(docs, dir)
        batches.foreach(b => Dedup.dedupIncrementalStep(spark, dir, b))
      },
      dir => pair(Dedup.dedupIncrementalStep(spark, dir, copyOfDoc1(9000L)),
        1L, 9001L)),
    Case(Dedup.SpanIndex,
      "span index: compaction folds the min-keeper collapse, reader-identical",
      dir => {
        Dedup.writeSpanIndex(docs, dir)
        batches.foreach(b => Dedup.dedupSpansIncrementalStep(spark, dir, b))
      },
      dir => keeper1(Dedup.dedupSpansIncrementalStep(spark, dir,
        copyOfDoc1(9000L)))),
    Case(Dedup.ChunkIndex,
      "chunk index: compaction folds the min-keeper collapse, reader-identical",
      dir => {
        Dedup.writeChunkIndex(docs, dir)
        batches.foreach(b => Dedup.dedupChunksIncrementalStep(spark, dir, b))
      },
      dir => keeper1(Dedup.dedupChunksIncrementalStep(spark, dir,
        copyOfDoc1(9000L)))),
    Case(Dedup.LineIndex,
      "line index: compaction folds the min-keeper collapse, reader-identical",
      dir => {
        Dedup.writeLineIndex(docs, dir)
        batches.foreach(b => Dedup.dedupLinesIncrementalStep(spark, dir, b))
      },
      dir => keeper1(Dedup.dedupLinesIncrementalStep(spark, dir,
        copyOfDoc1(9000L)))),
    Case(Dedup.WinnowIndex,
      "winnow index: compaction folds the min-keeper collapse, reader-identical",
      dir => {
        Dedup.writeWinnowIndex(docs, dir)
        batches.foreach(b => Dedup.dedupWinnowIncrementalStep(spark, dir, b))
      },
      dir => keeper1(Dedup.dedupWinnowIncrementalStep(spark, dir,
        copyOfDoc1(9000L)))),
    Case(Dedup.EmbCodeIndex,
      "emb code index: compaction preserves content and the salt domain",
      dir => {
        Dedup.writeEmbCodeIndex(emb, dir)
        (1 to 3).foreach { i =>
          Dedup.dedupEmbIncrementalStep(spark, dir,
            emb.filter(col("vec_id") < 2)
              .withColumn("vec_id", col("vec_id") + i * 1000L))
        }
      },
      dir => pair(Dedup.dedupEmbIncrementalStep(spark, dir,
        emb.filter(col("vec_id") === 1)
          .withColumn("vec_id", col("vec_id") + 9000L)), 1L, 9001L),
      cols = Seq("vec_id", "tid", "code", "_g")),
    Case(Dedup.PhashIndex,
      "phash index: compaction preserves content, loop keeps running",
      dir => {
        Multimodal.writePhashIndex(docs, dir)
        batches.foreach(b => Multimodal.dedupPhashIncrementalStep(spark, dir, b))
      },
      // image dims derive from doc_id mod 16 and mod 12: an offset of
      // 9600 keeps the copy's dims, so it is an exact image replica
      dir => pair(Multimodal.dedupPhashIncrementalStep(spark, dir,
        copyOfDoc1(9600L)), 1L, 9601L)),
    Case(Dedup.SimhashIndex,
      "simhash index: compaction preserves content, loop keeps running",
      dir => {
        Dedup.writeSimhashIndex(docs, dir)
        batches.foreach(b => Dedup.simhashSignatures(b)
          .write.mode("append").parquet(dir))
      },
      dir => Dedup.hammingTopKServeBatch(spark, dir, copyOfDoc1(9000L))
        .collect().exists(r => r.getAs[Long]("doc_id") == 1L &&
          r.getAs[Int]("hamming") == 0)))

  test("every maintained index has a compaction case") {
    // the cluster map is the one index that needs none (its own test
    // below); every other descriptor must be compacted here
    assert(cases.map(_.index).toSet + Dedup.ClusterMap ==
      Dedup.maintainedIndexes.toSet)
  }

  for (c <- cases) test(c.title) {
    val dir = tmp(c.index.name)
    c.build(dir)
    val before = parquetFiles(dir)
    assert(before >= 4, s"appends did not accrete files ($before)")
    // what a reader sees: the descriptor's collapse of the stored rows
    def readerView() = {
      val v = c.index.collapse(spark.read.parquet(dir))
      (if (c.cols.isEmpty) v else v.select(c.cols.map(col): _*))
        .collect().map(_.toSeq).toSet
    }
    val view = readerView()
    val rawRows = spark.read.parquet(dir).count()
    val rep = Dedup.compact(spark, c.index, dir)
    assert(rep.filesOut < before && parquetFiles(dir) == rep.filesOut)
    // a keeper-hash index's semantic collapse dropped the superseded
    // generations; a file-level index keeps every row
    if (c.index.hashKey.nonEmpty) assert(spark.read.parquet(dir).count() < rawRows)
    else assert(spark.read.parquet(dir).count() == rawRows)
    // ...but the reader's view is identical
    assert(readerView() == view)
    // the loop keeps running against the compacted, path-stable artifact
    assert(c.dayAfter(dir), "post-compaction step lost detections")
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
    // and the one compaction verb refuses it: a flat rewrite would
    // drop the bucket directories the daily step relies on
    intercept[IllegalArgumentException](
      Dedup.compact(spark, Dedup.ClusterMap, dir))
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
