package graft

import graft.operators.Search
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** Lexical retrieval (BM25) — the index-served and streaming paths
  * must answer exactly like the inline oracle-gated query, and the
  * served probe must be pruned to the buckets the query's terms hash
  * into. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val queriesDf =
    Search.BmQueries.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "term")

  private lazy val indexDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("invidx").toString
    Search.writeInvertedIndexBucketed(Tables.documents(spark, sf), dir,
      nBuckets = 64)
    dir
  }

  test("phrase serve over the positional layout equals the inline scan") {
    val dir = java.nio.file.Files.createTempDirectory("posidx").toString
    Search.writePositionalIndex(Tables.documents(spark, sf), dir, nBuckets = 64)
    val inline = Search.phraseSearch(spark, sf).collect().map(_.toSeq)
    val served = Search.phraseServeBatch(spark, dir, Search.PhraseQueries)
      .collect().map(_.toSeq)
    assert(inline.nonEmpty)
    assert(served.toSeq == inline.toSeq)
    // the repeated-token phrase counts OVERLAPPING occurrences: plant
    // "window window window" and expect two matches at anchors 0, 1
    val planted = Seq((9001L, "window window window"))
      .toDF("doc_id", "text")
    val pDir = java.nio.file.Files.createTempDirectory("posidx2").toString
    Search.writePositionalIndex(planted, pDir, nBuckets = 8)
    val m = Search.phraseServeBatch(spark, pDir,
        Seq(5L -> Seq("window", "window")))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(m.toSeq == Seq((2L, 0L)))
  }

  test("positional append-then-serve equals a one-shot index of the union") {
    val docsAll = Tables.documents(spark, sf)
    val day1 = docsAll.filter(col("doc_id") % 2 === 0)
    val day2 = docsAll.filter(col("doc_id") % 2 =!= 0)
    val grown = java.nio.file.Files.createTempDirectory("posgrow").toString
    Search.writePositionalIndex(day1, grown, nBuckets = 64)
    Search.appendPositionalIndex(day2, grown)
    val oneShot = java.nio.file.Files.createTempDirectory("posone").toString
    Search.writePositionalIndex(docsAll, oneShot, nBuckets = 64)
    val a = Search.phraseServeBatch(spark, grown, Search.PhraseQueries)
      .collect().map(_.toSeq)
    val b = Search.phraseServeBatch(spark, oneShot, Search.PhraseQueries)
      .collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("positional compaction folds tombstones and keeps serves identical") {
    val dir = java.nio.file.Files.createTempDirectory("poscomp").toString
    Search.writePositionalIndex(Tables.documents(spark, sf), dir, nBuckets = 64)
    val docsHit = Search.phraseServeBatch(spark, dir, Search.PhraseQueries)
      .select(col("doc_id")).distinct().as[Long].collect().sorted
    assert(docsHit.length >= 2)
    Search.deleteFromInvertedIndex(spark, dir, Seq(docsHit.head).toDF("doc_id"))
    val before = Search.phraseServeBatch(spark, dir, Search.PhraseQueries)
      .collect().map(_.toSeq)
    Search.compactPositionalIndex(spark, dir)
    // log folded away...
    assert(!new java.io.File(s"$dir/_tombstones").exists)
    // ...and the serve answers identically off the folded postings
    val after = Search.phraseServeBatch(spark, dir, Search.PhraseQueries)
      .collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq)
    assert(!after.map(_(1)).contains(docsHit.head))
  }

  test("phrase serve subtracts tombstoned docs") {
    val dir = java.nio.file.Files.createTempDirectory("posdel").toString
    Search.writePositionalIndex(Tables.documents(spark, sf), dir, nBuckets = 64)
    val before = Search.phraseServeBatch(spark, dir, Search.PhraseQueries)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(before.nonEmpty)
    val victim = before.min
    Search.deleteFromInvertedIndex(spark, dir,
      Seq(victim).toDF("doc_id"))
    val after = Search.phraseServeBatch(spark, dir, Search.PhraseQueries)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(after == before - victim)
  }

  test("index-served BM25 equals the inline query") {
    val inline = Search.bm25TopK(spark, sf).collect().map(_.toSeq)
    val served = Search.bm25ServeBatch(spark, indexDir, queriesDf)
      .collect().map(_.toSeq)
    assert(inline.nonEmpty)
    assert(served.toSeq == inline.toSeq) // identical rows AND order
  }

  test("BM25 serve reads ONLY the probed buckets, for postings and df") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val terms = Seq("hash", "dup")
    val q = terms.map(1L -> _).toDF("query_id", "term")
    val topk = Search.bm25ServeBatch(spark, indexDir, q)
    topk.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    // the layout contract, replayed independently of the serve path
    val probed = terms.toDF("token")
      .select(pmod(xxhash64(col("token")), lit(64)).cast("int"))
      .as[Int].collect().distinct.length
    val plan = topk.queryExecution.executedPlan
    Seq("postings", "df").foreach { table =>
      val tableScans = scans(plan)
        .filter(_.metadata.get("Location")
          .exists(_.contains(s"$indexDir/$table")))
      assert(tableScans.nonEmpty, s"no $table scan in the executed plan")
      val partsRead = tableScans.flatMap(_.metrics.get("numPartitions"))
        .map(_.value).sum
      val tbDirs = new java.io.File(s"$indexDir/$table").listFiles()
        .count(_.getName.startsWith("tb="))
      // vocabulary-independent directory count: at most nBuckets dirs
      assert(tbDirs <= 64, s"$tbDirs $table bucket dirs for nBuckets=64")
      assert(partsRead == probed,
        s"$table scan read $partsRead buckets, probed $probed")
      assert(partsRead < tbDirs,
        s"$table scan read all $tbDirs buckets — no pruning")
    }
  }

  test("out-of-vocabulary terms contribute nothing and never fail") {
    val q = Seq((9L, "warehouse"), (9L, "zzz")).toDF("query_id", "term")
    assert(Search.bm25ServeBatch(spark, indexDir, q).count() == 0)
  }

  test("index deletes: tombstoned docs vanish; compaction folds df/stats exactly") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("invdel").toString
    Search.writeInvertedIndexBucketed(docs, dir, nBuckets = 32)
    val before = Search.bm25ServeBatch(spark, dir, queriesDf)
      .collect().map(_.toSeq)
    // delete three currently-served docs
    val victims = before.map(_(1).asInstanceOf[Long]).distinct.take(3)
    Search.deleteFromInvertedIndex(spark, dir, victims.toSeq.toDF("doc_id"))
    val after = Search.bm25ServeBatch(spark, dir, queriesDf)
      .collect().map(_.toSeq)
    assert(after.nonEmpty &&
      !after.map(_(1).asInstanceOf[Long]).exists(victims.contains))
    // compaction folds: serve now equals a FRESH index of the
    // surviving corpus exactly (df/stats recomputed, not stale)
    Search.compactInvertedIndexBucketed(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_tombstones")))
    val ref = java.nio.file.Files.createTempDirectory("invdelref").toString
    Search.writeInvertedIndexBucketed(
      docs.filter(!col("doc_id").isin(victims: _*)), ref, nBuckets = 32)
    val folded = Search.bm25ServeBatch(spark, dir, queriesDf)
      .collect().map(_.toSeq)
    val fresh = Search.bm25ServeBatch(spark, ref, queriesDf)
      .collect().map(_.toSeq)
    assert(folded.toSeq == fresh.toSeq,
      s"folded index differs from fresh index of survivors")
  }

  test("appended index serves exactly like a one-shot index of the union") {
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val grown = java.nio.file.Files.createTempDirectory("invgrow").toString
    val oneShot = java.nio.file.Files.createTempDirectory("invone").toString
    Search.writeInvertedIndexBucketed(base, grown, nBuckets = 64)
    Search.appendInvertedIndexBucketed(batch, grown)
    Search.writeInvertedIndexBucketed(docs, oneShot, nBuckets = 64)
    val g = Search.bm25ServeBatch(spark, grown, queriesDf)
      .collect().map(_.toSeq)
    val o = Search.bm25ServeBatch(spark, oneShot, queriesDf)
      .collect().map(_.toSeq)
    assert(g.nonEmpty && g.toSeq == o.toSeq)
  }

  test("hybrid serving with exhaustive nprobe equals the inline hybrid query") {
    import graft.operators.Similarity
    val ivfDir = java.nio.file.Files.createTempDirectory("hybivf").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, ivfDir)
    val vecQueries = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isInCollection(Search.BmQueries.map(_._1)))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = Search.hybridServeBatch(spark, indexDir, ivfDir, cents,
        queriesDf, vecQueries, nprobe = cents.length) // probe ALL buckets
      .collect().map(_.toSeq)
    val inline = Search.hybridRrf(spark, sf).collect().map(_.toSeq)
    assert(served.nonEmpty && served.toSeq == inline.toSeq)
  }

  test("streaming hybrid on a two-batch split equals the serve-batch results") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ivfDir = java.nio.file.Files.createTempDirectory("hybivf2").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, ivfDir)
    val embById = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isInCollection(Search.BmQueries.map(_._1)))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val input = MemoryStream[EventStream.QueryHybrid]
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventStream.streamingHybridTopK(input.toDS(), indexDir, ivfDir,
      cents) { topk => out ++= topk.collect().map(_.toSeq) }
    val (b1, b2) = Search.BmQueries.splitAt(2)
    Seq(b1, b2).foreach { b =>
      input.addData(b.map { case (id, ts) =>
        EventStream.QueryHybrid(id, ts, embById(id)) })
      q.processAllAvailable()
    }
    q.stop()
    val vecQueries = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isInCollection(Search.BmQueries.map(_._1)))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Search.hybridServeBatch(spark, indexDir, ivfDir, cents,
      queriesDf, vecQueries).collect().map(_.toSeq)
    assert(out.toSet == batch.toSet && out.size == batch.length)
  }

  test("streaming BM25 on a two-batch split equals the batch query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EventStream.QueryTerms]
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventStream.streamingBm25TopK(input.toDS(), indexDir) { topk =>
      out ++= topk.collect().map(_.toSeq)
    }
    val (b1, b2) = Search.BmQueries.splitAt(2)
    input.addData(b1.map { case (id, ts) => EventStream.QueryTerms(id, ts) })
    q.processAllAvailable()
    input.addData(b2.map { case (id, ts) => EventStream.QueryTerms(id, ts) })
    q.processAllAvailable()
    q.stop()
    val batch = Search.bm25TopK(spark, sf).collect().map(_.toSeq)
    assert(out.toSet == batch.toSet)
    assert(out.size == batch.length)
  }

  test("streaming phrase serving on a two-batch split equals the batch serve") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("posstream").toString
    Search.writePositionalIndex(Tables.documents(spark, sf), dir, nBuckets = 64)
    val input = MemoryStream[EventStream.QueryTerms]
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventStream.streamingPhraseSearch(input.toDS(), dir) { m =>
      out ++= m.collect().map(_.toSeq)
    }
    val (b1, b2) = Search.PhraseQueries.splitAt(2)
    input.addData(b1.map { case (id, ts) => EventStream.QueryTerms(id, ts) })
    q.processAllAvailable()
    input.addData(b2.map { case (id, ts) => EventStream.QueryTerms(id, ts) })
    q.processAllAvailable()
    q.stop()
    val batch = Search.phraseServeBatch(spark, dir, Search.PhraseQueries)
      .collect().map(_.toSeq)
    assert(out.toSet == batch.toSet)
    assert(out.size == batch.length)
  }
}
