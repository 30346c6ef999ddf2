package graft

import graft.functions.Classify
import graft.operators.{Dedup, Recommend, Search, Similarity}
import graft.sources.Multimodal
import org.apache.spark.sql.functions._

/** ERASURE COMPLETENESS across the maintained artifacts — the
  * right-to-be-forgotten contract as one enumerating suite: every
  * artifact family with a maintenance loop has a forget/delete verb,
  * every verb is exercised here, and after it runs (plus the
  * compaction fold, for the tombstone-logged layouts) NO id column
  * anywhere in the artifact references a forgotten id. The pipeline
  * state's own artifacts are covered by PipelineSpec's forgetDocs
  * test; this suite covers every standalone artifact, so a new
  * maintained artifact cannot silently dodge erasure: the final test
  * reflects over the operator objects and fails if a forget/delete
  * verb exists that this suite did not exercise. */
class ErasureSpec extends SparkSpec {

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  private val victims = Seq(0L, 7L)
  private def victimsDf(key: String) = {
    import spark.implicits._
    victims.toDF(key)
  }

  private def docs = Tables.documents(spark, sf).filter(col("doc_id") < 30)
  private def emb = Tables.embeddings(spark, sf)

  /** Assert no ID column of the dataset at `dir` holds a victim. */
  private def assertClean(name: String, dir: String,
                          idCols: Seq[String]): Unit = {
    val df = spark.read.parquet(dir)
    idCols.foreach { c =>
      assert(df.columns.contains(c), s"$name: expected id column $c")
      val hits = df.filter(col(c).isin(victims: _*)).count()
      assert(hits == 0, s"$name still references a forgotten id in $c")
    }
  }

  private def tombstonesGone(dir: String): Boolean =
    !new java.io.File(s"${dir.replace("file:", "")}/_tombstones").exists()

  // verbs exercised by this suite — the reflection test pins the
  // library's verb set to exactly this list
  private val covered = Seq(
    "forgetFromKnnGraph", "deleteFromKnnGraph",
    "deleteFromLayout", "deleteFromInvertedIndex", "forgetFromNbModel",
    "forgetFromCentroidModel", "forgetFromQualityModel",
    "forgetFromCfModel", "forgetFromMarkovModel", "forgetFromMarkov2Model")

  // cluster 0-2-4 is LABELED by victim 0 (its min member), so forget
  // must relabel; victim 7 is a plain member of 7-9-11
  private def clusterPairs = {
    import spark.implicits._
    Seq((0L, 2L), (2L, 4L), (7L, 9L), (9L, 11L), (20L, 21L)).toDF("d1", "d2")
  }

  /** How to write each maintained dedup index; the reflection test
    * pins this table to Dedup.maintainedIndexes, so a new index cannot
    * ship without a forget case. */
  private def writers: Map[Dedup.MaintainedIndex, String => Unit] = Map(
    Dedup.BandIndex -> (Dedup.writeBandIndex(docs, _)),
    Dedup.SpanIndex -> (Dedup.writeSpanIndex(docs, _)),
    Dedup.ChunkIndex -> (Dedup.writeChunkIndex(docs, _)),
    Dedup.LineIndex -> (Dedup.writeLineIndex(docs, _)),
    Dedup.WinnowIndex -> (Dedup.writeWinnowIndex(docs, _)),
    Dedup.EmbCodeIndex -> (Dedup.writeEmbCodeIndex(emb, _)),
    Dedup.PhashIndex -> (Multimodal.writePhashIndex(docs, _)),
    Dedup.SimhashIndex -> (Dedup.writeSimhashIndex(docs, _)),
    Dedup.ClusterMap -> (Dedup.writeClusterIndex(clusterPairs, _)))

  /** Write `index`, forget the victims through the one forget verb,
    * and check its id column references none of them. */
  private def forgetCase(index: Dedup.MaintainedIndex): String = {
    val dir = tmp(s"er-${index.name}")
    writers(index)(dir)
    assert(spark.read.parquet(dir)
      .filter(col(index.idCol).isin(victims: _*)).count() > 0,
      s"${index.name}: victims hold no rows — test would be vacuous")
    Dedup.forget(spark, index, dir, victimsDf(index.idCol))
    assertClean(index.name, dir, Seq(index.idCol))
    dir
  }

  // the indexes with checks of their own below
  private val ownTests = Set(Dedup.EmbCodeIndex, Dedup.PhashIndex,
    Dedup.SimhashIndex, Dedup.ClusterMap)

  test("keeper-attributed fingerprint indexes forget") {
    // every other descriptor lands here, a new one included
    Dedup.maintainedIndexes.filterNot(ownTests).foreach(forgetCase)
  }

  test("embedding code index and phash index forget") {
    locally {
      val dir = forgetCase(Dedup.EmbCodeIndex)
      // the loop keeps running: a new batch detects against survivors
      val day = Dedup.dedupEmbIncrementalStep(spark, dir,
        emb.filter(col("vec_id") === 1)
          .withColumn("vec_id", col("vec_id") + 9000L))
      assert(day.collect().map(_.getLong(0)).contains(1L))
    }
    forgetCase(Dedup.PhashIndex)
    locally {
      val dir = forgetCase(Dedup.SimhashIndex)
      // the serve keeps running over survivors: a forgotten doc's
      // exact twin (same text, new id) finds NO hamming-0 neighbor
      // at the forgotten id
      val twin = docs.filter(col("doc_id") === 0L)
        .withColumn("doc_id", col("doc_id") + 5000L)
      val hits = Dedup.hammingTopKServeBatch(spark, dir, twin).collect()
      assert(hits.forall(r => !victims.contains(r.getAs[Long]("doc_id"))))
    }
  }

  test("emb code index: a day step on a drained index returns nothing, the next day detects the re-arrival") {
    val dir = tmp("er-emb-drained")
    val corpus = emb.filter(col("vec_id") < 40)
    Dedup.writeEmbCodeIndex(corpus, dir)
    // forget every vector: the stored salt-group domain is empty
    Dedup.forget(spark, Dedup.EmbCodeIndex, dir, corpus.select(col("vec_id")))
    assert(spark.read.parquet(dir).count() == 0)
    val batch = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 9000L)
    assert(Dedup.dedupEmbIncrementalStep(spark, dir, batch).count() == 0)
    // the drained day appended its batch: tomorrow's re-arrival of
    // that batch (new ids) is detected against it
    val day2 = Dedup.dedupEmbIncrementalStep(spark, dir,
        batch.withColumn("vec_id", col("vec_id") + 1000L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 5L).forall(i => day2.contains((9000L + i, 10000L + i))),
      s"re-arrival not detected: $day2")
  }

  test("cluster map forgets (nodes AND labels)") {
    val dir = forgetCase(Dedup.ClusterMap)
    val m = Dedup.readClusterIndex(spark, dir)
    assert(m.filter(col("node").isin(victims: _*) ||
      col("cluster_id").isin(victims: _*)).count() == 0)
    // survivors stay clustered under the new min label
    val got = m.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(2L) == 2L && got(4L) == 2L)
    assert(got(9L) == 9L && got(11L) == 9L)
  }

  test("forgetFromKnnGraph: erasure == the one-shot graph of the survivors") {
    import spark.implicits._
    val cents = Similarity.ivfCentroids(spark, sf)
    val dir = tmp("er-knng")
    Similarity.writeKnnGraph(emb, cents, dir)
    // victims must appear as NEIGHBORS somewhere for the refill path
    // to be exercised
    assert(Similarity.readKnnGraph(spark, dir)
      .filter(col("neighbor_id").isin(victims: _*)).count() > 0,
      "victims are nobody's neighbor — refill path untested")
    Similarity.forgetFromKnnGraph(spark, dir, victimsDf("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    val got = rows(Similarity.readKnnGraph(spark, dir))
    val want = rows(Similarity.knnGraphOn(
      emb.filter(!col("vec_id").isin(victims: _*)), cents))
    assert(got.nonEmpty && got == want)
    // all three layouts hold zero references
    assertClean("knn_graph/edges", s"$dir/edges",
      Seq("vec_id", "neighbor_id"))
    assertClean("knn_graph/nodes", s"$dir/nodes", Seq("vec_id"))
    assertClean("knn_graph/probes", s"$dir/probes", Seq("vec_id"))
    // and the loop keeps running against the erased artifact
    Similarity.knnGraphAppendStep(spark, dir,
      emb.filter(col("vec_id").isin(victims: _*))
        .withColumn("vec_id", col("vec_id") + 9000L), cents)
    assert(rows(Similarity.readKnnGraph(spark, dir)).nonEmpty)
  }

  test("deleteFromKnnGraph: serves subtract pending tombstones; compact folds the batch once") {
    import spark.implicits._
    val cents = Similarity.ivfCentroids(spark, sf)
    val dir = tmp("er-knng-batch")
    Similarity.writeKnnGraph(emb, cents, dir)
    Similarity.deleteFromKnnGraph(spark, dir, victimsDf("vec_id"))
    // pre-fold: reads subtract — no forgotten id visible even though
    // the layouts still hold the rows physically (Lucene semantics)
    assert(Similarity.readKnnGraph(spark, dir)
      .filter(col("vec_id").isin(victims: _*) ||
        col("neighbor_id").isin(victims: _*)).count() == 0)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = Similarity.annGraphWalkServeBatch(spark, dir, queries,
      excludeSelf = true)
    assert(served.filter(col("neighbor_id").isin(victims: _*)).count() == 0)
    // fold: ONE surgery for the whole batch ≡ one-shot of survivors
    Similarity.compactKnnGraph(spark, dir)
    assert(tombstonesGone(dir), "graph tombstone log not cleared")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    val got = rows(Similarity.readKnnGraph(spark, dir))
    val want = rows(Similarity.knnGraphOn(
      emb.filter(!col("vec_id").isin(victims: _*)), cents))
    assert(got.nonEmpty && got == want)
    assertClean("knn_graph/edges", s"$dir/edges",
      Seq("vec_id", "neighbor_id"))
    assertClean("knn_graph/nodes", s"$dir/nodes", Seq("vec_id"))
    assertClean("knn_graph/probes", s"$dir/probes", Seq("vec_id"))
    // victim 0 was its bucket's medoid — entries must be recomputed
    val entries = spark.read.parquet(s"$dir/entries")
    assert(entries.filter(col("node").isin(victims: _*)).count() == 0)
    assert(entries.count() > 0)
  }

  test("ANN layout and inverted/positional indexes: tombstones fold to zero references") {
    locally {
      val dir = tmp("er-ivf")
      Similarity.writeLayout(Similarity.FloatCodec(
        Similarity.ivfCentroids(spark, sf)), emb, dir)
      Similarity.deleteFromLayout(spark, dir, victimsDf("vec_id"))
      Similarity.compactIvfPartitioned(spark, dir)
      assertClean("ivf_layout", dir, Seq("vec_id"))
      assert(tombstonesGone(dir), "ivf tombstone log not cleared")
    }
    locally {
      val dir = tmp("er-inv")
      Search.writeInvertedIndexBucketed(docs, dir)
      Search.deleteFromInvertedIndex(spark, dir, victimsDf("doc_id"))
      Search.compactInvertedIndexBucketed(spark, dir)
      assertClean("inverted_index", s"$dir/postings", Seq("doc_id"))
      assert(tombstonesGone(dir), "inverted-index tombstone log not cleared")
    }
    locally {
      val dir = tmp("er-pos")
      Search.writePositionalIndex(docs, dir)
      Search.deleteFromInvertedIndex(spark, dir, victimsDf("doc_id"))
      Search.compactPositionalIndex(spark, dir)
      assertClean("positional_index", s"$dir/postings", Seq("doc_id"))
      assert(tombstonesGone(dir), "positional tombstone log not cleared")
    }
  }

  test("NB model erasure == the one-shot model of the survivors") {
    // the count-algebra artifact: subtracting the victims' counts
    // must land EXACTLY on what training the survivors would write —
    // no tombstones, no refill, no approximation
    val dir = tmp("er-nb")
    val all = docs
    val victimDocs = all.filter(col("doc_id").isin(victims: _*))
    val survivors = all.filter(!col("doc_id").isin(victims: _*))
    Classify.writeNbModel(all, dir)
    Classify.forgetFromNbModel(victimDocs, dir)
    val fresh = tmp("er-nb-fresh")
    Classify.writeNbModel(survivors, fresh)
    for (part <- Seq("model", "classes")) {
      val got = spark.read.parquet(s"$dir/$part")
      val want = spark.read.parquet(s"$fresh/$part")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"nb_model/$part after forget != fresh training of survivors")
    }
    // and serving the erased model == serving the fresh one
    val probe = all.filter(col("doc_id") < 5)
    assert(Classify.classifyNbServeBatch(spark, dir, probe).collect().toSeq ===
      Classify.classifyNbServeBatch(spark, fresh, probe).collect().toSeq)
  }

  test("quality model erasure == fresh training of the surviving labeled rows") {
    // the stored-attribution artifact: victims subtract under their
    // STORED bucket label (tertile labels are corpus-level stats —
    // not recomputable from the victims alone), survivors keep their
    // original labels, so forget must land EXACTLY on a fresh NB
    // training of the surviving labeled rows
    val dir = tmp("er-qual")
    graft.functions.Classify.writeQualityModel(docs, dir)
    val victimDocs = docs.filter(col("doc_id").isin(victims: _*))
    Classify.forgetFromQualityModel(victimDocs, dir)
    // the bootstrap labeling is deterministic — rebuild it for the
    // comparator rather than racing the artifact's own labels/ file
    val labeled = docs.join(
      graft.functions.TextFunctions.ccnetBuckets(docs)
        .filter(col("bucket").isin("head", "tail"))
        .select(col("doc_id"), col("bucket")), "doc_id")
    val fresh = tmp("er-qual-fresh")
    Classify.writeNbModel(labeled.filter(!col("doc_id").isin(victims: _*)),
      fresh, "bucket")
    for (part <- Seq("model", "classes")) {
      val got = spark.read.parquet(s"$dir/$part")
      val want = spark.read.parquet(s"$fresh/$part")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"quality_model/$part after forget != fresh training of survivors")
    }
    assertClean("quality_model_labels", s"$dir/labels", Seq("doc_id"))
    // and serving the erased model == serving the fresh one
    val probe = docs.filter(col("doc_id") < 5)
    assert(Classify.qualityNbServeBatch(spark, dir, probe).collect().toSeq ===
      Classify.qualityNbServeBatch(spark, fresh, probe).collect().toSeq)
    // DRAIN the ruler entirely: forgetting every remaining labeled
    // doc empties classes/ — serving must return an EMPTY frame
    // (the drift-monitor zeroed-stats discipline), never throw
    Classify.forgetFromQualityModel(docs, dir)
    assert(spark.read.parquet(s"$dir/classes").count() == 0)
    assert(Classify.qualityNbServeBatch(spark, dir, probe).count() == 0)
  }

  test("centroid model erasure == the one-shot model of the survivors") {
    // the second count/sum-algebra artifact: subtracting the victim
    // vectors' coordinates must land EXACTLY on what training the
    // survivors would write — including dropping a class erased whole
    val dir = tmp("er-cent")
    val victimVecs = emb.filter(col("vec_id").isin(victims: _*))
    val survivors = emb.filter(!col("vec_id").isin(victims: _*))
    Classify.writeCentroidModel(emb, dir)
    Classify.forgetFromCentroidModel(victimVecs, dir)
    val fresh = tmp("er-cent-fresh")
    Classify.writeCentroidModel(survivors, fresh)
    for (part <- Seq("sums", "classes")) {
      val got = spark.read.parquet(s"$dir/$part")
      val want = spark.read.parquet(s"$fresh/$part")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"centroid_model/$part after forget != fresh training of survivors")
    }
    // a class erased WHOLE disappears (not an all-zero ghost): forget
    // every vector of one label from a small crafted model
    val crafted = emb.filter(col("vec_id") < 20)
    val victimClass = crafted.select(min(col("label"))).head.getInt(0)
    val dir2 = tmp("er-cent-class")
    Classify.writeCentroidModel(crafted, dir2)
    Classify.forgetFromCentroidModel(
      crafted.filter(col("label") === victimClass), dir2)
    assert(spark.read.parquet(s"$dir2/classes")
      .filter(col("label") === victimClass).count() == 0)
    assert(spark.read.parquet(s"$dir2/sums")
      .filter(col("label") === victimClass).count() == 0)
    // and serving the erased model == serving the fresh one
    val probe = emb.filter(col("vec_id") < 5)
    assert(Classify.classifyCentroidServeBatch(spark, dir, probe)
        .collect().toSeq ===
      Classify.classifyCentroidServeBatch(spark, fresh, probe)
        .collect().toSeq)
  }

  test("CF model erasure == fresh training of the surviving users") {
    val inter = Recommend.interactions(Tables.events(spark, sf))
      .localCheckpoint()
    val dir = tmp("er-cf")
    Recommend.writeCfModel(inter, dir)
    // victims leave as WHOLE USERS (the CF maintenance contract) —
    // the caller passes their full interaction sets
    Recommend.forgetFromCfModel(
      inter.filter(col("user_id").isin(victims: _*)), dir)
    val fresh = tmp("er-cf-fresh")
    Recommend.writeCfModel(
      inter.filter(!col("user_id").isin(victims: _*)), fresh)
    def sorted(d: String, sub: String, cols: Seq[String]) =
      spark.read.parquet(s"$d/$sub").orderBy(cols.map(col): _*)
        .collect().toSeq
    assert(sorted(dir, "pairs", Seq("i", "j")) ==
      sorted(fresh, "pairs", Seq("i", "j")))
    assert(sorted(dir, "items", Seq("item")) ==
      sorted(fresh, "items", Seq("item")))
    // and the served top-k is the survivors' top-k
    assert(Recommend.recommendTopKFromModel(spark, dir).collect().toSeq ==
      Recommend.recommendTopKFromModel(spark, fresh).collect().toSeq)
  }

  test("Markov model erasure == fresh training of the surviving users") {
    val events = Tables.events(spark, sf).localCheckpoint()
    val dir = tmp("er-markov")
    Recommend.writeMarkovModel(events, dir)
    // victims leave as WHOLE USERS with their full event sequences
    // (the whole-user maintenance contract — transitions are
    // user-local, so the subtraction is exact)
    Recommend.forgetFromMarkovModel(
      events.filter(col("user_id").isin(victims: _*)), dir)
    val fresh = tmp("er-markov-fresh")
    Recommend.writeMarkovModel(
      events.filter(!col("user_id").isin(victims: _*)), fresh)
    assert(spark.read.parquet(s"$dir/trans").orderBy("item", "next_item")
      .collect().toSeq ==
      spark.read.parquet(s"$fresh/trans").orderBy("item", "next_item")
        .collect().toSeq)
    // and the served ranking is the survivors' ranking
    assert(Recommend.recommendMarkovFromModel(spark, dir)
      .collect().map(_.toSeq).toSeq ==
      Recommend.recommendMarkovFromModel(spark, fresh)
        .collect().map(_.toSeq).toSeq)
  }

  test("second-order Markov model erasure == fresh training of the surviving users (both orders)") {
    val events = Tables.events(spark, sf).localCheckpoint()
    val dir = tmp("er-markov2")
    Recommend.writeMarkov2Model(events, dir)
    Recommend.forgetFromMarkov2Model(
      events.filter(col("user_id").isin(victims: _*)), dir)
    val fresh = tmp("er-markov2-fresh")
    Recommend.writeMarkov2Model(
      events.filter(!col("user_id").isin(victims: _*)), fresh)
    assert(spark.read.parquet(s"$dir/trans2")
      .orderBy("prev2_item", "prev1_item", "next_item").collect().toSeq ==
      spark.read.parquet(s"$fresh/trans2")
        .orderBy("prev2_item", "prev1_item", "next_item").collect().toSeq)
    assert(spark.read.parquet(s"$dir/trans").orderBy("item", "next_item")
      .collect().toSeq ==
      spark.read.parquet(s"$fresh/trans").orderBy("item", "next_item")
        .collect().toSeq)
    assert(Recommend.recommendMarkov2FromModel(spark, dir)
      .collect().map(_.toSeq).toSeq ==
      Recommend.recommendMarkov2FromModel(spark, fresh)
        .collect().map(_.toSeq).toSeq)
  }

  test("every forget/delete verb in the library is exercised by this suite") {
    val objs = Seq[AnyRef](Dedup, Similarity, Search, Multimodal, Pipeline,
      Classify, Recommend)
    val verbs = objs.flatMap(_.getClass.getDeclaredMethods.toSeq
        .map(_.getName)
        .filter(n => (n.startsWith("forgetFrom") || n.startsWith("deleteFrom"))
          && !n.contains("$"))) // drop synthetic default-arg methods
      .toSet
    // Pipeline.forgetDocs is the composition verb (PipelineSpec) —
    // everything else must be in `covered`
    assert(verbs == covered.toSet,
      s"verb set drifted: library has $verbs, suite covers ${covered.toSet}" +
        " — a new maintained artifact's erasure verb must be spec'd here")
    // the dedup indexes erase through Dedup.forget: every descriptor
    // has a forget case above
    assert(writers.keySet == Dedup.maintainedIndexes.toSet,
      "a maintained dedup index has no forget case in this suite")
  }
}
