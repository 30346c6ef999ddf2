package graft

import graft.functions.Classify
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Mechanism specs for the trained NB gate and the Hamming top-k —
  * the corpus is a uniform token soup (§5: test gates by MECHANISM,
  * not discrimination), so the classifier specs plant separable
  * synthetic classes and the Hamming specs lean on the planted
  * twins + a brute-force replay. */
class ClassifySpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "lang", "text")

  test("classify_nb separates planted marker classes") {
    // two classes with disjoint dominant vocabulary on a shared floor
    val train = docsOf(
      (1L, "aa", "alpha alpha alpha shared"),
      (2L, "aa", "alpha alpha shared shared"),
      (3L, "bb", "beta beta beta shared"),
      (4L, "bb", "beta beta shared shared"))
    val test_ = docsOf(
      (10L, "aa", "alpha alpha shared"),
      (11L, "bb", "beta beta shared"))
    val out = Classify.classifyNbWith(train, test_).collect()
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(10L -> "aa", 11L -> "bb"))
  }

  test("all-OOV and empty docs fall back to the prior argmax") {
    // class "aa" has 3 train docs, "bb" has 1 — prior favors aa
    val train = docsOf(
      (1L, "aa", "alpha"), (2L, "aa", "alpha"), (3L, "aa", "alpha"),
      (4L, "bb", "beta"))
    val test_ = docsOf((10L, "zz", "unseen tokens only"), (11L, "zz", ""))
    val out = Classify.classifyNbWith(train, test_)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(10L -> "aa", 11L -> "aa"))
  }

  test("argmax ties break to the lexicographically least label") {
    // perfectly symmetric classes: same doc counts, same token
    // counts — every test score identical across classes
    val train = docsOf(
      (1L, "bb", "tok tok"), (2L, "aa", "tok tok"))
    val test_ = docsOf((10L, "?", "tok"))
    val out = Classify.classifyNbWith(train, test_).collect()
    assert(out.head.getString(1) === "aa")
  }

  test("select_uncertain returns exactly the kSel smallest margins") {
    val train = docsOf(
      (1L, "aa", "alpha alpha alpha shared"),
      (2L, "aa", "alpha alpha shared shared"),
      (3L, "bb", "beta beta beta shared"),
      (4L, "bb", "beta beta shared shared"))
    // 12 carries perfectly SYMMETRIC evidence (margin 0), 13 only the
    // class-neutral token (margin 0 too — the classes are mirror
    // images); 10 and 11 are confident (strictly positive margins)
    val test_ = docsOf(
      (10L, "?", "alpha alpha alpha"),
      (11L, "?", "beta beta beta"),
      (12L, "?", "alpha beta shared"),
      (13L, "?", "shared shared"))
    val sel = Classify.selectUncertainWith(train, test_, 2).collect()
    assert(sel.length === 2)
    assert(sel.map(_.getLong(0)).toSet === Set(12L, 13L))
    assert(sel.forall(_.getLong(2) === 0L), "mirror classes ⇒ zero margin")
    // the cut is the prefix of the full margin ordering
    val all = Classify.selectUncertainWith(train, test_, 100).collect()
      .map(r => (r.getLong(2), r.getLong(0))).sorted
    assert(all.length === 4)
    assert(sel.map(r => (r.getLong(2), r.getLong(0))).sorted.toSeq ===
      all.take(2).toSeq)
    assert(all.forall(_._1 >= 0L), "margin = top1 − top2 is never negative")
  }

  test("mine_hard_negatives: brute-force replay, cross-label only, ranked") {
    val got = Classify.mineHardNegatives(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("label"),
        r.getAs[Long]("cos_e6")))
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Float]](2)
          .map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray))
    def cosE6(a: Array[Long], b: Array[Long]): Long = {
      var dot = 0L; var an = 0L; var bn = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); an += a(i) * a(i); bn += b(i) * b(i); i += 1 }
      math.floor(dot.toDouble /
        (math.sqrt(an.toDouble) * math.sqrt(bn.toDouble)) * 1e6 + 0.5).toLong
    }
    val expected = emb.filter(_._1 % 10 == 0).toSeq.flatMap {
      case (qid, ql, qc) =>
        emb.filter(_._2 != ql).toSeq
          .map { case (nid, nl, nc) => (nid, nl, cosE6(qc, nc)) }
          .sortBy(p => (-p._3, p._1)).take(5).zipWithIndex
          .map { case ((nid, nl, ce), i) => (qid, i + 1, nid, nl, ce) }
    }.sortBy(p => (p._1, p._2))
    assert(got.toSeq === expected, "hard-negative replay")
    val labels = emb.map(e => e._1 -> e._2).toMap
    got.foreach { case (qid, _, nid, nl, _) =>
      assert(labels(nid) === nl)
      assert(nl !== labels(qid), "a hard negative must cross the boundary")
    }
  }

  test("score_e9 replays the affine NB decomposition exactly") {
    // hand-check one score: train "aa" = {x:2, y:1}, "bb" = {y:3};
    // V = 2, tot_aa = 3, tot_bb = 3, priors ln(1/2) each
    val train = docsOf((1L, "aa", "x x y"), (2L, "bb", "y y y"))
    val test_ = docsOf((10L, "?", "x x"))
    def ln9(x: Long): Long =
      BigDecimal(math.log(x.toDouble))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .underlying.unscaledValue.longValueExact
    val prior = ln9(1) - ln9(2)          // ln(1/2)
    val lp0 = -ln9(3 + 2)                // -ln(tot + V)
    val scoreAa = prior + 2 * lp0 + 2 * ln9(2 + 1) // k=2 of x, cnt=2
    val scoreBb = prior + 2 * lp0       // x absent from bb
    assert(scoreAa > scoreBb)
    val out = Classify.classifyNbWith(train, test_).collect()
    assert(out.head.getString(1) === "aa")
    assert(out.head.getLong(2) === scoreAa)
  }

  test("classify_nb_eval counts the full held-out carve") {
    val eval = Classify.classifyNbEval(spark, sf)
    val total = eval.agg(sum("n")).head.getLong(0)
    val testN = Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 0).count()
    assert(total === testN)
    // every predicted label is a train-carve class
    val langs = Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 =!= 0)
      .select("lang").distinct().as[String].collect().toSet
    val preds = eval.select("pred").distinct().as[String].collect().toSet
    assert(preds.subsetOf(langs))
  }

  test("appendToNbModel == one-shot training of the concatenated corpus") {
    val all = Tables.documents(spark, sf)
    val a = all.filter(col("doc_id") < 30)
    val b = all.filter(col("doc_id") >= 30 && col("doc_id") < 45)
    val dir = java.nio.file.Files.createTempDirectory("nb-append").toString + "/nb"
    Classify.writeNbModel(a, dir)
    Classify.appendToNbModel(b, dir)
    val fresh = java.nio.file.Files.createTempDirectory("nb-fresh").toString + "/nb"
    Classify.writeNbModel(a.unionByName(b), fresh)
    for (part <- Seq("model", "classes")) {
      val got = spark.read.parquet(s"$dir/$part")
      val want = spark.read.parquet(s"$fresh/$part")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"nb_model/$part after append != fresh training of the union")
    }
  }

  test("a model swap torn between its two renames heals at the next append") {
    val docs = Tables.documents(spark, sf)
    val a = docs.filter(col("doc_id") < 30)
    val b = docs.filter(col("doc_id") >= 30 && col("doc_id") < 45)
    val test_ = docs.filter(col("doc_id") >= 45)
    val dir = java.nio.file.Files.createTempDirectory("nb-torn").toString + "/nb"
    Classify.writeNbModel(a, dir)
    CompactSpec.tearSwap(dir)
    Classify.appendToNbModel(b, dir)
    assert(CompactSpec.healed(dir))
    val fresh = java.nio.file.Files.createTempDirectory("nb-torn-fresh").toString + "/nb"
    Classify.writeNbModel(a.unionByName(b), fresh)
    def serve(d: String) = Classify.classifyNbServeBatch(spark, d, test_).collect().toSeq
    val got = serve(dir)
    assert(got.nonEmpty && got == serve(fresh))
  }

  test("serving the stored model == the in-query classifier, bit-exactly") {
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test_ = docs.filter(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("nb-serve").toString + "/nb"
    Classify.writeNbModel(train, dir)
    assert(Classify.classifyNbServeBatch(spark, dir, test_).collect().toSeq ===
      Classify.classifyNbWith(train, test_).collect().toSeq)
  }

  test("quality_nb_eval: confusion sums to the labeled corpus, head keeps more than tail") {
    val rows = Classify.qualityNbEval(spark, sf).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    val labeled = graft.functions.TextFunctions
      .ccnetBuckets(Tables.documents(spark, sf)).count()
    assert(rows.map(_._3).sum === labeled, "confusion partitions the labeled docs")
    def keepRate(b: String): Double = {
      val n = rows.filter(_._1 == b).map(_._3).sum
      rows.filter(r => r._1 == b && r._2).map(_._3).sum.toDouble / n
    }
    assert(keepRate("head") > keepRate("tail"),
      "the distilled verdict must separate the tertiles it distilled from")
  }

  test("quality model artifact: stored serve == the in-query distillation") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("qual-serve")
      .toString + "/quality"
    Classify.writeQualityModel(docs, dir)
    assert(Classify.qualityNbServeBatch(spark, dir, docs).collect().toSeq ===
      Classify.qualityNb(spark, sf).collect().toSeq)
    // the attribution sidecar holds exactly the head/tail carve
    val labs = spark.read.parquet(s"$dir/labels")
    assert(labs.select("bucket").distinct().collect()
      .map(_.getString(0)).toSet === Set("head", "tail"))
    assert(labs.count() < docs.count(), "middle tertile trains nothing")
  }

  test("classify_nb_f1 metrics replay from the confusion matrix") {
    val conf = Classify.classifyNbEval(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val f1 = Classify.classifyNbF1(spark, sf).collect()
    val testN = Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 0).count()
    assert(f1.map(_.getLong(3)).sum === testN)        // true_n partitions
    for (r <- f1) {
      val l = r.getString(0)
      val tp = conf.filter(c => c._1 == l && c._2 == l).map(_._3).sum
      val trueN = conf.filter(_._1 == l).map(_._3).sum
      val predN = conf.filter(_._2 == l).map(_._3).sum
      assert(r.getLong(1) === tp && r.getLong(2) === predN &&
        r.getLong(3) === trueN, s"counts for $l")
      assert(math.abs(r.getDouble(5) -
        math.round(tp.toDouble / trueN * 1e6) / 1e6) < 1e-9)
      assert(math.abs(r.getDouble(6) -
        math.round(2.0 * tp / (predN + trueN) * 1e6) / 1e6) < 1e-9)
    }
  }

  test("quality_nb: exact log-odds per doc, strict keep, in-sample separation") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, sf)
    val out = Classify.qualityNb(spark, sf)
    val rows = out.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(r => r.getBoolean(2) == (r.getLong(1) > 0)))
    // both signs occur — the distilled gate is not degenerate
    val kept = rows.count(_.getBoolean(2))
    assert(kept > 0 && kept < rows.length)
    // the classifier recovers the training separation direction
    // in-sample: mean log-odds of head-labeled docs > tail-labeled
    // (measured +0.20 vs -0.19 at sf0.01 — a wide margin)
    val byBucket = out
      .join(TextFunctions.ccnetBuckets(docs).select("doc_id", "bucket"), "doc_id")
      .groupBy("bucket").agg(avg(col("logodds_e9")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byBucket("head") > byBucket("tail"),
      s"no in-sample separation: $byBucket")
  }

  test("classify_centroid separates planted clusters and tie-breaks to least label") {
    // two separable directions in 4-d: class 7 along e1, class 2
    // along e2 (deliberately unordered labels so the tie-break is
    // exercised independently of insertion order)
    def vecs(rows: (Long, Array[Float], Int)*) =
      rows.toDF("vec_id", "embedding", "label")
    val train = vecs(
      (1L, Array(1f, 0.1f, 0f, 0f), 7), (2L, Array(0.9f, -0.1f, 0f, 0f), 7),
      (3L, Array(0.1f, 1f, 0f, 0f), 2), (4L, Array(-0.1f, 0.9f, 0f, 0f), 2))
    val test_ = vecs(
      (10L, Array(1f, 0f, 0f, 0f), -1), (11L, Array(0f, 1f, 0f, 0f), -1))
    val out = graft.functions.Classify.classifyCentroidWith(train, test_)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(10L -> 7, 11L -> 2))
    // exact tie: a query equidistant from two mirrored classes takes
    // the least label
    val sym = graft.functions.Classify.classifyCentroidWith(
      vecs((1L, Array(1f, 0f), 5), (2L, Array(0f, 1f), 3)),
      vecs((10L, Array(1f, 1f), -1)))
      .collect().head
    assert(sym.getInt(1) === 3)
  }

  test("centroid artifact: serve == in-query; append == fresh training of the union") {
    val emb = Tables.embeddings(spark, sf)
    val train = emb.filter(col("vec_id") % 5 =!= 0)
    val test_ = emb.filter(col("vec_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("cent-serve").toString + "/cent"
    graft.functions.Classify.writeCentroidModel(train, dir)
    // bit-identical serving: the stored exact sums rebuild the same
    // centroid array the in-query form collects
    assert(graft.functions.Classify.classifyCentroidServeBatch(spark, dir, test_)
        .collect().toSeq ===
      graft.functions.Classify.classifyCentroidWith(train, test_)
        .collect().toSeq)
    // exact incremental training: sum algebra, spec'd EQUAL
    val a = train.filter(col("vec_id") < 300)
    val b = train.filter(col("vec_id") >= 300)
    val inc = java.nio.file.Files.createTempDirectory("cent-append").toString + "/cent"
    graft.functions.Classify.writeCentroidModel(a, inc)
    graft.functions.Classify.appendToCentroidModel(b, inc)
    val fresh = java.nio.file.Files.createTempDirectory("cent-fresh").toString + "/cent"
    graft.functions.Classify.writeCentroidModel(a.unionByName(b), fresh)
    for (part <- Seq("sums", "classes")) {
      val got = spark.read.parquet(s"$inc/$part")
      val want = spark.read.parquet(s"$fresh/$part")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"centroid_model/$part after append != fresh training of the union")
    }
  }

  test("classify_knn == a brute-force k-NN vote replay") {
    import graft.functions.Classify
    val out = Classify.classifyKnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val all = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])].collect()
    def snap(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val train = all.filter(_._1 % 5 != 0).map { case (id, l, v) => (id, l, snap(v)) }
    val tests = all.filter(_._1 % 5 == 0).map { case (id, _, v) => (id, snap(v)) }
    val expected = tests.map { case (qid, qc) =>
      val qn = qc.map(x => x * x).sum
      val top = train.map { case (nid, l, vc) =>
        var dot = 0L; var vn = 0L; var j = 0
        while (j < qc.length) { dot += qc(j) * vc(j); vn += vc(j) * vc(j); j += 1 }
        (nid, l, math.floor(dot.toDouble /
          (math.sqrt(qn.toDouble) * math.sqrt(vn.toDouble)) * 1e6 + 0.5).toLong)
      }.sortBy { case (nid, _, c) => (-c, nid) }.take(5)
      val (pl, pv) = top.groupBy(_._2).map { case (l, g) => (l, g.size) }
        .toSeq.sortBy { case (l, n) => (-n, l) }.head
      (qid, pl, pv.toLong)
    }.sortBy(_._1)
    assert(out.toSeq === expected.toSeq)
  }

  test("classify_knn serving: exhaustive == in-query; pruned agreement; tombstones subtract") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val codec = Similarity.LabeledCodec(Similarity.ivfCentroids(spark, sf))
    val train = emb.filter(col("vec_id") % 5 =!= 0)
    val queries = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("knn-serve").toString + "/layout"
    Similarity.writeLayout(codec, train, dir)
    // exhaustive probing meets every (train, query) pair exactly once
    // in the bucket equi-join — bit-identical to the in-query form
    val exhaustive = Classify.classifyKnnServeBatch(spark, dir, codec,
      queries, nprobe = codec.nlist).collect().toSeq
    assert(exhaustive === Classify.classifyKnn(spark, sf).collect().toSeq)
    // pruned default: vote agreement vs exhaustive (recall channel)
    val pruned = Classify.classifyKnnServeBatch(spark, dir, codec, queries)
      .collect()
    val exMap = exhaustive.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val agree = pruned.count(r => exMap(r.getLong(0)) == r.getInt(1))
      .toDouble / pruned.length
    info(s"classify_knn pruned-nprobe vote agreement = $agree")
    assert(agree >= 0.8, s"classify_knn serve agreement = $agree")
    // append == one-shot layout (vote-identical at any nprobe)
    val dir2 = java.nio.file.Files.createTempDirectory("knn-app").toString + "/layout"
    Similarity.writeLayout(codec, train.filter(col("vec_id") < 300), dir2)
    Similarity.appendLayout(codec, train.filter(col("vec_id") >= 300), dir2)
    assert(Classify.classifyKnnServeBatch(spark, dir2, codec, queries)
      .collect().toSeq === pruned.toSeq)
    // the generic tombstone verb applies by layout convention: serving
    // after deleteFromLayout == serving a fresh layout of the survivors
    import spark.implicits._
    val victims = train.filter(col("vec_id") < 100)
      .select(col("vec_id")).as[Long].collect()
    Similarity.deleteFromLayout(spark, dir, victims.toSeq.toDF("vec_id"))
    val dir3 = java.nio.file.Files.createTempDirectory("knn-surv").toString + "/layout"
    Similarity.writeLayout(codec, train.filter(col("vec_id") >= 100), dir3)
    assert(Classify.classifyKnnServeBatch(spark, dir, codec, queries)
        .collect().toSeq ===
      Classify.classifyKnnServeBatch(spark, dir3, codec, queries)
        .collect().toSeq)
  }

  test("hard-negative serving: exhaustive == in-query; pruned overlap; labels cross") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val codec = Similarity.LabeledCodec(Similarity.ivfCentroids(spark, sf))
    val queries = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("label"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("hn-serve")
      .toString + "/layout"
    // the in-query miner's corpus is the WHOLE embeddings table
    Similarity.writeLayout(codec, emb, dir)
    val exhaustive = Classify.mineHardNegativesServeBatch(spark, dir, codec,
      queries, nprobe = codec.nlist).collect().toSeq
    assert(exhaustive === Classify.mineHardNegatives(spark, sf)
      .collect().toSeq, "exhaustive serve == in-query miner")
    // pruned default: top-k overlap vs exhaustive per query
    val pruned = Classify.mineHardNegativesServeBatch(spark, dir, codec,
      queries).collect()
    val exSet = exhaustive.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = pruned.count(r =>
      exSet((r.getLong(0), r.getLong(2)))).toDouble / pruned.length
    info(s"hard-negative pruned-nprobe overlap = $overlap")
    assert(overlap >= 0.8, s"hard-negative serve overlap = $overlap")
    // every mined negative crosses the anchor's label boundary
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    pruned.foreach { r =>
      assert(r.getInt(3) !== labels(r.getLong(0)),
        "served negative must cross the boundary")
    }
  }

  test("hamming_topk: banding candidates == brute force inside the radius") {
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val got = Dedup.hammingTopK(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    // brute-force replay on the collected signatures (test-scale only)
    val sigs = Dedup.simhashSignatures(docs)
      .as[(Long, Long)].collect()
    val expected = sigs.filter(_._1 < 50).flatMap { case (q, qs) =>
      sigs.filter(_._1 != q)
        .map { case (id, s2) => (id, java.lang.Long.bitCount(qs ^ s2)) }
        .filter(_._2 <= 3)
        .sortBy { case (id, h) => (h, id) }
        .take(5).zipWithIndex
        .map { case ((id, h), i) => (q, i + 1, id, h) }
    }
    assert(got.sorted.toSeq === expected.sorted.toSeq)
    // every doc_id < 25 query has its planted exact twin in the ball,
    // so rank 1 is at hamming 0 (the twin itself, unless a NATURAL
    // hamming-0 doc with a smaller id wins the tie-break — both occur)
    val r1 = got.filter(t => t._1 < 25 && t._2 == 1)
    assert(r1.size == 25 && r1.forall(_._4 == 0))
    assert((0L until 25L).forall(q =>
      got.exists(t => t._1 == q && t._3 == q + 100000 && t._4 == 0)))
  }
}
