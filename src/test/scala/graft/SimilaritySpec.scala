package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("brute-force ANN returns k neighbors per query, ranked") {
    val rows = Similarity.annBruteforce(spark, sf, nQueries = 5, k = 3).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == (0L until 5L).toSet)
    byQuery.values.foreach { rs =>
      assert(rs.length == 3)
      val scores = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(scores.sameElements(scores.sorted.reverse), "ranks follow score order")
      assert(scores.forall(s => s >= -1.0001 && s <= 1.0001))
    }
  }

  test("IVF ANN recalls a meaningful fraction of true neighbors") {
    val bf = Similarity.annBruteforce(spark, sf, nQueries = 10, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.annIvf(spark, sf, nQueries = 10, k = 5).collect()
    assert(ivf.nonEmpty)
    val hits = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .count(bf.contains)
    // nprobe=16 of nlist=32 buckets: expect well above random recall
    // (RecallSpec asserts the real >=0.8 floor at sf0.01)
    assert(hits >= 5, s"IVF recalled only $hits of ${bf.size} true top-5 pairs")
  }

  test("LSH ANN is a subset-quality approximation of brute force") {
    val bf = Similarity.annBruteforce(spark, sf, nQueries = 5, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.annLsh(spark, sf, nQueries = 5, k = 5).collect()
    // every LSH hit shares the query's hyperplane code; scores must be valid
    assert(lsh.forall(r => r.getAs[Double]("cos_sim") <= 1.0001))
    // recall is partial by design but the mechanism must return something
    assert(lsh.nonEmpty)
    assert(bf.nonEmpty)
  }

  test("SQ8 stored-code layout round-trips exactly and shrinks storage vs float32") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val (mns, mxs) = Similarity.sq8Grid(emb)
    val tmp = java.nio.file.Files.createTempDirectory("sq8").toString
    emb.select("vec_id", "embedding").write.mode("overwrite").parquet(s"$tmp/f32")
    Similarity.writeSq8(emb, s"$tmp/sq8", mns, mxs)
    // round-trip: dequantized vectors from the stored bytes == inline
    val stored = Similarity.readSq8Dequant(spark, s"$tmp/sq8", mns, mxs)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("v")).toMap
    val inline = emb.select(col("vec_id"),
        Similarity.sq8Dequant(
          Similarity.sq8Codes(col("embedding"), mns, mxs), mns, mxs).as("v"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("v")).toMap
    assert(stored == inline)
    // storage: random floats don't compress — 1 byte/dim must win big
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles.filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
    }
    val ratio = bytes(s"$tmp/f32").toDouble / bytes(s"$tmp/sq8")
    assert(ratio > 2.5, s"SQ8 layout only ${ratio}x smaller than float32")
  }

  test("PQ stored-code serve equals inline and shrinks storage past SQ8") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val books = Similarity.pqCodebooks(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("pq").toString
    emb.select("vec_id", "embedding").write.mode("overwrite").parquet(s"$tmp/f32")
    Similarity.writePq(emb, books, s"$tmp/pq")
    val queries = emb.filter(col("vec_id") < 10)
    val stored = Similarity
      .annPqStored(spark, s"$tmp/pq", books, queries, emb)
      .collect().map(_.toSeq)
    val inline = Similarity.annPqOn(emb, books, queries)
      .collect().map(_.toSeq)
    assert(stored.toSeq == inline.toSeq)
    def bytes(p: String): Long = new java.io.File(p).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val ratio = bytes(s"$tmp/f32").toDouble / bytes(s"$tmp/pq")
    assert(ratio > 8, s"PQ layout only ${ratio}x smaller than float32")
  }

  test("IVF-PQ stored layout: partition-pruned serve equals inline") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq").toString
    val pq = Similarity.writeLayout(Similarity.PqCodec(
      Similarity.ivfCentroids(spark, sf), Similarity.pqResidualCodebooks(spark, sf)),
      emb, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val stored = Similarity.annIvfPqServeBatch(spark, s"$tmp/idx", pq,
      queries, emb, excludeSelf = true)
    val inline = Similarity.annIvfPq(spark, sf)
    assert(stored.collect().map(_.toSeq).toSeq ==
      inline.collect().map(_.toSeq).toSeq)
    // the code-table scan must carry the probed-bucket partition filter
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket partition filter at the stored scan:\n${plan.take(800)}")
  }

  test("IVF×prefix at exhaustive nprobe is bit-identical to flat ann_prefix") {
    // the probe only PRUNES: with nprobe = nlist every (query, bucket)
    // pair survives, so the composed operator degenerates exactly to
    // the flat corpus-scan tier — same shortlist, same rerank, same
    // rounding/tie-breaks
    val composed = Similarity.annIvfPrefix(spark, sf,
      nprobe = 32) // = IvfNlist: exhaustive — what annPrefix routes to
    val flat = Similarity.annPrefixFlat(spark, sf)
    assert(composed.collect().map(_.toSeq).toSeq ==
      flat.collect().map(_.toSeq).toSeq)
  }

  test("IVF×prefix stored layout: partition-pruned serve equals inline") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("ivfprefix").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val stored = Similarity.annIvfPrefixServeBatch(spark, s"$tmp/idx",
      Similarity.FloatCodec(cents), queries, excludeSelf = true)
    val inline = Similarity.annIvfPrefix(spark, sf)
    assert(stored.collect().map(_.toSeq).toSeq ==
      inline.collect().map(_.toSeq).toSeq)
    // the layout scan must carry the probed-bucket partition filter
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket partition filter at the stored scan:\n${plan.take(800)}")
  }

  test("filtered ANN: stored serve equals inline, predicate pushed to the scan") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("ivffilter").toString
    val labeled = Similarity.writeLayout(
      Similarity.LabeledCodec(Similarity.ivfCentroids(spark, sf)), emb, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val stored = Similarity.annIvfFilteredServeBatch(spark, s"$tmp/idx", labeled,
      queries, excludeSelf = true)
    val inline = Similarity.annIvfFiltered(spark, sf)
    assert(stored.collect().map(_.toSeq).toSeq ==
      inline.collect().map(_.toSeq).toSeq)
    // bucket partition pruning AND the label predicate at the scan
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket partition filter at the stored scan:\n${plan.take(800)}")
    assert(plan.contains("PushedFilters") && plan.contains("In(label"),
      s"label predicate not pushed to the scan:\n${plan.take(800)}")
    // every result row satisfies the predicate (never post-filtered
    // below k: each query still gets k rows)
    val lbl = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = inline.collect()
    assert(rows.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 5))
    assert(rows.forall(r => lbl(r.getAs[Long]("query_id")) ==
      lbl(r.getAs[Long]("neighbor_id"))))
  }

  test("layout deletes: tombstones vanish from serving, compaction folds the log") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("ivfdel").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, s"$tmp/idx")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serve(dir: String) = Similarity.annIvfServeBatch(spark, dir, cents,
      queries, excludeSelf = true).collect().map(_.toSeq).toSeq
    val before = serve(s"$tmp/idx")
    // delete three currently-served neighbors — the strongest victims
    val victims = before.map(r => r(1).asInstanceOf[Long]).distinct.take(3)
    Similarity.deleteFromLayout(spark, s"$tmp/idx", victims.toDF("vec_id"))
    val after = serve(s"$tmp/idx")
    assert(after.nonEmpty &&
      !after.map(_(1).asInstanceOf[Long]).exists(victims.contains))
    // delete-then-serve equals serving a layout never containing them
    Similarity.writeLayout(Similarity.FloatCodec(cents),
      emb.filter(!col("vec_id").isin(victims: _*)), s"$tmp/ref")
    assert(after == serve(s"$tmp/ref"))
    // compaction folds the log: rows physically gone, log cleared,
    // serving identical
    val rep = Similarity.compactIvfPartitioned(spark, s"$tmp/idx")
    assert(rep.filesOut > 0)
    val physIds = spark.read.parquet(s"$tmp/idx")
      .select("vec_id").as[Long].collect().toSet
    assert(victims.forall(!physIds.contains(_)))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/idx/_tombstones")))
    assert(after == serve(s"$tmp/idx"))
    // retrain also folds: the swapped-in layout must not resurrect
    Similarity.deleteFromLayout(spark, s"$tmp/idx",
      Seq(after.head(1).asInstanceOf[Long]).toDF("vec_id"))
    val afterSecond = serve(s"$tmp/idx")
    val cents2 = Similarity.retrainLayout(spark, s"$tmp/idx",
      Similarity.FloatCodec(cents)).cents
    val physIds2 = spark.read.parquet(s"$tmp/idx")
      .select("vec_id").as[Long].collect().toSet
    assert(!physIds2.contains(after.head(1).asInstanceOf[Long]))
    assert(cents2.length == cents.length)
    val _ = afterSecond
  }

  test("whitened stored layout serves the in-query tier bit-exactly; deletes fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivfwhite").toString
    val m = Similarity.writeLayout(Similarity.whitenModel(spark, sf),
      graft.Tables.embeddings(spark, sf), s"$tmp/idx")
    val queries = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serve(dir: String) = Similarity.annIvfWhiteServeBatch(spark, dir, m,
      queries, excludeSelf = true).collect().map(_.toSeq).toSeq
    val served = serve(s"$tmp/idx")
    // the stored form IS the in-query tier (same codes, same exact
    // integer scoring, same quantizer)
    val direct = Similarity.annIvfWhite(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served == direct)
    // whitening genuinely changed the metric even on this
    // near-isotropic corpus: at least one rank differs from raw IVF
    val raw = Similarity.annIvf(spark, sf)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    val white = Similarity.annIvfWhite(spark, sf)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    assert(white != raw, "whitened ranking identical to raw — vacuous tier")
    // the standard layout verbs work unchanged on the coded layout
    val victims = served.map(_(1).asInstanceOf[Long]).distinct.take(3)
    Similarity.deleteFromLayout(spark, s"$tmp/idx", victims.toDF("vec_id"))
    val after = serve(s"$tmp/idx")
    assert(!after.map(_(1).asInstanceOf[Long]).exists(victims.contains))
    Similarity.compactIvfPartitioned(spark, s"$tmp/idx")
    val physIds = spark.read.parquet(s"$tmp/idx")
      .select("vec_id").as[Long].collect().toSet
    assert(victims.forall(!physIds.contains(_)))
    assert(after == serve(s"$tmp/idx"))
  }

  test("graph-walk serving over the stored artifact: dense ranks, recall, forget") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf)
    val cents = Similarity.ivfCentroids(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("gwserve").toString + "/g"
    // the artifact's stored degree IS the walk degree
    Similarity.writeKnnGraph(emb, cents, dir, k = 8)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = Similarity.annGraphWalkServeBatch(spark, dir, queries,
      excludeSelf = true)
    val rows = served.collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      sorted.sliding(2).foreach { case Array(a, b) =>
        val (sa, sb) = (a.getAs[Long]("cos_e6"), b.getAs[Long]("cos_e6"))
        assert(sa > sb || (sa == sb &&
          a.getAs[Long]("neighbor_id") < b.getAs[Long]("neighbor_id")))
      }
    }
    // the walk finds real neighbors: recall vs brute force
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val exact = pairs(Similarity.annBruteforce(spark, sf))
    val recall = (pairs(served) & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"stored-walk recall@5 = $recall")
    // the pruned serve path (entries/ medoids, n_bucket vector fetch)
    // is bit-identical to the in-query walk at the same degree
    def tup(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("cos_e6"), r.getAs[Int]("rank"))).sorted.toSeq
    val inQuery = Similarity.annGraphWalkFrom(emb, cents,
      nQueries = 10, deg = 8) // annGraphWalkFrom already excludes self
    assert(tup(served) == tup(inQuery),
      "pruned serving diverged from the in-query walk")
    // erasure: a forgotten neighbor leaves the served results
    val victim = rows.head.getAs[Long]("neighbor_id")
    Similarity.forgetFromKnnGraph(spark, dir, Seq(victim).toDF("vec_id"),
      k = 8)
    val after = Similarity.annGraphWalkServeBatch(spark, dir, queries,
      excludeSelf = true).collect()
    assert(!after.map(_.getAs[Long]("neighbor_id")).contains(victim))
  }

  test("SQ8 codes are uint8 and dequantization error is bounded by half a grid step") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val (mns, mxs) = Similarity.sq8Grid(emb)
    assert(mns.length == mxs.length && mns.zip(mxs).forall { case (a, b) => a <= b })
    val rows = emb.select(col("vec_id"), col("embedding"),
        Similarity.sq8Codes(col("embedding"), mns, mxs).as("codes"))
      .withColumn("dq", Similarity.sq8Dequant(col("codes"), mns, mxs))
      .collect()
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding")
      val codes = r.getAs[scala.collection.Seq[Int]]("codes")
      val dq = r.getAs[scala.collection.Seq[Double]]("dq")
      assert(codes.forall(q => q >= 0 && q <= 255))
      v.indices.foreach { i =>
        val step = (mxs(i) - mns(i)) / 255.0
        assert(math.abs(dq(i) - v(i)) <= step / 2 + 1e-12,
          s"dim $i: |${dq(i)} - ${v(i)}| > ${step / 2}")
      }
    }
  }

  test("dedup_semantic matches a driver-side SemDeDup replay, keep-first per cluster") {
    val cents = Similarity.ivfCentroids(spark, sf, Similarity.SemNlist)
    val got = Similarity.dedupSemantic(Tables.embeddings(spark, sf), cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val embs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toArray)
    // replay: same assignment tie-break (argmax dot, first wins) and
    // the same single-pass double cosine + HALF_UP 6 dp rounding
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byBucket = embs.groupBy { case (_, v) =>
      Similarity.topCentroids(cents, v, 1).head }
    val expect = (for {
      (b, vs) <- byBucket.toSeq
      sorted = vs.sortBy(_._1)
      (j, i) <- sorted.zipWithIndex if i > 0
      m = sorted.take(i).map(u => cos6(u._2, j._2)).max
      if m >= Similarity.SemTau
    } yield (j._1, b, m)).toSet
    assert(got == expect)
    assert(got.nonEmpty)
    // keep-first: the lowest-id member of a cluster is never removed
    val removed = got.map(_._1)
    byBucket.values.foreach { vs =>
      assert(!removed.contains(vs.map(_._1).min))
    }
  }

  test("select_prototypes: dense diverse-first ranks, half-keep, replayed scores") {
    val cents = Similarity.ivfCentroids(spark, sf, Similarity.SemNlist)
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.selectPrototypes(emb, cents).collect()
    val n = emb.count()
    assert(got.length.toLong == n, "every vector scored exactly once")
    assert(got.map(_.getAs[Long]("vec_id")).distinct.length.toLong == n)
    got.groupBy(_.getAs[Int]("bucket")).foreach { case (b, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("div_rank"))
      // ranks are dense 1..nb
      assert(sorted.map(_.getAs[Int]("div_rank")).toSeq ==
        (1 to rs.length), s"bucket $b ranks not dense")
      // diverse-first: proto_cos nondecreasing with rank
      val cs = sorted.map(_.getAs[Double]("proto_cos"))
      assert(cs.zip(cs.tail).forall { case (a, c) => a <= c },
        s"bucket $b not rank-monotone")
      // keep = the least-prototypical floor(nb/2)
      sorted.foreach { r =>
        val want = if (r.getAs[Int]("div_rank") <= rs.length / 2) 1 else 0
        assert(r.getAs[Int]("keep") == want,
          s"bucket $b rank ${r.getAs[Int]("div_rank")} keep") }
    }
    // scores replay: proto_cos is the 6-dp cosine to the OWN centroid
    val embs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toArray).toMap
    def cos6(a: Array[Float], c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = c(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.foreach { r =>
      val v = embs(r.getAs[Long]("vec_id"))
      val b = Similarity.topCentroids(cents, v, 1).head
      assert(r.getAs[Int]("bucket") == b)
      assert(r.getAs[Double]("proto_cos") == cos6(v, cents(b)),
        s"vec ${r.getAs[Long]("vec_id")} score drift")
    }
  }

  test("select_kcenter replays a driver-side greedy farthest-point sweep") {
    val got = Similarity.selectKcenter(spark, sf).collect()
      .map(r => (r.getAs[Int]("r"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("maxcos_e6")))
    // driver replay over the snapped codes
    val codes = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect()
      .map { r =>
        r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)
          .map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
      }.sortBy(_._1)
    def cosE6(a: Array[Long], b: Array[Long]): Long = {
      var dot = 0L; var an = 0L; var bn = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); an += a(i) * a(i); bn += b(i) * b(i); i += 1 }
      math.floor(dot.toDouble /
        (math.sqrt(an.toDouble) * math.sqrt(bn.toDouble)) * 1e6 + 0.5).toLong
    }
    var chosen = Vector((1, codes.head._1, 1000000L))
    var chosenCodes = Vector(codes.head._2)
    for (r <- 2 to 8) {
      val ids = chosen.map(_._2).toSet
      val (mc, id, c) = codes.filterNot(p => ids(p._1))
        .map { case (id, c) => (chosenCodes.map(cc => cosE6(c, cc)).max, id, c) }
        .minBy(p => (p._1, p._2))
      chosen = chosen :+ ((r, id, mc))
      chosenCodes = chosenCodes :+ c
    }
    assert(got.toSeq === chosen, "greedy sweep replay")
    // cover radius is monotone from round 2 on: each added center can
    // only RAISE every vector's max-cos, so the picked minima ascend
    val mcs = got.drop(1).map(_._3)
    assert(mcs.zip(mcs.tail).forall { case (a, b) => a <= b })
  }

  test("composable k-center: deterministic, corpus points, radius in the bound") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.selectKcenterComposable(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val b = Similarity.selectKcenterComposable(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(a.toSeq === b.toSeq, "run-to-run deterministic")
    assert(a.length === 8 && a.map(_._1).toSeq === (1 to 8))
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(a.forall(p => ids(p._2)), "centers are corpus points")
    // cover quality within the analytic composable bound of one-shot
    val oneShot = Similarity.selectKcenter(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSeq
    val rComp = 1000000L - Similarity.coverMaxcosE6(emb, a.map(_._2).toSeq)
    val rOne = 1000000L - Similarity.coverMaxcosE6(emb, oneShot)
    info(s"cover radius composable=$rComp oneshot=$rOne " +
      s"ratio=${rComp.toDouble / rOne}")
    assert(rComp <= 4 * rOne, "composable radius within the analytic 4x bound")
  }

  test("select_kcenter_assign: cells partition the corpus, argmax replayed") {
    val cells = Similarity.selectKcenterAssign(spark, sf).collect()
      .map(r => r.getAs[Long]("center_id") -> r.getAs[Long]("n_members"))
    val centers = Similarity.selectKcenter(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(cells.map(_._1).toSet.subsetOf(centers),
      "every cell key is a chosen center")
    val n = Tables.embeddings(spark, sf).count()
    assert(cells.map(_._2).sum === n, "cells partition the corpus")
    assert(cells.forall(_._2 >= 1), "each center holds at least itself")
    // argmax replay on the collected codes
    val codes = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect()
      .map { r =>
        r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)
          .map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray
      }
    def cosE6(a: Array[Long], b: Array[Long]): Long = {
      var dot = 0L; var an = 0L; var bn = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); an += a(i) * a(i); bn += b(i) * b(i); i += 1 }
      math.floor(dot.toDouble /
        (math.sqrt(an.toDouble) * math.sqrt(bn.toDouble)) * 1e6 + 0.5).toLong
    }
    val centCodes = codes.filter(p => centers(p._1))
    val expected = codes
      .map { case (_, c) =>
        centCodes.map { case (cid, cc) => (-cosE6(c, cc), cid) }.min._2 }
      .groupBy(identity).map { case (cid, xs) => cid -> xs.length.toLong }
    assert(cells.toMap === expected, "Voronoi cell sizes replay")
  }

  test("knn_graph restricted to the query slice is bit-identical to annIvf") {
    // the graph runs the SAME probe/score/top-k mechanics for every
    // source that annIvf runs for its query batch — on the shared
    // sources the outputs must agree row-for-row, not just in recall
    val g = Similarity.knnGraph(spark, sf).filter(col("vec_id") < 10)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rank"))).toSet
    val a = Similarity.annIvf(spark, sf, nQueries = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rank"))).toSet
    assert(g == a)
  }

  test("knn_graph: every source present, ranks dense, scores rank-monotone") {
    val emb = graft.Tables.embeddings(spark, sf)
    val rows = Similarity.knnGraph(spark, sf).collect()
    val bySrc = rows.groupBy(_.getAs[Long]("vec_id"))
    assert(bySrc.keySet.size.toLong == emb.count(),
      "every corpus vector is a graph source")
    bySrc.foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length),
        s"source $src ranks not dense")
      val cs = sorted.map(_.getAs[Double]("cos_sim"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y },
        s"source $src not score-monotone")
      assert(rs.forall(_.getAs[Long]("neighbor_id") != src), "no self edge")
    }
  }

  test("kmeans_report: member counts partition the corpus, mean >= min") {
    val n = graft.Tables.embeddings(spark, sf).count()
    val rows = Similarity.kmeansReport(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n)
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_cos") >= r.getAs[Double]("min_cos") - 1e-9)
      assert(r.getAs[Long]("n_vecs") > 0)
    }
    // argmax-dot assignment over 32 directions: each bucket's members
    // chose it, so the bucket means sit well above the random-pair 0
    assert(rows.map(_.getAs[Double]("mean_cos")).min > 0.0)
  }

  test("mine_bitext: planted aligned pairs mined, margins replay exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def randomVec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    // pairs (0,1) (2,3) (4,5) strongly aligned across the pools;
    // ids 6..23 unrelated noise
    val aligned = (0 until 3).flatMap { i =>
      val base = randomVec()
      val twin = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((2L * i, base), (2L * i + 1, twin))
    }
    val noise = (6L until 24L).map(id => (id, randomVec()))
    val emb = (aligned ++ noise).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(
      emb.orderBy("vec_id").select("embedding").as[Array[Float]].collect(),
      nlist = 4, iters = 5)
    // exhaustive probe (nprobe = nlist): blocking prunes nothing, so
    // the output must equal the driver-side brute-force replay
    val got = Similarity.mineBitextOn(emb, cents, k = 2, nprobe = 4)
      .collect()
      .map(r => r.getAs[Long]("src_id") ->
        ((r.getAs[Long]("tgt_id"), r.getAs[Double]("cos_sim"),
          r.getAs[Double]("margin"), r.getAs[Int]("mined"))))
      .toMap

    val vecs = (aligned ++ noise).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      r6(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    // per-id cross-pool top-2 and its exact-decimal average
    val ids = vecs.keys.toSeq.sorted
    val knn = ids.map { x =>
      val top = ids.filter(y => y % 2 != x % 2)
        .map(y => (y, cos6(vecs(x), vecs(y))))
        .sortBy { case (y, c) => (-c, y) }.take(2)
      x -> top
    }.toMap
    val avg = knn.map { case (x, top) =>
      x -> (top.map(t => BigDecimal(t._2)).sum.toDouble / top.length)
    }
    val expect = ids.filter(_ % 2 == 0).map { x =>
      val best = knn(x).map { case (y, c) =>
        (y, c, r6(c / ((avg(x) + avg(y)) / 2.0)))
      }.sortBy { case (y, _, m) => (-m, y) }.head
      x -> ((best._1, best._2, best._3,
        if (best._3 >= 1.05) 1 else 0))
    }.toMap
    assert(got == expect)
    // the planted twins: found and mined. (No claim that planted
    // margins EXCEED all noise margins — the margin self-normalizes:
    // the twin itself raises its source's avgNN, and a sparse noise
    // neighborhood can make a mediocre pair look locally exceptional.
    // The exact replay above is the real contract.)
    for (i <- 0 until 3) {
      val (tgt, _, margin, mined) = got(2L * i)
      assert(tgt == 2L * i + 1, s"pair $i mismatched")
      assert(mined == 1, s"pair $i not mined (margin $margin)")
    }
  }
}
