package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The planted duplicates (exact ids 0-24 → +100000, near 25-49 →
  * +100000 with a 2-token suffix) must be detected by every dedup
  * flavor. */
class DedupSpec extends SparkSpec {

  test("exact dedup finds all 25 planted exact duplicates") {
    val got = Dedup.dedupExact(spark, sf).collect()
    assert(got.length == 25)
    assert(got.forall(_.getAs[Long]("n_copies") == 2))
    assert(got.map(_.getAs[Long]("keeper_id")).toSet == (0L until 25L).toSet)
  }

  test("lsh_plan: knees rise and catch falls as rows-per-band grows") {
    val rows = Dedup.lshPlan(spark, sf).collect()
      .map(r => (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band"),
        r.getAs[Double]("knee_s"), r.getAs[Double]("exp_catch")))
    assert(rows.length == 7)
    // ordered by bands desc = rows-per-band asc: stricter geometries
    // target higher similarity and catch less of the observed pairs
    val knees = rows.map(_._3)
    assert(knees.zip(knees.tail).forall { case (a, b) => a <= b }, knees.toSeq)
    val catches = rows.map(_._4)
    assert(catches.zip(catches.tail).forall { case (a, b) => a >= b })
    // the production 16x4 geometry is in the table with a mid knee
    val g = rows.find(r => r._1 == 16 && r._2 == 4).get
    assert(g._3 >= 0.1 && g._3 <= 0.55, s"16x4 knee ${g._3}")
    // the S-curve itself: p is a probability and hits the endpoints
    assert(Dedup.planCollide(0.0, 16, 4) == 0.0)
    assert(Dedup.planCollide(1.0, 16, 4) == 1.0)
  }

  test("winnowing: deque selection equals brute force, incl. forced ties") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 50) {
      val n = 1 + rnd.nextInt(40)
      // range 6 forces frequent equal hashes — the rightmost-tie path
      val hs = Array.fill(n)(rnd.nextInt(6).toLong)
      assert(Dedup.winnowSelect(hs, 8) == Dedup.winnowSelectNaive(hs, 8),
        s"trial $trial: ${hs.mkString(",")}")
    }
  }

  test("winnowing: every full window contains a selection (coverage)") {
    val rnd = new scala.util.Random(7)
    val hs = Array.fill(200)(rnd.nextLong())
    val sel = Dedup.winnowSelect(hs, 8).map(_._1)
    (0 to hs.length - 8).foreach { p =>
      assert(sel.exists(o => o >= p && o < p + 8), s"window $p uncovered")
    }
    // density: winnowing keeps ~2/(w+1) of positions, far below 1
    assert(sel.size < hs.length / 2)
  }

  test("dedup_winnow: planted duplicates share fingerprints; guarantee holds") {
    val pairs = Dedup.dedupWinnow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact plants share everything; near plants differ only in tail
    (0L until 25L).foreach(i =>
      assert(pairs.contains((i, i + 100000)), s"exact plant $i missing"))
    (25L until 50L).foreach(i =>
      assert(pairs.contains((i, i + 100000)), s"near plant $i missing"))
  }

  test("ngram jaccard finds all 25 planted near-duplicates") {
    val pairs = Dedup.ngramJaccard(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (25L until 50L).map(i => (i, i + 100000)).toSet
    assert(planted.subsetOf(pairs))
  }

  test("prefix-filtered jaccard equals the counting formulation") {
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val plain = Dedup.ngramJaccard(docs).collect().map(_.toSeq).toSet
    val prefixed = Dedup.ngramJaccardPrefix(docs).collect().map(_.toSeq).toSet
    assert(plain == prefixed)
    assert(plain.nonEmpty)
  }

  test("minhash LSH candidates cover all 50 planted pairs") {
    val pairs = Dedup.minhashCandidates(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 50L).map(i => (i, i + 100000)).toSet
    assert(planted.subsetOf(pairs))
  }

  test("lsh calibration: banding mechanism and estimator accuracy") {
    val rows = Dedup.lshCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    // every candidate collided on >=1 full band of 4 hash positions
    assert(rows.forall(_.getAs[Int]("n_agree") >= 4))
    // est_sim is exactly n_agree/64 (an exact binary rational)
    assert(rows.forall(r =>
      r.getAs[Double]("est_sim") == r.getAs[Int]("n_agree") / 64.0))
    // exact plants: all 64 hashes agree, exact Jaccard 1.0
    val exact = rows.filter(r =>
      r.getAs[Long]("d1") < 25 && r.getAs[Long]("d2") == r.getAs[Long]("d1") + 100000)
    assert(exact.length == 25)
    assert(exact.forall(r => r.getAs[Int]("n_agree") == 64 &&
      r.getAs[Double]("jaccard") == 1.0))
    // the minhash estimator is calibrated on collisions: with 64
    // hashes the per-pair std dev is <= sqrt(J(1-J)/64) <= 0.0625,
    // so the mean absolute error across candidates stays small
    val mae = rows.map(r =>
      math.abs(r.getAs[Double]("est_sim") - r.getAs[Double]("jaccard"))).sum / rows.length
    assert(mae < 0.1, s"estimator MAE $mae")
  }

  test("simhash finds planted near-dups within hamming 3") {
    val rows = Dedup.simhashNearDups(spark, sf).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact plants have identical token multisets -> hamming 0
    val exact = (0L until 25L).map(i => (i, i + 100000)).toSet
    assert(exact.subsetOf(pairs))
    assert(rows.forall(_.getAs[Int]("hamming") <= 3))
  }

  test("Manku 6x10-bit banding finds the same pairs as 4x15 pigeonhole") {
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val manku = Dedup.simhashNearDups(docs).collect().map(_.toSeq).toSet
    val pigeonhole = Dedup.simhashNearDups(docs, numChunks = 4).collect().map(_.toSeq).toSet
    // both geometries guarantee hamming<=3 exactly, so outputs are equal
    assert(pigeonhole == manku)
    assert(pigeonhole.nonEmpty)
    // C(5,2)=10-table middle geometry agrees too
    val five = Dedup.simhashNearDups(docs, numChunks = 5).collect().map(_.toSeq).toSet
    assert(pigeonhole == five)
  }

  test("connected components cluster planted copies with their originals") {
    val labels = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    // every planted copy lands in its original's cluster
    for (i <- 0L until 50L if labels.contains(i + 100000)) {
      assert(labels.contains(i) && labels(i + 100000) == labels(i),
        s"copy ${i + 100000} not clustered with $i")
    }
    // cluster_id is the component minimum (the keep-min-id keeper)
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid min is ${members.keys.min}")
    }
  }

  test("jaccard_topk: banded candidates reranked exactly, twins in the ball at 1.0") {
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val got = Dedup.jaccardTopK(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // driver replay over the candidates + collected shingle sets
    val cand = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = Dedup.shingles(docs, 3).collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val qc = cand.filter(_._1 < 50).map(p => (p._1, p._2)) ++
      cand.filter(_._2 < 50).map(p => (p._2, p._1))
    val expected = qc.groupBy(_._1).toSeq.flatMap { case (q, ns) =>
      ns.map(_._2).distinct.toSeq.flatMap { n =>
        val s1 = byDoc(q); val s2 = byDoc.getOrElse(n, Set.empty[String])
        val shd = (s1 & s2).size
        if (shd == 0) None
        else Some((n, shd.toLong, shd.toDouble / (s1.size + s2.size - shd)))
      }.sortBy(p => (-p._3, p._1)).take(5).zipWithIndex
        .map { case ((n, shd, j), i) => (q, i + 1, n, shd, j) }
    }.sortBy(p => (p._1, p._2))
    assert(got.toSeq === expected, "banded-candidate rerank replay")
    // exact plants (doc_id < 25 ↔ +100000): the twin sits in the
    // ball at jaccard 1.0 unless the ball saturates with 1.0 ties
    val ball = got.groupBy(_._1)
    (0L until 25L).foreach { i =>
      assert(ball.get(i).exists(rs =>
          rs.exists(r => r._3 == i + 100000 && r._5 == 1.0) ||
            rs.count(_._5 == 1.0) == 5),
        s"exact plant $i not retrieved at jaccard 1.0")
    }
  }

  test("dedup_soft: weights invert cluster size, singletons keep full weight") {
    val rows = Dedup.dedupSoft(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).distinct.length == rows.length,
      "one weight row per planted-corpus doc")
    // stored csize == member count per cluster, w_ppm = 1e6 div csize
    rows.groupBy(_._2).foreach { case (cid, ms) =>
      assert(ms.forall(_._3 == ms.length.toLong),
        s"cluster $cid stored csize != member count")
      assert(ms.forall(_._4 == 1000000L / ms.length),
        s"cluster $cid weight != 1e6 div csize")
    }
    // planted exact twins (doc_id < 25 ↔ doc_id + 100000) must share
    // a cluster, so every such original weighs at most half
    val twinned = rows.filter(r => r._1 < 25)
    assert(twinned.nonEmpty && twinned.forall(_._4 <= 500000L))
    // singletons: full weight, own-id cluster label
    val singles = rows.filter(_._3 == 1L)
    assert(singles.forall(r => r._4 == 1000000L && r._2 == r._1))
  }

  test("reliable-checkpoint CC mode is output-identical to localCheckpoint") {
    // cluster runs use reliable checkpoints (executor-resident
    // localCheckpoint blocks die with an executor); the mode must be
    // a pure durability choice, never a semantic one
    val dir = java.nio.file.Files.createTempDirectory("ccreliable").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Dedup.minhashCandidates(
      Dedup.withPlants(Tables.documents(spark, sf)))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id")).toMap
    assert(m(Dedup.connectedComponents(pairs, reliable = true)) ==
      m(Dedup.connectedComponents(pairs)))
    assert(m(Dedup.connectedComponentsStar(pairs, reliable = true)) ==
      m(Dedup.connectedComponentsStar(pairs)))
    // the reliable rounds actually persisted to the checkpoint dir
    assert(new java.io.File(dir).listFiles.nonEmpty,
      "reliable mode wrote nothing to the checkpoint directory")
  }

  test("star-contraction CC equals label propagation and union-find truth") {
    import spark.implicits._
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // min-id labels: one more find pass after all unions
      nodes.map(n => n -> find(n)).toMap
    }
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rnd = new scala.util.Random(11)
    val graphs = Seq(
      // random sparse graphs of assorted shapes
      Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)),
      Seq.fill(200)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)),
      // stars + disjoint cliques
      (1L to 20L).map(i => (0L, i)) ++ Seq((30L, 31L), (31L, 32L), (30L, 32L))
    ).map(_.filter(e => e._1 != e._2))
    graphs.foreach { g =>
      val pairs = g.toDF("d1", "d2")
      val truth = unionFind(g)
      assert(labelsOf(Dedup.connectedComponentsStar(pairs)) == truth)
      assert(labelsOf(Dedup.connectedComponents(pairs)) == truth)
    }
    // adversarial 100-hop chain: diameter 100 >> the label-propagation
    // default budget; star contraction converges in O(log^2) rounds
    val chain = (0L until 100L).map(i => (i, i + 1))
    assert(labelsOf(Dedup.connectedComponentsStar(chain.toDF("d1", "d2"))) ==
      unionFind(chain))
    // the production entry point survives the same chain by falling
    // back to star contraction instead of throwing
    assert(labelsOf(Dedup.connectedComponentsSafe(chain.toDF("d1", "d2"))
      .select("node", "cluster_id")) == unionFind(chain))
    // same pairs through the production entry point agree too
    val corpus = Dedup.minhashCandidates(Dedup.withPlants(Tables.documents(spark, sf)))
    assert(labelsOf(Dedup.connectedComponentsStar(corpus)
      .select("node", "cluster_id")) ==
      labelsOf(Dedup.connectedComponents(corpus).select("node", "cluster_id")))
  }

  test("embedding cosine pairs are label-blocked and thresholded") {
    val rows = Dedup.embCosineDups(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("cos_sim") >= 0.35))
  }

  test("span dedup finds cross-doc repeated substrings with min-id keepers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "the license header is repeated verbatim across files ok"),
      (2L, "x", "PREFIX the license header is repeated verbatim across files"),
      (3L, "x", "completely unrelated content that shares nothing with others"))
      .toDF("doc_id", "lang", "text")
    val rows = Dedup.dedupSpans(docs).collect()
    assert(rows.nonEmpty, "shared 32-char spans not detected")
    // every repeated span is kept by the lowest doc id that has it
    rows.foreach { r =>
      assert(r.getAs[Long]("keeper_id") == 1L)
      assert(r.getAs[Long]("n_docs") == 2L)
    }
    // doc 3 shares no span with anyone
    val rows13 = Dedup.dedupSpans(docs.filter(col("doc_id") =!= 2L)).collect()
    assert(rows13.isEmpty)
    // spans shorter than the window emit nothing (no crash)
    assert(Dedup.dedupSpans(Seq((9L, "x", "tiny")).toDF("doc_id", "lang", "text"))
      .collect().isEmpty)
  }

  test("incremental dedup: batch pairs only against the corpus") {
    val all = Dedup.withPlants(Tables.documents(spark, sf))
    val corpus = all.filter(col("doc_id") < 100000)
    val batch = all.filter(col("doc_id") >= 100000)
    val pairs = Dedup.dedupIncremental(corpus, batch).collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"))).toSet
    // sides never mix: corpus ids left, batch ids right
    assert(pairs.forall { case (c, b) => c < 100000 && b >= 100000 })
    // every EXACT plant collides with its original (identical text ⇒
    // identical signature in all bands)
    val exactPlants = batch.filter(col("doc_id") < 100025)
      .select("doc_id").collect().map(_.getLong(0))
    exactPlants.foreach { b =>
      assert(pairs.contains((b - 100000, b)), s"plant $b missed its original")
    }
    // and the result is exactly the cross-boundary slice of the full
    // self-join — the incremental form loses nothing at the boundary
    val full = Dedup.minhashCandidates(all).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")))
      .filter { case (a, b) => a < 100000 && b >= 100000 }.toSet
    assert(pairs == full)
  }

  test("maintained band index: daily steps equal the one-shot cross-arrival pairs") {
    val dir = java.nio.file.Files.createTempDirectory("bandindex").toString + "/idx"
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    // day 1 batch: copies of corpus docs 0-2; day 2 batch: a copy of
    // corpus doc 3 AND a copy of DAY-1 doc 1001 — the latter is only
    // detectable if day 1's append actually reached the artifact
    val b1 = base.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000)
    val b2 = base.filter(col("doc_id") === 3)
      .withColumn("doc_id", col("doc_id") + 2000)
      .unionByName(base.filter(col("doc_id") === 1)
        .withColumn("doc_id", col("doc_id") + 2001))
    Dedup.writeBandIndex(base, dir)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"))).toSet
    val day1 = pairsOf(Dedup.dedupIncrementalStep(spark, dir, b1))
    val day2 = pairsOf(Dedup.dedupIncrementalStep(spark, dir, b2))
    // exact copies must hit their originals each day
    assert(Set((0L, 1000L), (1L, 1001L), (2L, 1002L)).subsetOf(day1))
    assert(Set((3L, 2003L), (1L, 2002L)).subsetOf(day2))
    // the appended day-1 docs are part of day 2's standing corpus
    assert(day2.contains((1001L, 2002L)),
      "day-2 batch did not see the day-1 docs appended to the artifact")
    // loop invariant: the union of daily detections == the one-shot
    // candidate pairs over corpus ∪ b1 ∪ b2, sliced to CROSS-arrival
    // pairs (ids here increase with arrival, so d1 < d2 orients them)
    val arrival = (id: Long) => if (id < 1000) 0 else if (id < 2000) 1 else 2
    val oneShot = Dedup.minhashCandidates(
        base.unionByName(b1).unionByName(b2)).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")))
      .filter { case (u, v) => arrival(u) != arrival(v) }.toSet
    assert((day1 ++ day2) == oneShot,
      s"loop ${day1.size}+${day2.size} pairs != one-shot ${oneShot.size}")
  }

  test("maintained emb code index: daily steps equal one-shot cross-arrival pairs") {
    val dir = java.nio.file.Files.createTempDirectory("embindex").toString + "/idx"
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 60)
    // day 1: copies of corpus vectors 0-2; day 2: a copy of corpus
    // vector 3 AND a copy of DAY-1 vector 1001 — the latter is only
    // detectable if day 1's append actually reached the artifact
    val b1 = base.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 1000)
    val b2 = base.filter(col("vec_id") === 3)
      .withColumn("vec_id", col("vec_id") + 2000)
      .unionByName(base.filter(col("vec_id") === 1)
        .withColumn("vec_id", col("vec_id") + 2001))
    Dedup.writeEmbCodeIndex(base, dir)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"))).toSet
    val day1 = pairsOf(Dedup.dedupEmbIncrementalStep(spark, dir, b1))
    val day2 = pairsOf(Dedup.dedupEmbIncrementalStep(spark, dir, b2))
    // identical vectors collide in every table at cosine 1 ≥ τ
    assert(Set((0L, 1000L), (1L, 1001L), (2L, 1002L)).subsetOf(day1))
    assert(Set((3L, 2003L), (1L, 2002L)).subsetOf(day2))
    // the appended day-1 vectors are part of day 2's standing corpus
    assert(day2.contains((1001L, 2002L)),
      "day-2 batch did not see the day-1 vectors appended to the artifact")
    // loop invariant: the union of daily detections == the one-shot
    // embLshDups pairs over corpus ∪ b1 ∪ b2, sliced to CROSS-arrival
    // pairs (ids increase with arrival, so v1 < v2 orients them)
    val arrival = (id: Long) => if (id < 1000) 0 else if (id < 2000) 1 else 2
    val oneShot = Dedup.embLshDups(base.unionByName(b1).unionByName(b2))
      .collect()
      .map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2")))
      .filter { case (u, v) => arrival(u) != arrival(v) }.toSet
    assert((day1 ++ day2) == oneShot,
      s"loop ${day1.size}+${day2.size} pairs != one-shot ${oneShot.size}")
  }

  test("maintained span index: daily steps equal the one-shot cross-set detection") {
    val dir = java.nio.file.Files.createTempDirectory("spanindex").toString + "/idx"
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    // day 1: copies of corpus docs 0-2; day 2: a copy of corpus doc 3
    // AND a copy of DAY-1 doc 1001 — detectable only via the append
    val b1 = base.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000)
    val b2 = base.filter(col("doc_id") === 3)
      .withColumn("doc_id", col("doc_id") + 2000)
      .unionByName(base.filter(col("doc_id") === 1)
        .withColumn("doc_id", col("doc_id") + 2001))
    Dedup.writeSpanIndex(base, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("span_hash"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("n_batch_docs"), r.getAs[Long]("n_batch_occurrences")))
      .toSet
    val day1 = rows(Dedup.dedupSpansIncrementalStep(spark, dir, b1))
    val day2 = rows(Dedup.dedupSpansIncrementalStep(spark, dir, b2))
    assert(day1.nonEmpty && day2.nonEmpty)
    // loop invariant: each day's detection equals the one-shot
    // cross-set form over (corpus ∪ earlier batches, that day's batch)
    assert(day1 == rows(Dedup.dedupSpansIncremental(base, b1)))
    assert(day2 == rows(Dedup.dedupSpansIncremental(base.unionByName(b1), b2)))
    // the day-2 copy of day-1 doc 1001 binds to keeper 1 (the corpus
    // original is the min-id holder of those spans, through the index)
    assert(day2.exists { case (_, keeper, _, _) => keeper == 1L },
      "day-2 copy of a day-1 doc not detected through the appended index")
  }

  test("maintained chunk index: daily steps equal the one-shot cross-set detection") {
    val dir = java.nio.file.Files.createTempDirectory("chunkindex").toString + "/idx"
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    // day 1: copies of corpus docs 0-2; day 2: a copy of corpus doc 3
    // AND a copy of DAY-1 doc 1001 — detectable only via the append
    val b1 = base.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000)
    val b2 = base.filter(col("doc_id") === 3)
      .withColumn("doc_id", col("doc_id") + 2000)
      .unionByName(base.filter(col("doc_id") === 1)
        .withColumn("doc_id", col("doc_id") + 2001))
    Dedup.writeChunkIndex(base, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("chunk_hash"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("n_batch_docs"), r.getAs[Long]("n_batch_occurrences")))
      .toSet
    val day1 = rows(Dedup.dedupChunksIncrementalStep(spark, dir, b1))
    val day2 = rows(Dedup.dedupChunksIncrementalStep(spark, dir, b2))
    assert(day1.nonEmpty && day2.nonEmpty)
    // loop invariant: each day's detection equals the one-shot
    // cross-set form over (corpus ∪ earlier batches, that day's batch)
    assert(day1 == rows(Dedup.dedupChunksIncremental(base, b1)))
    assert(day2 == rows(Dedup.dedupChunksIncremental(base.unionByName(b1), b2)))
    // the day-2 copy of day-1 doc 1001 binds to keeper 1 (the corpus
    // original is the min-id holder of those chunks, through the index)
    assert(day2.exists { case (_, keeper, _, _) => keeper == 1L },
      "day-2 copy of a day-1 doc not detected through the appended index")
  }

  test("incremental chunk excise: corpus-known content is cut, novel survives once") {
    val dir = java.nio.file.Files.createTempDirectory("chunkexc").toString + "/idx"
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    Dedup.writeChunkIndex(base, dir)
    // batch: an exact copy of corpus doc 1 + a genuinely novel doc
    val copy = base.filter(col("doc_id") === 1)
      .withColumn("doc_id", col("doc_id") + 1000)
    val novelText = "entirely novel content the corpus never saw " * 4
    val novel = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(5000L, novelText)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val batch = copy.select(col("doc_id"), col("text"))
      .unionByName(novel)
    val got1 = Dedup.dedupChunksExciseIncrementalStep(spark, dir, batch)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    // the corpus copy is ALL marker seams (every chunk corpus-known)
    val (nc1, ne1, t1) = got1(1001L)
    assert(ne1 == nc1 && t1.forall(_ == '~'),
      s"corpus copy not fully excised: $nc1 chunks, $ne1 excised")
    // the novel doc survives: at least its first distinct chunk is
    // kept (corpus-unknown), so real text remains
    val (nc2, ne2, t2) = got1(5000L)
    assert(ne2 < nc2 && t2.exists(_ != '~'))
    // replaying the SAME batch (fresh ids): everything now excises —
    // the step appended the batch's chunks to the index
    val again = batch.withColumn("doc_id", col("doc_id") + 10000L)
    val got2 = Dedup.dedupChunksExciseIncrementalStep(spark, dir, again)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got2.values.forall { case (nc, ne, t) =>
      ne == nc && t.forall(_ == '~') },
      "replayed batch not fully excised through the appended index")
  }

  test("maximal span matches report the exact shared block per pair") {
    import spark.implicits._
    val x = "SHARED-BOILERPLATE-0123456789-ABCDEF" + "QRST" // 40 chars
    val p1 = "alpha beta gamma:"; val s1 = "!delta epsilon"
    val p2 = "one two;"; val s2 = "?three four five six"
    val docs = Seq((1L, p1 + x + s1), (2L, p2 + x + s2))
      .toDF("doc_id", "text")
    val rows = Dedup.dedupSpansMaximal(docs).collect()
    assert(rows.length == 1, s"expected one maximal match, got ${rows.toSeq}")
    val r = rows.head
    assert(r.getAs[Long]("d1") == 1L && r.getAs[Long]("d2") == 2L)
    assert(r.getAs[Int]("off1") == p1.length)
    assert(r.getAs[Int]("off2") == p2.length)
    assert(r.getAs[Int]("match_len") == 40)
  }

  test("every reported maximal span is a shared substring and truly maximal") {
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val text = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rows = Dedup.dedupSpansMaximal(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d1, d2) = (r.getAs[Long]("d1"), r.getAs[Long]("d2"))
      val (o1, o2) = (r.getAs[Int]("off1"), r.getAs[Int]("off2"))
      val len = r.getAs[Int]("match_len")
      val (t1, t2) = (text(d1), text(d2))
      assert(len >= 32)
      // the reported region IS shared
      assert(t1.substring(o1, o1 + len) == t2.substring(o2, o2 + len),
        s"($d1,$d2)@($o1,$o2)+$len not equal")
      // and MAXIMAL: the characters just outside differ (or a doc ends)
      assert(o1 == 0 || o2 == 0 || t1(o1 - 1) != t2(o2 - 1),
        s"($d1,$d2)@($o1,$o2) extends left")
      assert(o1 + len == t1.length || o2 + len == t2.length ||
        t1(o1 + len) != t2(o2 + len),
        s"($d1,$d2)@($o1,$o2)+$len extends right")
    }
  }

  test("span excision removes exactly the shared block, coalesced maximally") {
    import spark.implicits._
    // two docs share ONLY the 40-char block X: its 9 repeated windows
    // (offsets xs..xs+8) must coalesce into ONE maximal interval
    // [xs, xs+40) — exactly X — and the surrounding unique text stays
    val x = "SHARED-BOILERPLATE-0123456789-ABCDEF" + "QRST" // 40 chars
    assert(x.length == 40)
    // boundary chars deliberately DIFFER across docs (':' vs ';', '!'
    // vs '?') — a shared boundary char would itself extend the
    // repeated region by one window on each side
    val p1 = "alpha beta gamma:"; val s1 = "!delta epsilon"
    val p2 = "one two;"; val s2 = "?three four five six"
    val docs = Seq((1L, p1 + x + s1), (2L, p2 + x + s2))
      .toDF("doc_id", "text")
    val rows = Dedup.dedupSpansExcise(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Int]("n_intervals") == 1)
    assert(rows(1L).getAs[Int]("chars_removed") == 40)
    assert(rows(1L).getAs[String]("excised_text") == p1 + "~" + s1)
    assert(rows(2L).getAs[String]("excised_text") == p2 + "~" + s2)
  }

  test("excised corpus retains no detected cross-doc repeated span") {
    import spark.implicits._
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val detected = Dedup.dedupSpans(docs).select("span_hash").collect()
      .map(_.getLong(0)).toSet
    assert(detected.nonEmpty)
    val excised = Dedup.dedupSpansExcise(docs)
    // every doc comes back exactly once
    assert(excised.count() == docs.count())
    // recompute ALL window hashes of the excised corpus: none of the
    // originally-detected repeated spans may survive in ANY doc —
    // marker-free windows are original-text windows (so detected ones
    // were cut), and a seam window carries '~', which no original
    // span contains (the corpus is marker-free, asserted below)
    assert(docs.filter(org.apache.spark.sql.functions.col("text")
      .contains("~")).count() == 0)
    val survived = excised
      .select(col("doc_id"), col("excised_text"))
      .as[(Long, String)]
      .flatMap { case (_, t) =>
        if (t.length < 32) Iterator.empty
        else (0 to t.length - 32).iterator.map(i => t.substring(i, i + 32)) }
      .map(w => Dedup.spanHashOf(w))
      .filter(h => detected.contains(h))
      .count()
    assert(survived == 0, s"$survived detected repeated spans survived excision")
  }

  test("emb LSH score-in-join and rerank-join strategies are result-identical") {
    val e = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2"),
        r.getAs[Double]("cos_sim"))).toSet
    val inJoin = rows(Dedup.embLshDups(e))
    val rerank = rows(Dedup.embLshDupsRerank(e))
    assert(inJoin.nonEmpty)
    assert(inJoin == rerank)
    // the salted self-join (coarse-geometry default) must generate the
    // SAME pair set: a (u, v) pair meets exactly once, at key
    // (tid, code, g(u), g(v)) — no pair lost, none double-counted
    assert(rows(Dedup.embLshDups(e, saltGroups = 1)) == inJoin)
    assert(rows(Dedup.embLshDups(e, saltGroups = 5)) == inJoin)
    // fine-geometry default stays unsalted; coarse default salts
    assert(Dedup.defaultSaltGroups(16, 4) == 8)
    assert(Dedup.defaultSaltGroups(32, 16) == 1)
  }

  test("keep-best keeper carries the max quality of its cluster") {
    import org.apache.spark.sql.functions._
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val quality = graft.functions.TextFunctions.textStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    val byCluster = Dedup.connectedComponentsSafe(Dedup.minhashCandidates(docs))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster_id"))
      .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val rows = Dedup.dedupKeepBest(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val members = byCluster(r.getAs[Long]("cluster_id"))
      val k = r.getAs[Long]("keeper_id")
      assert(members.contains(k))
      assert(quality(k) == members.map(quality).max,
        s"cluster ${r.getAs[Long]("cluster_id")}: keeper $k not max-quality")
      assert(r.getAs[Long]("n_members") == members.length)
      assert(r.getAs[Double]("keeper_quality") == quality(k))
    }
  }

  test("incremental embedding dedup equals the cross-set slice of the full LSH pairs") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
    val isBatch = (id: Long) => id % 5 == 4
    val inc = Dedup.dedupEmbIncremental(
        e.filter(col("vec_id") % 5 =!= 4), e.filter(col("vec_id") % 5 === 4))
      .collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"))).toSet
    // full self-join pairs (unsalted default geometry), cross-set only,
    // reoriented to (corpus, batch)
    val full = Dedup.embLshDups(e).collect()
      .map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2")))
      .filter { case (a, b) => isBatch(a) != isBatch(b) }
      .map { case (a, b) => if (isBatch(b)) (a, b) else (b, a) }
      .toSet
    assert(inc == full,
      s"incremental ${inc.size} pairs != cross-set slice ${full.size}")
    // and no batch-batch or corpus-corpus pair leaks in
    assert(inc.forall { case (c, b) => !isBatch(c) && isBatch(b) })
    // the one-sided batch salt (coarse-geometry default) is output-
    // invariant: each (corpus, batch) pair meets exactly once, at the
    // corpus row's group
    val unsalted = Dedup.dedupEmbIncremental(
        e.filter(col("vec_id") % 5 =!= 4), e.filter(col("vec_id") % 5 === 4),
        saltGroups = 1)
      .collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id"))).toSet
    assert(unsalted == inc)
  }

  test("chunkCdc tiles every doc exactly; duplicate view matches a driver replay") {
    import spark.implicits._
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val lens = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).length).toMap
    val chunks = Dedup.chunkCdc(docs).collect()
    // per doc: dense indices, cumulative starts, lengths sum to len
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("chunk_idx"))
      assert(sorted.map(_.getAs[Int]("chunk_idx")).toSeq ==
        sorted.indices.toSeq, s"doc $id indices")
      assert(sorted.map(_.getAs[Int]("chunk_start")).toSeq ==
        sorted.scanLeft(0)((a, r) => a + r.getAs[Int]("chunk_len")).init.toSeq,
        s"doc $id starts")
      assert(sorted.map(_.getAs[Int]("chunk_len")).sum == lens(id),
        s"doc $id total length")
      assert(sorted.forall(_.getAs[Int]("chunk_len") > 0), s"doc $id empty chunk")
    }
    // the dedup view: exactly the chunks whose hash spans >= 2 docs
    val byHash = chunks.groupBy(_.getAs[Long]("chunk_hash"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).distinct.size).toMap
    val wantDup = chunks.filter(r => byHash(r.getAs[Long]("chunk_hash")) >= 2)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"))).toSet
    val got = Dedup.dedupChunks(docs).collect()
    assert(got.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"))).toSet == wantDup)
    assert(got.nonEmpty, "plants must produce duplicate chunks")
    got.foreach(r => assert(
      r.getAs[Long]("n_docs") == byHash(r.getAs[Long]("chunk_hash"))))
  }

  test("content-defined chunking resynchronizes after a prefix insertion") {
    import spark.implicits._
    val base = Tables.documents(spark, sf).filter(col("doc_id") === 3)
      .head.getAs[String]("text")
    assume(base.length > 200, "need a long doc")
    val docs = Seq((1L, base), (2L, "INSERTED PREFIX >> " + base))
      .toDF("doc_id", "text")
    val ch = Dedup.chunkCdc(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("chunk_hash")).toSeq).toMap
    // all of doc 1's chunks except (at most) its first appear in doc
    // 2's chunk set: boundaries are content-defined, so the insertion
    // perturbs only chunks up to the first cut beyond it. A
    // fixed-offset decomposition would share NOTHING.
    val shared = ch(1L).toSet & ch(2L).toSet
    assert(ch(1L).size >= 2, s"doc split into ${ch(1L).size} chunks")
    assert(ch(1L).drop(1).forall(shared.contains),
      s"suffix chunks did not resync: ${ch(1L)} vs ${ch(2L)}")
  }


  test("chunk excision keeps exactly one occurrence of every duplicated chunk") {
    val docs = Dedup.withPlants(Tables.documents(spark, sf))
    val chunks = Dedup.chunkCdc(docs).collect()
    val out = Dedup.dedupChunksExcise(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // global accounting: per hash, exactly one occurrence survives
    val occ = chunks.groupBy(_.getAs[Long]("chunk_hash")).view.mapValues(_.length)
    val wantExcised = occ.values.map(_ - 1).sum
    assert(out.values.map(_.getAs[Int]("n_excised")).sum == wantExcised)
    assert(wantExcised > 0, "plants must force excisions")
    // the keeper is the FIRST (doc_id, chunk_idx) occurrence: a doc
    // whose every chunk is globally first passes through unchanged
    val keeper = chunks.groupBy(_.getAs[Long]("chunk_hash")).view.mapValues(
      _.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"))).min).toMap
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val allKept = rs.forall(r => keeper(r.getAs[Long]("chunk_hash")) ==
        (id, r.getAs[Int]("chunk_idx")))
      if (allKept)
        assert(out(id).getAs[String]("excised_text") == texts(id),
          s"doc $id changed despite owning all its chunks")
      else
        assert(out(id).getAs[String]("excised_text") != texts(id),
          s"doc $id unchanged despite losing chunks")
      // reassembly: kept slices in order, one '~' per excised chunk
      val want = rs.sortBy(_.getAs[Int]("chunk_idx")).map { r =>
        val kept = keeper(r.getAs[Long]("chunk_hash")) ==
          (id, r.getAs[Int]("chunk_idx"))
        if (kept) texts(id).substring(r.getAs[Int]("chunk_start"),
          r.getAs[Int]("chunk_start") + r.getAs[Int]("chunk_len"))
        else "~"
      }.mkString
      assert(out(id).getAs[String]("excised_text") == want, s"doc $id rebuild")
      assert(out(id).getAs[Int]("n_chunks") == rs.length)
    }
    // exact-replica plants (doc_id+100000, doc_id < 25) lose EVERY
    // chunk: their excised text is all seams
    out.collect { case (id, r) if id >= 100000 && id < 100025 => r }
      .foreach { r => assert(
        r.getAs[String]("excised_text").forall(_ == '~'),
        s"replica ${r.getAs[Long]("doc_id")} kept a chunk") }
  }

  test("line dedup keeps exactly the first occurrence of every line (crafted)") {
    import spark.implicits._
    // driver-side reference replay of the lining + plants + keep-first
    def linesOf(id: Long, text: String): Seq[(Long, String)] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val content = toks.grouped(10).zipWithIndex
        .map { case (g, j) => (j.toLong, g.mkString(" ")) }.toSeq
      content ++
        (if (id % 7 == 0) Seq((1000000L, Dedup.BoilerplateA)) else Nil) ++
        (if (id % 11 == 0) Seq((1000001L, Dedup.BoilerplateB)) else Nil)
    }
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (3L, s"$shared alpha beta"),            // first owner of `shared`
      (5L, s"$shared gamma"),                 // loses its copy of `shared`
      (7L, "seven unique words only here"),   // newsletter plant (keeper)
      (14L, "fourteen other words present"),  // newsletter plant (removed)
      (11L, "eleven has its very own line"),  // social plant (keeper)
      (22L, "twenty two keeps their words"))  // social plant (removed)
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val all = Seq(3L, 5L, 7L, 14L, 11L, 22L).flatMap { id =>
      val t = docs.filter(col("doc_id") === id).head.getString(1)
      linesOf(id, t).map { case (idx, l) => (id, idx, l) } }
    val keeper = all.groupBy(_._3).view
      .mapValues(_.map(x => (x._1, x._2)).min).toMap
    val counts = all.groupBy(_._3).view.mapValues(_.size).toMap
    all.groupBy(_._1).foreach { case (id, ls) =>
      val kept = ls.sortBy(_._2).filter(x =>
        counts(x._3) == 1 || keeper(x._3) == (x._1, x._2))
      val want = kept.map(_._3).mkString("\n")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(want.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(id).getAs[Long]("n_lines") == ls.size, s"doc $id n_lines")
      assert(got(id).getAs[Long]("n_removed") == ls.size - kept.size,
        s"doc $id n_removed")
      assert(got(id).getAs[String]("out_md5") == md, s"doc $id rebuild")
    }
    // the crafted dup + both plants actually exercised removal
    assert(got(5L).getAs[Long]("n_removed") == 1)
    assert(got(14L).getAs[Long]("n_removed") == 1)
    assert(got(22L).getAs[Long]("n_removed") == 1)
    assert(got(3L).getAs[Long]("n_removed") == 0)
  }

  test("maintained winnow index: daily steps equal the one-shot cross-set form") {
    val dir = java.nio.file.Files.createTempDirectory("winnowidx").toString + "/idx"
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    val b1 = base.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000)
    val b2 = base.filter(col("doc_id") === 3)
      .withColumn("doc_id", col("doc_id") + 2000)
      .unionByName(base.filter(col("doc_id") === 1)
        .withColumn("doc_id", col("doc_id") + 2001))
    Dedup.writeWinnowIndex(base, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("n_shared"))).toSet
    val day1 = rows(Dedup.dedupWinnowIncrementalStep(spark, dir, b1))
    val day2 = rows(Dedup.dedupWinnowIncrementalStep(spark, dir, b2))
    assert(day1.nonEmpty && day2.nonEmpty)
    assert(day1 == rows(Dedup.dedupWinnowIncremental(base, b1)))
    assert(day2 == rows(Dedup.dedupWinnowIncremental(base.unionByName(b1), b2)))
    // the day-2 copy of corpus doc 1 binds to keeper 1, NOT to the
    // day-1 copy 1001 — min-keeper survives the append collapse
    assert(day2.exists { case (b, keeper, _) => b == 2002L && keeper == 1L })
    // compaction folds the append log reader-identically
    val before = spark.read.parquet(dir).groupBy(col("h"))
      .agg(org.apache.spark.sql.functions.min(col("keeper_id")).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.compact(spark, Dedup.WinnowIndex, dir)
    val after = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("h"), r.getAs[Long]("keeper_id"))).toSet
    assert(after == before)
  }

  test("maintained line index: daily steps equal the one-shot cross-set detection") {
    val dir = java.nio.file.Files.createTempDirectory("lineindex").toString + "/idx"
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    // day 1: copies of corpus docs 0-2; day 2: a copy of corpus doc 3
    // AND a copy of DAY-1 doc 1001 — detectable only via the append
    val b1 = base.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000)
    val b2 = base.filter(col("doc_id") === 3)
      .withColumn("doc_id", col("doc_id") + 2000)
      .unionByName(base.filter(col("doc_id") === 1)
        .withColumn("doc_id", col("doc_id") + 2001))
    Dedup.writeLineIndex(base, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("line_hash"), r.getAs[Long]("keeper_id"),
        r.getAs[Long]("n_batch_docs"), r.getAs[Long]("n_batch_occurrences")))
      .toSet
    val day1 = rows(Dedup.dedupLinesIncrementalStep(spark, dir, b1))
    val day2 = rows(Dedup.dedupLinesIncrementalStep(spark, dir, b2))
    assert(day1.nonEmpty && day2.nonEmpty)
    // loop invariant: each day's detection equals the one-shot
    // cross-set form over (corpus ∪ earlier batches, that day's batch)
    assert(day1 == rows(Dedup.dedupLinesIncremental(base, b1)))
    assert(day2 == rows(Dedup.dedupLinesIncremental(base.unionByName(b1), b2)))
    // the day-2 copy of day-1 doc 1001 binds to keeper 1 (the corpus
    // original is the min-id holder of those lines, through the index)
    assert(day2.exists { case (_, keeper, _, _) => keeper == 1L },
      "day-2 copy of a day-1 doc not detected through the appended index")
  }

  test("incremental line excise: corpus-known lines vanish, novel survive once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lineexc").toString + "/idx"
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    Dedup.writeLineIndex(base, dir)
    // batch: a copy of corpus doc 1's TEXT (content lines corpus-known)
    // + a genuinely novel doc; the novel doc repeats one of ITS OWN
    // 10-token lines so the within-batch keep-first rule is exercised
    val copyText = base.filter(col("doc_id") === 1).head.getAs[String]("text")
    val novelLine = (1 to 10).map(i => s"novelword$i").mkString(" ")
    val novelText = s"$novelLine ${(1 to 10).map(i => s"otherword$i").mkString(" ")} $novelLine"
    val batch = Seq((1001L, copyText), (5000L, novelText)).toDF("doc_id", "text")
    val got = Dedup.dedupLinesExciseIncrementalStep(spark, dir, batch)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the copy: all content lines removed; plants removed too iff the
    // corpus already holds them (compute, don't assume)
    val copyLines = Dedup.linesOf(1001L, copyText).toSeq
    val corpusHashes = base.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
      .flatMap { case (i, t) => Dedup.linesOf(i, t) }.map(_._4).toSet
    val expectedKept = copyLines.filterNot(l => corpusHashes.contains(l._4))
    assert(got(1001L).getAs[Long]("n_lines") == copyLines.size.toLong)
    assert(got(1001L).getAs[Long]("n_removed") ==
      (copyLines.size - expectedKept.size).toLong)
    assert(got(1001L).getAs[String]("out_text") ==
      expectedKept.sortBy(_._2).map(_._3).mkString("\n"))
    // at least the content lines were actually corpus-known
    assert(got(1001L).getAs[Long]("n_removed") >= 2L)
    // the novel doc: repeated own-line removed once, rest survives
    val novelLines = Dedup.linesOf(5000L, novelText).toSeq
    assert(got(5000L).getAs[Long]("n_lines") == novelLines.size.toLong)
    assert(got(5000L).getAs[Long]("n_removed") == 1L,
      "within-batch repeat beyond first occurrence must be removed")
    assert(got(5000L).getAs[String]("out_text").startsWith(novelLine))
    // replay: the SAME batch now finds everything corpus-known
    val again = Dedup.dedupLinesExciseIncrementalStep(spark, dir, batch)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1001L, 5000L).foreach { id =>
      assert(again(id).getAs[Long]("n_removed") ==
        again(id).getAs[Long]("n_lines"), s"replay doc $id kept a line")
      assert(again(id).getAs[String]("out_text") == "")
    }
  }

  test("line dedup global accounting on the corpus: one survivor per distinct line") {
    val docs = Tables.documents(spark, sf)
    val out = Dedup.dedupLines(docs).collect()
    val nLines = out.map(_.getAs[Long]("n_lines")).sum
    val nRemoved = out.map(_.getAs[Long]("n_removed")).sum
    // distinct lines (by content) across the corpus — recomputed with
    // the same lining rules driver-side
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val all = texts.flatMap { case (id, t) =>
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      toks.grouped(10).map(_.mkString(" ")).toSeq ++
        (if (id % 7 == 0) Seq(Dedup.BoilerplateA) else Nil) ++
        (if (id % 11 == 0) Seq(Dedup.BoilerplateB) else Nil)
    }
    assert(nLines == all.length.toLong)
    assert(nRemoved == (all.length - all.distinct.length).toLong)
    // the boilerplate plants guarantee removals even on a dup-free corpus
    assert(nRemoved > 0)
  }

}
