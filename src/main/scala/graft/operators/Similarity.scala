package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the embedding column
  * (SURVEY.md §2b). Brute-force cosine is the correctness baseline;
  * random-hyperplane LSH is the 100 TB path (bucketing turns the
  * O(n·q) scan into an equi-join on the code).
  */
object Similarity {

  /** Cosine similarity of two float arrays, computed in double with a
    * sequential left fold — the same expression tree the oracle uses,
    * so results are bit-reproducible across engines. Stays inside
    * whole-stage codegen (higher-order functions, no UDF). */
  def cosineD(a: Column, b: Column): Column = {
    def fold(f: (Column, Column) => Column) =
      aggregate(zip_with(a, b, (x, y) => f(x.cast("double"), y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    val dot = fold((x, y) => x * y)
    val na = sqrt(fold((x, _) => x * x))
    val nb = sqrt(fold((_, y) => y * y))
    dot / (na * nb)
  }

  /** Pair scoring uses the native codegen'd [[CosineSimilarity]]
    * expression — one fused primitive loop per pair, inside
    * whole-stage codegen (the HOF formulation is CodegenFallback and
    * an order of magnitude slower). */
  private val cos = graft.functions.CosineSimilarity.cosineSim _

  /** Per-query top-k via [[graft.functions.TopK.TopKAggregator]] —
    * bounded buffers, map-side partial top-k, no per-group sort (the
    * window/row_number alternative sorts each query's whole candidate
    * list before discarding all but k). */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int,
                                  ordered: Boolean = true): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val top = scored.select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => graft.functions.TopK.Scored(t._2, t._3))
      .agg(new graft.functions.TopK.TopKAggregator(k).toColumn)
      .flatMap { case (qid, arr) =>
        arr.iterator.zipWithIndex.map { case (sc, i) => (qid, sc.id, sc.score, i + 1) } }
      .toDF("query_id", "neighbor_id", "cos_sim", "rank")
    // ordered=false for INTERIOR consumers (shortlists feeding a
    // rerank join, edge frames feeding loops/aggregations): the next
    // operator destroys order anyway, and behind a localCheckpoint
    // Catalyst cannot eliminate the sort — skipping it drops a range
    // exchange + the range-partitioner sampling job (guide §2.4).
    // Rank values are unaffected (the aggregator's array is sorted).
    if (ordered) top.orderBy(col("query_id"), col("rank")) else top
  }

  /** A serve batch's ranked result — at most k rows per query of a
    * bounded batch — in (query_id, rank) order, sorted in ONE
    * partition: a range `orderBy` would spend a sampling job and a
    * shuffle on a few hundred rows. */
  private[graft] def inRankOrder(top: DataFrame): DataFrame =
    top.coalesce(1).sortWithinPartitions(col("query_id"), col("rank"))

  /** Brute-force top-k: broadcast the (small) query set, one pass
    * over the corpus, per-query top-k via bounded aggregation. */
  def annBruteforce(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
    val q = broadcast(Tables.embeddings(s, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val scored = e.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** ann_prefix: the DIMENSION-TRUNCATION ANN tier (Matryoshka/MRL
    * serving: rank on the first `prefixDims` dims, rerank the bounded
    * shortlist on full precision) — the compression axis ORTHOGONAL
    * to quantization: SQ8/PQ shrink per-dim precision, this drops
    * dims entirely (the "dimensions" knob modern embedding APIs
    * expose; MRL trains embeddings so prefixes carry most of the
    * signal). Shortlist = per-query top-`cand` by prefix cosine
    * (6 dp, id tie-break — the bruteforce determinism recipe applied
    * to the sliced arrays), rerank = exact full-dim cosine over cand
    * rows only. The ISOTROPIC synthetic corpus is this tier's WORST
    * case — a 32-of-64 prefix holds only half the variance (prefix/
    * full cosine correlation ≈ √(prefix/dims)) — so the default cand
    * is the measured knee at that geometry, like PqCand: cand
    * 200/300/400/500 → recall@5 0.86/0.92/0.96/0.98 at sf0.1 (400 is
    * the knee — +0.04 over 300 for 1.33× candidates, +0.02 more
    * costs another 1.25×); MRL-trained embeddings reach the same
    * recall with a fraction of the candidates. */
  private[graft] val PrefixDims = 32
  private[graft] val PrefixCand = 400

  /** Since r12 the exact tier ROUTES THROUGH the composed
    * [[annIvfPrefix]] at exhaustive nprobe (= nlist): the probe then
    * prunes nothing, so results are bit-identical to the flat
    * broadcast-≠ corpus scan ([[annPrefixFlat]], kept as the spec's
    * ground truth) — but the candidate join is a bucket EQUI-join,
    * retiring this tier's BroadcastNestedLoopJoin from the serving
    * path (the bucket-assignment map adds ~nlist·dim flops/vector,
    * noise next to the prefix scoring itself). */
  def annPrefix(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
                prefixDims: Int = PrefixDims,
                cand: Int = PrefixCand): DataFrame =
    annIvfPrefix(s, d, nQueries, k, nprobe = IvfNlist,
      prefixDims = prefixDims, cand = cand)

  /** The flat broadcast-≠ corpus-scan form of the prefix tier — the
    * reference implementation [[annPrefix]] is spec'd bit-identical
    * to (SimilaritySpec); not a serving path. */
  private[graft] def annPrefixFlat(s: SparkSession, d: String,
                                   nQueries: Int = 10, k: Int = 5,
                                   prefixDims: Int = PrefixDims,
                                   cand: Int = PrefixCand): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
    val q = broadcast(Tables.embeddings(s, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val pre = e.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(slice(col("qv"), 1, prefixDims),
          slice(col("v"), 1, prefixDims)), 6).as("cos_sim"))
    val top = topKPerQuery(pre, cand, ordered = false).select("query_id", "neighbor_id")
    pqRerank(top, Tables.embeddings(s, d).filter(col("vec_id") < nQueries),
      Tables.embeddings(s, d), k)
  }

  // ---- IVF (inverted-file) ANN -----------------------------------------

  /** Spherical k-means on a driver-side sample — the coarse quantizer
    * for IVF. Deterministic: seeded by taking evenly-spaced sample
    * vectors as initial centroids. Centroids are unit-normalized so
    * assignment is argmax dot. */
  private[graft] def trainCentroids(sample: Array[Array[Float]],
                                        nlist: Int, iters: Int): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val dim = sample.head.length
    val stride = math.max(1, sample.length / nlist)
    var cents = (0 until nlist)
      .map(i => normalize(sample(i * stride % sample.length).map(_.toDouble)))
      .toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        val b = nearestCentroid(cents, v)
        var j = 0
        while (j < dim) { sums(b)(j) += v(j); j += 1 }
        counts(b) += 1
      }
      cents = cents.indices.map { i =>
        if (counts(i) == 0) cents(i) else normalize(sums(i))
      }.toArray
    }
    cents
  }

  private[graft] def nearestCentroid(cents: Array[Array[Double]],
                                         v: Array[Float]): Int = {
    var best = 0; var bestDot = Double.MinValue
    var i = 0
    while (i < cents.length) {
      var dot = 0.0; var j = 0
      while (j < v.length) { dot += cents(i)(j) * v(j); j += 1 }
      if (dot > bestDot) { bestDot = dot; best = i }
      i += 1
    }
    best
  }

  private[graft] def topCentroids(cents: Array[Array[Double]], v: Array[Float],
                           nprobe: Int): Seq[Int] =
    cents.indices.map { i =>
      var dot = 0.0; var j = 0
      while (j < v.length) { dot += cents(i)(j) * v(j); j += 1 }
      (i, dot)
    }.sortBy(-_._2).take(nprobe).map(_._1)

  /** Default IVF geometry: 32 lists, 16 probed. Like the LSH default,
    * sized by the measured recall@5 sweep on the isotropic synthetic
    * corpus (Scale10 ivf_sweep: nprobe 8/12/16/20 → recall
    * 0.78/0.84/0.94/0.96 at candidate fraction 0.25/0.38/0.50/0.63):
    * 16 is the knee — +0.10 recall over 12 for 1.33× candidates,
    * while 20 buys only +0.02 more for another 1.25×. The old default
    * of 12 sat 0.04 above RecallSpec's 0.8 floor — one data drift
    * from red; 16 holds a 0.14 margin. Clustered real data reaches
    * the same recall with far fewer probes. Parameters, not
    * constants. */
  private[graft] val IvfNlist = 32
  private[graft] val IvfNprobe = 16

  /** The bounded, deterministic training sample every trainer uses:
    * the first 2048 vectors of `vectors` by id. Its size is
    * independent of corpus size, so the collect is O(1) at any scale. */
  private[graft] def trainingSample(vectors: DataFrame): Array[Array[Float]] = {
    val s = vectors.sparkSession
    import s.implicits._
    vectors.orderBy("vec_id").limit(2048)
      .select("embedding").as[Array[Float]].collect()
  }

  /** Train the IVF coarse quantizer on [[trainingSample]] of `d`'s
    * corpus. Shared by the query and its oracle, so both see
    * bit-identical centroids; memoized per file version. */
  private[graft] def ivfCentroids(s: SparkSession, d: String,
                                  nlist: Int = IvfNlist): Array[Array[Double]] =
    Tables.memo(s, d, "embeddings", ("ivf", nlist)) {
      trainCentroids(trainingSample(Tables.embeddings(s, d)), nlist, iters = 10)
    }

  /** IVF ANN: corpus bucketed by nearest centroid (write-side
    * partitioning at scale), queries probe their `nprobe` nearest
    * buckets, candidates reranked by exact cosine. The quantizer is
    * trained on a bounded sample (standard IVF practice — sample size
    * is independent of corpus size, so the collect is O(1) at 100 TB). */
  def annIvf(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
             nprobe: Int = IvfNprobe): DataFrame = {
    val cand = annIvfCandidatesWithVecs(s, d, col("vec_id") < nQueries, nprobe)
    topKPerQuery(cand.select(col("query_id"), col("neighbor_id"),
      round(cos(col("qv"), col("v")), 6).as("cos_sim")), k)
  }

  /** The corpus vectors passing `queries` paired with the corpus rows
    * of their `nprobe` probed buckets, self pairs dropped when
    * `excludeSelf`: (neighbor_id, bucket, v, query_id, qv). */
  private def annIvfCandidatesWithVecs(s: SparkSession, d: String, queries: Column,
                                       nprobe: Int,
                                       excludeSelf: Boolean = true): DataFrame = {
    val codec = FloatCodec(ivfCentroids(s, d))
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val probes = codec.probe(emb.filter(queries), nprobe)
      .select(col("vec_id").as("query_id"), col("bucket"), col("embedding").as("qv"))
    val cand = codec.assign(emb)
      .select(col("vec_id").as("neighbor_id"), col("bucket"), col("embedding").as("v"))
      .join(broadcast(probes), Seq("bucket"))
    if (excludeSelf) cand.filter(col("neighbor_id") =!= col("query_id")) else cand
  }

  /** The full (query × corpus) pair product as a bucket EQUI-join at
    * EXHAUSTIVE nprobe: corpus rows keep their single assigned IVF
    * bucket, every query probes ALL nlist buckets, so each pair meets
    * exactly once — result-identical to a broadcast cross product but
    * it plans as a hash join, never a BroadcastNestedLoopJoin (the
    * annIvfPrefix r12 precedent, applied to the hybrid-search
    * semantic side in r14). Self pairs are KEPT (the hybrid fusion
    * ranks the query document itself). Returns
    * (query_id, neighbor_id, qv, v). */
  private[graft] def exhaustivePairsFor(s: SparkSession, d: String,
                                        queryIds: Seq[Long]): DataFrame =
    annIvfCandidatesWithVecs(s, d, col("vec_id").isInCollection(queryIds),
      nprobe = IvfNlist, excludeSelf = false)
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("v"))

  /** Default LSH geometry: 16 tables × 4 hyperplane bits. Chosen by
    * measuring recall@5 vs brute force on the synthetic corpus, whose
    * embeddings are ISOTROPIC (top-5 neighbors sit at cos≈0.3, barely
    * 2.5σ above random pairs) — the hardest regime for LSH. Measured:
    * recall ≈ 0.90 at ~0.65 candidate fraction here; on genuinely
    * clustered embeddings the same geometry reaches the same recall at
    * a small fraction of the corpus. Both knobs are parameters. */
  private[graft] val LshBits = 4
  private[graft] val LshTables = 16

  /** A multi-table hyperplane-LSH geometry: `tables` hash tables of
    * `bits` sign bits each (2^bits buckets per table). */
  case class LshGeometry(tables: Int, bits: Int)

  /** Probability that ONE random hyperplane puts a pair at cosine τ on
    * the same side: p = 1 − θ/π (Goemans–Williamson / Charikar). */
  def pBit(tau: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi

  /** Expected pair recall of a geometry at threshold τ: a pair at
    * exactly τ collides in one table w.p. p^bits, and in ≥1 of
    * `tables` independent tables w.p. 1 − (1 − p^bits)^tables. Pairs
    * above τ only do better, so this is the recall FLOOR the geometry
    * guarantees at its threshold. */
  def expectedRecall(tau: Double, g: LshGeometry): Double = {
    val p = pBit(tau)
    1.0 - math.pow(1.0 - math.pow(p, g.bits), g.tables)
  }

  /** The measured geometry ladder (SURVEY §6), finest buckets first.
    * Scale10 occupancy: 16×4 at τ=0.35 is candidate-quadratic by 10×
    * (128M→513M candidates, forced by the isotropic corpus's at-noise
    * threshold); 32×16 at τ=0.9 is output-bound (433× fewer
    * candidates). */
  private[graft] val GeometryLadder: Seq[LshGeometry] =
    Seq(LshGeometry(32, 16), LshGeometry(32, 8), LshGeometry(16, 4))

  /** Joint (bits, τ) choice, codified: the FINEST geometry on the
    * ladder whose analytic recall floor at τ clears `targetRecall`.
    * This is what keeps the candidate join output-bound wherever τ
    * allows it — the coarse 4-bit buckets (whose candidate volume is
    * measured quadratic) can only be selected when τ is so low that
    * finer buckets would lose the pairs, never silently at production
    * thresholds. Throws below τ≈0.33 (even 16×4 cannot hold 0.9 there)
    * — callers with a sub-noise threshold must pick a geometry
    * explicitly rather than get one that quietly misses pairs.
    * Validated: predicts 0.914 for 16×4@0.35 (measured 0.925) and
    * 0.939 for 32×16@0.9 (measured ≥0.94). */
  def geometryFor(tau: Double, targetRecall: Double = 0.9): LshGeometry =
    GeometryLadder.find(g => expectedRecall(tau, g) >= targetRecall)
      .getOrElse(throw new IllegalArgumentException(
        f"no LSH geometry holds recall >= $targetRecall at tau=$tau%.3f " +
          "(threshold below the geometry ladder's floor) — pass an " +
          "explicit (numTables, numBits) instead"))

  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Array[Array[Array[Double]]]]

  /** Deterministic seeded hyperplanes, `numTables × numBits` planes of
    * 64 dims (one Gaussian stream, so any (tables, bits) pair is
    * reproducible in the oracle). */
  private[graft] def lshPlanes(numTables: Int = LshTables,
                               numBits: Int = LshBits): Array[Array[Array[Double]]] =
    planeCache.getOrElseUpdate((numTables, numBits), {
      val rnd = new scala.util.Random(7)
      Array.fill(numTables, numBits, 64)(rnd.nextGaussian())
    })

  /** The hyperplanes as a DuckDB VALUES list `(tid, pid, plane)` —
    * doubles are printed in shortest round-trip form, so the oracle
    * hashes with the exact same planes. */
  def planesSqlValues: String =
    (for {
      (tab, t) <- lshPlanes().zipWithIndex
      (p, i) <- tab.zipWithIndex
    } yield s"($t, $i, [${p.map(_.toString).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n        ")

  /** (vec_id, tid, code) sign-of-projection codes for every table, in
    * one typed pass (tight primitive loops — the HOF formulation is
    * CodegenFallback and would re-evaluate per exploded element).
    * Shared with [[Dedup.embLshDups]], which uses the codes as a
    * DEDUP blocking key rather than an ANN probe. */
  private[graft] def lshCodes(df: DataFrame,
                       bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val pls = bc.value
        Iterator.tabulate(pls.length) { t =>
          var code = 0
          var i = 0
          while (i < pls(t).length) {
            val p = pls(t)(i)
            var dot = 0.0
            var j = 0
            while (j < v.length) { dot += p(j) * v(j); j += 1 }
            if (dot >= 0) code |= (1 << i)
            i += 1
          }
          (id, t, code)
        }
      }.toDF("vec_id", "tid", "code")
  }

  /** [[lshCodes]] variant that carries the embedding alongside each
    * (vec_id, tid, code) row — lets [[Dedup.embLshDups]] score
    * collisions inside the bucket join instead of re-joining the
    * corpus per candidate. */
  private[graft] def lshCodesWithVec(df: DataFrame,
                       bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val pls = bc.value
        Iterator.tabulate(pls.length) { t =>
          var code = 0
          var i = 0
          while (i < pls(t).length) {
            val p = pls(t)(i)
            var dot = 0.0
            var j = 0
            while (j < v.length) { dot += p(j) * v(j); j += 1 }
            if (dot >= 0) code |= (1 << i)
            i += 1
          }
          (id, t, code, v)
        }
      }.toDF("vec_id", "tid", "code", "embedding")
  }

  /** Multi-table LSH ANN: a pair is a candidate if it collides in ANY
    * table (union-of-tables recall amplification — the same banding
    * idea as MinHash LSH); candidates are deduped then reranked by
    * exact cosine. At scale the corpus codes are computed once per
    * table (write-side), the candidate join shuffles on (tid, code),
    * and only the deduped candidate set pays the rerank. */
  def annLsh(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
             numBits: Int = LshBits, numTables: Int = LshTables): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bc = s.sparkContext.broadcast(lshPlanes(numTables, numBits))
    val corpus = lshCodes(emb, bc)
    val queries = lshCodes(emb.filter(col("vec_id") < nQueries), bc)
      .withColumnRenamed("vec_id", "query_id")
    val cand = corpus.join(broadcast(queries), Seq("tid", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val qv = broadcast(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val scored = cand
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v")),
        "neighbor_id")
      .join(qv, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  // ---- stored IVF layouts: one lifecycle, one codec per layout -----------

  /** The trained artifact of a stored, bucket-partitioned IVF layout —
    * and everything that differs between layouts. A layout row is
    * `(vec_id, bucket, payload)`, partitioned by `bucket`, so a probe
    * is PARTITION PRUNING: the scan reads only the probed bucket
    * directories (ScaleTechniquesSpec asserts the PartitionFilters).
    * The codec says how a vector becomes a row and which drift axis
    * (with its tolerance) watches it; the lifecycle written once below
    * owns the rest: [[writeLayout]], [[appendLayout]],
    * [[deleteFromLayout]], [[compactIvfPartitioned]],
    * [[ivfLayoutStats]], [[ivfDrifted]], [[retrainLayout]] and the
    * probed scan every serve reads through. Five codecs:
    * [[FloatCodec]], [[LabeledCodec]], [[Sq8Codec]], [[PqCodec]] and
    * [[WhitenModel]]. */
  sealed trait IvfCodec extends Serializable {
    /** The codec type [[retrainLayout]] returns. */
    type Self <: IvfCodec
    /** Number of coarse buckets. */
    def nlist: Int
    /** Drift tolerance: the axis may grow to `driftTol`× its baseline. */
    def driftTol: Double
    /** Rows keep the full-precision embedding, so live vectors come
      * from the layout itself; code layouts need the corpus beside it. */
    private[graft] def storesVectors: Boolean
    /** Layout rows `(vec_id, bucket, payload)` of a `(vec_id,
      * embedding)` frame (plus `label` for [[LabeledCodec]]). */
    private[graft] def rows(emb: DataFrame): DataFrame
    /** `frame` with the `bucket` its `embedding` is assigned to
      * appended, every other column kept. */
    private[graft] def assign(frame: DataFrame): DataFrame
    /** The fields [[probe]] appends, `bucket` last. */
    private[graft] def probeFields: Seq[StructField]
    /** The values [[probe]] appends for one query vector: one Seq of
      * [[probeFields]] per probed bucket, nearest first. */
    private[graft] def probed(v: Array[Float], nprobe: Int): Iterator[Seq[Any]]
    /** One row of `frame` per bucket its `embedding` probes, nearest
      * first, with the [[probeFields]] appended and every other column
      * kept. `nprobe = nlist` probes exhaustively. */
    private[graft] def probe(frame: DataFrame, nprobe: Int): DataFrame = {
      val bc = frame.sparkSession.sparkContext.broadcast(this)
      appendFromEmbedding(frame, probeFields: _*)(v => bc.value.probed(v, nprobe))
    }
    /** [[probe]] of a bounded serve batch, fanned out on the driver from
      * one collect: a local relation, so the probed buckets cost no
      * Spark job. */
    private[graft] def probeBatch(frame: DataFrame, nprobe: Int): DataFrame = {
      val i = frame.schema.fieldIndex("embedding")
      val rows = frame.collect().flatMap(r =>
        probed(r.getSeq[Float](i).toArray, nprobe).map(x => Row.fromSeq(r.toSeq ++ x)))
      frame.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(frame.schema.fields ++ probeFields))
    }
    /** The drift axis over the live layout rows; `vectors` are the
      * live full-precision `(vec_id, embedding)` rows. */
    private[graft] def axis(live: DataFrame, vectors: => DataFrame): Double
    /** This codec retrained on [[trainingSample]] of the live vectors. */
    private[graft] def retrained(sample: Array[Array[Float]], live: DataFrame): Self
  }

  /** The codecs whose coarse quantizer is the float centroid set
    * `cents`: assignment is the argmax dot, probing the `nprobe`
    * largest dots. */
  sealed trait CentroidCodec extends IvfCodec {
    def cents: Array[Array[Double]]
    def nlist: Int = cents.length
    private[graft] def assign(frame: DataFrame): DataFrame = {
      val bc = frame.sparkSession.sparkContext.broadcast(cents)
      appendFromEmbedding(frame, BucketField)(v =>
        Iterator.single(Seq(nearestCentroid(bc.value, v))))
    }
    private[graft] def probeFields: Seq[StructField] = Seq(BucketField)
    private[graft] def probed(v: Array[Float], nprobe: Int): Iterator[Seq[Any]] =
      topCentroids(cents, v, nprobe).iterator.map(Seq(_))
  }

  private val BucketField = StructField("bucket", IntegerType, nullable = false)

  /** `frame`'s rows, each emitted once per value `f` yields for its
    * `embedding`, with that value's fields appended as the `added`
    * columns and every other column kept: the one typed pass bucket
    * assignment and probe fan-out run through. */
  private[graft] def appendFromEmbedding(frame: DataFrame, added: StructField*)
                                        (f: Array[Float] => Iterator[Seq[Any]]): DataFrame = {
    val i = frame.schema.fieldIndex("embedding")
    frame.flatMap { r =>
      f(r.getSeq[Float](i).toArray).map(x => Row.fromSeq(r.toSeq ++ x))
    }(Encoders.row(StructType(frame.schema.fields ++ added)))
  }

  /** Full-precision layout `(vec_id, bucket, embedding)`. Drift axis:
    * the mean cosine distance of each vector to its assigned centroid
    * (rises as arrivals drift away from the trained geometry). */
  case class FloatCodec(cents: Array[Array[Double]]) extends CentroidCodec {
    type Self = FloatCodec
    def driftTol: Double = 1.2
    private[graft] def storesVectors = true
    private[graft] def rows(emb: DataFrame): DataFrame =
      assign(emb.select(col("vec_id"), col("embedding")))
    private[graft] def axis(live: DataFrame, vectors: => DataFrame): Double =
      meanAssignDist(live, cents)
    private[graft] def retrained(sample: Array[Array[Float]], live: DataFrame) =
      FloatCodec(trainCentroids(sample, nlist, iters = 10))
  }

  /** The float layout with the `label` attribute carried through the
    * write: `(vec_id, bucket, embedding, label)`. Filtered ANN pushes
    * its predicate into the pruned scan, and kNN classification and
    * hard-negative mining read the label from it, never paying a
    * corpus-linear label join. Rows are clustered by bucket before the
    * partitioned write (else every task writes into every bucket
    * directory). Same drift axis as [[FloatCodec]]. */
  case class LabeledCodec(cents: Array[Array[Double]]) extends CentroidCodec {
    type Self = LabeledCodec
    def driftTol: Double = 1.2
    private[graft] def storesVectors = true
    private[graft] def rows(emb: DataFrame): DataFrame =
      assign(emb.select(col("vec_id"), col("embedding"), col("label")))
        .repartition(col("bucket"))
    private[graft] def axis(live: DataFrame, vectors: => DataFrame): Double =
      meanAssignDist(live, cents)
    private[graft] def retrained(sample: Array[Array[Float]], live: DataFrame) =
      LabeledCodec(trainCentroids(sample, nlist, iters = 10))
  }

  private def meanAssignDist(live: DataFrame, cents: Array[Array[Double]]): Double = {
    val s = live.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    val r = live.select(col("bucket"), col("embedding"))
      .as[(Int, Array[Float])]
      .map { case (b, v) =>
        val c = bc.value(b)
        var dot = 0.0; var j = 0
        while (j < v.length) { dot += c(j) * v(j); j += 1 }
        1.0 - dot // centroids are unit-normalized
      }
      .agg(sum(col("value")), count(lit(1))).head()
    r.getDouble(0) / r.getLong(1)
  }

  /** The one layout writer: write, append and retrain all land here. */
  private def writeRows(codec: IvfCodec, emb: DataFrame, dir: String,
                        mode: String): Unit =
    codec.rows(emb).write.mode(mode).partitionBy("bucket").parquet(dir)

  /** Write `emb` as `codec`'s layout at `dir`, replacing what is
    * there; returns the codec serving needs. */
  def writeLayout[C <: IvfCodec](codec: C, emb: DataFrame, dir: String): C = {
    writeRows(codec, emb, dir, "overwrite")
    codec
  }

  /** Append a batch of arriving vectors to the standing layout — the
    * daily maintenance step: the batch encodes under the SAME trained
    * codec and its rows land inside the existing bucket directories,
    * so tomorrow's probes see today's vectors with no corpus rewrite
    * and pruning keeps working. Drift is a retrain decision
    * ([[ivfDrifted]] → [[retrainLayout]]). Spec'd for every codec:
    * append-then-serve ≡ serve over a one-shot layout of the union. */
  def appendLayout(codec: IvfCodec, batch: DataFrame, dir: String): Unit =
    writeRows(codec, batch, dir, "append")

  /** The float layout of `d`'s corpus under its trained centroids,
    * which are returned ([[FloatCodec]] over [[writeLayout]]). */
  def writeIvfPartitioned(s: SparkSession, d: String, dir: String,
                          nlist: Int = IvfNlist): Array[Array[Double]] =
    writeLayout(FloatCodec(ivfCentroids(s, d, nlist)), Tables.embeddings(s, d), dir).cents

  /** [[appendLayout]] on the float layout. */
  def appendIvfPartitioned(batch: DataFrame, cents: Array[Array[Double]],
                           dir: String): Unit =
    appendLayout(FloatCodec(cents), batch, dir)

  /** Periodic maintenance for any stored layout: each append leaves
    * one more small file inside every touched bucket directory, and
    * probe latency decays with the per-bucket file count — re-collapse
    * in place, KEEPING the bucket partitioning so pruned probes keep
    * pruning, and fold the tombstone log (serve-identical, spec'd). */
  def compactIvfPartitioned(s: SparkSession, dir: String,
                            targetBytes: Long = 128L << 20)
      : graft.sources.Compact.CompactReport =
    graft.sources.Compact.compactInPlace(s, dir, targetBytes,
      partitionCols = Seq("bucket"),
      transform = graft.sources.Compact.minusTombstones(s, dir, "vec_id")(_))

  // ---- deletion support (tombstones over the stored layouts) -------------

  /** DELETE vectors from a stored layout: a delete never rewrites
    * bucket files (they are immutable between compactions); the ids
    * go to the layout's tombstone log ([[graft.sources.Compact.addTombstones]]).
    * Serving, stats and retrain subtract the log, and
    * [[compactIvfPartitioned]] FOLDS it into the periodic rewrite
    * (the swapped-in layout carries no log). */
  def deleteFromLayout(s: SparkSession, dir: String, ids: DataFrame): Unit =
    graft.sources.Compact.addTombstones(dir, ids, "vec_id")

  /** The live rows of a layout passing `filters` at the scan: every
    * stored row minus the tombstones, both read through one listing of
    * `dir` ([[Tables.read]]: the schema and the log's ids are kept per
    * file version, so a warm read launches no inference job). */
  private def liveRows(s: SparkSession, dir: String, filters: Column*): DataFrame = {
    val v = Tables.version(s, dir)
    graft.sources.Compact.minusTombstones(s, v.sub("_tombstones"), "vec_id")(
      filters.foldLeft(Tables.read(s, v))(_ filter _))
  }

  /** The live full-precision vectors of a layout: from the layout
    * itself when its rows keep embeddings, else `emb` (the corpus
    * serving reranks against) restricted to the live ids. */
  private def liveVectors(s: SparkSession, dir: String, codec: IvfCodec,
                          emb: Option[DataFrame]): DataFrame =
    if (codec.storesVectors) liveRows(s, dir).drop("bucket")
    else {
      val full = emb.getOrElse(throw new IllegalArgumentException(
        s"${codec.getClass.getSimpleName} stores codes only: pass the corpus"))
      full.select(col("vec_id"), col("embedding"))
        .join(liveRows(s, dir).select(col("vec_id")), Seq("vec_id"))
    }

  /** The probed-bucket scan every serve reads its layout through:
    * [[liveRows]] with `bucket IN (probedBuckets)` (partition pruning
    * over the listing — per-batch cost tracks probes, not corpus size)
    * and an optional `extra` scan predicate. */
  private[graft] def probedScan(s: SparkSession, dir: String,
                                probedBuckets: Seq[Int],
                                extra: Option[Column] = None): DataFrame = {
    val inProbed = col("bucket").isin(probedBuckets.map(Integer.valueOf): _*)
    liveRows(s, dir, extra.fold(inProbed)(inProbed && _))
  }

  /** The candidate join every stored serve scores: `queries` (with
    * `embedding`) fan out to their `nprobe` buckets under `codec`, the
    * layout at `dir` is read through [[probedScan]] (with the optional
    * `extra` predicate) and then `decode`d, and the two meet in a
    * bucket join against the broadcast probes. Query columns keep
    * their names except `embedding`, which arrives as `qv`, and any
    * other name the decoded layout also has, which arrives prefixed
    * `q` (`label` → `qlabel`). The batch is probed on the driver
    * ([[IvfCodec.probeBatch]]), so its probed buckets and the broadcast
    * probe side come from one collect. Self pairs (`vec_id` = `query_id`) drop
    * when `excludeSelf`. Returns the candidates and the decoded
    * probed layout rows. */
  private[graft] def probedCandidates(s: SparkSession, dir: String,
                                      codec: IvfCodec, queries: DataFrame,
                                      nprobe: Int, excludeSelf: Boolean,
                                      extra: Option[Column] = None,
                                      decode: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val probes = codec.probeBatch(queries, nprobe)
    val buckets = probes.select("bucket").as[Int].collect().distinct.sorted.toSeq
    val corpus = decode(probedScan(s, dir, buckets, extra))
    val q = probes.select(probes.columns.toSeq.map {
      case "embedding" => col("embedding").as("qv")
      case c if c != "bucket" && corpus.columns.contains(c) => col(c).as(s"q$c")
      case c => col(c)
    }: _*)
    val cand = corpus.join(broadcast(q), Seq("bucket"))
    (if (excludeSelf) cand.filter(col("vec_id") =!= col("query_id")) else cand,
      corpus)
  }

  // ---- quantizer-drift monitoring and retrain ------------------------------

  /** One monitoring snapshot of a stored layout's LIVE rows: corpus
    * size, bucket-occupancy skew (max bucket count / mean — 1.0 is
    * perfectly balanced; a hot bucket makes every probe of it scan
    * its whole partition), and the codec's drift axis. A drained
    * layout reads all zeros. */
  case class IvfLayoutStats(nVectors: Long, nBuckets: Int,
                            occSkew: Double, drift: Double)

  /** Compute [[IvfLayoutStats]]: one occupancy pass plus the codec's
    * axis, both over live rows (tombstoned vectors never count). Run
    * at write time for the baseline, per maintenance cycle for
    * [[ivfDrifted]]. `emb` is the corpus beside a [[PqCodec]] layout,
    * whose axis needs full precision. */
  def ivfLayoutStats(s: SparkSession, dir: String, codec: IvfCodec,
                     emb: Option[DataFrame] = None): IvfLayoutStats = {
    val live = liveRows(s, dir)
    val occ = live.groupBy(col("bucket")).count().collect().map(_.getLong(1))
    if (occ.isEmpty) IvfLayoutStats(0L, 0, 0.0, 0.0)
    else {
      val n = occ.sum
      IvfLayoutStats(n, occ.length, occ.max / (n.toDouble / codec.nlist),
        codec.axis(live, liveVectors(s, dir, codec, emb)))
    }
  }

  /** Occupancy-skew tolerance shared by every codec. */
  private[graft] val SkewTol = 1.5

  /** The retrain decision: drift is RELATIVE to the write-time
    * snapshot — skew grew past [[SkewTol]]× the baseline, or the
    * codec's axis past its `driftTol`× — so a corpus born skewed
    * doesn't page anyone, and a balanced corpus that drifts does. */
  def ivfDrifted(current: IvfLayoutStats, baseline: IvfLayoutStats,
                 codec: IvfCodec): Boolean =
    current.occSkew > baseline.occSkew * SkewTol ||
      current.drift > baseline.drift * codec.driftTol

  /** Retrain-and-migrate any layout: retrain the codec on
    * [[trainingSample]] of the layout's LIVE vectors, re-encode every
    * live vector through the one writer, and swap the rewritten
    * layout in under the same path. Tombstones fold (a rewrite must
    * never resurrect deletes). Returns the new codec — serving must
    * switch to it atomically with the layout. Spec'd: the layout's
    * rows equal a fresh write of the survivors under the returned
    * codec, and exhaustive-probe float serving is unchanged. `emb` is
    * the corpus beside a code layout ([[Sq8Codec]], [[PqCodec]],
    * [[WhitenModel]]): codes alone cannot retrain. */
  def retrainLayout(s: SparkSession, dir: String, codec: IvfCodec,
                    emb: Option[DataFrame] = None): codec.Self =
    graft.sources.Compact.swap(s, dir) { tmp =>
      val live = liveVectors(s, dir, codec, emb)
      val next = codec.retrained(trainingSample(live), live)
      writeRows(next, live, tmp, "overwrite")
      next
    }

  /** Serve ONE batch of queries against the stored float layout
    * ([[writeIvfPartitioned]]): fan each query out to its `nprobe`
    * nearest centroids and read the corpus through the probed-bucket
    * scan — per-batch cost tracks probes, not corpus size. Streams
    * serve it per micro-batch through
    * [[graft.streaming.EventStream.serveEachBatch]].
    *
    * `queries` must have `(query_id, embedding)`. `excludeSelf`
    * defaults to FALSE: in the serving form query ids are an
    * INDEPENDENT id space from corpus `vec_id`s, so a numeric
    * collision must not silently drop a corpus candidate; the batch
    * benchmark form (queries drawn from the corpus itself) opts in. */
  def annIvfServeBatch(s: SparkSession, dir: String, cents: Array[Array[Double]],
                       queries: DataFrame, k: Int = 5,
                       nprobe: Int = IvfNprobe,
                       excludeSelf: Boolean = false): DataFrame =
    ivfServe(s, dir, cents, queries, k, nprobe, excludeSelf, ordered = true)

  /** [[annIvfServeBatch]]'s ranking; `ordered = false` for an interior
    * consumer (a fusion), see [[topKPerQuery]]. */
  private[graft] def ivfServe(s: SparkSession, dir: String, cents: Array[Array[Double]],
                              queries: DataFrame, k: Int, nprobe: Int,
                              excludeSelf: Boolean, ordered: Boolean): DataFrame = {
    val (cand, _) = probedCandidates(s, dir, FloatCodec(cents),
      queries.select(col("query_id"), col("embedding")), nprobe, excludeSelf)
    val top = topKPerQuery(cand.select(col("query_id"), col("vec_id").as("neighbor_id"),
      round(cos(col("qv"), col("embedding")), 6).as("cos_sim")), k, ordered = false)
    if (ordered) inRankOrder(top) else top
  }

  // ---- Filtered ANN (attribute predicate + IVF in one serve) ------------

  /** Default probe width for FILTERED search: wider than the
    * unfiltered IvfNprobe=16 because a selective predicate thins every
    * probed bucket — the true filtered top-k sit at lower cosine than
    * the unfiltered top-k, so their buckets correlate less with the
    * query and per-bucket survivors are ~selectivity× fewer. Measured
    * knee on the isotropic corpus at the ~10% equal-label predicate
    * (Scale10 filtered sweep, recall@5 vs FILTERED brute force at
    * sf0.1): nprobe 16/20/24/28/32 → 0.84/0.90/0.98/1.00/1.00 — the
    * same nprobe=16 that holds 0.94 UNfiltered drops to 0.84 here
    * (the standard "filtered vector search recall collapse", probed
    * on purpose); 24 is the knee, +0.08 over 20 for 1.2× candidates
    * while 28 buys only +0.02 more. */
  private[graft] val FilteredNprobe = 24

  /** ann_ivf_filtered: attribute-predicate + ANN in ONE serve — the
    * production "filtered vector search" operator (tenant/language/
    * license filters over a vector corpus): per query, top-k by exact
    * cosine among ONLY the rows satisfying the predicate (here: label
    * equality with the query's own label, the metadata-match shape),
    * with candidates drawn from the query's `nprobe` nearest IVF
    * buckets. The predicate is applied INSIDE the bucket join (and at
    * the SCAN in the stored form — pushed down as `label IN
    * (batch labels)`), never as a post-filter on an unfiltered top-k
    * (post-filtering returns < k rows and loses recall
    * catastrophically at low selectivity). */
  def annIvfFiltered(s: SparkSession, d: String, nQueries: Int = 10,
                     k: Int = 5, nprobe: Int = FilteredNprobe): DataFrame = {
    val codec = LabeledCodec(ivfCentroids(s, d))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val probes = codec.probe(emb.filter(col("vec_id") < nQueries), nprobe)
      .select(col("vec_id").as("query_id"), col("bucket"),
        col("embedding").as("qv"), col("label").as("qlabel"))
    val cand = codec.assign(emb)
      .select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("embedding").as("v"), col("label"))
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("label") === col("qlabel") &&
        col("neighbor_id") =!= col("query_id"))
    topKPerQuery(cand.select(col("query_id"), col("neighbor_id"),
      round(cos(col("qv"), col("v")), 6).as("cos_sim")), k)
  }

  /** The FILTERED exact baseline — brute-force top-k among the rows
    * passing the predicate (equal label), an EQUI-join on the label
    * (no BNLJ: the predicate itself is the join key). The ground
    * truth filtered recall is measured against. */
  def annBruteforceFiltered(s: SparkSession, d: String, nQueries: Int = 10,
                            k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val e = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("v"), col("label"))
    val q = broadcast(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel")))
    val scored = e.join(q, col("label") === col("qlabel") &&
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  /** Serve one query batch against the labeled layout
    * ([[LabeledCodec]]): probed-bucket partition pruning AND the
    * batch's label set pushed to the scan (`label IN (...)` lands in
    * PushedFilters — row groups without matching labels never
    * decompress), then the exact per-query label-equality filter
    * inside the bucket join. Spec'd equal to [[annIvfFiltered]] at
    * the same geometry. `queries` must have `(query_id, embedding,
    * label)`. */
  def annIvfFilteredServeBatch(s: SparkSession, dir: String,
                               codec: LabeledCodec, queries: DataFrame,
                               k: Int = 5, nprobe: Int = FilteredNprobe,
                               excludeSelf: Boolean = false): DataFrame = {
    import s.implicits._
    val q = queries.select(col("query_id"), col("embedding"), col("label"))
    val batchLabels = q.select("label").distinct()
      .as[Int].collect().sorted // bounded by the batch size — driver-safe
    val (cand, _) = probedCandidates(s, dir, codec, q, nprobe, excludeSelf,
      Some(col("label").isin(batchLabels.map(Integer.valueOf): _*)))
    topKPerQuery(cand.filter(col("label") === col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cos(col("qv"), col("embedding")), 6).as("cos_sim")), k)
  }

  /** DuckDB oracle for ann_ivf_filtered — [[annIvfOracleSql]]'s
    * assign/probe CTEs with the label-equality predicate applied at
    * candidate generation (never post-top-k). */
  def annIvfFilteredOracleSql(s: SparkSession, d: String, nQueries: Int = 10,
                              k: Int = 5, nprobe: Int = FilteredNprobe): String = {
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d))},
      probes AS (
        SELECT vec_id AS query_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scored WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
      cnd AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM assign a
        JOIN probes p ON a.bucket = p.bucket AND a.vec_id <> p.query_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings ep ON ep.vec_id = p.query_id
        WHERE ea.label = ep.label),
      rer AS (
        SELECT c.query_id, c.neighbor_id,
          round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                       CAST(ne.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM cnd c
        JOIN embeddings qe ON qe.vec_id = c.query_id
        JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
      SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        FROM rer)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  // ---- IVF × prefix (the composed Matryoshka serving tier) --------------

  /** ann_ivf_prefix: [[annPrefix]]'s dimension-truncation shortlist
    * composed INSIDE the IVF probe — the same composition
    * [[annIvfSq8]] / [[annIvfPq]] give their flat tiers, closing the
    * prefix tier's corpus-scan baseline: candidates come only from
    * each query's `nprobe` nearest centroid buckets (a bucket
    * equi-join — no broadcast-≠ BNLJ anywhere in the plan), are
    * shortlisted by prefix cosine over the first `prefixDims` dims
    * (6 dp + id tie-break, the [[annPrefix]] determinism recipe),
    * and the bounded shortlist is reranked at full dimension. At
    * exhaustive nprobe (= nlist) the probe stops pruning and the
    * result is bit-identical to the flat [[annPrefix]] (spec'd in
    * SimilaritySpec) — so the flat tier is exactly this operator's
    * degenerate point, and production serves the pruned form. */
  def annIvfPrefix(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
                   nprobe: Int = IvfNprobe,
                   prefixDims: Int = PrefixDims,
                   cand: Int = PrefixCand): DataFrame = {
    val c = annIvfCandidatesWithVecs(s, d, col("vec_id") < nQueries, nprobe)
    val pre = c.select(col("query_id"), col("neighbor_id"),
      round(cos(slice(col("qv"), 1, prefixDims),
        slice(col("v"), 1, prefixDims)), 6).as("cos_sim"))
    val top = topKPerQuery(pre, cand, ordered = false).select("query_id", "neighbor_id")
    pqRerank(top, Tables.embeddings(s, d).filter(col("vec_id") < nQueries),
      Tables.embeddings(s, d), k)
  }

  /** Serve one query batch against the stored float layout
    * ([[writeIvfPartitioned]]) with the prefix shortlist: the
    * probed-bucket scan, prefix-cosine shortlist per query, full-dim
    * rerank against the SAME pruned layout rows — the layout stores
    * full-precision embeddings, so the prefix view is a free slice at
    * read and the rerank re-reads only probed partitions. Per-batch
    * cost tracks probes × shortlist, never corpus size. Spec'd equal
    * to [[annIvfPrefix]] at the same geometry. */
  def annIvfPrefixServeBatch(s: SparkSession, dir: String,
                             codec: FloatCodec, queries: DataFrame,
                             k: Int = 5, nprobe: Int = IvfNprobe,
                             prefixDims: Int = PrefixDims,
                             cand: Int = PrefixCand,
                             excludeSelf: Boolean = false): DataFrame = {
    val (candf, corpus) = probedCandidates(s, dir, codec,
      queries.select(col("query_id"), col("embedding")), nprobe, excludeSelf)
    val pre = candf.select(col("query_id"), col("vec_id").as("neighbor_id"),
      round(cos(slice(col("qv"), 1, prefixDims),
        slice(col("embedding"), 1, prefixDims)), 6).as("cos_sim"))
    val top = topKPerQuery(pre, cand, ordered = false).select("query_id", "neighbor_id")
    val qv = queries.select(col("query_id"), col("embedding").as("qv"))
    val nv = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("v"))
    topKPerQuery(top.join(broadcast(qv), Seq("query_id"))
      .join(nv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim")), k)
  }

  /** DuckDB oracle for ann_ivf_prefix — the [[annIvfOracleSql]]
    * assign/probe CTEs (trained centroids as literals) with the
    * ann_prefix shortlist-then-rerank tail spliced between candidate
    * generation and the final rank. */
  def annIvfPrefixOracleSql(s: SparkSession, d: String, nQueries: Int = 10,
                            k: Int = 5, nprobe: Int = IvfNprobe,
                            prefixDims: Int = PrefixDims,
                            cand: Int = PrefixCand): String = {
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d))},
      probes AS (
        SELECT vec_id AS query_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scored WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
      cnd AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM assign a JOIN probes p
          ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
      pre AS (
        SELECT c.query_id, c.neighbor_id,
          qe.embedding AS qvec, ne.embedding AS nvec,
          round(list_cosine_similarity(
            CAST(qe.embedding[1:$prefixDims] AS DOUBLE[]),
            CAST(ne.embedding[1:$prefixDims] AS DOUBLE[])), 6) AS pc
        FROM cnd c
        JOIN embeddings qe ON qe.vec_id = c.query_id
        JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
      short AS (
        SELECT query_id, neighbor_id, qvec, nvec FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY pc DESC, neighbor_id) AS pr
          FROM pre)
        WHERE pr <= $cand),
      rer AS (
        SELECT query_id, neighbor_id,
          round(list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                       CAST(nvec AS DOUBLE[])), 6) AS cos_sim
        FROM short)
      SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        FROM rer)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  // ---- PQ (product quantization) ---------------------------------------

  /** Default PQ geometry over the 64-dim corpus: 8 subspaces × 16
    * centroids = 4 bits/subspace, 4 bytes/vector — 64× smaller than
    * float32, the compression tier past SQ8 (FAISS PQ). `PqCand` ADC
    * candidates feed the exact rerank; 300 (15% of the corpus) is the
    * measured knee on the isotropic data: cand 200/300/400 → recall@5
    * 0.84/0.92/0.92 at k=16, and k=32 (5-bit codes) reaches 0.88/0.94
    * at 200/300 — 16×300 holds a 0.12 margin over the RecallSpec 0.8
    * floor without the bigger codebook. Clustered real embeddings
    * need a far smaller candidate fraction. */
  private[graft] val PqM = 8
  private[graft] val PqK = 16
  private[graft] val PqCand = 300

  /** argmin_c of −2·dot(v,c) + c·c (≡ argmin ‖v−c‖²; v·v is constant
    * per vector), ties to the lowest cid — the exact scalar tree the
    * oracle evaluates, so assignments are bit-identical. */
  private[operators] def nearestL2(cents: Array[Array[Double]],
                                   v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < cents.length) {
      var dot = 0.0; var cc = 0.0; var j = 0
      while (j < v.length) {
        dot += cents(i)(j) * v(j); cc += cents(i)(j) * cents(i)(j); j += 1
      }
      val dist = -2.0 * dot + cc
      if (dist < bestD) { bestD = dist; best = i }
      i += 1
    }
    best
  }

  /** Plain (L2) k-means for one PQ subspace — deterministic stride
    * init from the sample, mean updates (NOT spherical: subvectors
    * carry magnitude information the reconstruction needs). */
  private[operators] def trainPqSubspace(sub: Array[Array[Double]], k: Int,
                                         iters: Int): Array[Array[Double]] = {
    val dim = sub.head.length
    val stride = math.max(1, sub.length / k)
    var cents = (0 until k).map(i => sub(i * stride % sub.length).clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sub.foreach { v =>
        val b = nearestL2(cents, v)
        var j = 0
        while (j < dim) { sums(b)(j) += v(j); j += 1 }
        counts(b) += 1
      }
      cents = cents.indices.map { i =>
        if (counts(i) == 0) cents(i) else sums(i).map(_ / counts(i))
      }.toArray
    }
    cents
  }

  /** Per-subspace PQ codebooks trained on the same bounded 2048-vector
    * sample as the IVF quantizer; memoized per file version so query,
    * oracle, and specs share bit-identical books. Shape:
    * [m][k][subDim]. */
  private[graft] def pqCodebooks(s: SparkSession, d: String, m: Int = PqM,
                                 kS: Int = PqK): Array[Array[Array[Double]]] =
    Tables.memo(s, d, "embeddings", ("pq", m, kS)) {
      val sample = trainingSample(Tables.embeddings(s, d))
      val dim = sample.head.length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val sub = dim / m
      Array.tabulate(m) { mi =>
        trainPqSubspace(
          sample.map(v => Array.tabulate(sub)(j => v(mi * sub + j).toDouble)),
          kS, iters = 10)
      }
    }

  /** Exact-integer ADC term: dot(q_m, c) snapped to the 1e-9 grid as
    * a long — `floor(x·1e9 + 0.5)` on BOTH engines (never round():
    * DuckDB rounds half away from zero, Java half up — they disagree
    * at negative .5 boundaries), so the per-candidate ADC score is an
    * exact BIGINT sum with no float accumulation anywhere. */
  private[operators] def lutNanos(cent: Array[Double], q: Array[Float],
                                  off: Int): Long = {
    var dot = 0.0; var j = 0
    while (j < cent.length) { dot += cent(j) * q(off + j); j += 1 }
    math.floor(dot * 1e9 + 0.5).toLong
  }

  /** ann_pq: flat product-quantization ANN (FAISS PQ with asymmetric
    * distance computation). The corpus is encoded once to m 4-bit
    * codes per vector (typed map, codebooks broadcast); each query
    * precomputes its m×k lookup table; candidate score =
    * Σ_m LUT[m][code_m] ≈ ⟨q, v⟩ as an EXACT integer in 1e-9 units;
    * the top `cand` ADC candidates rerank by exact cosine. At scale
    * the coded corpus is a 4-byte/vector stored layout (16× less
    * scan I/O than SQ8, 64× less than float32) and ADC is a per-row
    * table lookup — the standard billion-vector shape. */
  def annPq(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
            m: Int = PqM, kS: Int = PqK, cand: Int = PqCand): DataFrame =
    annPqOn(Tables.embeddings(s, d), pqCodebooks(s, d, m, kS),
      Tables.embeddings(s, d).filter(col("vec_id") < nQueries), k, cand)

  /** [[annPq]] against an explicit corpus/codebooks/query frame. */
  def annPqOn(emb: DataFrame, books: Array[Array[Array[Double]]],
              queryFrame: DataFrame, k: Int = 5,
              cand: Int = PqCand): DataFrame =
    pqRerank(pqAdcTopC(pqEncode(emb, books), books, queryFrame, cand),
      queryFrame, emb, k)

  /** Encode the corpus to its per-subspace codes (one typed map,
    * codebooks broadcast). */
  private def pqEncode(emb: DataFrame, books: Array[Array[Array[Double]]])
      : org.apache.spark.sql.Dataset[(Long, Array[Int])] = {
    val s = emb.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(books)
    emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val sub = v.length / bc.value.length
        (id, Array.tabulate(bc.value.length) { mi =>
          nearestL2(bc.value(mi),
            Array.tabulate(sub)(j => v(mi * sub + j).toDouble))
        })
      }
  }

  /** ADC over a coded corpus: per-query LUTs broadcast, candidate
    * score = exact BIGINT Σ_m LUT[m][code_m], bounded top-`cand`
    * (ties by id via the aggregator's ordering on the double image —
    * exact: nano sums stay far below 2^53). */
  private def pqAdcTopC(coded: org.apache.spark.sql.Dataset[(Long, Array[Int])],
                        books: Array[Array[Array[Double]]],
                        queryFrame: DataFrame, cand: Int): DataFrame = {
    val s = coded.sparkSession
    import s.implicits._
    val queries = queryFrame
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) =>
        val sub = qv.length / books.length
        (qid, Array.tabulate(books.length)(mi =>
          books(mi).map(c => lutNanos(c, qv, mi * sub))))
      }
    val bq = s.sparkContext.broadcast(queries)
    val adc = coded.flatMap { case (id, codes) =>
      bq.value.iterator.collect {
        case (qid, lut) if qid != id =>
          var sc = 0L; var mi = 0
          while (mi < codes.length) { sc += lut(mi)(codes(mi)); mi += 1 }
          (qid, id, sc)
      }
    }.toDF("query_id", "neighbor_id", "adc")
    topKPerQuery(adc.select(col("query_id"), col("neighbor_id"),
      col("adc").cast("double").as("cos_sim")), cand, ordered = false)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact-cosine rerank of the bounded shortlist against the
    * full-precision corpus. */
  private def pqRerank(top: DataFrame, queryFrame: DataFrame,
                       emb: DataFrame, k: Int): DataFrame = {
    val qv = queryFrame
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val nv = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v"))
    topKPerQuery(top.join(broadcast(qv), Seq("query_id")).join(nv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim")), k)
  }

  /** Persist the PQ-coded corpus: m codes per vector as an m-BYTE
    * binary column — 4 bytes/vector at the default 8×16 geometry
    * (64× under the float32 layout, 16× under SQ8): the scan a
    * billion-vector serving tier actually reads. */
  def writePq(emb: DataFrame, books: Array[Array[Array[Double]]],
              dir: String): Unit = {
    val s = emb.sparkSession
    import s.implicits._
    pqEncode(emb, books)
      .map { case (id, codes) => (id, codes.map(_.toByte)) }
      .toDF("vec_id", "codes")
      .write.mode("overwrite").parquet(dir)
  }

  /** Serve top-k from the STORED code layout: the corpus pass reads
    * m bytes/vector (no embeddings), ADC shortlists, and only the
    * bounded shortlist joins the full-precision table for the exact
    * rerank — result-identical to the inline [[annPqOn]] (spec'd in
    * SimilaritySpec). */
  def annPqStored(s: SparkSession, codesDir: String,
                  books: Array[Array[Array[Double]]],
                  queryFrame: DataFrame, emb: DataFrame, k: Int = 5,
                  cand: Int = PqCand): DataFrame = {
    import s.implicits._
    val coded = s.read.parquet(codesDir).as[(Long, Array[Byte])]
      .map { case (id, b) => (id, b.map(_.toInt)) }
    pqRerank(pqAdcTopC(coded, books, queryFrame, cand), queryFrame, emb, k)
  }

  /** RESIDUAL PQ codebooks for the IVF×PQ composition: trained on the
    * sample's residuals v − c(bucket(v)) against the IVF coarse
    * quantizer — the FAISS IVF-PQ recipe (coarse centroid carries the
    * location, PQ encodes the remainder, so the codebooks spend their
    * 4 bits on a much smaller cell). Memoized like the others. */
  private[graft] def pqResidualCodebooks(s: SparkSession, d: String,
                                         nlist: Int = IvfNlist, m: Int = PqM,
                                         kS: Int = PqK): Array[Array[Array[Double]]] =
    Tables.memo(s, d, "embeddings", ("pqres", nlist, m, kS)) {
      residualBooks(trainingSample(Tables.embeddings(s, d)),
        ivfCentroids(s, d, nlist), m, kS)
    }

  private def residualBooks(sample: Array[Array[Float]],
                            cents: Array[Array[Double]],
                            m: Int, kS: Int): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val residuals = sample.map { v =>
      val c = cents(nearestCentroid(cents, v))
      Array.tabulate(dim)(j => v(j) - c(j))
    }
    Array.tabulate(m) { mi =>
      trainPqSubspace(
        residuals.map(r => java.util.Arrays.copyOfRange(r, mi * sub, (mi + 1) * sub)),
        kS, iters = 10)
    }
  }

  /** ann_ivf_pq: the COMPOSED production vector index (FAISS IVF-PQ):
    * corpus bucketed by the IVF coarse quantizer AND encoded as m
    * 4-bit RESIDUAL codes; queries probe their nprobe buckets and
    * score candidates as base + residual-ADC — base =
    * ⟨q, c_bucket⟩ and each subspace term ⟨q_m, book_code⟩, ALL as
    * exact 1e-9-unit BIGINTs (so ⟨q,v⟩ ≈ base + Σ_m term with no
    * float accumulation anywhere); the bounded shortlist reranks by
    * exact cosine. At scale this is the bucket-partitioned 4-byte/
    * vector layout with partition-pruned probes — the standard
    * billion-vector serving index. */
  def annIvfPq(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
               nprobe: Int = IvfNprobe,
               m: Int = PqM, kS: Int = PqK, cand: Int = PqCand): DataFrame = {
    val pq = PqCodec(ivfCentroids(s, d), pqResidualCodebooks(s, d, m = m, kS = kS))
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
    pqRerank(pqIvfTopC(_ => pq.rows(emb), pq,
        queries.select(col("vec_id").as("query_id"), col("embedding")),
        nprobe, cand, excludeSelf = true),
      queries, emb, k)
  }

  /** The IVF-PQ shortlist: per query (collected — a serve batch is
    * driver-sized) its probed buckets with base nanos ⟨q, c_bucket⟩
    * and its residual LUTs; `coded` gives the `(vec_id, bucket,
    * codes)` rows of the batch's probed buckets; candidate score =
    * exact BIGINT base + Σ_m LUT[m][code_m]; bounded top-`cand`
    * `(query_id, neighbor_id)`. */
  private def pqIvfTopC(coded: Seq[Int] => DataFrame, pq: PqCodec,
                        queryFrame: DataFrame, nprobe: Int, cand: Int,
                        excludeSelf: Boolean): DataFrame = {
    val s = queryFrame.sparkSession
    import s.implicits._
    val cents = pq.cents; val books = pq.books
    val queries = queryFrame
      .select(col("query_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (qid, qv) =>
        val sub = qv.length / books.length
        val probed = topCentroids(cents, qv, nprobe).map { b =>
          var dot = 0.0; var j = 0
          while (j < qv.length) { dot += cents(b)(j) * qv(j); j += 1 }
          b -> math.floor(dot * 1e9 + 0.5).toLong
        }.toMap
        (qid, probed, Array.tabulate(books.length)(mi =>
          books(mi).map(c => lutNanos(c, qv, mi * sub))))
      }
    val bq = s.sparkContext.broadcast(queries)
    val adc = coded(queries.flatMap(_._2.keys).distinct.sorted.toSeq)
      .select(col("vec_id"), col("bucket"), col("codes"))
      .as[(Long, Int, Array[Byte])] // codes land as parquet BINARY
      .flatMap { case (id, b, codes) =>
        bq.value.iterator.collect {
          case (qid, probed, lut)
              if probed.contains(b) && !(excludeSelf && qid == id) =>
            var sc = probed(b); var mi = 0
            while (mi < codes.length) { sc += lut(mi)(codes(mi)); mi += 1 }
            (qid, id, sc)
        }
      }.toDF("query_id", "neighbor_id", "adc")
    topKPerQuery(adc.select(col("query_id"), col("neighbor_id"),
      col("adc").cast("double").as("cos_sim")), cand, ordered = false)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** The composed IVF-PQ layout `(vec_id, bucket, codes)`:
    * bucket-partitioned RESIDUAL codes, m bytes per vector — the
    * billion-vector serving index on disk (the scan inside a probed
    * bucket reads 4 bytes/vector at the default geometry). The
    * full-precision corpus stays beside it for the exact rerank.
    * Drift axis: the mean residual QUANTIZATION error
    * ‖v − (c_bucket + decode(codes))‖² over a bounded deterministic
    * sample — the [[PqSampleN]] live rows smallest by
    * xxhash64(vec_id), a uniform draw across the WHOLE id range, so
    * newly appended (high-id) vectors are represented. It rises when
    * arrivals outgrow the codebooks, which degrades ADC ranking long
    * before results go visibly wrong. */
  case class PqCodec(cents: Array[Array[Double]],
                     books: Array[Array[Array[Double]]]) extends CentroidCodec {
    type Self = PqCodec
    def driftTol: Double = 1.2
    private[graft] def storesVectors = false
    private[graft] def rows(emb: DataFrame): DataFrame = pqResidualCodes(this, emb)
    private[graft] def axis(live: DataFrame, vectors: => DataFrame): Double =
      meanQuantErr(live, vectors, cents, books)
    private[graft] def retrained(sample: Array[Array[Float]], live: DataFrame) = {
      val c = trainCentroids(sample, nlist, iters = 10)
      PqCodec(c, residualBooks(sample, c, books.length, books.head.length))
    }
  }

  /** Rows in [[PqCodec]]'s quantization-error sample. */
  private[graft] val PqSampleN = 2048

  private def pqResidualCodes(codec: PqCodec, emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val bcC = s.sparkContext.broadcast(codec.cents)
    val bcB = s.sparkContext.broadcast(codec.books)
    codec.assign(emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("bucket"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, b, v) =>
        val cs = bcC.value; val bks = bcB.value
        val sub = v.length / bks.length
        val codes = Array.tabulate(bks.length) { mi =>
          nearestL2(bks(mi), Array.tabulate(sub)(j =>
            v(mi * sub + j) - cs(b)(mi * sub + j))).toByte
        }
        (id, b, codes)
      }
      .toDF("vec_id", "bucket", "codes")
  }

  private def meanQuantErr(live: DataFrame, vectors: DataFrame,
                           cents: Array[Array[Double]],
                           books: Array[Array[Array[Double]]]): Double = {
    val s = live.sparkSession
    import s.implicits._
    val bcC = s.sparkContext.broadcast(cents)
    val bcB = s.sparkContext.broadcast(books)
    val errs = live.select(col("vec_id"), col("bucket"), col("codes"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(PqSampleN)
      .join(vectors, Seq("vec_id"))
      .select(col("bucket"), col("codes"), col("embedding"))
      .as[(Int, Array[Byte], Array[Float])]
      .map { case (b, codes, v) =>
        val cs = bcC.value; val bks = bcB.value
        val sub = v.length / bks.length
        var err = 0.0; var j = 0
        while (j < v.length) {
          val mi = j / sub
          val rec = cs(b)(j) + bks(mi)(codes(mi) & 0xff)(j - mi * sub)
          val dlt = v(j) - rec
          err += dlt * dlt; j += 1
        }
        err
      }
      .agg(sum(col("value")), count(lit(1))).head()
    errs.getDouble(0) / errs.getLong(1)
  }

  /** Serve ONE batch of `(query_id, embedding)` queries against the
    * stored IVF-PQ layout: probed buckets computed on the driver from
    * the collected batch, the probed-bucket scan of the code table,
    * exact-integer base+ADC, bounded shortlist, exact rerank against
    * the full-precision corpus `emb` — result-identical to the inline
    * [[annIvfPq]] (spec'd). `excludeSelf` is OPT-IN: serving query
    * ids are an independent id space. */
  def annIvfPqServeBatch(s: SparkSession, dir: String, codec: PqCodec,
                         queryFrame: DataFrame, emb: DataFrame, k: Int = 5,
                         nprobe: Int = IvfNprobe, cand: Int = PqCand,
                         excludeSelf: Boolean = false): DataFrame = {
    val top = pqIvfTopC(probedScan(s, dir, _), codec, queryFrame, nprobe,
      cand, excludeSelf)
    pqRerank(top,
      queryFrame.select(col("query_id").as("vec_id"), col("embedding")),
      emb, k)
  }

  /** DuckDB oracle for [[annIvfPq]]: coarse centroids AND residual
    * codebooks as literals; assignment, residual encoding, probing,
    * the exact-BIGINT base+ADC sum, shortlist, and rerank in SQL. */
  def annIvfPqOracleSql(s: SparkSession, d: String, nQueries: Int = 10,
                        k: Int = 5, nprobe: Int = IvfNprobe, m: Int = PqM,
                        kS: Int = PqK, cand: Int = PqCand): String = {
    val cents = ivfCentroids(s, d)
    val books = pqResidualCodebooks(s, d, m = m, kS = kS)
    val dim = cents(0).length
    val sub = dim / m
    val centsSql = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n        ")
    val bookSql = (for (mi <- 0 until m; ci <- 0 until kS) yield
      s"($mi, $ci, [${books(mi)(ci).map(_.toString).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n        ")
    s"""
      WITH cents(cid, c) AS (VALUES
        $centsSql),
      books(m, cid, bc) AS (VALUES
        $bookSql),
      cscore AS (
        SELECT vec_id, cid,
          list_inner_product(CAST(embedding AS DOUBLE[]), c) AS dot
        FROM embeddings CROSS JOIN cents),
      assign AS (
        SELECT vec_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM cscore) WHERE rn = 1),
      res AS (
        SELECT e.vec_id, a.bucket,
          list_transform(range(1, $dim + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) - ct.c[i]) AS r
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id
        JOIN cents ct ON ct.cid = a.bucket),
      rsub AS (
        SELECT vec_id, bucket, m, r[m * $sub + 1 : m * $sub + $sub] AS sv
        FROM res CROSS JOIN (SELECT unnest(range(0, $m)) AS m)),
      codes AS (
        SELECT vec_id, bucket, m, cid AS code FROM (
          SELECT v.vec_id, v.bucket, v.m, b.cid,
            row_number() OVER (PARTITION BY v.vec_id, v.m
              ORDER BY -2 * list_inner_product(v.sv, b.bc)
                       + list_inner_product(b.bc, b.bc), b.cid) AS rn
          FROM rsub v JOIN books b ON b.m = v.m) WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, cid AS bucket,
          CAST(floor(dot * 1000000000 + 0.5) AS BIGINT) AS base
        FROM (
          SELECT vec_id, cid, dot,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM cscore WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
      qsub AS (
        SELECT vec_id AS query_id, m,
          CAST(embedding AS DOUBLE[])[m * $sub + 1 : m * $sub + $sub] AS sv
        FROM embeddings CROSS JOIN (SELECT unnest(range(0, $m)) AS m)
        WHERE vec_id < $nQueries),
      lut AS (
        SELECT q.query_id, q.m, b.cid,
          CAST(floor(list_inner_product(q.sv, b.bc) * 1000000000 + 0.5)
            AS BIGINT) AS nanos
        FROM qsub q JOIN books b ON b.m = q.m),
      adc AS (
        SELECT p.query_id, cd.vec_id AS neighbor_id,
          p.base + CAST(SUM(l.nanos) AS BIGINT) AS adc
        FROM probes p
        JOIN codes cd ON cd.bucket = p.bucket AND cd.vec_id <> p.query_id
        JOIN lut l ON l.query_id = p.query_id AND l.m = cd.m AND l.cid = cd.code
        GROUP BY 1, 2, p.base),
      topc AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY adc DESC, neighbor_id) AS rn
          FROM adc) WHERE rn <= $cand),
      rer AS (
        SELECT t.query_id, t.neighbor_id,
          round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                       CAST(ne.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM topc t
        JOIN embeddings qe ON qe.vec_id = t.query_id
        JOIN embeddings ne ON ne.vec_id = t.neighbor_id)
      SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        FROM rer)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB oracle for [[annPq]]: codebooks as DOUBLE[] literals;
    * encoding (argmin −2·dot + c·c, ties to lowest cid), the per-query
    * LUT, the exact-BIGINT ADC sum, top-`cand` selection, and exact
    * rerank all re-expressed in SQL. Data-dependent → emitted by
    * oracleSqlFor. */
  def annPqOracleSql(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
                     m: Int = PqM, kS: Int = PqK, cand: Int = PqCand): String = {
    val books = pqCodebooks(s, d, m, kS)
    val dim = books.length * books(0)(0).length
    val sub = dim / m
    val bookSql = (for (mi <- 0 until m; ci <- 0 until kS) yield
      s"($mi, $ci, [${books(mi)(ci).map(_.toString).mkString(", ")}]::DOUBLE[])")
      .mkString(",\n        ")
    s"""
      WITH books(m, cid, c) AS (VALUES
        $bookSql),
      vsub AS (
        SELECT vec_id, m,
          CAST(embedding AS DOUBLE[])[m * $sub + 1 : m * $sub + $sub] AS sv
        FROM embeddings CROSS JOIN (SELECT unnest(range(0, $m)) AS m)),
      assigned AS (
        SELECT vec_id, m, cid AS code FROM (
          SELECT v.vec_id, v.m, b.cid,
            row_number() OVER (PARTITION BY v.vec_id, v.m
              ORDER BY -2 * list_inner_product(v.sv, b.c)
                       + list_inner_product(b.c, b.c), b.cid) AS rn
          FROM vsub v JOIN books b ON b.m = v.m) WHERE rn = 1),
      lut AS (
        SELECT v.vec_id AS query_id, v.m, b.cid,
          CAST(floor(list_inner_product(v.sv, b.c) * 1000000000 + 0.5)
            AS BIGINT) AS nanos
        FROM vsub v JOIN books b ON b.m = v.m
        WHERE v.vec_id < $nQueries),
      adc AS (
        SELECT l.query_id, a.vec_id AS neighbor_id,
          CAST(SUM(l.nanos) AS BIGINT) AS adc
        FROM assigned a JOIN lut l ON l.m = a.m AND l.cid = a.code
        WHERE a.vec_id <> l.query_id
        GROUP BY 1, 2),
      topc AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY adc DESC, neighbor_id) AS rn
          FROM adc) WHERE rn <= $cand),
      rer AS (
        SELECT t.query_id, t.neighbor_id,
          round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                       CAST(ne.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM topc t
        JOIN embeddings qe ON qe.vec_id = t.query_id
        JOIN embeddings ne ON ne.vec_id = t.neighbor_id)
      SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        FROM rer)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB oracle for [[annIvf]]: the trained centroids are embedded
    * as DOUBLE[] literals (shortest round-trip printing — same recipe
    * as [[planesSqlValues]]), and assignment (argmax dot, lowest
    * centroid id on ties), nprobe probing (stable sort ⇒ dot DESC,
    * cid ASC), and exact rerank are re-expressed in SQL. Data-
    * dependent, so it's emitted by [[graft.SparkEntry.oracleSqlFor]]
    * at Verify time rather than from the static map. */
  def annIvfOracleSql(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
                      nprobe: Int = IvfNprobe): String = {
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d))},
      probes AS (
        SELECT vec_id AS query_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scored WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
      cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM assign a JOIN probes p
          ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
      rer AS (
        SELECT c.query_id, c.neighbor_id,
          round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                       CAST(ne.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.query_id
        JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
      SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        FROM rer)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  // ---- SQ8 (scalar int8 quantization) ----------------------------------

  /** Per-dimension [min,max] grid for scalar quantization, trained in
    * one distributed pass: posexplode + groupBy(dim) does its partial
    * aggregation map-side (≤ dim rows leave each task — the shuffle
    * is dim-sized regardless of corpus size), and only the dim-sized
    * result is collected (the ivfCentroids pattern). */
  def sq8Grid(emb: DataFrame): (Array[Double], Array[Double]) = {
    val stats = emb
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy(col("i"))
      .collect()
    (stats.map(_.getAs[Double]("mn")), stats.map(_.getAs[Double]("mx")))
  }

  /** Quantize a float vector to uint8 codes 0..255 — the STORED form:
    * 1 byte/dim, 4× less storage and scan I/O than float32. The grid
    * travels as literals (dim-sized), so this is a pure per-row
    * column expression. */
  def sq8Codes(v: Column, mns: Array[Double], mxs: Array[Double]): Column = {
    val mnA = typedlit(mns); val mxA = typedlit(mxs)
    transform(v, (x, i) => {
      val mn = element_at(mnA, i + 1); val mx = element_at(mxA, i + 1)
      // CLAMP to the grid: an out-of-grid coordinate (an append after
      // the grid was trained) saturates at the edge code — the
      // standard SQ behavior. Without the clamp the (q − 128).toByte
      // storage step WRAPS out-of-range codes into garbage; with it,
      // recall degrades gracefully and the Sq8Codec drift axis (the
      // saturation fraction) sees exactly how much is clipping.
      when(mx > mn, least(lit(255), greatest(lit(0),
        round((x.cast("double") - mn) * lit(255.0) / (mx - mn))
          .cast("int"))))
        .otherwise(lit(0))
    })
  }

  /** Reconstruct the dequantized vector from stored codes. */
  def sq8Dequant(codes: Column, mns: Array[Double], mxs: Array[Double]): Column = {
    val mnA = typedlit(mns); val mxA = typedlit(mxs)
    transform(codes, (q, i) => {
      val mn = element_at(mnA, i + 1); val mx = element_at(mxA, i + 1)
      mn + q.cast("double") * (mx - mn) / lit(255.0)
    })
  }

  /** Write the corpus in the SQ8 code layout: (vec_id, 1 byte/dim
    * codes as signed bytes, offset −128) — the stored form behind the
    * 4× scan-I/O claim, measured against the float32 layout in
    * SimilaritySpec. [[readSq8Dequant]] restores dequantized double
    * vectors for scoring; round-trip parity with the inline
    * quantize-dequantize is spec'd. */
  def writeSq8(emb: DataFrame, dir: String,
               mns: Array[Double], mxs: Array[Double]): Unit = {
    val s = emb.sparkSession
    import s.implicits._
    emb.select(col("vec_id"), sq8Codes(col("embedding"), mns, mxs).as("codes"))
      .as[(Long, Array[Int])]
      .map { case (id, q) => (id, q.map(x => (x - 128).toByte)) }
      .toDF("vec_id", "codes")
      .write.mode("overwrite").parquet(dir)
  }

  def readSq8Dequant(s: SparkSession, dir: String,
                     mns: Array[Double], mxs: Array[Double]): DataFrame = {
    import s.implicits._
    s.read.parquet(dir).as[(Long, Array[Byte])]
      .map { case (id, b) => (id, b.map(x => x.toInt + 128)) }
      .toDF("vec_id", "codes")
      .select(col("vec_id"), sq8Dequant(col("codes"), mns, mxs).as("v"))
  }

  /** ann_sq8: brute-force top-k over the scalar-quantized corpus —
    * FAISS's SQ8 flat index re-expressed relationally. Same join
    * shape as [[annBruteforce]] (broadcast the query set, one corpus
    * pass, bounded per-query top-k), but the corpus the scan reads at
    * 100 TB is the 1-byte/dim code layout, a 4× I/O reduction; the
    * dequantize is a per-row column expression ahead of the join, so
    * each corpus vector reconstructs once, not once per query.
    * Scoring is symmetric (queries quantized too) so the DuckDB
    * oracle can replay it exactly; asymmetric scoring (full-precision
    * queries) is the FAISS default and only improves recall.
    * Recall@5 vs the exact baseline is measured in Bench/RecallSpec.
    * Grid min/max are order-independent aggregates, so the oracle
    * retrains them in SQL — no trained-artifact literal needed. */
  def annSq8(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5): DataFrame =
    annSq8(Tables.embeddings(s, d), nQueries, k)

  def annSq8(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val (mns, mxs) = sq8Grid(emb)
    def dq(c: Column): Column = sq8Dequant(sq8Codes(c, mns, mxs), mns, mxs)
    val e = emb.select(col("vec_id").as("neighbor_id"), dq(col("embedding")).as("v"))
    val q = broadcast(emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), dq(col("embedding")).as("qv")))
    val scored = e.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
    topKPerQuery(scored, k)
  }

  // ---- IVF × SQ8 (the composed production index) -------------------------

  /** ann_ivf_sq8: the composed production index — FAISS's
    * IVF+SQ8 shape re-expressed relationally. The corpus lives
    * bucketed by IVF coarse centroid AND stored as 1-byte/dim SQ8
    * codes; a query probes its `nprobe` nearest buckets (at 100 TB a
    * partition-pruned scan — see [[Sq8Codec]]) and
    * reranks ASYMMETRICALLY: the query keeps full precision, only the
    * corpus side pays quantization error (the FAISS default — better
    * recall than the symmetric form at identical scan cost). Combined
    * effect: the probe scan reads nprobe/nlist of the corpus at 1/4
    * the bytes per vector — a ~8× I/O reduction at the default
    * geometry vs the flat float32 scan.
    *
    * Both trained artifacts are oracle-replayable: centroids travel
    * as SQL literals ([[annIvfOracleSql]]'s recipe) while the SQ8
    * grid retrains in SQL (order-independent min/max — [[annSq8]]'s
    * recipe); emitted by [[annIvfSq8OracleSql]] at Verify time. */
  def annIvfSq8(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
                nprobe: Int = IvfNprobe): DataFrame =
    annIvfSq8On(Tables.embeddings(s, d), ivfCentroids(s, d), nQueries, k, nprobe)

  /** [[annIvfSq8]] over an arbitrary embeddings frame with given
    * centroids (centroids are a property of the DATA geometry, so a
    * quantizer trained on one corpus serves a replicated one too). */
  def annIvfSq8On(emb: DataFrame, cents: Array[Array[Double]],
                  nQueries: Int = 10, k: Int = 5,
                  nprobe: Int = IvfNprobe): DataFrame = {
    val (mns, mxs) = sq8Grid(emb)
    val codec = Sq8Codec(cents, mns, mxs)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    // bucket assignment on the FULL-precision vector (write-side work
    // at scale), storage = SQ8 codes; the dequantize is one per-row
    // expression ahead of the join, so each corpus vector
    // reconstructs once, not once per probing query
    val bucketed = codec.assign(vecs).select(col("vec_id").as("neighbor_id"),
      col("bucket"), sq8Dequant(sq8Codes(col("embedding"), mns, mxs), mns, mxs).as("v"))
    val probes = codec.probe(vecs.filter(col("vec_id") < nQueries), nprobe)
      .select(col("vec_id").as("query_id"), col("bucket"), col("embedding").as("qv"))
    val cand = bucketed.join(broadcast(probes), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
    topKPerQuery(cand.select(col("query_id"), col("neighbor_id"),
      round(cos(col("qv"), col("v")), 6).as("cos_sim")), k)
  }

  /** The composed IVF×SQ8 layout `(vec_id, bucket, codes)`: the float
    * layout's bucket partitioning over [[writeSq8]]'s 1-byte/dim code
    * rows — a probe is a partition-pruned scan over codes. Bucket
    * assignment runs on the full-precision vector. Arrivals append
    * under the STANDING grid: out-of-grid coordinates CLAMP to the
    * edge codes ([[sq8Codes]]' saturation) and recall degrades
    * gracefully. Drift axis: the SATURATION FRACTION — the share of
    * stored code entries at 0 or 255, a codes-only readout of grid
    * staleness. At write time only each dimension's half-step tails
    * sit on the edge codes (tiny but nonzero, so the relative
    * tolerance is well-defined); a ×3 drift wave clips a quarter of
    * its coordinates. Retrain re-derives the grid from the live
    * full-precision rows (clipped codes lost their true magnitude). */
  case class Sq8Codec(cents: Array[Array[Double]],
                      mns: Array[Double], mxs: Array[Double]) extends CentroidCodec {
    type Self = Sq8Codec
    def driftTol: Double = 3.0
    private[graft] def storesVectors = false
    private[graft] def rows(emb: DataFrame): DataFrame = sq8Rows(this, emb)
    private[graft] def axis(live: DataFrame, vectors: => DataFrame): Double =
      sq8SatFrac(live)
    private[graft] def retrained(sample: Array[Array[Float]], live: DataFrame) = {
      val (mn, mx) = sq8Grid(live)
      Sq8Codec(trainCentroids(sample, nlist, iters = 10), mn, mx)
    }
  }

  private def sq8Rows(codec: Sq8Codec, emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    codec.assign(emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("bucket"),
        sq8Codes(col("embedding"), codec.mns, codec.mxs).as("q"))
      .as[(Long, Int, Array[Int])]
      .map { case (id, b, q) => (id, b, q.map(x => (x - 128).toByte)) }
      .toDF("vec_id", "bucket", "codes")
  }

  private def sq8SatFrac(live: DataFrame): Double = {
    val s = live.sparkSession
    import s.implicits._
    val sat = live.select(col("codes")).as[Array[Byte]]
      .mapPartitions { it =>
        var tot = 0L; var satd = 0L
        it.foreach { cs =>
          var j = 0
          while (j < cs.length) {
            val q = cs(j).toInt + 128
            if (q == 0 || q == 255) satd += 1
            tot += 1; j += 1
          }
        }
        if (tot == 0) Iterator.empty else Iterator.single((tot, satd))
      }.collect()
    sat.map(_._2).sum.toDouble / math.max(1L, sat.map(_._1).sum)
  }

  /** Serve ONE batch of queries against the composed SQ8 layout
    * ([[Sq8Codec]]) — the [[annIvfServeBatch]] shape over 1-byte/dim
    * codes: the probed-bucket scan, per-row dequantize, asymmetric
    * rerank. Result-identical to [[annIvfSq8]] at the same geometry
    * (spec'd). `queries` must have `(query_id, embedding)`;
    * `excludeSelf` as in [[annIvfServeBatch]]. */
  def annIvfSq8ServeBatch(s: SparkSession, dir: String, codec: Sq8Codec,
                          queries: DataFrame, k: Int = 5,
                          nprobe: Int = IvfNprobe,
                          excludeSelf: Boolean = false): DataFrame = {
    import s.implicits._
    val (cand, _) = probedCandidates(s, dir, codec,
      queries.select(col("query_id"), col("embedding")), nprobe, excludeSelf,
      decode = _.select(col("vec_id"), col("bucket"), col("codes"))
        .as[(Long, Int, Array[Byte])] // codes land as parquet BINARY
        .map { case (id, b, codes) => (id, b, codes.map(x => x.toInt + 128)) }
        .toDF("vec_id", "bucket", "q")
        .select(col("vec_id"), col("bucket"),
          sq8Dequant(col("q"), codec.mns, codec.mxs).as("v")))
    topKPerQuery(cand.select(col("query_id"), col("vec_id").as("neighbor_id"),
      round(cos(col("qv"), col("v")), 6).as("cos_sim")), k)
  }

  /** DuckDB oracle for [[annIvfSq8]]: centroid literals + SQL-retrained
    * SQ8 grid + asymmetric rerank. Data-dependent (the centroids), so
    * emitted by [[graft.SparkEntry.oracleSqlFor]] at Verify time. */
  def annIvfSq8OracleSql(s: SparkSession, d: String, nQueries: Int = 10,
                         k: Int = 5, nprobe: Int = IvfNprobe): String = {
    val cents = ivfCentroids(s, d)
    val centsSql = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n        ")
    s"""
      WITH cents(cid, c) AS (VALUES
        $centsSql),
      idx AS (
        SELECT unnest(range(1, (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i),
      stats AS (
        SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
               MAX(CAST(embedding[i] AS DOUBLE)) AS mx
        FROM embeddings, idx GROUP BY i),
      grid AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM stats),
      dq AS (
        SELECT vec_id,
          list_transform(range(1, len(embedding) + 1),
            i -> CASE WHEN mxs[i] > mns[i]
                 THEN mns[i] + CAST(CAST(round((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
                        / (mxs[i] - mns[i])) AS INT) AS DOUBLE) * (mxs[i] - mns[i]) / 255.0
                 ELSE mns[i] END) AS v
        FROM embeddings, grid),
      scoredc AS (
        SELECT vec_id, cid,
          list_inner_product(CAST(embedding AS DOUBLE[]), c) AS dot
        FROM embeddings CROSS JOIN cents),
      assign AS (
        SELECT vec_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scoredc) WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scoredc WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
      cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM assign a JOIN probes p
          ON a.bucket = p.bucket AND a.vec_id <> p.query_id),
      rer AS (
        SELECT c.query_id, c.neighbor_id,
          round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), ne.v), 6) AS cos_sim
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.query_id
        JOIN dq ne ON ne.vec_id = c.neighbor_id)
      SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        FROM rer)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  // ---- SemDeDup: semantic (embedding-cluster) deduplication ------------

  /** dedup_semantic: SemDeDup (Abbas et al. 2023) — k-means-cluster
    * the embedding space with the IVF coarse quantizer, then dedup
    * WITHIN each cluster: a vector is removed iff an earlier (lower
    * id) same-cluster vector sits within cosine ≥ τ (the repo's
    * keep-first rule; the paper's "keep one per semantic group" made
    * deterministic). This is the semantic complement of the LSH
    * near-dup family: hyperplane LSH blocks by random geometry,
    * SemDeDup blocks by LEARNED cluster structure, which is what
    * catches paraphrase-level redundancy at training-data scale.
    *
    * Scale shape: assignment is a broadcast-centroid typed map (one
    * linear pass); the within-cluster pairing is an equi-join on the
    * bucket key whose quadratic work stays IN-STAGE (pairs flow
    * straight into a map-side-combined max per vec — the shuffle
    * carries the n input rows, never the n²/nlist pair rows). At
    * 100 TB nlist scales with the corpus (cluster size held ~constant
    * — SemDeDup trains k ∝ N), making per-cluster work bounded; the
    * Scale10 probe measures exactly that regime. Cosine is the
    * native codegen'd expression, rounded 6 dp before the max/τ
    * compare (engine-identical). */
  def dedupSemantic(s: SparkSession, d: String): DataFrame =
    dedupSemantic(Tables.embeddings(s, d), ivfCentroids(s, d, SemNlist))

  private[graft] val SemNlist = 32
  private[graft] val SemTau   = 0.35

  def dedupSemantic(e: DataFrame, cents: Array[Array[Double]],
                    tau: Double = SemTau): DataFrame = {
    def assigned(idCol: String, embCol: String) =
      FloatCodec(cents).assign(e.select(col("vec_id"), col("embedding")))
        .select(col("vec_id").as(idCol), col("bucket"), col("embedding").as(embCol))
    assigned("v1", "e1")
      .join(assigned("v2", "e2").hint("shuffle_hash"), Seq("bucket"))
      .where(col("v1") < col("v2"))
      .select(col("v2").as("vec_id"), col("bucket"),
        round(graft.functions.CosineSimilarity.cosineSim(
          col("e1"), col("e2")), 6).as("cs"))
      .groupBy(col("vec_id"), col("bucket"))
      .agg(max(col("cs")).as("max_cos"))
      .filter(col("max_cos") >= tau)
      .orderBy(col("vec_id"))
  }

  // ---- SSL-prototype / D4 diversity selection --------------------------

  /** select_prototypes: prototypicality-based data selection (the
    * SSL-Prototypes metric of Sorscher et al. 2022 "Beyond neural
    * scaling laws", the second half of D4 after SemDeDup): cluster
    * the embedding space with the same k-means coarse quantizer,
    * score every vector by its cosine to its OWN cluster centroid
    * (high = prototypical/easy, low = hard/diverse), and keep the
    * LEAST prototypical half of every cluster — the pruning rule
    * that beats random subsampling when data is abundant. Emits the
    * full scored frame (vec_id, bucket, proto_cos, div_rank, keep)
    * so downstream picks its own keep fraction.
    *
    * Scale shape: assignment is the broadcast-centroid typed map;
    * the centroid join is a broadcast of nlist rows; the rank is a
    * window PARTITIONED BY cluster — bounded because nlist scales
    * with the corpus (cluster size ~constant, the SemDeDup
    * argument), never a global window. Cosine is the native
    * codegen'd expression rounded 6 dp with vec_id tie-break. */
  def selectPrototypes(s: SparkSession, d: String): DataFrame =
    selectPrototypes(Tables.embeddings(s, d), ivfCentroids(s, d, SemNlist))

  def selectPrototypes(e: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = e.sparkSession
    import s.implicits._
    val assigned = FloatCodec(cents).assign(e.select(col("vec_id"), col("embedding")))
      .withColumnRenamed("embedding", "v")
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("bucket", "cent")
    val rankW = Window.partitionBy(col("bucket"))
      .orderBy(col("proto_cos").asc, col("vec_id").asc)
    val cntW = Window.partitionBy(col("bucket"))
    assigned.join(broadcast(centsDf), Seq("bucket"))
      .select(col("vec_id"), col("bucket"),
        round(graft.functions.CosineSimilarity.cosineSim(
          col("v"), col("cent")), 6).as("proto_cos"))
      .withColumn("div_rank", row_number().over(rankW))
      .withColumn("nb", count(lit(1)).over(cntW))
      .withColumn("keep",
        when(col("div_rank") <= expr("nb div 2"), lit(1)).otherwise(lit(0)))
      .select(col("vec_id"), col("bucket"), col("proto_cos"),
        col("div_rank"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[selectPrototypes]]: centroid literals (the
    * [[annIvfOracleSql]] recipe), argmax-dot assignment, per-cluster
    * rank over the 6-dp cosine with vec_id tie-break. Data-dependent
    * → emitted by oracleSqlFor. */
  def selectPrototypesOracleSql(s: SparkSession, d: String): String = {
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d, SemNlist))},
      proto AS (
        SELECT a.vec_id, a.bucket,
          round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                       c.c), 6) AS proto_cos
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN cents c ON c.cid = a.bucket),
      ranked AS (
        SELECT vec_id, bucket, proto_cos,
          CAST(row_number() OVER (PARTITION BY bucket
               ORDER BY proto_cos ASC, vec_id ASC) AS INT) AS div_rank,
          COUNT(*) OVER (PARTITION BY bucket) AS nb
        FROM proto)
      SELECT vec_id, bucket, proto_cos, div_rank,
        CAST(CASE WHEN div_rank <= nb // 2 THEN 1 ELSE 0 END AS INT) AS keep
      FROM ranked ORDER BY vec_id"""
  }

  // ---- select_kcenter: greedy k-center coreset -----------------------------

  /** Default coreset size for the in-query diagnostic form (each
    * round is one corpus pass — kept small for the oracle's unrolled
    * CTE replay; the operator takes any k). */
  private[graft] val KcenterK = 8

  /** Exact-integer cosine (e6 units) between two e6-snapped
    * coordinate arrays — object-level so Dataset closures calling it
    * capture nothing (the r13 Task-not-serializable rule). */
  private def cosE6Arrays(a: Array[Long], b: Array[Long]): Long = {
    var dot = 0L; var an = 0L; var bn = 0L; var j = 0
    while (j < a.length) {
      dot += a(j) * b(j); an += a(j) * a(j); bn += b(j) * b(j); j += 1 }
    cosE6(dot, an, bn)
  }

  /** select_kcenter — GREEDY K-CENTER coreset selection over the
    * embedding column (Gonzalez 1985 farthest-point traversal; the
    * DIVERSIFICATION stage of training-data selection — D4's
    * complement to [[selectPrototypes]]' per-cluster typicality:
    * prototypes keep what is REPRESENTATIVE, k-center keeps what is
    * SPREAD — together they bound both redundancy and coverage; the
    * greedy sweep is the classic 2-approximation of the k-center
    * objective). Seed = the least vec_id; each round picks the
    * vector whose MAXIMUM cosine to the already-chosen set is
    * MINIMUM (the farthest point under cosine distance, ties to the
    * least vec_id). Output (r, vec_id, maxcos_e6) — r the selection
    * round, maxcos_e6 the cover radius AT selection (monotone
    * non-decreasing from round 2 on, the standard coreset quality
    * readout; the seed row carries 1000000 = cos with itself, by
    * convention).
    *
    * Determinism: coordinates e6-snap to exact BIGINTs, every
    * pairwise score is the cos_e6 fixed scalar IEEE chain on exact
    * integers (bit-identical cross-engine), the per-round argmin is
    * an integer (maxcos, vec_id) minimum — the oracle replays the
    * rounds as unrolled chained CTEs ([[selectKcenterOracleSql]],
    * the graph_pagerank discipline).
    *
    * Scale shape: the snap pass runs once (localCheckpoint — eager,
    * and every round collects anyway); each round is ONE corpus-linear
    * pass against a broadcast ≤k·dim integer array plus a
    * TakeOrdered(1) — k passes total, no join, no shuffle beyond the
    * bounded take. At 100 TB the same loop runs on a uniform sample
    * (greedy k-center is 2-approx on the sample, and the cover-radius
    * readout tells you if the sample was too thin) — the loop shape
    * does not change. */
  def selectKcenter(s: SparkSession, d: String,
                    kSel: Int = KcenterK): DataFrame =
    selectKcenterOn(Tables.embeddings(s, d), kSel)

  /** Corpus-parameterized core of [[selectKcenter]]. */
  def selectKcenterOn(emb: DataFrame, kSel: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    kcenterChosen(emb, kSel).map(t => (t._1, t._2, t._3))
      .toDF("r", "vec_id", "maxcos_e6")
  }

  /** The greedy sweep shared by [[selectKcenterOn]] and
    * [[selectKcenterAssignOn]]: (round, vec_id, maxcos-at-pick,
    * snapped code) per chosen center. */
  private def kcenterChosen(emb: DataFrame, kSel: Int)
      : Vector[(Int, Long, Long, Array[Long])] = {
    val s = emb.sparkSession
    import s.implicits._
    val base = graft.Util.fanOutIfAtLeast(
        emb.select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, graft.Util.snapE6(v)) }
      .toDF("vec_id", "c").as[(Long, Array[Long])]
      .localCheckpoint()
    val seed = base.orderBy(col("vec_id")).head()
    var chosen = Vector((1, seed._1, 1000000L, seed._2))
    for (r <- 2 to kSel) {
      val bcCodes = s.sparkContext.broadcast(chosen.map(_._4).toArray)
      val ids = chosen.map(_._2)
      val pick = base.filter(!col("vec_id").isInCollection(ids))
        .map { case (id, c) =>
          var best = Long.MinValue
          var i = 0
          while (i < bcCodes.value.length) {
            val cs = cosE6Arrays(c, bcCodes.value(i))
            if (cs > best) best = cs
            i += 1
          }
          (best, id, c)
        }
        .toDF("mc", "vec_id", "c")
        .orderBy(col("mc"), col("vec_id")).limit(1)
        .as[(Long, Long, Array[Long])].head()
      chosen = chosen :+ ((r, pick._2, pick._1, pick._3))
    }
    chosen
  }

  /** select_kcenter_assign — the VORONOI WEIGHTS of the k-center
    * coreset: every corpus vector assigned to its most-cosine-similar
    * chosen center (ties to the least center id), reported as
    * (center_id, n_members). This is what a training loop actually
    * consumes from a coreset — each center stands in for its cell,
    * weighted by the cell's mass (the sensitivity-sampling /
    * importance-weight readout); Σ n_members = corpus size
    * (spec'd). One broadcast typed pass + one bounded aggregate on
    * top of the [[selectKcenterOn]] sweep. */
  def selectKcenterAssign(s: SparkSession, d: String,
                          kSel: Int = KcenterK): DataFrame =
    selectKcenterAssignOn(Tables.embeddings(s, d), kSel)

  /** Corpus-parameterized core of [[selectKcenterAssign]]. */
  def selectKcenterAssignOn(emb: DataFrame, kSel: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(
      kcenterChosen(emb, kSel).map(t => (t._2, t._4)).toArray)
    graft.Util.fanOutIfAtLeast(emb.select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .map { case (_, v) =>
        val c = graft.Util.snapE6(v)
        var bestCos = Long.MinValue; var bestId = Long.MaxValue
        var i = 0
        while (i < bc.value.length) {
          val (cid, cc) = bc.value(i)
          val cs = cosE6Arrays(c, cc)
          if (cs > bestCos || (cs == bestCos && cid < bestId)) {
            bestCos = cs; bestId = cid
          }
          i += 1
        }
        bestId
      }
      .toDF("center_id")
      .groupBy(col("center_id")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("center_id"))
  }

  /** In-memory greedy k-center over a sorted point slice (seed = the
    * slice's least id — the [[selectKcenterOn]] semantics applied
    * locally). Object-level: Dataset closures calling it capture
    * nothing (the r13 rule). O(k²·n) — n is a SLICE, not the corpus. */
  private def greedyLocal(pts: Array[(Long, Array[Long])],
                          k: Int): Array[(Long, Array[Long])] = {
    if (pts.isEmpty) return Array.empty
    // Gonzalez running max: each round scores candidates against only
    // the NEWEST center and keeps a per-point max — O(k·n·dim), same
    // picks as recomputing all chosen each round (the max is the
    // max); pts are id-sorted, so the strict < keeps the least id on
    // ties (the selectKcenterOn tie-break)
    val chosen = scala.collection.mutable.ArrayBuffer(pts.head)
    val maxCos = Array.fill(pts.length)(Long.MinValue)
    val taken = new Array[Boolean](pts.length)
    taken(0) = true
    while (chosen.length < k && chosen.length < pts.length) {
      val newest = chosen.last._2
      var bestMc = Long.MaxValue; var bestIdx = -1
      var i = 0
      while (i < pts.length) {
        if (!taken(i)) {
          val cs = cosE6Arrays(pts(i)._2, newest)
          if (cs > maxCos(i)) maxCos(i) = cs
          if (maxCos(i) < bestMc) { bestMc = maxCos(i); bestIdx = i }
        }
        i += 1
      }
      taken(bestIdx) = true
      chosen += pts(bestIdx)
    }
    chosen.toArray
  }

  /** COMPOSABLE two-level k-center — the 100 TB form of
    * [[selectKcenterOn]] (whose k driver-coordinated corpus passes
    * are fine at k=8 but serialize the driver into the loop): the
    * corpus deterministically slices by vec_id mod `parts`, each
    * slice runs the greedy sweep LOCALLY to `kLocal` centers in one
    * distributed pass (the composable-coreset pattern — a slice is
    * sized to executor memory, which is what `parts` controls at
    * scale), and the ≤ parts·kLocal union (driver-bounded) runs the
    * same greedy to the final k. Guarantee: per-level greedy is the
    * Gonzalez 2-approximation and the union is a coreset, so the
    * final cover radius is within a small constant of the one-shot
    * sweep's (≤ 4·OPT analytically; measured ≈ 1× on the isotropic
    * corpus — spec'd against [[coverMaxcosE6]] with the 4× analytic
    * bound). Deterministic end to end: slices by id arithmetic,
    * in-slice order sorted, greedy id-tie-broken — spec'd
    * run-to-run identical. Output (r, vec_id) in final pick order. */
  def selectKcenterComposable(emb: DataFrame, kSel: Int = KcenterK,
                              parts: Int = 8,
                              kLocal: Int = 16): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val union = graft.Util.fanOutIfAtLeast(
        emb.select(col("vec_id"), col("embedding")))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, graft.Util.snapE6(v)) }
      .groupByKey(_._1 % parts)
      .flatMapGroups { (_, it) =>
        greedyLocal(it.toArray.sortBy(_._1), kLocal).iterator
      }
      .collect().sortBy(_._1) // ≤ parts·kLocal rows — driver-bounded
    greedyLocal(union, kSel).zipWithIndex
      .map { case ((id, _), i) => (i + 1, id) }
      .toSeq.toDF("r", "vec_id")
  }

  /** The cover quality of a chosen center set: MIN over the corpus of
    * (MAX cosine to any center) in e6 units — higher = tighter cover
    * (1e6 − value is the cover radius in cosine distance). One
    * corpus-linear pass against the broadcast centers. */
  def coverMaxcosE6(emb: DataFrame, centerIds: Seq[Long]): Long = {
    val s = emb.sparkSession
    import s.implicits._
    val coded = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, graft.Util.snapE6(v)) }
    val cents = coded.filter(c => centerIds.contains(c._1)).collect()
    val bc = s.sparkContext.broadcast(cents.map(_._2))
    coded.map { case (_, c) =>
        var mc = Long.MinValue
        var i = 0
        while (i < bc.value.length) {
          val cs = cosE6Arrays(c, bc.value(i))
          if (cs > mc) mc = cs
          i += 1
        }
        mc
      }
      .toDF("mc").agg(min(col("mc"))).head().getLong(0)
  }

  /** DuckDB oracle for [[selectKcenter]]: the greedy rounds unrolled
    * as chained CTEs — each round joins the corpus against the
    * accumulated chosen set (≤ k rows), takes the per-vector MAX
    * cos_e6, and picks the (mc, vec_id) minimum; the cos_e6 chain is
    * the classify_knn brute-force expression verbatim. Static (seed
    * and every pick derive from the data in-query — no artifact
    * literals). */
  private def kcenterCosSql(va: String, vb: String) =
    s"""CAST(floor(CAST(list_sum(list_transform(range(1, len($va.c) + 1),
               i -> $va.c[i] * $vb.c[i])) AS DOUBLE) /
          (sqrt(CAST($va.vn AS DOUBLE)) * sqrt(CAST($vb.vn AS DOUBLE)))
          * 1e6 + 0.5) AS BIGINT)"""

  /** The unrolled-greedy CTE chain shared by the two kcenter oracles
    * (ends at acc`k` = the chosen set with codes). */
  private def kcenterOracleBody(k: Int): String = {
    val rounds = (2 to k).map { i =>
      s"""mx$i AS (
        SELECT v.vec_id, MAX(${kcenterCosSql("v", "ch")}) AS mc
        FROM e v, acc${i - 1} ch
        WHERE v.vec_id NOT IN (SELECT vec_id FROM acc${i - 1})
        GROUP BY v.vec_id),
      pk$i AS (
        SELECT $i AS r, e.vec_id, mx$i.mc AS maxcos_e6, e.c, e.vn
        FROM mx$i JOIN e USING (vec_id)
        ORDER BY mx$i.mc, e.vec_id LIMIT 1),
      acc$i AS (SELECT * FROM acc${i - 1} UNION ALL SELECT * FROM pk$i)"""
    }.mkString(",\n      ")
    s"""
      WITH e AS (
        SELECT vec_id, c,
          CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS vn
        FROM (SELECT vec_id,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS c
              FROM embeddings)),
      acc1 AS (
        SELECT 1 AS r, vec_id, CAST(1000000 AS BIGINT) AS maxcos_e6, c, vn
        FROM e WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
      $rounds"""
  }

  def selectKcenterOracleSql(k: Int = KcenterK): String =
    s"""${kcenterOracleBody(k)}
      SELECT r, vec_id, maxcos_e6 FROM acc$k ORDER BY r"""

  /** DuckDB oracle for [[selectKcenterAssign]]: the shared greedy
    * chain + a corpus × chosen argmax (cos desc, center_id asc) and
    * the cell-size aggregate. */
  def selectKcenterAssignOracleSql(k: Int = KcenterK): String =
    s"""${kcenterOracleBody(k)},
      asg AS (
        SELECT v.vec_id, ch.vec_id AS center_id,
          ${kcenterCosSql("v", "ch")} AS ce
        FROM e v, acc$k ch),
      best AS (
        SELECT vec_id, center_id,
          row_number() OVER (PARTITION BY vec_id
                             ORDER BY ce DESC, center_id) AS rn
        FROM asg)
      SELECT center_id, COUNT(*) AS n_members
      FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1"""

  /** DuckDB oracle for [[dedupSemantic]]: trained centroids as
    * DOUBLE[] literals (the [[annIvfOracleSql]] recipe), assignment
    * argmax-dot with lowest-cid ties, within-cluster keep-first max
    * cosine. Data-dependent → emitted by oracleSqlFor. */
  def dedupSemanticOracleSql(s: SparkSession, d: String,
                             tau: Double = SemTau): String = {
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d, SemNlist))},
      pairs AS (
        SELECT a2.vec_id AS v, a1.bucket,
          round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                       CAST(e2.embedding AS DOUBLE[])), 6) AS cs
        FROM assign a1
        JOIN assign a2 ON a2.bucket = a1.bucket AND a1.vec_id < a2.vec_id
        JOIN embeddings e1 ON e1.vec_id = a1.vec_id
        JOIN embeddings e2 ON e2.vec_id = a2.vec_id)
      SELECT v AS vec_id, bucket, max(cs) AS max_cos
      FROM pairs GROUP BY 1, 2 HAVING max(cs) >= $tau
      ORDER BY vec_id"""
  }

  // ---- knn_graph: corpus-wide k-NN graph ---------------------------------

  /** The trained centroids as a VALUES CTE (DOUBLE[] literals in
    * shortest round-trip form) plus the `scored` dots and the argmax
    * `assign` CTEs every float-centroid IVF oracle starts with. */
  private def centsCteSql(cents: Array[Array[Double]]): String = {
    val rows = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n        ")
    s"""cents(cid, c) AS (VALUES
        $rows),
      scored AS (
        SELECT vec_id, cid,
          list_inner_product(CAST(embedding AS DOUBLE[]), c) AS dot
        FROM embeddings CROSS JOIN cents),
      assign AS (
        SELECT vec_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scored) WHERE rn = 1)"""
  }

  private[graft] val KnnK = 5

  /** knn_graph — the corpus-wide k-nearest-neighbor GRAPH (every
    * vector a source, not just a query batch): the shared primitive
    * under SemDeDup-style semantic dedup, SSL-prototype selection,
    * graph-based curation, and kNN-classifier data attribution.
    * EVERY vector probes its `nprobe` nearest IVF centroids and meets
    * candidates through the bucket EQUI-join (shuffle-hash — the
    * probe side is the corpus itself, nothing broadcasts); exact
    * cosine rerank, per-source bounded top-k via the TopK aggregator
    * (map-side partial — the shuffle after the join carries k·sources
    * rows, never the candidate set).
    *
    * 100 TB shape: candidate volume is n · nprobe · (n/nlist); with
    * nlist ∝ corpus (the SemDeDup scaling rule — constant bucket
    * occupancy) the per-vector candidate count is CONSTANT, so the
    * graph costs O(n) candidates at any corpus size. nprobe=16 is the
    * same measured recall knee as ann_ivf (the graph runs identical
    * probe mechanics; recall@5 reported per round in Bench's
    * knn_graph channel, floored at 0.8 by RecallSpec). */
  def knnGraph(s: SparkSession, d: String, k: Int = KnnK,
               nprobe: Int = IvfNprobe, ordered: Boolean = true): DataFrame =
    knnGraphOn(Tables.embeddings(s, d), ivfCentroids(s, d), k, nprobe, ordered)

  /** [[knnGraph]] over an explicit embedding frame + trained
    * centroids. `ordered=false` for
    * interior consumers (loops, CC, artifact writes) that destroy
    * order immediately — see [[topKPerQuery]]. */
  def knnGraphOn(emb: DataFrame, cents: Array[Array[Double]],
                 k: Int = KnnK, nprobe: Int = IvfNprobe,
                 ordered: Boolean = true): DataFrame = {
    val codec = FloatCodec(cents)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val bucketed = codec.assign(vecs).select(col("vec_id").as("neighbor_id"),
      col("bucket"), col("embedding").as("v"))
    val probes = codec.probe(vecs, nprobe).withColumnRenamed("embedding", "qv")
    val scoredPairs = bucketed.hint("shuffle_hash")
      .join(probes, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id").as("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
    val top = topKPerQuery(scoredPairs, k, ordered = false)
      .withColumnRenamed("query_id", "vec_id")
    if (ordered) top.orderBy(col("vec_id"), col("rank")) else top
  }

  /** DuckDB oracle for [[knnGraph]]: [[annIvfOracleSql]] with the
    * probe set widened to the whole corpus. Data-dependent → emitted
    * by oracleSqlFor. */
  def knnGraphOracleSql(s: SparkSession, d: String, k: Int = KnnK,
                        nprobe: Int = IvfNprobe): String = {
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d))},
      probes AS (
        SELECT vec_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scored) WHERE rn <= $nprobe),
      cand AS (
        SELECT p.vec_id, a.vec_id AS neighbor_id
        FROM assign a JOIN probes p
          ON a.bucket = p.bucket AND a.vec_id <> p.vec_id),
      rer AS (
        SELECT c.vec_id, c.neighbor_id,
          round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                       CAST(ne.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.vec_id
        JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
      SELECT vec_id, neighbor_id, cos_sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
        FROM rer)
      WHERE rank <= $k ORDER BY vec_id, rank"""
  }

  // ---- kmeans_report: coarse-quantizer diagnostics -----------------------

  /** kmeans_report — the CLUSTERING-QUALITY report published before
    * trusting the IVF coarse quantizer at 100 TB (the
    * dedup_profile / lsh_calibration discipline applied to the vector
    * side): per bucket, member count, mean cosine-to-centroid (the
    * spherical-k-means objective — exact-decimal mean of 6-dp
    * cosines) and the WORST member's cosine (a low min flags a
    * bucket whose tail rerank quality suffers; a tiny n_vecs flags a
    * dead/starved centroid that wastes a probe). One assignment pass
    * (broadcast nlist·dim centroid map) + a 32-row broadcast join for
    * the centroid vectors + one partial-agg shuffle of nlist groups. */
  def kmeansReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = ivfCentroids(s, d)
    val centsDf = {
      import s.implicits._
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("bucket", "cent")
    }
    val assigned = FloatCodec(cents)
      .assign(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    assigned.join(broadcast(centsDf), Seq("bucket"))
      .select(col("bucket"),
        round(cos(col("embedding"), col("cent")), 6).as("c6"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("c6").cast(DecimalType(9, 6))).cast("double") /
          count(lit(1)), 6).as("mean_cos"),
        min(col("c6")).as("min_cos"))
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle for [[kmeansReport]]: centroid literals, argmax-dot
    * assignment, the same 6-dp/DECIMAL/one-division mean. */
  def kmeansReportOracleSql(s: SparkSession, d: String): String = {
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d))},
      mem AS (
        SELECT a.bucket,
          round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                       c.c), 6) AS c6
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN cents c ON c.cid = a.bucket)
      SELECT bucket, COUNT(*) AS n_vecs,
        round(CAST(SUM(CAST(c6 AS DECIMAL(9,6))) AS DOUBLE) / COUNT(*), 6)
          AS mean_cos,
        MIN(c6) AS min_cos
      FROM mem GROUP BY 1 ORDER BY bucket"""
  }

  // ---- mine_bitext: margin-based parallel-pair mining --------------------

  /** mine_bitext — margin-based bitext mining (Artetxe & Schwenk ACL
    * 2019; the CCMatrix/LASER curation op): given two embedding pools
    * (conceptually two languages in a shared space — here the
    * deterministic vec_id-parity halves), each source is paired with
    * its margin-best target, margin(x,y) = cos(x,y) / ((avgNN(x) +
    * avgNN(y)) / 2) where avgNN is the mean cosine of a side's
    * top-`k` cross-pool neighbors — the RATIO criterion that
    * normalizes away hubness (a raw cosine threshold over-mines dense
    * regions and under-mines sparse ones; the margin asks "is this
    * pair closer than either side's general neighborhood").
    *
    * Both kNN directions run the IVF bucket EQUI-join (the knnGraph
    * shape — probe side is a pool, nothing broadcasts, never a
    * cross-join); at 100 TB this is exactly CCMatrix's architecture
    * (FAISS IVF sharded over the corpus). Determinism: cosines 6 dp;
    * avgNN = exact DECIMAL(9,6) sum cast once to double over the
    * neighbor count; margin = one IEEE division of that fixed tree,
    * 6 dp; the per-source argmax ranks on the ROUNDED margin with
    * target-id tie-break. `mined` flags margin ≥ `tau` (pairs a
    * downstream aligner would accept). */
  private[graft] val MineK = 4
  private[graft] val MineTau = 1.05

  def mineBitext(s: SparkSession, d: String, k: Int = MineK,
                 nprobe: Int = IvfNprobe, tau: Double = MineTau): DataFrame =
    mineBitextOn(Tables.embeddings(s, d), ivfCentroids(s, d), k, nprobe, tau)

  /** One direction of the cross-pool kNN: sources probe their nprobe
    * buckets, targets sit in their own bucket, candidates meet in the
    * bucket equi-join. Returns (query_id, neighbor_id, cos_sim, rank),
    * rank ≤ k. */
  private def crossPoolKnn(src: DataFrame, tgt: DataFrame,
                           cents: Array[Array[Double]],
                           k: Int, nprobe: Int): DataFrame = {
    val codec = FloatCodec(cents)
    val bucketed = codec.assign(tgt.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("neighbor_id"), col("bucket"), col("embedding").as("v"))
    val probes = codec.probe(src.select(col("vec_id"), col("embedding")), nprobe)
      .select(col("vec_id").as("query_id"), col("bucket"), col("embedding").as("qv"))
    val scoredPairs = bucketed.hint("shuffle_hash")
      .join(probes, Seq("bucket"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("v")), 6).as("cos_sim"))
    topKPerQuery(scoredPairs, k, ordered = false)
  }

  def mineBitextOn(emb: DataFrame, cents: Array[Array[Double]],
                   k: Int = MineK, nprobe: Int = IvfNprobe,
                   tau: Double = MineTau): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val srcPool = emb.filter(col("vec_id") % 2 === 0)
    val tgtPool = emb.filter(col("vec_id") % 2 === 1)
    // fwd feeds two branches (the per-source average and the margin
    // join), but checkpointing it measured 1.4× SLOWER in the full
    // bench (r17 min-aggregate A/B): the replayed subtree is
    // dominated by the scan-only typed code maps, the
    // checkpoint-loses class — left lazy deliberately
    val fwd = crossPoolKnn(srcPool, tgtPool, cents, k, nprobe)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("cos_sim"))
    val bwd = crossPoolKnn(tgtPool, srcPool, cents, k, nprobe)
    def avgNN(knn: DataFrame, idCol: String) = knn
      .groupBy(col("query_id").as(idCol))
      .agg((sum(col("cos_sim").cast(DecimalType(9, 6))).cast("double") /
        count(lit(1))).as(s"avg_$idCol"))
    val avgF = avgNN(fwd.select(col("src_id").as("query_id"), col("cos_sim")),
      "src_id")
    val avgB = avgNN(bwd, "tgt_id")
    val margined = fwd
      .join(avgF, Seq("src_id"))
      .join(avgB, Seq("tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("cos_sim"),
        round(col("cos_sim") / ((col("avg_src_id") + col("avg_tgt_id")) /
          lit(2.0)), 6).as("margin"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    margined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src_id"), col("tgt_id"), col("cos_sim"), col("margin"),
        when(col("margin") >= lit(tau), lit(1)).otherwise(lit(0)).as("mined"))
      .orderBy(col("src_id"))
  }

  /** DuckDB oracle for [[mineBitext]]: centroid literals, both
    * cross-pool kNN directions as candidate CTEs ranked (cos DESC, id)
    * to k, the same DECIMAL-sum/one-division average and margin tree,
    * per-source argmax on the rounded margin. Data-dependent →
    * emitted by oracleSqlFor. */
  def mineBitextOracleSql(s: SparkSession, d: String, k: Int = MineK,
                          nprobe: Int = IvfNprobe, tau: Double = MineTau): String = {
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d))},
      probes AS (
        SELECT vec_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scored) WHERE rn <= $nprobe),
      cand AS (
        SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
          round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                       CAST(ne.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM probes p
        JOIN assign a ON a.bucket = p.bucket
          AND a.vec_id % 2 <> p.vec_id % 2
        JOIN embeddings qe ON qe.vec_id = p.vec_id
        JOIN embeddings ne ON ne.vec_id = a.vec_id),
      knn AS (
        SELECT query_id, neighbor_id, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM cand) WHERE rn <= $k),
      avgs AS (
        SELECT query_id,
          CAST(SUM(CAST(cos_sim AS DECIMAL(9,6))) AS DOUBLE) / COUNT(*) AS av
        FROM knn GROUP BY 1),
      marg AS (
        SELECT f.query_id AS src_id, f.neighbor_id AS tgt_id, f.cos_sim,
          round(f.cos_sim / ((af.av + ab.av) / 2.0), 6) AS margin
        FROM knn f
        JOIN avgs af ON af.query_id = f.query_id
        JOIN avgs ab ON ab.query_id = f.neighbor_id
        WHERE f.query_id % 2 = 0)
      SELECT src_id, tgt_id, cos_sim, margin,
        CAST(CASE WHEN margin >= $tau THEN 1 ELSE 0 END AS INT) AS mined
      FROM (
        SELECT *, row_number() OVER (PARTITION BY src_id
          ORDER BY margin DESC, tgt_id) AS rn
        FROM marg) WHERE rn = 1
      ORDER BY src_id"""
  }

  // ---- graph_pagerank: centrality over the kNN graph ---------------------

  private[graft] val PrIters = 10
  /** Rank mass is carried in 1e-12 units as exact BIGINTs. */
  private[graft] val PrScale = 1000000000000L

  /** graph_pagerank — PageRank centrality over the corpus kNN graph
    * (the graph-based data-selection signal: central documents are
    * representative, peripheral ones are outliers/noise — the ranking
    * behind kNN-graph coreset selection and influence-style audits).
    * Damping d = 17/20 (0.85 exact), `iters` fixed power iterations.
    *
    * Determinism: rank mass lives in 1e-12 units as exact BIGINTs —
    * every step is integer arithmetic (share = pr div deg; update =
    * base + (17·Σshares) div 20, all positive so truncating div ==
    * floor in BOTH engines) — no float ever accumulates, so the
    * result is bit-identical everywhere; the published `pagerank`
    * double is ONE division per row at the end, 6 dp.
    *
    * 100 TB shape: the Pregel/GraphX loop — per iteration ONE
    * src-keyed equi-join (edges × node-sized rank frame) and ONE
    * partial-agg shuffle on dst; localCheckpoint truncates the
    * growing lineage each step (the loop forces actions itself, so
    * the lazily-returned-operator trap doesn't apply). Edge volume is
    * the knnGraph invariant (constant per-vector candidates when
    * nlist ∝ corpus), so each iteration is O(k·n). */
  def graphPagerank(s: SparkSession, d: String, k: Int = KnnK,
                    nprobe: Int = IvfNprobe,
                    iters: Int = PrIters): DataFrame = {
    val edges = knnGraph(s, d, k, nprobe, ordered = false)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val nodes = Tables.embeddings(s, d).select(col("vec_id"))
    pagerankOn(edges, nodes, iters)
  }

  /** PageRank over explicit (src, dst) edges and a node frame; see
    * [[graphPagerank]] for the arithmetic contract. Nodes without
    * in-edges keep the teleport base; sources divide their mass over
    * their actual out-degree. */
  def pagerankOn(edges: DataFrame, nodes: DataFrame,
                 iters: Int = PrIters): DataFrame = {
    // nodes is consumed per iteration plus the count — pin it once
    // (it was a fresh scan per iteration before)
    val nd = nodes.localCheckpoint()
    val n = nd.count()
    val base = (3L * PrScale) / (20L * n)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, Seq("src")).localCheckpoint()
    var ranks = nd.select(col("vec_id"), lit(PrScale / n).as("pr"))
    for (i <- 1 to iters) {
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("vec_id", "src"), Seq("src"))
        .select(col("dst").as("vec_id"), expr("pr div deg").as("share"))
        .groupBy(col("vec_id")).agg(sum(col("share")).as("in_sum"))
      ranks = nd.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"), (lit(base) +
          expr("(17 * coalesce(in_sum, CAST(0 AS BIGINT))) div 20")).as("pr"))
      // the rank chain is LINEAR (each iteration's frame is consumed
      // exactly once by the next), so no per-iteration checkpoint is
      // needed for recompute protection — one barrier every few
      // iterations just bounds plan depth/codegen size; ten barriers
      // serialized the whole loop into ten jobs (A/B'd at sf0.1)
      if (i % PrCkEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("vec_id"), col("pr").as("pr_e12"),
        round(col("pr").cast("double") / lit(1e12), 6).as("pagerank"))
      .orderBy(col("vec_id"))
  }

  /** Checkpoint cadence for the linear Pregel-style loops — lineage
    * hygiene only (correctness never depends on it). */
  private[graft] val PrCkEvery = 5

  // ---- graph_label_prop: semi-supervised label propagation ---------------

  /** Synchronous label-propagation rounds — enough for the label
    * frontier to cross the kNN graph's short paths (80% seeds + degree
    * k=5 label ~99% of the unlabeled carve in round 1; rounds 2-3
    * settle votes that round 1's new labels change). */
  private[graft] val LpRounds = 3

  /** graph_label_prop — SEMI-SUPERVISED LABEL PROPAGATION over the
    * corpus kNN graph (Zhu & Ghahramani 2002; the RAK label-spreading
    * family): seed labels from the curated carve (vec_id % 5 ≠ 0 —
    * the classify_* train split), then for `rounds` synchronous
    * iterations every UNLABELED node takes the majority label of its
    * out-neighbors' current labels (ties to the least label); seeds
    * are clamped. The curation use: spread a small set of trusted
    * domain/quality labels over the embedding-similarity structure to
    * pseudo-label the rest of the corpus — the graph counterpart of
    * [[graft.functions.Classify.classifyKnn]] (whose vote is one
    * round of exactly this, against train neighbors only; propagation
    * lets labels flow THROUGH unlabeled regions in later rounds).
    *
    * Determinism: votes are exact integer counts over deterministic
    * edges, argmax = (votes desc, label asc) — all-integer end to
    * end, no floats anywhere. Output (vec_id, label, votes) = the
    * final round's assignment for every unlabeled node that has a
    * labeled neighbor (coverage is monotone across rounds: labels are
    * never removed, so each round's assigned set contains the last).
    *
    * Scale shape: the per-round cost is one equi-join of the edge
    * list (k·n rows) against the current label frame plus a
    * two-level aggregate — the PageRank loop shape exactly, with
    * localCheckpoint pinning each round's frame (the pagerankOn
    * lineage discipline). Rounds are few and fixed; everything
    * shuffles on vec_id. */
  def graphLabelProp(s: SparkSession, d: String, k: Int = KnnK,
                     nprobe: Int = IvfNprobe,
                     rounds: Int = LpRounds): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val edges = knnGraph(s, d, k, nprobe, ordered = false)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    labelPropOn(edges,
      emb.filter(col("vec_id") % 5 =!= 0).select(col("vec_id"), col("label")),
      col("src") % 5 === 0, rounds)
  }

  /** Label propagation over explicit (src, dst) edges: `seeds` =
    * clamped (vec_id, label) rows, `unlabeledSrc` = the predicate
    * selecting edges whose SOURCE is an unlabeled node (votes are
    * only computed for those; every dst may contribute once labeled).
    * Returns the final round's (vec_id, label, votes). */
  def labelPropOn(edges: DataFrame, seeds: DataFrame,
                  unlabeledSrc: Column, rounds: Int): DataFrame = {
    // only unlabeled sources ever vote — filter once, pin the frame
    // (the per-round joins would otherwise re-derive the whole kNN
    // graph each iteration: the pagerankOn lineage rule)
    val e = edges.filter(unlabeledSrc).localCheckpoint()
    val sd = seeds.localCheckpoint() // re-unioned every round
    var labels: DataFrame = sd
    var assigned: DataFrame = null
    // the round chain is linear (each round's frames are consumed
    // once by the next), so the per-round checkpoints were pure
    // barriers — at the fixed 3 rounds the whole propagation now
    // plans as one job (see pagerankOn)
    for (_ <- 1 to rounds) {
      assigned = e
        .join(labels.withColumnRenamed("vec_id", "dst"), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("votes"))
        // majority with least-label tie-break: min over (-votes, label)
        .groupBy(col("src"))
        .agg(min(struct((-col("votes")).as("nv"), col("label").as("label")))
          .as("m"))
        .select(col("src").as("vec_id"), col("m.label").as("label"),
          (-col("m.nv")).as("votes"))
      labels = sd.unionByName(assigned.select(col("vec_id"), col("label")))
    }
    assigned.orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[graphLabelProp]]: the knn_graph edge CTEs +
    * the rounds UNROLLED as chained aggregating CTEs (the PageRank
    * recipe — a recursive CTE cannot aggregate over its own
    * reference). Data-dependent (trained centroid literals) →
    * emitted by oracleSqlFor. */
  def graphLabelPropOracleSql(s: SparkSession, d: String, k: Int = KnnK,
                              nprobe: Int = IvfNprobe,
                              rounds: Int = LpRounds): String = {
    val roundCtes = (1 to rounds).map { t =>
      s"""a$t AS (
        SELECT vec_id, label, votes FROM (
          SELECT vec_id, label, votes,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY votes DESC, label) AS rn
          FROM (
            SELECT e.src AS vec_id, l.label, count(*) AS votes
            FROM lpedges e JOIN lab${t - 1} l ON l.vec_id = e.dst
            GROUP BY e.src, l.label))
        WHERE rn = 1),
      lab$t AS (
        SELECT vec_id, label FROM seeds
        UNION ALL SELECT vec_id, label FROM a$t)"""
    }.mkString(",\n      ")
    s"""
      WITH ${centsCteSql(ivfCentroids(s, d))},
      probes AS (
        SELECT vec_id, cid AS bucket FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
          FROM scored) WHERE rn <= $nprobe),
      cand AS (
        SELECT p.vec_id, a.vec_id AS neighbor_id
        FROM assign a JOIN probes p
          ON a.bucket = p.bucket AND a.vec_id <> p.vec_id),
      rer AS (
        SELECT c.vec_id, c.neighbor_id,
          round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                       CAST(ne.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM cand c
        JOIN embeddings qe ON qe.vec_id = c.vec_id
        JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
      lpedges AS (
        SELECT vec_id AS src, neighbor_id AS dst FROM (
          SELECT vec_id, neighbor_id,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM rer)
        WHERE rank <= $k AND vec_id % 5 = 0),
      seeds AS (
        SELECT vec_id, label FROM embeddings WHERE vec_id % 5 <> 0),
      lab0 AS (SELECT vec_id, label FROM seeds),
      $roundCtes
      SELECT vec_id, label, votes FROM a$rounds ORDER BY vec_id"""
  }

  // ---- maintained kNN-graph artifact --------------------------------------

  /** Rewrite granularity of the edges artifact: vec_id % GraphEb
    * hash-bucket directories, rewritten per append. */
  private[graft] val GraphEb = 64

  /** One (bucket, node, embedding) entry-medoid row per bucket —
    * min vec_id over `assigned` (vec_id, bucket, embedding) rows.
    * Shared by the write/append/forget maintenance of `entries/`. */
  private def entriesOf(assigned: DataFrame): DataFrame =
    assigned
      .join(assigned.groupBy(col("bucket")).agg(min(col("vec_id"))
        .as("vec_id")), Seq("bucket", "vec_id"), "left_semi")
      .select(col("bucket"), col("vec_id").as("node"), col("embedding"))

  /** One-time build of the MAINTAINED kNN-graph artifact at `dir` —
    * the graph family's daily-increment loop (the twelfth maintained
    * artifact, the band/span/chunk/IVF discipline applied to
    * knn_graph):
    *   - `nodes/`  (vec_id, embedding) partitioned by IVF bucket —
    *     the serving-layout shape: an arrival's candidates come from
    *     pruned bucket reads;
    *   - `probes/` (vec_id) partitioned by PROBED bucket — the
    *     REVERSE index: exactly the standing nodes whose top-k an
    *     arrival landing in bucket b can change;
    *   - `edges/`  (vec_id, neighbor_id, cos_sim, rank, n_bucket)
    *     partitioned by `_eb` = vec_id % GraphEb — the
    *     rewrite granularity for affected nodes.
    *     n_bucket = the NEIGHBOR's assigned IVF bucket, carried so
    *     graph-walk serving can prune its vector fetch to the
    *     frontier's bucket partition VALUES (the `_eb` discipline
    *     applied to `nodes/` — without it every walk round re-scans
    *     the whole corpus for ≤ beam·deg vectors, a corpus-linear
    *     cost per served batch);
    *   - `entries/` (bucket, node, embedding) — ONE medoid
    *     (min vec_id) per bucket, ≤ nlist rows, precomputed here so
    *     serving never pays the per-call `nodes/` groupBy scan.
    * Centroids are FIXED across appends (the appendIvfPartitioned
    * contract; drift → retrain-and-rebuild, the IVF loops' verb). */
  def writeKnnGraph(emb: DataFrame, cents: Array[Array[Double]], dir: String,
                    k: Int = KnnK, nprobe: Int = IvfNprobe): Unit = {
    val s = emb.sparkSession
    val codec = FloatCodec(cents)
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val assigned = codec.assign(vecs)
    // cluster by the partition key BEFORE partitionBy or every task
    // writes a file into every directory it holds (the r10 lesson)
    assigned.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/nodes")
    graft.sources.Compact.swap(s, s"$dir/entries")(
      entriesOf(assigned).coalesce(1).write.parquet(_))
    codec.probe(vecs, nprobe)
      .select(col("vec_id"), col("bucket").as("probed")).repartition(col("probed"))
      .write.mode("overwrite").partitionBy("probed").parquet(s"$dir/probes")
    knnGraphOn(emb, cents, k, nprobe, ordered = false)
      .join(assigned.select(col("vec_id").as("neighbor_id"),
        col("bucket").as("n_bucket")), Seq("neighbor_id"))
      .withColumn("_eb", (col("vec_id") % GraphEb).cast("int"))
      .repartition(col("_eb"))
      .write.mode("overwrite").partitionBy("_eb").parquet(s"$dir/edges")
  }

  def readKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val edges = s.read.parquet(s"$dir/edges")
      .select(col("vec_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
    graft.sources.Compact.tombstones(s, dir, "vec_id").fold(edges)(t => edges
        .join(broadcast(t), Seq("vec_id"), "left_anti")
        .join(broadcast(t.withColumnRenamed("vec_id", "neighbor_id")),
          Seq("neighbor_id"), "left_anti")
        .select(col("vec_id"), col("neighbor_id"), col("cos_sim"),
          col("rank")))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** BATCHED erasure for the graph artifact — the tombstone-
    * accumulate form of [[forgetFromKnnGraph]] (which pays three
    * compact-swap layout rewrites PER CALL — 8.1/32.2/59.4s at
    * 1×/10×/20×, §6): ids append to the artifact's tombstone log (the
    * [[deleteFromLayout]] discipline), every serve/read SUBTRACTS
    * them (readKnnGraph drops rows citing a tombstoned endpoint —
    * survivors' top-k stay stale-short until the fold, the Lucene
    * deleted-docs semantics; graph-walk serving drops tombstoned
    * entries and expansion targets), and the next [[compactKnnGraph]]
    * folds the WHOLE accumulated batch through one forget surgery —
    * amortizing the rewrites over every erasure request in the
    * cycle. Spec'd: fold-at-compact ≡ sequential forgetFromKnnGraph
    * ≡ one-shot graph of the survivors (ErasureSpec). */
  def deleteFromKnnGraph(s: SparkSession, dir: String, ids: DataFrame): Unit =
    graft.sources.Compact.addTombstones(dir, ids, "vec_id")

  /** Daily append to the maintained kNN graph — spec'd ≡ the one-shot
    * [[knnGraphOn]] of the union under the same centroids:
    *   1. the BATCH's edges come from pruned reads of the probed
    *      `nodes/` bucket partitions (∪ the batch itself);
    *   2. AFFECTED standing nodes (read pruned from the `probes/`
    *      partitions of the batch's ASSIGNED buckets) merge the new
    *      batch candidates into their stored top-k — exact, because
    *      topk(topk(A) ∪ B) = topk(A ∪ B);
    *   3. only the touched `_eb` edge partitions rewrite
    *      ([[graft.sources.Compact.rewriteBuckets]], unaffected rows of
    *      those partitions kept by the fold).
    * Per-day cost: pruned bucket/probe reads + batch-sized joins +
    * ONE column-pruned `nodes/` scan for the affected embeddings
    * (the strictly-flat alternative — carrying embeddings in
    * `probes/` — costs nprobe× storage; this loop takes the scan). */
  def knnGraphAppendStep(s: SparkSession, dir: String, batch: DataFrame,
                         cents: Array[Array[Double]], k: Int = KnnK,
                         nprobe: Int = IvfNprobe): Unit = {
    import s.implicits._
    val codec = FloatCodec(cents)
    val vecs = batch.select(col("vec_id"), col("embedding"))
    val batchNodes = codec.assign(vecs).localCheckpoint()
    val batchProbes = codec.probe(vecs, nprobe)
      .withColumnRenamed("embedding", "qv").localCheckpoint()
    val probedBuckets = batchProbes.select(col("bucket")).distinct()
      .as[Int].collect().toSeq
    val assignedBuckets = batchNodes.select(col("bucket")).distinct()
      .as[Int].collect().toSeq
    val nodesAll = s.read.parquet(s"$dir/nodes")
    // 1. batch edges: candidates from probed bucket partitions + batch
    val cand = nodesAll.filter(col("bucket").isin(probedBuckets: _*))
      .select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("embedding").as("v"))
      .unionByName(batchNodes.select(col("vec_id").as("neighbor_id"),
        col("bucket"), col("embedding").as("v")))
    // neighbor→assigned-bucket mapping, PRUNED (cand already carries
    // each candidate's assigned bucket — no nodes/ scan)
    val nbCand = cand.select(col("neighbor_id"), col("bucket").as("n_bucket"))
      .distinct()
    val batchEdges = topKPerQuery(
      cand.hint("shuffle_hash").join(batchProbes, Seq("bucket"))
        .filter(col("neighbor_id") =!= col("vec_id"))
        .select(col("vec_id").as("query_id"), col("neighbor_id"),
          round(cos(col("qv"), col("v")), 6).as("cos_sim")), k,
      ordered = false)
      .withColumnRenamed("query_id", "vec_id")
      .join(nbCand, Seq("neighbor_id"))
    // 2. affected standing nodes (exclude replayed batch ids)
    val affProbes = s.read.parquet(s"$dir/probes")
      .filter(col("probed").isin(assignedBuckets: _*))
      .join(batchNodes.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("probed").as("bucket"))
      .localCheckpoint()
    val affIds = affProbes.select(col("vec_id")).distinct()
    val affVecs = nodesAll.select(col("vec_id"), col("embedding"))
      .join(affIds, Seq("vec_id"), "left_semi")
    val newCand = affProbes
      .join(affVecs, Seq("vec_id"))
      .join(batchNodes.select(col("vec_id").as("neighbor_id"),
        col("bucket"), col("embedding").as("v")), Seq("bucket"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        round(cos(col("embedding"), col("v")), 6).as("cos_sim"))
    // touched edge partitions: a bounded ≤ GraphEb-value collect (the
    // probed/assigned-bucket discipline — never collect the id sets)
    val touchedEb = affProbes
      .select((col("vec_id") % GraphEb).cast("int").as("eb"))
      .unionByName(batchNodes
        .select((col("vec_id") % GraphEb).cast("int").as("eb")))
      .distinct().as[Int].collect().toSeq
    graft.sources.Compact.rewriteBuckets(s, s"$dir/edges", "_eb", touchedEb) { oldPart =>
      val merged = topKPerQuery(
        oldPart.join(affIds, Seq("vec_id"), "left_semi")
          .select(col("vec_id").as("query_id"), col("neighbor_id"),
            col("cos_sim"))
          .unionByName(newCand.withColumnRenamed("vec_id", "query_id")), k,
        ordered = false)
        .withColumnRenamed("query_id", "vec_id")
      // merged neighbors are old neighbors (bucket on the stored edge
      // rows) or batch nodes — both mappings pruned, no nodes/ scan
      val nbMerge = oldPart.select(col("neighbor_id"), col("n_bucket"))
        .unionByName(batchNodes.select(col("vec_id").as("neighbor_id"),
          col("bucket").as("n_bucket")))
        .distinct()
      val cols = Seq("vec_id", "neighbor_id", "cos_sim", "rank",
        "n_bucket").map(col)
      oldPart.join(affIds, Seq("vec_id"), "left_anti")
        .select(cols: _*)
        .unionByName(merged.join(nbMerge, Seq("neighbor_id"))
          .select(cols: _*))
        .unionByName(batchEdges.select(cols: _*))
        .withColumn("_eb", (col("vec_id") % GraphEb).cast("int"))
    }
    // 3. the batch joins the standing layouts
    batchNodes.write.mode("append").partitionBy("bucket")
      .parquet(s"$dir/nodes")
    batchProbes.select(col("vec_id"), col("bucket").as("probed"))
      .write.mode("append").partitionBy("probed").parquet(s"$dir/probes")
    // 4. entry medoids: min(stored, batch min) per bucket — bounded
    // ≤ nlist rows both sides
    val entryW = Window.partitionBy(col("bucket")).orderBy(col("node"))
    graft.sources.Compact.swap(s, s"$dir/entries")(
      s.read.parquet(s"$dir/entries")
        .unionByName(entriesOf(batchNodes))
        .withColumn("_rn", row_number().over(entryW))
        .filter(col("_rn") === 1).drop("_rn")
        .coalesce(1).write.parquet(_))
  }

  /** Small-file fold for the graph artifact's append-accumulating
    * layouts (`nodes/`, `probes/`) — `edges/` self-compacts (every
    * append REWRITES its touched `_eb` partitions whole). Identity
    * spec'd: the folded artifact reads and appends exactly like the
    * unfolded one. If [[deleteFromKnnGraph]] tombstones are pending,
    * the fold FIRST runs the forget surgery once for the whole
    * accumulated batch (refilling affected survivors) and clears the
    * log — every rewrite of a tombstoned layout must fold its
    * tombstones or a later reader would resurrect the deletes. */
  def compactKnnGraph(s: SparkSession, dir: String,
                      targetBytes: Long = 128L << 20)
      : (graft.sources.Compact.CompactReport,
         graft.sources.Compact.CompactReport) =
    graft.sources.Compact.tombstones(s, dir, "vec_id") match {
      case Some(ts) =>
        // the fold's own compact-swaps already collapse nodes/ and
        // probes/ — a second identity rewrite would double the very
        // cost the batched-erasure form amortizes
        val reports = forgetFromKnnGraph(s, dir, ts.localCheckpoint())
        graft.sources.Compact.clearTombstones(s, dir)
        reports
      case None =>
        (graft.sources.Compact.compactInPlace(s, s"$dir/nodes", targetBytes,
           partitionCols = Seq("bucket")),
         graft.sources.Compact.compactInPlace(s, s"$dir/probes", targetBytes,
           partitionCols = Seq("probed")))
    }

  /** ERASE vectors from the maintained kNN-graph artifact — the graph
    * loop's right-to-be-forgotten verb (the cluster map's relabel
    * obligation in [[graft.operators.Dedup.forget]] applied to edges: a
    * stored top-k row IS a reference to a vec id, so erasure must
    * both drop the forgotten nodes' own adjacency AND refill every
    * survivor whose top-k cited one):
    *   1. AFFECTED survivors — standing nodes with a stored edge
    *      citing a forgotten neighbor — recompute their top-k FROM
    *      SCRATCH over the surviving `nodes/` layout via their
    *      stored probe buckets (the append's exact merge cannot run
    *      in reverse: the (k+1)-th candidate was never stored, so
    *      removal pays one pruned candidate join per affected node —
    *      the knnGraphAppendStep candidate shape);
    *   2. `edges/` rewrites via the compact swap (forgotten and
    *      affected rows out, refilled rows in — the swap also folds
    *      any small files);
    *   3. `nodes/` and `probes/` drop the forgotten vec_ids
    *      (compact-swap anti-joins), AFTER the refill computed from
    *      them is materialized.
    * Spec'd ≡ the one-shot [[knnGraphOn]] of the surviving corpus
    * under the same centroids (ErasureSpec) — and the enumerating
    * erasure spec asserts no maintained artifact retains a forgotten
    * id.
    *
    * `k ≤ 0` (the default) derives the refill degree from the
    * artifact itself (max stored rank) — the artifact does not record
    * its k, and refilling at a DIFFERENT degree than it was written
    * with would break erasure ≡ one-shot (a pipeline state written at
    * a non-default degree must not depend on every forget caller
    * remembering it). */
  def forgetFromKnnGraph(s: SparkSession, dir: String, ids: DataFrame,
                         k: Int = -1)
      : (graft.sources.Compact.CompactReport,
         graft.sources.Compact.CompactReport) = {
    import s.implicits._
    val forget = ids.select(col("vec_id")).distinct().localCheckpoint()
    val edges = s.read.parquet(s"$dir/edges")
    // max over an empty edges layout (every node already erased)
    // aggregates to NULL — fall back to the default degree so a
    // second erasure wave stays a graceful no-op, not an NPE
    val kk = if (k > 0) k
             else Option(edges.agg(max(col("rank"))).head
               .getAs[Integer](0)).map(_.toInt).getOrElse(KnnK)
    val aff = edges
      .join(broadcast(forget), Seq("vec_id"), "left_anti")
      .join(broadcast(forget.withColumnRenamed("vec_id", "neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      .select(col("vec_id")).distinct().localCheckpoint()
    val nodesSurv = s.read.parquet(s"$dir/nodes")
      .join(broadcast(forget), Seq("vec_id"), "left_anti")
    val affProbes = s.read.parquet(s"$dir/probes")
      .join(aff, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("probed").as("bucket"))
      .localCheckpoint()
    val probedBuckets = affProbes.select(col("bucket")).distinct()
      .as[Int].collect().toSeq // bounded by nlist, never an id set
    val cand = nodesSurv.filter(col("bucket").isin(probedBuckets: _*))
      .select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("embedding").as("v"))
    val affVecs = nodesSurv.select(col("vec_id"), col("embedding"))
      .join(affProbes.select(col("vec_id")).distinct(),
        Seq("vec_id"), "left_semi")
    val refilled = topKPerQuery(
      affProbes.join(affVecs, Seq("vec_id"))
        .join(cand.hint("shuffle_hash"), Seq("bucket"))
        .filter(col("neighbor_id") =!= col("vec_id"))
        .select(col("vec_id").as("query_id"), col("neighbor_id"),
          round(cos(col("embedding"), col("v")), 6).as("cos_sim")), kk,
      ordered = false)
      .withColumnRenamed("query_id", "vec_id")
      .join(cand.select(col("neighbor_id"), col("bucket").as("n_bucket"))
        .distinct(), Seq("neighbor_id"))
      .withColumn("_eb", (col("vec_id") % GraphEb).cast("int"))
      .select(col("vec_id"), col("neighbor_id"), col("cos_sim"),
        col("rank"), col("n_bucket"), col("_eb"))
      .localCheckpoint() // materialize before the layouts it read swap
    graft.sources.Compact.compactInPlace(s, s"$dir/edges",
      partitionCols = Seq("_eb"),
      transform = df => df
        .join(broadcast(forget), Seq("vec_id"), "left_anti")
        .join(aff, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("neighbor_id"), col("cos_sim"),
          col("rank"), col("n_bucket"), col("_eb"))
        .unionByName(refilled))
    val rn = graft.sources.Compact.compactInPlace(s, s"$dir/nodes",
      partitionCols = Seq("bucket"),
      transform = _.join(broadcast(forget), Seq("vec_id"), "left_anti"))
    val rp = graft.sources.Compact.compactInPlace(s, s"$dir/probes",
      partitionCols = Seq("probed"),
      transform = _.join(broadcast(forget), Seq("vec_id"), "left_anti"))
    // entry medoids: a forgotten node may BE a bucket's medoid —
    // recompute from the swapped (survivor-only) nodes/ layout. The
    // full forget already rewrites every layout, so one more pass
    // over nodes/ costs nothing extra in kind.
    graft.sources.Compact.swap(s, s"$dir/entries")(
      entriesOf(s.read.parquet(s"$dir/nodes")).coalesce(1).write.parquet(_))
    (rn, rp)
  }

  // ---- knn_components: mutual-kNN connected components --------------------

  /** knn_components — connected components of the MUTUAL-kNN graph
    * (an undirected edge only where BOTH endpoints list each other in
    * their top-k): the standard density-robust cluster discovery over
    * an embedding corpus (one-directional kNN edges chain through
    * hubs and collapse everything into one blob — the hubness failure
    * knn_hubness measures; mutuality is the classic cure). Component
    * id = min member id; singletons (no mutual edge) map to
    * themselves via the left join.
    *
    * 100 TB shape: the knnGraph edge pass + ONE self equi-join on the
    * reversed key for mutuality + the verified CC machinery
    * (label propagation falling back to O(log²n) star-contraction —
    * connectedComponentsSafe, the dedup_clusters path). */
  def knnComponents(s: SparkSession, d: String, k: Int = KnnK,
                    nprobe: Int = IvfNprobe): DataFrame = {
    val e = knnGraph(s, d, k, nprobe, ordered = false)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    val mutual = e.as("a").join(e.hint("shuffle_hash").as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .select(col("a.src").as("d1"), col("a.dst").as("d2"))
      .filter(col("d1") < col("d2"))
    val labels = Dedup.connectedComponentsSafe(mutual)
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("component_id"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[knnComponents]]: the knnGraph chain as the
    * edge subquery, mutuality by the reversed-key self-join,
    * recursive reachability with min-root labels (the ccOracleSql
    * discipline), singletons coalesced. Data-dependent → emitted by
    * oracleSqlFor. */
  def knnComponentsOracleSql(s: SparkSession, d: String, k: Int = KnnK,
                             nprobe: Int = IvfNprobe): String = {
    val knnSql = knnGraphOracleSql(s, d, k, nprobe)
    s"""
      WITH RECURSIVE eall AS (
        SELECT vec_id AS src, neighbor_id AS dst FROM ($knnSql)),
      mut AS (
        SELECT a.src AS u, a.dst AS v
        FROM eall a JOIN eall b ON a.src = b.dst AND a.dst = b.src),
      reach(node, root) AS (
        SELECT u, u FROM mut
        UNION
        SELECT m.v, r.root FROM reach r JOIN mut m ON m.u = r.node),
      comp AS (SELECT node, MIN(root) AS component_id FROM reach GROUP BY 1)
      SELECT e.vec_id, COALESCE(c.component_id, e.vec_id) AS component_id
      FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
      ORDER BY e.vec_id"""
  }

  // ---- graph_profile: component-size histogram of the mutual-kNN graph ----

  /** graph_profile — the CLUSTER-SIZE statistics of the mutual-kNN
    * components (dedup_profile's discipline applied to the embedding
    * graph — publish before acting on graph clusters): per component
    * size, how many components and vectors sit there; Σ n_vecs =
    * corpus and the size-1 row counts the antihub singletons. Pure
    * integer arithmetic on top of [[knnComponents]] — two partial-agg
    * shuffles of longs. */
  def graphProfile(s: SparkSession, d: String, k: Int = KnnK,
                   nprobe: Int = IvfNprobe): DataFrame =
    knnComponents(s, d, k, nprobe)
      .groupBy(col("component_id")).agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .select(col("component_size"),
        col("n_components"),
        (col("component_size") * col("n_components")).as("n_vecs"))
      .orderBy(col("component_size"))

  /** DuckDB oracle for [[graphProfile]]: the knnComponents chain +
    * the same two-level histogram. Data-dependent → oracleSqlFor. */
  def graphProfileOracleSql(s: SparkSession, d: String, k: Int = KnnK,
                            nprobe: Int = IvfNprobe): String = {
    val compSql = knnComponentsOracleSql(s, d, k, nprobe)
    s"""
      WITH sizes AS (
        SELECT component_id, CAST(COUNT(*) AS BIGINT) AS component_size
        FROM ($compSql) GROUP BY 1)
      SELECT component_size,
        CAST(COUNT(*) AS BIGINT) AS n_components,
        CAST(component_size * COUNT(*) AS BIGINT) AS n_vecs
      FROM sizes GROUP BY 1 ORDER BY component_size"""
  }

  // ---- knn_hubness: in-degree histogram of the kNN graph ------------------

  /** knn_hubness — the HUBNESS audit of the kNN graph (the in-degree
    * histogram): in high dimensions a few vectors become "hubs" that
    * appear in many neighbor lists while antihubs appear in none —
    * the failure mode that skews kNN-graph dedup/selection and that
    * mine_bitext's margin criterion exists to correct. Per in-degree
    * value, the number of corpus vectors with that in-degree
    * (0-in-degree antihubs included via the left join). Pure integer
    * arithmetic — exact by construction.
    *
    * 100 TB shape: the knnGraph edge pass + one dst-keyed partial-agg
    * shuffle + one histogram agg over node-sized frames. */
  def knnHubness(s: SparkSession, d: String, k: Int = KnnK,
                 nprobe: Int = IvfNprobe): DataFrame = {
    val edges = knnGraph(s, d, k, nprobe, ordered = false)
      .select(col("neighbor_id"))
    val indeg = edges.groupBy(col("neighbor_id")).agg(count(lit(1)).as("deg"))
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(indeg.withColumnRenamed("neighbor_id", "vec_id"), Seq("vec_id"),
        "left")
      .select(coalesce(col("deg"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree")).agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("in_degree"))
  }

  /** DuckDB oracle for [[knnHubness]]: the knnGraph chain as the edge
    * subquery + the same left-join histogram. Data-dependent →
    * emitted by oracleSqlFor. */
  def knnHubnessOracleSql(s: SparkSession, d: String, k: Int = KnnK,
                          nprobe: Int = IvfNprobe): String = {
    val knnSql = knnGraphOracleSql(s, d, k, nprobe)
    s"""
      WITH edges AS (SELECT neighbor_id FROM ($knnSql)),
      indeg AS (
        SELECT neighbor_id AS vec_id, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY 1)
      SELECT COALESCE(i.deg, 0) AS in_degree, COUNT(*) AS n_vecs
      FROM embeddings e LEFT JOIN indeg i USING (vec_id)
      GROUP BY 1 ORDER BY in_degree"""
  }

  // ---- emb_pca: embedding-space variance report ---------------------------

  /** Deterministic PCA basis for the corpus embedding space: sample =
    * [[trainingSample]] (the [[ivfCentroids]] discipline — O(1) at
    * any corpus size, shared bit-identically by the query and its
    * oracle via literals), mean-centered covariance on the driver,
    * cyclic Jacobi eigen-decomposition, components sorted by
    * eigenvalue descending and sign-normalized (largest-|coordinate|
    * positive). Returns (components, offsets) with offsets(c) =
    * ⟨sample mean, e_c⟩ so a projection is one dot minus a scalar. */
  private[graft] def pcaBasis(s: SparkSession, d: String)
      : (Array[Array[Double]], Array[Double]) =
    Tables.memo(s, d, "embeddings", "pca") {
      pcaBasisOfSample(trainingSample(Tables.embeddings(s, d)))
    }

  /** The PCA basis computation on a given bounded sample — the pure
    * core of [[pcaBasis]], reused by the whitened tier's retrain
    * (which samples the layout's CURRENT contents, not the original
    * corpus). */
  private def pcaBasisOfSample(sample: Array[Array[Float]])
      : (Array[Array[Double]], Array[Double]) = {
      val n = sample.length
      val dim = sample.head.length
      val mean = new Array[Double](dim)
      sample.foreach { v =>
        var j = 0; while (j < dim) { mean(j) += v(j); j += 1 } }
      var j = 0; while (j < dim) { mean(j) /= n; j += 1 }
      val cov = Array.ofDim[Double](dim, dim)
      sample.foreach { v =>
        var i = 0
        while (i < dim) {
          val ci = v(i) - mean(i)
          var k = i
          while (k < dim) { cov(i)(k) += ci * (v(k) - mean(k)); k += 1 }
          i += 1
        }
      }
      var i = 0
      while (i < dim) {
        var k = i
        while (k < dim) {
          cov(i)(k) /= n; cov(k)(i) = cov(i)(k); k += 1 }
        i += 1
      }
      val (vals, vecs) = jacobiEigen(cov)
      val order = vals.indices.sortBy(c => (-vals(c), c))
      val comps = order.map { c =>
        val e = Array.tabulate(dim)(r => vecs(r)(c))
        val m = e.indices.maxBy(r => (math.abs(e(r)), -r))
        if (e(m) < 0) e.map(x => -x) else e
      }.toArray
      val offs = comps.map { e =>
        var dot = 0.0; var r = 0
        while (r < dim) { dot += mean(r) * e(r); r += 1 }
        dot
      }
      (comps, offs)
  }

  /** Cyclic Jacobi for a symmetric matrix: returns (eigenvalues,
    * eigenvector COLUMNS). Fixed sweep order → deterministic. */
  private def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0; var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 100 && off() > 1e-18) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1))
            }
            val c = 1.0 / math.sqrt(t * t + 1)
            val sN = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sN * akq
              a(k)(q) = sN * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sN * aqk
              a(q)(k) = sN * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - sN * vkq
              v(k)(q) = sN * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** emb_pca — the embedding-space VARIANCE report (the scree table
    * published before committing compression tiers at 100 TB: how
    * many prefix/PCA dimensions hold the variance decides the
    * ann_prefix dims knob, SQ8/PQ budget splits, and whitening; on
    * this deliberately ISOTROPIC corpus the scree is near-flat —
    * exactly what the report should show). Per PCA component: the
    * corpus-wide projection mean/variance and the cumulative
    * explained-variance fraction.
    *
    * Determinism: the basis is trained ONCE on the driver from the
    * bounded id-ordered sample (bit-identical literals to the
    * oracle); the projection NEVER accumulates floats — each
    * per-term product e_j·v_j (one IEEE multiply on identical input
    * bits) snaps to the 1e-9 grid as a BIGINT and the dot is an
    * exact integer SUM (a raw float dot rounded after accumulation
    * was r12's one red row: accumulation order is
    * engine/version-dependent, and a single ulp flip at a 6-dp
    * boundary shifts the exact moments); pe6 = one floor-division
    * off the integer chain; moments are exact integer/decimal
    * aggregates (Spark DECIMAL(38,0), DuckDB HUGEINT — both exact,
    * so identical doubles after ONE division); the cumulative
    * fraction ratios exact 1e-9-unit BIGINTs.
    *
    * 100 TB shape: ONE linear projection pass (dim² flops/row, no
    * shuffle of vectors) into a dim-sized partial agg; the 64-row
    * result frame takes the blessed unpartitioned window. */
  def embPca(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val (comps, offs) = pcaBasis(s, d)
    val offE9 = offs.map(o => math.floor(o * 1e9 + 0.5).toLong)
    val bcC = s.sparkContext.broadcast(comps)
    val bcO = s.sparkContext.broadcast(offE9)
    val proj = graft.Util.fanOutIfAtLeast(
        Tables.embeddings(s, d).select(col("embedding")).as[Array[Float]],
        graft.Util.FanOutMinRows)
      .flatMap { v =>
        val cs = bcC.value; val os = bcO.value
        Iterator.tabulate(cs.length) { c =>
          val e = cs(c); var de9 = 0L; var j = 0
          while (j < v.length) {
            de9 += math.floor(e(j) * v(j) * 1e9 + 0.5).toLong; j += 1
          }
          de9 -= os(c)
          (c, math.floor((de9 + 500L).toDouble / 1000.0).toLong)
        }
      }.toDF("component", "pe6")
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(18, 0))
    val m = proj.groupBy(col("component")).agg(
      count(lit(1)).as("n"),
      sum(col("pe6")).as("sp"),
      sum(dec(col("pe6")) * dec(col("pe6"))).as("sp2"))
    val num = dec(m("n")) * m("sp2") - dec(m("sp")) * dec(m("sp"))
    val stats = m.select(col("component"), col("n"),
      round(col("sp").cast("double") /
        (col("n").cast("double") * lit(1e6)), 6).as("mean_p"),
      round(num.cast("double") /
        (col("n").cast("double") * col("n") * lit(1e12)), 6).as("var_p"))
    val w = Window.orderBy(col("component"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("component"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stats
      .withColumn("ve9", floor(col("var_p") * lit(1e9) + lit(0.5)))
      .withColumn("cum_frac", round(sum(col("ve9")).over(w).cast("double") /
        sum(col("ve9")).over(wAll).cast("double"), 6))
      .select(col("component"), col("n"), col("mean_p"), col("var_p"),
        col("cum_frac"))
      .orderBy(col("component"))
  }

  /** PCA-WHITENING transform over the corpus embeddings:
    * x → diag(1/√(λ_c + ε)) · Eᵀ(x − μ) — the standard retrieval
    * post-processing (whitening undoes anisotropy so cosine treats
    * every direction equally; on THIS isotropic corpus it is nearly
    * the identity rotation — exactly what the spec asserts via the
    * near-1 scales). Eigenvalues are the sample variances along the
    * [[pcaBasis]] components (same bounded driver sample, so the
    * transform is deterministic and broadcastable); the corpus pass
    * is ONE typed map, dim² flops per row, no shuffle. Returns
    * (vec_id, whitened: Array[Double]). */
  def whitenEmbeddings(s: SparkSession, d: String,
                       eps: Double = 1e-6): DataFrame = {
    import s.implicits._
    val (comps, offs) = pcaBasis(s, d)
    val (_, _, scales) = whitenParams(s, d, eps)
    val bcC = s.sparkContext.broadcast(comps)
    val bcO = s.sparkContext.broadcast(offs)
    val bcS = s.sparkContext.broadcast(scales)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cs = bcC.value; val os = bcO.value; val sc = bcS.value
        val out = new Array[Double](cs.length)
        var c = 0
        while (c < cs.length) {
          val e = cs(c); var dot = 0.0; var j = 0
          while (j < v.length) { dot += e(j) * v(j); j += 1 }
          out(c) = (dot - os(c)) * sc(c)
          c += 1
        }
        (id, out)
      }
      .toDF("vec_id", "whitened")
  }

  // ---- whitened ANN serving tier (ann_ivf_white) ---------------------------

  /** The whitening transform in EXACT travel form — what the query
    * and its oracle share bit-identically: per component the basis
    * row e_c (Double.toString round-trip literals), the projection
    * offset snapped to a 1e-9-unit BIGINT, and the whitening scale
    * 1/√(λ_c + ε) as one double literal. Same bounded driver sample
    * as [[pcaBasis]]. */
  private[graft] def whitenParams(s: SparkSession, d: String,
                                  eps: Double = 1e-6)
      : (Array[Array[Double]], Array[Long], Array[Double]) =
    Tables.memo(s, d, "embeddings", ("whiten", eps)) {
      whitenParamsOfSample(trainingSample(Tables.embeddings(s, d)), eps)
    }

  /** [[whitenParams]] on a given bounded sample — the pure core the
    * retrain loop uses (it samples the layout's CURRENT live rows,
    * not the original corpus). */
  private def whitenParamsOfSample(sample: Array[Array[Float]],
                                   eps: Double = 1e-6)
      : (Array[Array[Double]], Array[Long], Array[Double]) = {
    val (comps, offs) = pcaBasisOfSample(sample)
    val scales = comps.zip(offs).map { case (e, off) =>
      var ss = 0.0
      sample.foreach { v =>
        var dot = 0.0; var j = 0
        while (j < v.length) { dot += e(j) * v(j); j += 1 }
        val p = dot - off
        ss += p * p
      }
      1.0 / math.sqrt(ss / sample.length + eps)
    }
    (comps, offs.map(o => math.floor(o * 1e9 + 0.5).toLong), scales)
  }

  /** Exact whitened code of one embedding: per component the
    * projection follows [[embPca]]'s integer chain (per-term 1e-9
    * snap → exact BIGINT sum → offset subtraction), then ONE
    * multiply by the scale literal and ONE floor-division land the
    * whitened coordinate on the 1e-6 grid as a BIGINT. Every step is
    * a fixed scalar IEEE op on identical inputs — bit-identical
    * cross-engine, no accumulated float anywhere. */
  private def whitenCode6(v: Array[Float], comps: Array[Array[Double]],
                          offE9: Array[Long], scales: Array[Double])
      : Array[Long] = {
    val out = new Array[Long](comps.length)
    var c = 0
    while (c < comps.length) {
      val e = comps(c); var de9 = 0L; var j = 0
      while (j < v.length) {
        de9 += math.floor(e(j) * v(j) * 1e9 + 0.5).toLong; j += 1
      }
      de9 -= offE9(c)
      out(c) = math.floor(de9.toDouble * scales(c) / 1000.0 + 0.5).toLong
      c += 1
    }
    out
  }

  /** Whitened-space coarse quantizer: spherical k-means retrained on
    * the whitened sample codes (|w6| < 2²⁴ so the Float cast into the
    * shared trainer is lossless), each unit centroid then snapped to
    * 1e-9-unit BIGINTs — so bucket assignment and probe selection
    * are EXACT integer argmaxes in both engines (the float-IVF
    * oracles tolerate list_inner_product assignment structurally;
    * this tier removes even that sensitivity). */
  private[graft] def whiteCentroidsE9(s: SparkSession, d: String,
                                      nlist: Int = IvfNlist)
      : Array[Array[Long]] =
    Tables.memo(s, d, "embeddings", ("whitecent", nlist)) {
      val (comps, offE9, scales) = whitenParams(s, d)
      whiteCentroidsOfSample(trainingSample(Tables.embeddings(s, d)),
        comps, offE9, scales, nlist)
    }

  private def whiteCentroidsOfSample(sample: Array[Array[Float]],
                                     comps: Array[Array[Double]],
                                     offE9: Array[Long],
                                     scales: Array[Double],
                                     nlist: Int): Array[Array[Long]] = {
    val wsample = sample.map(v =>
      whitenCode6(v, comps, offE9, scales).map(_.toFloat))
    trainCentroids(wsample, nlist, iters = 10)
      .map(_.map(x => math.floor(x * 1e9 + 0.5).toLong))
  }

  /** Train the whole whitening + quantizer bundle from one bounded
    * sample — what [[retrainLayout]] runs against the layout's
    * current live rows. */
  def whitenModelOfSample(sample: Array[Array[Float]],
                          nlist: Int = IvfNlist,
                          eps: Double = 1e-6): WhitenModel = {
    val (c, o, sc) = whitenParamsOfSample(sample, eps)
    WhitenModel(c, o, sc, whiteCentroidsOfSample(sample, c, o, sc, nlist))
  }

  private def whiteDot(ce9: Array[Long], w6: Array[Long]): Long = {
    var acc = 0L; var j = 0
    while (j < w6.length) { acc += ce9(j) * w6(j); j += 1 }
    acc
  }

  /** (whitened code, squared norm) of one embedding — object-level so
    * executor closures call it through MODULE$ instead of lifting a
    * local def (which captures the non-serializable object). */
  private def whiteCodeNorm(v: Array[Float], comps: Array[Array[Double]],
                            offE9: Array[Long], scales: Array[Double])
      : (Array[Long], Long) = {
    val w = whitenCode6(v, comps, offE9, scales)
    var n2 = 0L; var j = 0
    while (j < w.length) { n2 += w(j) * w(j); j += 1 }
    (w, n2)
  }

  /** Exact-integer nearest whitened centroid (argmax dot, first-wins
    * tie-break = smallest cid — the oracle's ORDER BY dot DESC, wc). */
  private def nearestWhiteCentroid(wcents: Array[Array[Long]],
                                   w: Array[Long]): Int = {
    var best = 0; var bestDot = Long.MinValue; var i = 0
    while (i < wcents.length) {
      val dd = whiteDot(wcents(i), w)
      if (dd > bestDot) { bestDot = dd; best = i }
      i += 1
    }
    best
  }

  /** Probe order in whitened space: exact integer dot, descending,
    * cid tie-break — mirrors the oracle's ORDER BY dot DESC, cid. */
  private def topWhiteCentroids(wcents: Array[Array[Long]], w: Array[Long],
                                nprobe: Int): Seq[Int] =
    wcents.indices.map(i => (i, whiteDot(wcents(i), w)))
      .sortBy(t => (-t._2, t._1)).take(nprobe).map(_._1)

  /** Score whitened candidate pairs and cut the top-k: the exact
    * integer dot over (qw, w) codes, cos_e6 = floor(S/(√Q·√X)·1e6+½)
    * — shared by the in-query tier, the stored-layout serve, and the
    * brute-force ground truth (one chain, zero drift between them).
    * `cand` needs (query_id, neighbor_id, qw, w, qn2, xn2). The dot
    * runs in a typed map (one primitive loop per pair) — the
    * aggregate(zip_with(...)) HOF it replaced is CodegenFallback and
    * its per-candidate interpretation cost was the whitened serving
    * channel's whole 10×-corpus slowdown gap vs raw IVF (1.65× vs
    * 0.98× in StreamScale); every value is integer arithmetic plus
    * one fixed scalar IEEE chain, so results are bit-identical. */
  private def whiteTopK(cand: DataFrame, k: Int): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    val scored = cand
      .filter(col("xn2") > 0 && col("qn2") > 0)
      .select(col("query_id"), col("neighbor_id"), col("qw"), col("w"),
        col("qn2"), col("xn2"))
      .as[(Long, Long, Array[Long], Array[Long], Long, Long)]
      .map { case (qid, nid, qw, w, qn2, xn2) =>
        var acc = 0L; var j = 0
        while (j < w.length) { acc += qw(j) * w(j); j += 1 }
        (qid, nid, math.floor(acc.toDouble /
          (math.sqrt(qn2.toDouble) * math.sqrt(xn2.toDouble))
          * 1e6 + 0.5))
      }.toDF("query_id", "neighbor_id", "cos_sim")
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        col("cos_sim").cast("long").as("cos_e6"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Default probe width for the WHITENED tier: wider than the raw
    * IvfNprobe=16 because whitening equalizes per-axis variance —
    * the space becomes MORE isotropic than the raw one, so bucket
    * membership correlates less with the true top-k and each probe
    * buys less recall (the FilteredNprobe situation from a different
    * cause). Measured knee at sf0.1 vs whitened brute force
    * (§6 white_sweep): nprobe 12/16/20/24 → 0.84/0.84/0.88/0.94 —
    * 16 sat 0.04 above the RecallSpec floor (one data drift from
    * red, the exact margin rule the raw tier's default was chosen
    * by); 24 restores the raw tier's 0.14 margin. */
  private[graft] val WhiteNprobe = 24

  /** ann_ivf_white — IVF ANN served over WHITENED vectors: the
    * production retrieval post-processing ([[whitenEmbeddings]])
    * finally composed with the serving shape. Whitening rescales
    * every principal axis to unit variance, so cosine stops
    * over-weighting high-variance directions — neighbors genuinely
    * DIFFER from the raw-cosine tiers (on this deliberately
    * isotropic corpus only mildly; on real anisotropic embeddings
    * this is the difference between retrieving by dominant-axis
    * noise and retrieving by meaning). Recall is therefore measured
    * against WHITENED brute force ([[annWhiteBruteforce]]), never
    * the raw ground truth.
    *
    * Determinism (the strongest recipe in the ANN family): whitened
    * codes are exact 1e-6-unit BIGINTs ([[whitenCode6]]); bucket
    * assignment/probing rank an exact integer dot (snapped 1e-9
    * centroids × integer codes); the serving score is an exact
    * integer dot and two exact integer norms combined by fixed
    * scalar IEEE ops (÷, √, ×1e6, floor) into `cos_e6` — every
    * value in the result is either an exact integer or one
    * deterministic function of exact integers. No accumulated
    * float exists anywhere in the chain.
    *
    * 100 TB shape: identical to [[annIvf]] — one coding pass
    * (dim² flops/row), bucket-pruned candidates, broadcast probes,
    * bounded TopK. The stored-layout form is the same
    * writeIvfPartitioned discipline over the coded frame. */
  def annIvfWhite(s: SparkSession, d: String, nQueries: Int = 10, k: Int = 5,
                  nprobe: Int = WhiteNprobe): DataFrame = {
    val m = whitenModel(s, d)
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val coded = m.assign(emb).select(col("vec_id").as("neighbor_id"),
      col("bucket"), col("w"), col("n2").as("xn2"))
    val probes = m.probe(emb.filter(col("vec_id") < nQueries), nprobe)
      .select(col("vec_id").as("query_id"), col("bucket"), col("w").as("qw"),
        col("n2").as("qn2"))
    whiteTopK(coded.join(broadcast(probes), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** The whitening + whitened-quantizer bundle a serving node ships
    * (all exact-travel literals; one training per corpus) — and the
    * codec of the whitened STORED layout `(vec_id, w, n2, bucket)`:
    * exact integer codes partitioned by the whitened-space bucket. The
    * raw embeddings never ship: every serve scores on the codes alone.
    * The dim² coding pass fans out (single-row-group inputs otherwise
    * code the whole corpus in one task — the r10 rule) and rows are
    * clustered by bucket before the write. Drift axis: the MAX
    * per-component variance of the stored whitened coordinates.
    * Whitening scales every component to unit variance AT TRAINING
    * TIME, so a healthy layout sits near 1; arrivals whose geometry
    * outgrew the basis inflate the affected components ∝ the squared
    * scale factor — computable from the codes alone. */
  case class WhitenModel(comps: Array[Array[Double]], offE9: Array[Long],
                         scales: Array[Double], centsE9: Array[Array[Long]])
      extends IvfCodec {
    type Self = WhitenModel
    def nlist: Int = centsE9.length
    def driftTol: Double = 1.5
    private[graft] def storesVectors = false
    private[graft] def rows(emb: DataFrame): DataFrame =
      assign(emb.select(col("vec_id"), col("embedding"))).drop("embedding")
        .repartition(col("bucket"))
    /** Appends the whitened code `w` and its squared norm `n2` before
      * the bucket, fanning the coding pass out first. */
    private[graft] def assign(frame: DataFrame): DataFrame = {
      val bc = frame.sparkSession.sparkContext.broadcast(this)
      appendFromEmbedding(graft.Util.fanOutIfAtLeast(frame), WhiteFields: _*) { v =>
        val mm = bc.value
        val (w, n2) = whiteCodeNorm(v, mm.comps, mm.offE9, mm.scales)
        Iterator.single(Seq(w, n2, nearestWhiteCentroid(mm.centsE9, w)))
      }
    }
    /** Appends `w` and `n2` as [[assign]] does, then the probed bucket. */
    private[graft] def probeFields: Seq[StructField] = WhiteFields
    private[graft] def probed(v: Array[Float], nprobe: Int): Iterator[Seq[Any]] = {
      val (w, n2) = whiteCodeNorm(v, comps, offE9, scales)
      topWhiteCentroids(centsE9, w, nprobe).iterator.map(b => Seq(w, n2, b))
    }
    private[graft] def axis(live: DataFrame, vectors: => DataFrame): Double =
      maxWhiteCompVar(live)
    private[graft] def retrained(sample: Array[Array[Float]], live: DataFrame) =
      whitenModelOfSample(sample, nlist)
  }

  private val WhiteFields = Seq(
    StructField("w", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n2", LongType, nullable = false), BucketField)

  def whitenModel(s: SparkSession, d: String,
                  nlist: Int = IvfNlist): WhitenModel = {
    val (c, o, sc) = whitenParams(s, d)
    WhitenModel(c, o, sc, whiteCentroidsE9(s, d, nlist))
  }

  private def maxWhiteCompVar(live: DataFrame): Double = {
    val s = live.sparkSession
    import s.implicits._
    val partials = live.select(col("w"))
      .as[Array[Long]]
      .mapPartitions { it =>
        var cnt = 0L
        var sum: Array[Double] = null
        var sq: Array[Double] = null
        it.foreach { w =>
          if (sum == null) {
            sum = new Array[Double](w.length); sq = new Array[Double](w.length)
          }
          var j = 0
          while (j < w.length) {
            val x = w(j) / 1e6
            sum(j) += x; sq(j) += x * x; j += 1
          }
          cnt += 1
        }
        if (cnt == 0) Iterator.empty
        else Iterator.single((cnt, sum, sq))
      }.collect()
    val dim = partials.head._2.length
    val tot = partials.map(_._1).sum.toDouble
    (0 until dim).map { j =>
      val sm = partials.map(_._2(j)).sum
      val s2 = partials.map(_._3(j)).sum
      s2 / tot - (sm / tot) * (sm / tot)
    }.max
  }

  /** Serve a query batch over the stored whitened layout: queries
    * whiten + probe map-side, the probed-bucket scan reads ONLY the
    * probed bucket directories, scoring is [[annIvfWhite]]'s exact
    * integer chain. Serving contract mirrors [[annIvfServeBatch]]:
    * query ids are an independent id space (excludeSelf opt-in),
    * tombstones subtracted. `queries` must have (query_id,
    * embedding). */
  def annIvfWhiteServeBatch(s: SparkSession, dir: String, m: WhitenModel,
                            queries: DataFrame, k: Int = 5,
                            nprobe: Int = WhiteNprobe,
                            excludeSelf: Boolean = false): DataFrame = {
    val (cand, _) = probedCandidates(s, dir, m,
      queries.select(col("query_id"), col("embedding")), nprobe, excludeSelf)
    whiteTopK(cand.withColumnRenamed("vec_id", "neighbor_id")
      .withColumnRenamed("n2", "xn2"), k)
  }

  /** Whitened brute force — the ground truth [[annIvfWhite]]'s recall
    * is measured against (RecallSpec): the identical exact scoring
    * chain with the bucket restriction removed. */
  def annWhiteBruteforce(s: SparkSession, d: String, nQueries: Int = 10,
                         k: Int = 5): DataFrame = {
    import s.implicits._
    val (comps, offE9, scales) = whitenParams(s, d)
    val bc = s.sparkContext.broadcast((comps, offE9, scales))
    val emb = Tables.embeddings(s, d)
    // dim² per-row coding fans out (the r10 single-row-group rule)
    val corpus = graft.Util.fanOutIfAtLeast(
        emb.select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])])
      .map { case (id, v) =>
        val (cs, os, sc) = bc.value
        val (w, n2) = whiteCodeNorm(v, cs, os, sc)
        (id, w, n2)
      }.toDF("neighbor_id", "w", "xn2")
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (cs, os, sc) = bc.value
        val (w, n2) = whiteCodeNorm(v, cs, os, sc)
        (id, w, n2)
      }.toDF("query_id", "qw", "qn2")
    whiteTopK(corpus.join(broadcast(queries),
      col("neighbor_id") =!= col("query_id")), k)
  }

  /** DuckDB oracle for [[annIvfWhite]]: the whitening parameters and
    * snapped centroids as literals, the identical integer chain —
    * per-component exact projection, w6 codes, integer-argmax
    * assignment/probes, integer dot + norms, the same
    * floor(S/(√Q·√X)·1e6 + ½) score. Data-dependent → emitted by
    * oracleSqlFor. */
  def annIvfWhiteOracleSql(s: SparkSession, d: String, nQueries: Int = 10,
                           k: Int = 5, nprobe: Int = WhiteNprobe): String = {
    val (comps, offE9, scales) = whitenParams(s, d)
    val dim = comps.head.length
    val compRows = comps.indices.map { c =>
      s"($c, [${comps(c).map(_.toString).mkString(", ")}]::DOUBLE[], " +
        s"${offE9(c)}, ${scales(c).toString})"
    }.mkString(",\n        ")
    val centRows = whiteCentroidsE9(s, d).zipWithIndex.map {
      case (ce9, i) => s"($i, [${ce9.mkString(", ")}]::BIGINT[])"
    }.mkString(",\n        ")
    s"""
      WITH comps(cid, e, offe9, scale) AS (VALUES
        $compRows),
      wcents(wc, ce9) AS (VALUES
        $centRows),
      white AS (
        SELECT vec_id, list(w6 ORDER BY cid) AS w
        FROM (
          SELECT emb.vec_id, c.cid,
            CAST(floor((CAST(list_sum(list_transform(range(1, $dim + 1),
                i -> CAST(floor(c.e[i] * CAST(emb.embedding[i] AS DOUBLE)
                                * 1e9 + 0.5) AS BIGINT))) AS BIGINT)
              - c.offe9) * c.scale / 1000.0 + 0.5) AS BIGINT) AS w6
          FROM embeddings emb CROSS JOIN comps c)
        GROUP BY 1),
      coded AS (
        SELECT vec_id, w,
          CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT) AS n2
        FROM white),
      cdot AS (
        SELECT v.vec_id, wc.wc,
          CAST(list_sum(list_transform(range(1, $dim + 1),
            i -> wc.ce9[i] * v.w[i])) AS BIGINT) AS dot
        FROM coded v CROSS JOIN wcents wc),
      assign AS (
        SELECT vec_id, wc AS bucket FROM (
          SELECT vec_id, wc,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY dot DESC, wc) AS rn
          FROM cdot) WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, wc AS bucket FROM (
          SELECT vec_id, wc,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY dot DESC, wc) AS rn
          FROM cdot WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
      rer AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          CAST(floor(CAST(list_sum(list_transform(range(1, $dim + 1),
                i -> q.w[i] * x.w[i])) AS DOUBLE)
            / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(x.n2 AS DOUBLE)))
            * 1e6 + 0.5) AS BIGINT) AS cos_e6
        FROM probes p
        JOIN assign a ON a.bucket = p.bucket AND a.vec_id <> p.query_id
        JOIN coded q ON q.vec_id = p.query_id
        JOIN coded x ON x.vec_id = a.vec_id
        WHERE q.n2 > 0 AND x.n2 > 0)
      SELECT query_id, neighbor_id, cos_e6, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_e6 DESC, neighbor_id) AS INT) AS rank
        FROM rer)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  // ---- graph-walk ANN (ann_graph_walk) ------------------------------------

  /** Graph-walk defaults. Degree 8 (the stored edge out-degree the
    * walk navigates — denser than KnnK=5 because navigability, not
    * the answer set, is what the edges buy); beam 32; depth 3 —
    * measured on the isotropic corpus (§6 walk sweep). */
  private[graft] val GraphWalkDeg = 8
  private[graft] val GraphWalkBeam = 32
  private[graft] val GraphWalkDepth = 3

  /** Exact 1e-9-snapped per-term dot (the §5 no-accumulated-float
    * rule): Σ_j floor(a_j·b_j·1e9 + ½) as a BIGINT. */
  private def snapDot9(a: Array[Float], b: Array[Float]): Long = {
    var s = 0L; var j = 0
    while (j < a.length) {
      s += math.floor(a(j).toDouble * b(j) * 1e9 + 0.5).toLong; j += 1
    }
    s
  }

  /** cos_e6 from exact integer dot/norms — one fixed scalar IEEE
    * chain on identical int inputs (bit-identical cross-engine). */
  private def cosE6(s: Long, qn: Long, xn: Long): Long =
    math.floor(s.toDouble /
      (math.sqrt(qn.toDouble) * math.sqrt(xn.toDouble)) * 1e6 + 0.5).toLong

  /** ann_graph_walk — GRAPH-NAVIGATION ANN (the NSW/HNSW family,
    * completing the ANN story: quantization, dims, hashing, coarse
    * quantizer, whitening — and now graph walk): serve queries by
    * BEAM SEARCH over the corpus kNN graph instead of probing
    * quantizer buckets. Entry points are one deterministic medoid
    * per IVF bucket (min vec_id — bounded by nlist, spread by the
    * quantizer); each round the frontier expands through the stored
    * out-edges and keeps the best `beam` nodes; after `depth` fixed
    * rounds the top-k of the final frontier answers (monotone: the
    * frontier only ever improves, since S ⊆ S ∪ N(S) before the
    * cut). Self-exclusion applies at the FINAL cut only — the query
    * vector itself is the best possible navigation node.
    *
    * Determinism: scores are exact-integer cos_e6 (per-term 1e-9
    * snaps — [[snapDot9]]); entry assignment is an exact integer
    * argmax (per-term-snapped centroid dots, cid tie-break); ranks
    * break ties on node id. The walk is a FIXED number of rounds, so
    * the oracle UNROLLS it (the graph_pagerank discipline).
    *
    * 100 TB shape: the edges come from the maintained kNN-graph
    * artifact ([[writeKnnGraph]] — here built in-query so the oracle
    * can replay it); per round ONE broadcast join of the bounded
    * frontier (queries × beam rows) against the edge list and ONE
    * broadcast-frontier candidate scoring pass against the pruned
    * corpus — per-query work is O(beam · deg · depth) candidate
    * scores, independent of corpus size once the edges exist. The
    * serving twin over the stored artifact is
    * [[annGraphWalkServeBatch]]. */
  def annGraphWalk(s: SparkSession, d: String, nQueries: Int = 10,
                   k: Int = 5, deg: Int = GraphWalkDeg,
                   beam: Int = GraphWalkBeam, depth: Int = GraphWalkDepth,
                   nprobe: Int = IvfNprobe): DataFrame = {
    annGraphWalkFrom(Tables.embeddings(s, d), ivfCentroids(s, d),
      nQueries, k, deg, beam, depth, nprobe)
  }

  /** [[annGraphWalk]] over an arbitrary embeddings frame. */
  def annGraphWalkFrom(emb: DataFrame, cents: Array[Array[Double]],
                       nQueries: Int = 10, k: Int = 5,
                       deg: Int = GraphWalkDeg, beam: Int = GraphWalkBeam,
                       depth: Int = GraphWalkDepth,
                       nprobe: Int = IvfNprobe): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val edges = knnGraphOn(emb, cents, deg, nprobe, ordered = false)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint()
    val bcC = s.sparkContext.broadcast(cents)
    // one deterministic entry medoid per bucket: exact-integer
    // centroid argmax (per-term snaps), min id per bucket
    val entries = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cs = bcC.value
        var best = 0; var bestDot = Long.MinValue; var i = 0
        while (i < cs.length) {
          val e = cs(i); var dd = 0L; var j = 0
          while (j < v.length) {
            dd += math.floor(e(j) * v(j) * 1e9 + 0.5).toLong; j += 1
          }
          if (dd > bestDot) { bestDot = dd; best = i }
          i += 1
        }
        (best, id)
      }.toDF("bucket", "vec_id")
      .groupBy(col("bucket")).agg(min(col("vec_id")).as("node"))
      .select(col("node")).as[Long].collect().sorted // bounded by nlist
    annGraphWalkOn(emb, edges, entries,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k, beam, depth, excludeSelf = true)
  }

  /** Serve a query batch by graph walk over the STORED kNN-graph
    * artifact ([[writeKnnGraph]]/[[knnGraphAppendStep]]): entry
    * medoids come from the precomputed `entries/` file (≤ nlist rows
    * WITH embeddings — no per-call `nodes/` scan), per-round edge
    * reads are pruned to the frontier's `_eb` partition values, and
    * the per-round VECTOR fetch is pruned to the candidates'
    * `n_bucket` partition values carried on the stored edges (the
    * same bounded-partition-VALUES discipline applied to `nodes/` —
    * before r14 this fetch was an unpruned corpus scan per round, the
    * one corpus-linear cost in the serve path). Pending
    * [[deleteFromKnnGraph]] tombstones are subtracted from entries
    * and expansions. The [[annIvfServeBatch]] serving contract:
    * query ids are an independent space, excludeSelf opt-in. Walk
    * degree is whatever the artifact stored (its k). */
  def annGraphWalkServeBatch(s: SparkSession, dir: String,
                             queries: DataFrame, k: Int = 5,
                             beam: Int = GraphWalkBeam,
                             depth: Int = GraphWalkDepth,
                             excludeSelf: Boolean = false): DataFrame = {
    import s.implicits._
    val ts = graft.sources.Compact.tombstones(s, dir, "vec_id")
    val entryVecs0 = s.read.parquet(s"$dir/entries")
      .select(col("node"), col("embedding"))
    val entryVecs = ts.fold(entryVecs0)(t =>
      entryVecs0.join(broadcast(t.withColumnRenamed("vec_id", "node")),
        Seq("node"), "left_anti"))
    val nodes = s.read.parquet(s"$dir/nodes")
    // per-round edge fetch PRUNED to the frontier's `_eb` partitions
    // (the bounded-partition-VALUES discipline: ≤ GraphEb ints per
    // round, never an id set) — the scan cost tracks the touched
    // adjacency partitions, not the stored graph; at toy GraphEb a
    // small frontier touches most of the 64 values (the append
    // saturation analysis), production scales GraphEb with the corpus
    val expand = (frontier: DataFrame) => {
      val ebs = frontier
        .select((col("node") % GraphEb).cast("int").as("eb"))
        .distinct().as[Int].collect().toSeq
      val out = s.read.parquet(s"$dir/edges")
        .filter(col("_eb").isin(ebs: _*))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"),
          col("n_bucket"))
      ts.fold(out)(t =>
          out.join(broadcast(t.withColumnRenamed("vec_id", "dst")),
            Seq("dst"), "left_anti"))
        .join(broadcast(frontier.select(col("query_id"),
          col("node").as("src"))), Seq("src"))
        .select(col("query_id"), col("dst").as("node"), col("n_bucket"))
    }
    // vector fetch PRUNED to the candidates' assigned-bucket
    // partitions (≤ nlist ints per round — the point of n_bucket)
    val fetch = (cand: DataFrame) => {
      val bks = cand.select(col("n_bucket")).distinct()
        .as[Int].collect().toSeq
      nodes.filter(col("bucket").isin(bks: _*))
        .select(col("vec_id").as("node"), col("embedding"))
        .join(broadcast(cand.select(col("node"))), Seq("node"), "left_semi")
    }
    annGraphWalkOn(fetch, expand, entryVecs,
      queries.select(col("query_id"), col("embedding")),
      k, beam, depth, excludeSelf)
  }

  /** Default expansion: one broadcast-frontier join against an
    * in-memory edge frame (the in-query form — the edges were just
    * built and checkpointed, nothing to prune). */
  private def expandAll(edges: DataFrame)(frontier: DataFrame): DataFrame =
    edges.join(broadcast(frontier.select(col("query_id"),
        col("node").as("src"))), Seq("src"))
      .select(col("query_id"), col("dst").as("node"))

  /** The walk over an in-memory corpus + edge frame — the in-query
    * form: vectors fetch by one broadcast semi-join against the whole
    * corpus frame (nothing stored to prune). */
  private[graft] def annGraphWalkOn(emb: DataFrame, edges: DataFrame,
                                    entries: Seq[Long], queries: DataFrame,
                                    k: Int, beam: Int, depth: Int,
                                    excludeSelf: Boolean): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val fetch = (cand: DataFrame) => {
      val nodes = cand.select(col("node")).distinct()
      emb.join(broadcast(nodes), emb("vec_id") === nodes("node"))
        .select(col("vec_id").as("node"), col("embedding"))
    }
    annGraphWalkOn(fetch, expandAll(edges)(_),
      fetch(entries.toDF("node")), queries, k, beam, depth, excludeSelf)
  }

  /** The walk core with pluggable frontier expansion AND vector
    * fetch (the serving twin prunes its stored-edge reads by the
    * frontier's `_eb` partition values and its `nodes/` vector reads
    * by the candidates' `n_bucket` partition values; the in-query
    * form joins its in-memory frames directly). `expand` maps a
    * (query_id, node) frontier to (query_id, node[, n_bucket])
    * out-neighbor rows; `fetch` maps a distinct (node[, n_bucket])
    * candidate frame to (node, embedding); `entryVecs` is the
    * bounded (node, embedding) entry-medoid frame (≤ nlist rows). */
  private[graft] def annGraphWalkOn(fetch: DataFrame => DataFrame,
                                    expand: DataFrame => DataFrame,
                                    entryVecs: DataFrame, queries: DataFrame,
                                    k: Int, beam: Int, depth: Int,
                                    excludeSelf: Boolean): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    // bounded query set rides a broadcast map (qid → vector)
    val qMap = queries.select(col("query_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val bcQ = s.sparkContext.broadcast(qMap)
    // (query_id, node) + a bounded (node, embedding) frame → scores
    def score(cand: DataFrame, vecs: DataFrame): DataFrame =
      cand.join(broadcast(vecs), Seq("node"))
        .select(col("query_id"), col("node"), col("embedding"))
        .as[(Long, Long, Array[Float])]
        .map { case (qid, node, v) =>
          val q = bcQ.value(qid)
          (qid, node, cosE6(snapDot9(q, v), snapDot9(q, q), snapDot9(v, v)))
        }.toDF("query_id", "node", "cos_e6")
    // initial frontier assembled on the driver: queries × entry
    // medoids are both bounded (never a crossJoin plan)
    val eIds = entryVecs.select(col("node")).as[Long].collect().sorted
    val init = for (q <- qMap.keys.toSeq.sorted; e <- eIds) yield (q, e)
    var frontier = score(init.toDF("query_id", "node"), entryVecs)
      .localCheckpoint()
    for (_ <- 1 to depth) {
      val neigh = expand(frontier.select(col("query_id"), col("node")))
        .distinct()
        .join(broadcast(frontier.select(col("query_id"), col("node"))),
          Seq("query_id", "node"), "left_anti")
      val vecs = fetch(neigh.drop("query_id").distinct())
      val cand = frontier
        .unionByName(score(neigh.select(col("query_id"), col("node")),
          vecs))
      frontier = topKPerQuery(cand
          .select(col("query_id"), col("node").as("neighbor_id"),
            col("cos_e6").cast("double").as("cos_sim")), beam,
        ordered = false)
        .select(col("query_id"), col("neighbor_id").as("node"),
          col("cos_sim").cast("long").as("cos_e6"))
        .localCheckpoint()
    }
    val fin = if (excludeSelf) frontier.filter(col("node") =!= col("query_id"))
              else frontier
    topKPerQuery(fin
        .select(col("query_id"), col("node").as("neighbor_id"),
          col("cos_e6").cast("double").as("cos_sim")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("cos_sim").cast("long").as("cos_e6"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB oracle for [[annGraphWalk]]: the knnGraph chain (at walk
    * degree) as the edge subquery, exact-integer entry assignment,
    * and the beam search UNROLLED `depth` rounds (fixed rounds — the
    * graph_pagerank discipline), each = expand through edges ∪ keep
    * the ranked beam. Data-dependent → emitted by oracleSqlFor. */
  def annGraphWalkOracleSql(s: SparkSession, d: String, nQueries: Int = 10,
                            k: Int = 5, deg: Int = GraphWalkDeg,
                            beam: Int = GraphWalkBeam,
                            depth: Int = GraphWalkDepth,
                            nprobe: Int = IvfNprobe): String = {
    val cents = ivfCentroids(s, d)
    val dim = cents.head.length
    val centsSql = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n        ")
    val knnSql = knnGraphOracleSql(s, d, deg, nprobe)
    def snapSum(a: String, b: String) =
      s"""CAST(list_sum(list_transform(range(1, $dim + 1),
          i -> CAST(floor($a[i] * $b[i] * 1e9 + 0.5) AS BIGINT))) AS BIGINT)"""
    val rounds = (1 to depth).map { r =>
      s"""c$r AS (
        SELECT query_id, node FROM s${r - 1}
        UNION
        SELECT f.query_id, e.dst AS node
        FROM s${r - 1} f JOIN edges e ON e.src = f.node),
      s$r AS (
        SELECT query_id, node, cos_e6 FROM (
          SELECT sc.query_id, sc.node, sc.cos_e6,
            row_number() OVER (PARTITION BY sc.query_id
              ORDER BY sc.cos_e6 DESC, sc.node) AS rn
          FROM (SELECT c.query_id, c.node,
                  CAST(floor(CAST(${snapSum("q.de", "x.de")} AS DOUBLE)
                    / (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(xn.n2 AS DOUBLE)))
                    * 1e6 + 0.5) AS BIGINT) AS cos_e6
                FROM c$r c
                JOIN dembs q ON q.vec_id = c.query_id
                JOIN dembs x ON x.vec_id = c.node
                JOIN norms qn ON qn.vec_id = c.query_id
                JOIN norms xn ON xn.vec_id = c.node) sc)
        WHERE rn <= $beam)"""
    }.mkString(",\n      ")
    s"""
      WITH wcents(cid, c) AS (VALUES
        $centsSql),
      edges AS (
        SELECT vec_id AS src, neighbor_id AS dst FROM ($knnSql)),
      dembs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      norms AS (
        SELECT vec_id, ${snapSum("de", "de")} AS n2 FROM dembs),
      cdotE AS (
        SELECT e.vec_id, w.cid, ${snapSum("w.c", "e.de")} AS dot
        FROM dembs e CROSS JOIN wcents w),
      entries AS (
        SELECT MIN(vec_id) AS node FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY dot DESC, cid) AS rn
          FROM cdotE) WHERE rn = 1 GROUP BY cid),
      s0 AS (
        SELECT q.vec_id AS query_id, en.node,
          CAST(0 AS BIGINT) AS cos_e6
        FROM (SELECT vec_id FROM embeddings WHERE vec_id < $nQueries) q
        CROSS JOIN entries en),
      $rounds
      SELECT query_id, neighbor_id, cos_e6, rank FROM (
        SELECT query_id, node AS neighbor_id, cos_e6,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cos_e6 DESC, node) AS INT) AS rank
        FROM s$depth WHERE node <> query_id)
      WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** DuckDB oracle for [[embPca]]: component literals + 1e-9-unit
    * BIGINT offsets, the identical per-term-snap → exact-integer-sum
    * → one-floor-division pe6 chain (NO float accumulation — r12's
    * red row was `list_inner_product` here, whose accumulation order
    * is engine-environment-sensitive), HUGEINT moments (sp*sp routed
    * through HUGEINT — BIGINT² overflows), the same single divisions
    * and the exact ve9 cumulative ratio. Final rounded DOUBLEs are
    * normalized with `+ 0`: DuckDB's round() preserves IEEE -0.0
    * (the mean-centered projections are ≈0 and sp is often a small
    * negative integer) while Spark's BigDecimal-based round() cannot
    * represent it — numerically equal, bit-different, and the
    * driver's hash is bit-sensitive (r13's one red row).
    * `-0.0 + 0.0 = +0.0`; every other value is unchanged.
    * Data-dependent → emitted by oracleSqlFor. */
  def embPcaOracleSql(s: SparkSession, d: String): String = {
    val (comps, offs) = pcaBasis(s, d)
    val dim = comps.head.length
    val rows = comps.zip(offs).zipWithIndex.map { case ((e, off), c) =>
      s"($c, [${e.map(_.toString).mkString(", ")}]::DOUBLE[], " +
        s"${math.floor(off * 1e9 + 0.5).toLong})"
    }.mkString(",\n        ")
    s"""
      WITH comps(cid, e, offe9) AS (VALUES
        $rows),
      proj AS (
        SELECT c.cid,
          CAST(floor((CAST(list_sum(list_transform(range(1, $dim + 1),
              i -> CAST(floor(c.e[i] * CAST(embedding[i] AS DOUBLE) * 1e9
                              + 0.5) AS BIGINT))) AS BIGINT)
            - c.offe9 + 500) / 1000.0) AS BIGINT) AS pe6
        FROM embeddings CROSS JOIN comps c),
      ag AS (
        SELECT cid, COUNT(*) AS n, SUM(pe6) AS sp, SUM(pe6 * pe6) AS sp2
        FROM proj GROUP BY 1),
      v AS (
        SELECT cid, n,
          round(CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6) + 0
            AS mean_p,
          round(CAST(n * sp2 - CAST(sp AS HUGEINT) * sp AS DOUBLE) /
            (CAST(n AS DOUBLE) * n * 1e12), 6) + 0 AS var_p
        FROM ag),
      e9 AS (
        SELECT *, CAST(floor(var_p * 1e9 + 0.5) AS BIGINT) AS ve9 FROM v)
      SELECT cid AS component, n, mean_p, var_p,
        round(CAST(SUM(ve9) OVER (ORDER BY cid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
          CAST(SUM(ve9) OVER () AS DOUBLE), 6) + 0 AS cum_frac
      FROM e9 ORDER BY component"""
  }

  private[graft] val PprSeeds = 5L

  /** graph_ppr — PERSONALIZED PageRank from a seed set (teleport mass
    * restricted to the seeds): the kNN-graph data-ATTRIBUTION signal
    * — which corpus vectors sit in the seeds' neighborhood-of-
    * neighborhoods (influence/contamination audits, seed-expanded
    * curation). Same exact-integer recipe as [[graphPagerank]] — the
    * teleport term is simply zero off the seed set — so the result
    * is bit-identical cross-engine; nodes unreachable from the seeds
    * hold rank EXACTLY 0 (spec'd). Seeds: vec_id < PprSeeds. */
  def graphPpr(s: SparkSession, d: String, k: Int = KnnK,
               nprobe: Int = IvfNprobe,
               iters: Int = PrIters): DataFrame = {
    val edges = knnGraph(s, d, k, nprobe, ordered = false)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val nodes = Tables.embeddings(s, d).select(col("vec_id"))
    personalizedPagerankOn(edges, nodes,
      nodes.filter(col("vec_id") < PprSeeds), iters)
  }

  /** [[pagerankOn]] with teleport mass restricted to `seeds` (a
    * vec_id frame): r0 = SCALE/|S| on seeds else 0; per-iteration
    * base likewise. All-integer arithmetic, same determinism
    * contract. */
  def personalizedPagerankOn(edges: DataFrame, nodes: DataFrame,
                             seeds: DataFrame,
                             iters: Int = PrIters): DataFrame = {
    val nS = seeds.count()
    val base = (3L * PrScale) / (20L * nS)
    val r0 = PrScale / nS
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, Seq("src")).localCheckpoint()
    val seeded = nodes.join(
        seeds.select(col("vec_id")).withColumn("is_seed", lit(1)),
        Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("is_seed"), lit(0)).as("is_seed"))
      .localCheckpoint()
    var ranks = seeded.select(col("vec_id"),
      when(col("is_seed") === 1, lit(r0)).otherwise(lit(0L)).as("pr"))
    for (i <- 1 to iters) {
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("vec_id", "src"), Seq("src"))
        .select(col("dst").as("vec_id"), expr("pr div deg").as("share"))
        .groupBy(col("vec_id")).agg(sum(col("share")).as("in_sum"))
      ranks = seeded.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
          (when(col("is_seed") === 1, lit(base)).otherwise(lit(0L)) +
            expr("(17 * coalesce(in_sum, CAST(0 AS BIGINT))) div 20"))
            .as("pr"))
      // linear chain — periodic checkpoint only (see pagerankOn)
      if (i % PrCkEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("vec_id"), col("pr").as("pr_e12"),
        round(col("pr").cast("double") / lit(1e12), 6).as("ppr"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[graphPpr]]: the pagerank chain with the
    * teleport CASE restricted to the seed predicate. Data-dependent →
    * emitted by oracleSqlFor. */
  def graphPprOracleSql(s: SparkSession, d: String, k: Int = KnnK,
                        nprobe: Int = IvfNprobe,
                        iters: Int = PrIters): String = {
    val nS = Tables.embeddings(s, d)
      .filter(col("vec_id") < PprSeeds).count()
    val base = (3L * PrScale) / (20L * nS)
    val r0 = PrScale / nS
    val knnSql = knnGraphOracleSql(s, d, k, nprobe)
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
        SELECT nd.vec_id,
          CAST(CASE WHEN nd.vec_id < $PprSeeds THEN $base ELSE 0 END
               + (17 * COALESCE(cs.s, 0)) // 20 AS BIGINT) AS pr
        FROM nodes nd LEFT JOIN (
          SELECT ed.dst AS vec_id, SUM(p.pr // ed.deg) AS s
          FROM edges_deg ed JOIN r${i - 1} p ON p.vec_id = ed.src
          GROUP BY 1) cs ON cs.vec_id = nd.vec_id)"""
    }.mkString(",\n")
    s"""
      WITH edges AS (
        SELECT vec_id AS src, neighbor_id AS dst FROM ($knnSql)),
      edges_deg AS (
        SELECT e.src, e.dst, g.deg
        FROM edges e JOIN (
          SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
          FROM edges GROUP BY 1) g USING (src)),
      nodes AS (SELECT vec_id FROM embeddings),
      r0 AS (
        SELECT vec_id,
          CAST(CASE WHEN vec_id < $PprSeeds THEN $r0 ELSE 0 END AS BIGINT)
            AS pr
        FROM nodes),
      $iterCtes
      SELECT vec_id, pr AS pr_e12,
        round(CAST(pr AS DOUBLE) / 1e12, 6) AS ppr
      FROM r$iters ORDER BY vec_id"""
  }

  /** DuckDB oracle for [[graphPagerank]]: the knnGraph oracle chain as
    * the edge subquery, then `iters` UNROLLED aggregating CTEs (a
    * recursive CTE can't aggregate over its own reference) replaying
    * the identical integer arithmetic — DuckDB `//` is floor division
    * and every operand is positive, and SUM(BIGINT)'s HUGEINT is cast
    * back per step. Data-dependent (centroid literals + corpus count)
    * → emitted by oracleSqlFor. */
  def graphPagerankOracleSql(s: SparkSession, d: String, k: Int = KnnK,
                             nprobe: Int = IvfNprobe,
                             iters: Int = PrIters): String = {
    val n = Tables.embeddings(s, d).count()
    val base = (3L * PrScale) / (20L * n)
    val r0 = PrScale / n
    val knnSql = knnGraphOracleSql(s, d, k, nprobe)
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
        SELECT nd.vec_id,
          CAST($base + (17 * COALESCE(cs.s, 0)) // 20 AS BIGINT) AS pr
        FROM nodes nd LEFT JOIN (
          SELECT ed.dst AS vec_id, SUM(p.pr // ed.deg) AS s
          FROM edges_deg ed JOIN r${i - 1} p ON p.vec_id = ed.src
          GROUP BY 1) cs ON cs.vec_id = nd.vec_id)"""
    }.mkString(",\n")
    s"""
      WITH edges AS (
        SELECT vec_id AS src, neighbor_id AS dst FROM ($knnSql)),
      edges_deg AS (
        SELECT e.src, e.dst, g.deg
        FROM edges e JOIN (
          SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
          FROM edges GROUP BY 1) g USING (src)),
      nodes AS (SELECT vec_id FROM embeddings),
      r0 AS (SELECT vec_id, CAST($r0 AS BIGINT) AS pr FROM nodes),
      $iterCtes
      SELECT vec_id, pr AS pr_e12,
        round(CAST(pr AS DOUBLE) / 1e12, 6) AS pagerank
      FROM r$iters ORDER BY vec_id"""
  }
}
