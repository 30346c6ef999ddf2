package graft

import graft.operators.Similarity._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The one stored-IVF-layout lifecycle, checked over all five codecs:
  * write + append, delete, compact and retrain each keep serving (or
  * the stored rows) equal to a one-shot layout of the same vectors;
  * drift stats see live rows only; each codec's in-query tier answers
  * like its stored serve; and trained artifacts are memoized per file
  * version of the table they are trained from. */
class IvfLayoutSpec extends SparkSpec {
  private val sf01 = "/root/testdata/sf0.01"
  private lazy val emb = Tables.embeddings(spark, sf01)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/layout"

  private val codecs: Seq[(String, () => IvfCodec)] = Seq(
    "float" -> (() => FloatCodec(ivfCentroids(spark, sf01))),
    "labeled" -> (() => LabeledCodec(ivfCentroids(spark, sf01))),
    "SQ8" -> { () =>
      val (mns, mxs) = sq8Grid(emb)
      Sq8Codec(ivfCentroids(spark, sf01), mns, mxs)
    },
    "PQ" -> (() => PqCodec(ivfCentroids(spark, sf01), pqResidualCodebooks(spark, sf01))),
    "whitened" -> (() => whitenModel(spark, sf01)))

  /** Each codec's serve over the first 10 corpus vectors. */
  private def serve(dir: String, codec: IvfCodec): Seq[Seq[Any]] = {
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"))
    val qv = q.drop("label")
    val out = codec match {
      case c: FloatCodec =>
        annIvfServeBatch(spark, dir, c.cents, qv, excludeSelf = true)
      case c: LabeledCodec =>
        annIvfFilteredServeBatch(spark, dir, c, q, excludeSelf = true)
      case c: Sq8Codec => annIvfSq8ServeBatch(spark, dir, c, qv, excludeSelf = true)
      case c: PqCodec => annIvfPqServeBatch(spark, dir, c, qv, emb, excludeSelf = true)
      case c: WhitenModel => annIvfWhiteServeBatch(spark, dir, c, qv, excludeSelf = true)
    }
    out.collect().map(_.toSeq).toSeq
  }

  /** Each codec's in-query tier over the same 10 queries. */
  private def tier(codec: IvfCodec): Seq[Seq[Any]] = (codec match {
    case _: FloatCodec => annIvf(spark, sf01)
    case _: LabeledCodec => annIvfFiltered(spark, sf01)
    case _: Sq8Codec => annIvfSq8(spark, sf01)
    case _: PqCodec => annIvfPq(spark, sf01)
    case _: WhitenModel => annIvfWhite(spark, sf01)
  }).collect().map(_.toSeq).toSeq

  /** The stored rows, binary codes compared by value. */
  private def storedRows(dir: String): Set[Seq[Any]] =
    spark.read.parquet(dir).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).toSet

  /** (path, bytes) of every parquet file under `dir`, recursively. */
  private def parquetFiles(dir: String): Seq[(String, Long)] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet"))
      .map(f => f -> new java.io.File(f).length).toSeq
    finally walk.close()
  }

  private def hasBucketDirs(dir: String): Boolean =
    new java.io.File(dir).listFiles.exists(f =>
      f.isDirectory && f.getName.startsWith("bucket="))

  for ((name, mk) <- codecs) {
    test(s"$name layout lifecycle: append, delete, compact and retrain match one-shot layouts") {
      val codec = mk()
      def fresh(vectors: DataFrame): String = {
        val d = tmp(s"ivf-$name-fresh"); writeLayout(codec, vectors, d); d
      }
      // 1. write 2/3, append the rest == one-shot layout of the union
      val dir = tmp(s"ivf-$name")
      writeLayout(codec, emb.filter(col("vec_id") % 3 =!= 0), dir)
      appendLayout(codec, emb.filter(col("vec_id") % 3 === 0), dir)
      val appended = serve(dir, codec)
      val oneShot = serve(fresh(emb), codec)
      assert(appended.nonEmpty && appended == oneShot,
        "append-then-serve differs from a one-shot layout of the union")
      // the in-query tier and the stored serve share the codec's
      // assignment and probe fan-out, so they answer alike
      assert(tier(codec) == oneShot, "in-query tier differs from the stored serve")
      // 2. delete a third == fresh layout of the survivors
      val survivors = emb.filter(col("vec_id") % 3 =!= 1)
      deleteFromLayout(spark, dir, emb.filter(col("vec_id") % 3 === 1).select("vec_id"))
      val deleted = serve(dir, codec)
      assert(deleted.nonEmpty && deleted == serve(fresh(survivors), codec),
        "delete-then-serve differs from a layout of the survivors")
      // 3. compaction: serving unchanged, log folded, partitioning kept;
      // its report counts the layout's files, never the log's
      val (logFiles, layoutFiles) = parquetFiles(dir).partition(_._1.contains("/_tombstones/"))
      assert(logFiles.nonEmpty, "no pending deletes to fold")
      val report = compactIvfPartitioned(spark, dir)
      assert((report.filesIn, report.bytesIn) == (layoutFiles.size, layoutFiles.map(_._2).sum),
        s"compaction input $report vs the layout's ${layoutFiles.size} files")
      assert(serve(dir, codec) == deleted)
      assert(!new java.io.File(s"$dir/_tombstones").exists, "tombstone log survived compaction")
      assert(hasBucketDirs(dir), "compaction dropped the bucket partitioning")
      // 4. retrain: stored rows == a fresh write of the survivors
      // under the returned codec
      val next = retrainLayout(spark, dir, codec, Some(emb))
      val ref = tmp(s"ivf-$name-retrained")
      writeLayout(next, survivors, ref)
      assert(storedRows(dir) == storedRows(ref),
        "retrained layout differs from a fresh write under the new codec")
      assert(next.nlist == codec.nlist)
    }

    test(s"$name layout stats count live rows only; a drained layout reads zero") {
      val codec = mk()
      val dir = tmp(s"ivfstats-$name")
      writeLayout(codec, emb, dir)
      deleteFromLayout(spark, dir, emb.filter(col("vec_id") % 3 === 1).select("vec_id"))
      val got = ivfLayoutStats(spark, dir, codec, Some(emb))
      val ref = tmp(s"ivfstats-$name-fresh")
      writeLayout(codec, emb.filter(col("vec_id") % 3 =!= 1), ref)
      val want = ivfLayoutStats(spark, ref, codec, Some(emb))
      assert(got.nVectors == emb.filter(col("vec_id") % 3 =!= 1).count())
      assert((got.nVectors, got.nBuckets, got.occSkew) ==
        (want.nVectors, want.nBuckets, want.occSkew), s"$got vs $want")
      assert(want.drift > 0 && math.abs(got.drift - want.drift) <= 1e-9 * want.drift,
        s"drift axis ${got.drift} vs ${want.drift}")
      deleteFromLayout(spark, dir, emb.select("vec_id"))
      assert(ivfLayoutStats(spark, dir, codec, Some(emb)) == IvfLayoutStats(0L, 0, 0.0, 0.0))
    }
  }

  test("a swap torn between its two renames heals at the next compaction, tombstones included") {
    val dir = tmp("ivf-torn")
    val cents = writeIvfPartitioned(spark, sf01, dir)
    deleteFromLayout(spark, dir, emb.filter(col("vec_id") % 3 === 1).select("vec_id"))
    CompactSpec.tearSwap(dir)
    compactIvfPartitioned(spark, dir)
    assert(CompactSpec.healed(dir))
    val fresh = tmp("ivf-torn-fresh")
    writeLayout(FloatCodec(cents), emb.filter(col("vec_id") % 3 =!= 1), fresh)
    val got = serve(dir, FloatCodec(cents))
    assert(got.nonEmpty && got == serve(fresh, FloatCodec(cents)),
      "a healed layout serves unlike a fresh write of the survivors")
  }

  test("trained artifacts are memoized per file version of their table") {
    val d = java.nio.file.Files.createTempDirectory("ivfmemo").toString
    def writeEmb(f: org.apache.spark.sql.Column): Unit =
      Tables.embeddings(spark, sf01).filter(f)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    writeEmb(col("vec_id") < 400)
    val c1 = ivfCentroids(spark, d)
    assert(ivfCentroids(spark, d) eq c1, "unchanged table retrained")
    // other params of the same dir keep their own entries: alternating
    // nlist reuses both trainings
    val r16 = pqResidualCodebooks(spark, d, nlist = 16)
    val r32 = pqResidualCodebooks(spark, d, nlist = 32)
    assert(pqResidualCodebooks(spark, d, nlist = 16) eq r16)
    assert(pqResidualCodebooks(spark, d, nlist = 32) eq r32)
    assert(ivfCentroids(spark, d) eq c1)
    // a rewrite at the same path retrains, on the new rows
    writeEmb(col("vec_id") >= 100)
    val c2 = ivfCentroids(spark, d)
    assert(!(c2 eq c1), "rewritten table served stale centroids")
    val want = trainCentroids(trainingSample(Tables.embeddings(spark, d)),
      IvfNlist, iters = 10)
    assert(c2.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    assert(ivfCentroids(spark, d) eq c2)
    // the tokenizers' merges and pieces, trained from `documents`, go
    // through the same memo
    import graft.functions.{Bpe, Unigram, Wordpiece}
    def writeDocs(dir: String, f: org.apache.spark.sql.Column): Unit =
      Tables.documents(spark, sf).filter(f)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def trained(dir: String): Seq[AnyRef] = Seq(
      Bpe.trainedMerges(spark, dir, Bpe.SegMerges),
      Wordpiece.trainedPieces(spark, dir), Unigram.trainedPieces(spark, dir))
    writeDocs(d, col("doc_id") % 2 === 0)
    val t1 = trained(d)
    assert(ivfCentroids(spark, d) eq c2, "a documents write retrained the centroids")
    assert(trained(d).zip(t1).forall { case (x, y) => x eq y }, "unchanged table retrained")
    // a rewrite at the same path retrains, on the new rows: the result
    // equals a training on a fresh copy of those rows
    writeDocs(d, col("doc_id") % 2 === 1)
    val t2 = trained(d)
    assert(t2.zip(t1).forall { case (x, y) => !(x eq y) }, "rewritten table served stale artifacts")
    val ref = java.nio.file.Files.createTempDirectory("tokmemo-ref").toString
    writeDocs(ref, col("doc_id") % 2 === 1)
    assert(t2 == trained(ref))
    assert(t2 != t1, "both halves trained alike; the retrain check shows nothing")
    assert(trained(d).zip(t2).forall { case (x, y) => x eq y })
  }
}
