package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.operators.{Search, Similarity}
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Serving within a per-request job budget, and never from a stale
  * generation. A stored layout's schemas and small per-generation
  * values (bucket count, corpus scalars, tombstone ids) are kept per
  * file version (`Tables`): a warm serve over an unchanged layout
  * launches no footer-inference job, and after any append, delete,
  * compaction, retrain or rewrite a serve answers exactly like a serve
  * over a freshly written layout of the same state. */
class ServeBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  /** (jobs, footer-inference jobs) launched while `f` runs. A footer
    * job is one launched by a parquet read on the driver's behalf:
    * `spark.read.parquet` (inference or listing) or
    * `ParquetFileFormat.inferSchema`. */
  private def jobsDuring(f: => Unit): (Int, Int) = {
    val (all, footer) = (new AtomicInteger(), new AtomicInteger())
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        val name = j.stageInfos.maxBy(_.stageId).name
        if (name.startsWith("parquet at ") || name.startsWith("inferSchema at "))
          footer.incrementAndGet()
      }
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; ListenerDrain(spark.sparkContext); (all.get(), footer.get()) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
  private lazy val terms = Search.BmQueries.flatMap { case (q, ts) => ts.map(q -> _) }
    .toDF("query_id", "term")
  private lazy val vecs = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("embedding"))
    .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "embedding")
  private lazy val cents = Similarity.ivfCentroids(spark, sf)
  private val gone = Seq(1L, 2L, 4L)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def freshIndex(d: DataFrame = docs): String = {
    val dir = tmp("budget-inv")
    Search.writeInvertedIndexBucketed(d, dir, nBuckets = 64)
    Search.deleteFromInvertedIndex(spark, dir, gone.toDF("doc_id"))
    dir
  }
  private def freshLayout(): String = {
    val dir = tmp("budget-ivf")
    Similarity.writeLayout(Similarity.FloatCodec(cents), emb, dir)
    Similarity.deleteFromLayout(spark, dir, gone.toDF("vec_id"))
    dir
  }

  // The job counts a warm serve reaches on these layouts (tombstones
  // pending, `local[4]`, 4 shuffle partitions): the serve's own plan,
  // no driver probe (footer inference, the `meta` and `stats` reads,
  // the batch's `distinct`s).
  private val Budgets = Map("bm25" -> 6, "ivf" -> 4, "hybrid" -> 10, "phrase" -> 8)

  test("a warm serve over an unchanged layout launches no footer-inference job and stays in budget") {
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "bm25" -> { val inv = freshIndex(); () => Search.bm25ServeBatch(spark, inv, terms) },
      "ivf" -> { val ivf = freshLayout(); () => Similarity.annIvfServeBatch(spark, ivf, cents, vecs) },
      "hybrid" -> {
        val (inv, ivf) = (freshIndex(), freshLayout())
        () => Search.hybridServeBatch(spark, inv, ivf, cents, terms, vecs)
      },
      "phrase" -> {
        val pos = tmp("budget-pos")
        Search.writePositionalIndex(docs, pos, nBuckets = 64)
        Search.deleteFromInvertedIndex(spark, pos, gone.toDF("doc_id"))
        () => Search.phraseServeBatch(spark, pos, Search.PhraseQueries)
      })
    cases.foreach { case (name, serve) =>
      // the cold read of a freshly written layout infers its schemas
      val (_, coldFooter) = jobsDuring(serve().collect())
      assert(coldFooter >= 1, s"$name: the first serve of a fresh layout read no footer")
      val (warm, warmFooter) = jobsDuring(serve().collect())
      assert(warmFooter == 0, s"$name: a warm serve launched $warmFooter footer-inference jobs")
      assert(warm <= Budgets(name), s"$name: a warm serve launched $warm jobs, budget ${Budgets(name)}")
      info(s"$name: $warm jobs warm")
    }
  }

  test("a hybrid batch fuses unsorted lists: its one sort is the final, in-partition one") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    val plan = Search.hybridServeBatch(spark, freshIndex(), freshLayout(), cents, terms, vecs)
      .queryExecution.optimizedPlan
    val sorts = plan.collect { case s: Sort => s }
    assert(sorts.size == 1 && !sorts.head.global, s"sorts in the hybrid plan: $sorts")
  }

  // ---- staleness: a remembered value of an older generation never serves

  private val (day1, day2) = (col("doc_id") % 3 =!= 0, col("doc_id") % 3 === 0)

  /** Serve the layout at a path, change it in place with `mutate`, serve
    * again: the second serve equals `fresh` (a serve over a layout of
    * the new state written at a new path) and differs from the first. */
  private def staleCheck(name: String)(serve: String => Seq[String])
                        (init: String => Unit, mutate: String => Unit,
                         fresh: String => Unit, changes: Boolean = true): Unit = {
    val dir = tmp(s"stale-$name")
    init(dir)
    val before = serve(dir)
    mutate(dir)
    val after = serve(dir)
    val fdir = tmp(s"fresh-$name")
    fresh(fdir)
    assert(after.nonEmpty, s"$name: the second serve is empty")
    assert(after == serve(fdir), s"$name: the second serve differs from a fresh layout's")
    if (changes) assert(after != before, s"$name: the change did not reach the serve")
  }

  test("the inverted index serves its new generation after append, delete, compaction and rewrite") {
    def serve(dir: String) = rows(Search.bm25ServeBatch(spark, dir, terms))
    def write(d: DataFrame, dir: String, nb: Int = 64) =
      Search.writeInvertedIndexBucketed(d, dir, nBuckets = nb)
    val top = Search.bm25ServeBatch(spark, freshIndex(docs.filter(day1)), terms)
      .select("doc_id").as[Long].collect().take(3).toSeq
    def deleteTop(dir: String) = Search.deleteFromInvertedIndex(spark, dir, top.toDF("doc_id"))
    staleCheck("inv-append")(serve)(write(docs.filter(day1), _),
      Search.appendInvertedIndexBucketed(docs.filter(day2), _), write(docs, _))
    // a second delete: the log's ids of the first must not serve
    def deleteGone(dir: String) = Search.deleteFromInvertedIndex(spark, dir, gone.toDF("doc_id"))
    staleCheck("inv-delete")(serve)(d => { write(docs.filter(day1), d); deleteGone(d) }, deleteTop,
      d => { write(docs.filter(day1), d); deleteGone(d); deleteTop(d) })
    staleCheck("inv-compact")(serve)(d => { write(docs.filter(day1), d); deleteTop(d) },
      Search.compactInvertedIndexBucketed(spark, _),
      write(docs.filter(day1).filter(!col("doc_id").isin(top: _*)), _))
    // a one-shot rewrite at the same path, with another bucket count
    staleCheck("inv-rewrite")(serve)(write(docs.filter(day1), _),
      write(docs.filter(day2), _, 32), write(docs.filter(day2), _, 32))
  }

  test("the positional index serves its new generation after append, delete, compaction and rewrite") {
    def serve(dir: String) = rows(Search.phraseServeBatch(spark, dir, Search.PhraseQueries))
    def write(d: DataFrame, dir: String, nb: Int = 64) =
      Search.writePositionalIndex(d, dir, nBuckets = nb)
    val hits = Search.phraseServeBatch(spark, { val d = tmp("pos"); write(docs.filter(day1), d); d },
      Search.PhraseQueries).select("doc_id").as[Long].collect().take(3).toSeq
    def deleteHits(dir: String) = Search.deleteFromInvertedIndex(spark, dir, hits.toDF("doc_id"))
    staleCheck("pos-append")(serve)(write(docs.filter(day1), _),
      Search.appendPositionalIndex(docs.filter(day2), _), write(docs, _))
    staleCheck("pos-delete")(serve)(d => {
        write(docs.filter(day1), d)
        Search.deleteFromInvertedIndex(spark, d, gone.toDF("doc_id"))
      }, deleteHits, write(docs.filter(day1).filter(!col("doc_id").isin(hits ++ gone: _*)), _))
    staleCheck("pos-compact")(serve)(d => { write(docs.filter(day1), d); deleteHits(d) },
      Search.compactPositionalIndex(spark, _),
      write(docs.filter(day1).filter(!col("doc_id").isin(hits: _*)), _), changes = false)
    staleCheck("pos-rewrite")(serve)(write(docs.filter(day1), _),
      write(docs.filter(day2), _, 32), write(docs.filter(day2), _, 32))
  }

  test("the float IVF layout serves its new generation after append, delete, compaction, retrain and rewrite") {
    val codec = Similarity.FloatCodec(cents)
    var serving = codec
    def serve(dir: String) = rows(Similarity.annIvfServeBatch(spark, dir, serving.cents, vecs))
    def write(e: DataFrame, dir: String) = Similarity.writeLayout(serving, e, dir)
    val (v1, v2) = (emb.filter(col("vec_id") % 3 =!= 0), emb.filter(col("vec_id") % 3 === 0))
    val top = Similarity.annIvfServeBatch(spark, { val d = tmp("ivf"); write(v1, d); d }, cents, vecs)
      .select("neighbor_id").as[Long].collect().take(3).toSeq
    def deleteTop(dir: String) = Similarity.deleteFromLayout(spark, dir, top.toDF("vec_id"))
    val survivors = v1.filter(!col("vec_id").isin(top: _*))
    staleCheck("ivf-append")(serve)(write(v1, _), Similarity.appendLayout(codec, v2, _), write(emb, _))
    staleCheck("ivf-delete")(serve)(d => {
        write(v1, d)
        Similarity.deleteFromLayout(spark, d, gone.toDF("vec_id"))
      }, deleteTop, write(survivors.filter(!col("vec_id").isin(gone: _*)), _))
    staleCheck("ivf-compact")(serve)(d => { write(v1, d); deleteTop(d) },
      d => { Similarity.compactIvfPartitioned(spark, d); () }, write(survivors, _), changes = false)
    staleCheck("ivf-retrain")(serve)(d => { write(v1, d); deleteTop(d) },
      d => serving = Similarity.retrainLayout(spark, d, codec), write(survivors, _),
      changes = false)
    serving = codec
    staleCheck("ivf-rewrite")(serve)(write(v1, _), write(v2, _), write(v2, _))
  }
}
