package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Pipeline, Tables}
import graft.operators.{Search, Similarity}

/** `search_serve`: serving over layouts that maintenance keeps
  * changing. One closed-loop client repeats a cycle of
  *
  *  - the maintenance the layouts and the metadata store need: the
  *    reference's daily ingest job ([[IngestJob]]), an append of
  *    held-out rows to both layouts, a tombstone of seeded ids in both;
  *  - then one 16-query batch of each kind against the layouts just
  *    maintained: semantic (IVF), lexical (bucketed BM25 index) and
  *    hybrid (RRF of both).
  *
  * Every op, batch or maintenance, is a request: it counts toward
  * latency, ops/s, attempted and failed, and the maintenance ops' input
  * rows toward rows/s. One
  * client, not a reader beside a writer: on a 4-core box the overlap
  * of the two changed from run to run and moved the serving latency by
  * more than the metric's bound. Set-up lays out both indexes over the
  * corpus share, creates the ingest state, serves one batch of each
  * kind and replays ingest day 0. A traced run also runs one day of
  * the curation pipeline after the timed phase. */
object SearchServe {
  val K = 10
  // the served layout measures recall@10 of about 0.85-0.89 on these inputs;
  // the floor catches a collapse, `similarity.recall_at_10` the drift
  val RecallFloor = 0.75
  val RecallBatches = 2
  val BatchQueries = 16 // queries in every generated batch
  val Cycle = 6 // ops per cycle: three maintenance ops, three batches
  val PipelineDocs = 40 // documents in the traced run's pipeline day
  val ServeKinds = Set("semantic", "lexical", "hybrid")

  type Req = Map[String, Any]

  private def longs(r: Req, k: String): Seq[Long] =
    r(k).asInstanceOf[List[Any]].map(_.toString.toLong)

  def run(spark: SparkSession, tables: String, input: String, work: String, secs: Double,
          t: Tracer): Outcome = {
    import spark.implicits._
    val o = new Outcome
    val reqs = Inputs.json(s"$input/requests.json")
    val warmup = reqs("warmup").asInstanceOf[List[Req]].toVector
    val reads = reqs("reads").asInstanceOf[List[Req]].toVector
    val writes = reqs("writes").asInstanceOf[List[Req]].toVector
    // each cycle: the three maintenance ops, then one batch of each
    // kind served from the layouts they just maintained
    val cycle = writes.grouped(3).zip(reads.grouped(3)).flatMap { case (w, r) => w ++ r }.toVector
    val allDocs = Tables.documents(spark, tables)
    val allEmb = Tables.embeddings(spark, tables)
    val ivf = s"$work/ivf"
    val inv = s"$work/inv"
    val ingest = new IngestJob(spark, tables, input, t)

    def vecQueries(r: Req): DataFrame =
      longs(r, "ids").zip(r("vecs").asInstanceOf[List[List[Any]]]
          .map(_.map(_.toString.toFloat).toArray))
        .toDF("query_id", "embedding")

    def termQueries(r: Req): DataFrame =
      longs(r, "ids").zip(r("terms").asInstanceOf[List[List[String]]])
        .flatMap { case (q, ts) => ts.map(q -> _) }
        .toDF("query_id", "term")

    // corpus bookkeeping for the checks: ids indexed or appended so
    // far, and ids tombstoned
    val arrived = mutable.Set.empty[Long] ++
      Tables.documents(spark, s"$input/corpus").select("doc_id").as[Long].collect()
    val deleted = mutable.Set.empty[Long]

    /** Ranked output is well formed: ranks 1..n per query, n <= K,
      * scores non-increasing, no id that has not arrived or was
      * deleted. `full`: K rows for every query. */
    def wellFormed(rows: Array[Row], idCol: String, scoreCol: String,
                   nQueries: Int, full: Boolean): Boolean = {
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      byQ.values.forall { rs =>
        val s = rs.sortBy(_.getAs[Int]("rank"))
        s.map(_.getAs[Int]("rank")).toSeq == (1 to s.length) && s.length <= K &&
          s.map(_.getAs[Double](scoreCol)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)) &&
          s.forall { r => val id = r.getAs[Long](idCol); arrived(id) && !deleted(id) }
      } && byQ.nonEmpty && (!full || (byQ.size == nQueries && byQ.values.forall(_.length == K)))
    }

    var cents: Array[Array[Double]] = null

    def serve(r: Req): Boolean = {
      val n = longs(r, "ids").size
      r("kind") match {
        case "semantic" =>
          val rows = t.span("similarity.serve", "similarity") {
            Similarity.annIvfServeBatch(spark, ivf, cents, vecQueries(r), K).collect()
          }
          wellFormed(rows, "neighbor_id", "cos_sim", n, full = true)
        case "lexical" =>
          val rows = t.span("search.bm25_serve", "search") {
            Search.bm25ServeBatch(spark, inv, termQueries(r), K).collect()
          }
          wellFormed(rows, "doc_id", "bm25", n, full = false)
        case "hybrid" =>
          val rows = t.span("search.hybrid_serve", "search") {
            Search.hybridServeBatch(spark, inv, ivf, cents, termQueries(r), vecQueries(r), K)
              .collect()
          }
          wellFormed(rows, "doc_id", "rrf", n, full = true)
      }
    }

    def maintain(st: ingest.State, r: Req): (Boolean, Long) = r("kind") match {
      case "ingest" =>
        val d = st.days
        (ingest.day(st), ingest.rowsPerDay(d).toLong)
      case "append" =>
        val ids = longs(r, "ids")
        t.span("similarity.append", "similarity") {
          Similarity.appendIvfPartitioned(allEmb.filter(col("vec_id").isin(ids: _*)), cents, ivf)
        }
        t.span("search.append", "search") {
          Search.appendInvertedIndexBucketed(allDocs.filter(col("doc_id").isin(ids: _*)), inv)
        }
        arrived ++= ids
        (true, ids.size.toLong)
      case "delete" =>
        val ids = longs(r, "ids")
        t.span("similarity.delete", "similarity") {
          Similarity.deleteFromLayout(spark, ivf, ids.toDF("vec_id"))
        }
        t.span("search.delete", "search") {
          Search.deleteFromInvertedIndex(spark, inv, ids.toDF("doc_id"))
        }
        deleted ++= ids
        (true, ids.size.toLong)
    }

    val (st, setupS) = Inputs.time {
      Inputs.inParallel(
        () => cents = Similarity.writeIvfPartitioned(spark, s"$input/corpus", ivf),
        () => Search.writeInvertedIndexBucketed(Tables.documents(spark, s"$input/corpus"), inv))
      Main.log("IVF layout and inverted index written")
      val st = ingest.create(s"$work/ingest")
      Main.log("ingest state created")
      warmup.foreach(r => o.check(s"warmup.${r("kind")}", serve(r)))
      Main.log("warm-up batches served")
      o.check("warmup.ingest", ingest.day(st))
      st
    }
    o.setupS = Seq(setupS)
    t.reset()
    Main.log(s"set-up done: $setupS s")

    // one op of the client: a served batch or a maintenance op
    def send(r: Req): Op = {
      val serving = ServeKinds(r("kind").toString)
      val op = Op.time(maintenance = !serving) {
        try t.span(s"search_serve.${r("kind")}", "client") {
          if (serving) (serve(r), longs(r, "ids").size.toLong) else maintain(st, r)
        } catch { case e: Throwable => System.err.println(s"[search_serve] $e"); (false, 0L) }
      }
      Main.log(f"${r("kind")} ${op.ms}%.0f ms")
      op
    }
    if (t.enabled) { // the warm-up batches: no maintenance, so the same state
      warmup.zipWithIndex.foreach { case (r, i) => o.sampleOverhead(t, i)(send(r)) }
      t.reset()
    }

    // the client stops at the first end of a cycle after the deadline,
    // so every run sends whole cycles
    val firstDay = st.days
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    var i = 0
    do {
      t.setRequest(i + 1)
      o.addOp(send(cycle(i)))
      i += 1
    } while (i < cycle.size && (i % Cycle != 0 || System.nanoTime() < deadline))
    t.setRequest(0)
    Main.log(s"timed phase done: ${o.ops.size} ops")

    if (t.enabled) {
      t.drain()
      def med(name: String) = Main.median(t.named(name).map(_.ms))
      def perQuery(name: String) = {
        val ss = t.named(name)
        t.total(ss).inputRows.toDouble / (ss.size * BatchQueries).max(1)
      }
      o.layers("similarity.serve_ms") = med("similarity.serve")
      o.layers("similarity.append_ms") = med("similarity.append")
      o.layers("similarity.delete_ms") = med("similarity.delete")
      o.layers("similarity.rows_read_per_query") = perQuery("similarity.serve")
      o.layers("similarity.files_per_bucket") = filesPerBucket(ivf)
      o.layers("search.bm25_serve_ms") = med("search.bm25_serve")
      o.layers("search.hybrid_serve_ms") = med("search.hybrid_serve")
      o.layers("search.append_ms") = med("search.append")
      o.layers("search.delete_ms") = med("search.delete")
      o.layers("search.rows_read_per_query") = perQuery("search.bm25_serve")
      ingest.layers(st, firstDay, o)
      pipelineDay(spark, allDocs, st.days - 1, s"$work/pipeline", t, o)
    }

    // end checks, outside the timed phase and side by side
    val lexical = reads.filter(_("kind") == "lexical").take(1)
    val semantic = reads.filter(_("kind") == "semantic").take(RecallBatches)
    def bm25(dir: String) = lexical.flatMap(r =>
      Search.bm25ServeBatch(spark, dir, termQueries(r), K).collect().map(_.toString)).sorted
    // until compaction a tombstoned index scores the survivors with the
    // stats of every arrival (the engine's tombstone contract), so the
    // reference is a one-shot index of all arrivals carrying the same
    // tombstones
    def bm25Check(): Unit = {
      val arrivedDocs = allDocs.join(arrived.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
      Search.writeInvertedIndexBucketed(arrivedDocs, s"$work/check_inv")
      if (deleted.nonEmpty)
        Search.deleteFromInvertedIndex(spark, s"$work/check_inv", deleted.toSeq.toDF("doc_id"))
      o.check("search.bm25_eq_one_shot_of_arrivals", bm25(inv) == bm25(s"$work/check_inv"))
    }
    // recall@10 of the served IVF layout against exact search over
    // the live corpus
    var recall = 0.0
    def recallCheck(): Unit = {
      val liveVecs = allEmb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
        .filter { case (id, _) => arrived(id) && !deleted(id) }
      val hits = semantic.flatMap { r =>
        val served = Similarity.annIvfServeBatch(spark, ivf, cents, vecQueries(r), K)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect()
          .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
        longs(r, "ids").zip(vecQueries(r).select("embedding").as[Array[Float]].collect())
          .map { case (q, v) =>
            val exact = liveVecs.map { case (id, w) => id -> cosine(v, w) }
              .sortBy(p => (-p._2, p._1)).take(K).map(_._1).toSet
            (served.getOrElse(q, Set.empty[Long]) & exact).size.toDouble / K
          }
      }
      recall = if (hits.isEmpty) 0.0 else hits.sum / hits.size
      o.check("similarity.recall_at_10_floor", recall >= RecallFloor,
        s"recall@10 $recall < $RecallFloor")
    }
    Inputs.inParallel(() => ingest.check(st, o), () => bm25Check(), () => recallCheck())
    o.layers("similarity.recall_at_10") = recall
    Main.log("end checks done")
    o
  }

  /** One day of the curation pipeline over the day's doc_id-ordered
    * slice of the documents, from a fresh state; a traced run's
    * `pipeline.*` figures. */
  private def pipelineDay(spark: SparkSession, docs: DataFrame, day: Int, state: String,
                          t: Tracer, o: Outcome): Unit = {
    val lo = day.toLong * PipelineDocs
    Pipeline.initDailyState(spark, state)
    val slice = docs.filter(col("doc_id") >= lo && col("doc_id") < lo + PipelineDocs)
    val rep = t.span("pipeline.day_step", "pipeline") {
      Pipeline.curateAndPackDayStep(spark, slice, state, IngestJob.date(day))
    }
    t.drain()
    val s = t.named("pipeline.day_step").head
    o.layers("pipeline.day_step_ms") = s.ms
    o.layers("pipeline.jobs_per_day") = s.counters.jobs
    o.layers("pipeline.core_util") =
      s.counters.taskRunMs / (s.ms * spark.sparkContext.defaultParallelism)
    o.layers("pipeline.kept_ratio") = rep.afterQuality.toDouble / rep.input.max(1)
    o.check("pipeline.dq_violations", rep.dqViolations == 0, s"${rep.dqViolations} violations")
    Main.log(f"pipeline day: ${s.ms}%.0f ms, ${rep.input} docs in, ${rep.afterQuality} kept")
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  private def filesPerBucket(dir: String): Double = {
    val buckets = new java.io.File(dir).listFiles().filter(_.getName.startsWith("bucket="))
    val files = buckets.map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    files.toDouble / buckets.length.max(1)
  }
}
