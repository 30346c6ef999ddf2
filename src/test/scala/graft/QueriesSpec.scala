package graft

import org.apache.spark.sql.functions._

/** Every SparkEntry query runs at sf0.001, returns rows, and keeps
  * its oracle column names (the driver hash-compares by sorted column
  * name — a drifted alias breaks the gate before values are even
  * looked at). */
class QueriesSpec extends SparkSpec {

  test("every query has an oracle — data-dependent ones via oracleSqlFor") {
    // ann_ivf's oracle embeds its trained centroids and bpe_segment's
    // its trained merges as SQL literals, so they are emitted by
    // oracleSqlFor at Verify time rather than from the static map.
    // Net: the dumped oracle_sql.json covers EVERY query.
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("ann_ivf", "ann_ivf_sq8", "ann_pq", "ann_ivf_pq",
        "ann_ivf_prefix", "ann_ivf_filtered", "ann_ivf_white",
        "ann_graph_walk", "dedup_semantic",
        "select_prototypes", "knn_graph", "kmeans_report", "mine_bitext",
        "tokenizer_fertility", "tokenizer_coverage", "graph_pagerank",
        "emb_pca", "knn_hubness", "knn_components", "graph_profile",
        "graph_ppr", "graph_label_prop",
        "bpe_segment", "bpe_token_count",
        "unigram_segment", "unigram_token_count",
        "wordpiece_segment", "wordpiece_token_count"))
    assert(SparkEntry.queries.keySet --
      SparkEntry.oracleSqlFor(spark, sf).keySet == Set.empty[String])
  }

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("q1 groups by returnflag x linestatus") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Long]("count_order")).sum > 5000)
  }

  test("q5 upsert keeps exactly one row per user") {
    val df = SparkEntry.queries("q5_upsert_latest")(spark, sf)
    assert(df.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
  }

  test("q9 potential score is rank-ordered") {
    val scores = SparkEntry.queries("q9_potential_score")(spark, sf)
      .collect().map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("q22 on two tables at once: each call reads its own part table, no temp view is left") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors}
    val alt = java.nio.file.Files.createTempDirectory("q22-alt").toString
    Tables.part(spark, sf)
      .withColumn("p_retailprice", when(col("p_partkey") % 3 === 0, col("p_retailprice") * 3)
        .otherwise(col("p_retailprice")))
      .write.parquet(s"$alt/part.parquet")
    val q22 = SparkEntry.queries("q22_above_avg")
    val run = (d: String) => q22(spark, d).collect().map(_.toString).toSeq
    val want = Map(sf -> run(sf), alt -> run(alt))
    assert(want(sf) != want(alt), "the altered prices must change q22's answer")
    val pool = Executors.newFixedThreadPool(2)
    try for (_ <- 1 to 4) {
      val barrier = new CyclicBarrier(2)
      val runs = Seq(sf, alt).map(d => d -> pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = { barrier.await(); run(d) }
      }))
      runs.foreach { case (d, f) => assert(f.get() == want(d), s"q22 on $d read another call's table") }
    } finally pool.shutdown()
    val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(!views.exists(_.startsWith("part_v")), s"q22 left temp views: ${views.mkString(", ")}")
  }

  test("q20 reads its three percentiles off one buffer, as rounded doubles") {
    val df = SparkEntry.queries("q20_percentiles")(spark, sf)
    assert(df.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("event_type" -> "string", "n" -> "bigint", "p50" -> "double",
        "p90" -> "double", "p99" -> "double"))
    val percentiles = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.flatMap(_.collect {
          case p: org.apache.spark.sql.catalyst.expressions.aggregate.Percentile => p })
    }.flatten
    assert(percentiles.size == 1, s"expected one percentile aggregate, got ${percentiles.size}")
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
