package graft

import graft.operators.Relational

/** Plan-shape assertions: the properties that matter at 100 TB must
  * be visible in the physical plan, not assumed — filter/column
  * pushdown into the parquet scan, broadcast of dimension tables,
  * whole-stage codegen on the hot paths. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q2 pushes filters and prunes columns at the scan") {
    val plan = planOf("q2_revenue_filter")
    assert(plan.contains("PushedFilters: ["), "no pushed filters section")
    assert(plan.contains("l_discount"), "filter on l_discount not pushed")
    // projection pruning: the scan must not read unused money columns
    assert(!plan.contains("l_tax"), "scan reads l_tax which q2 never uses")
    assert(!plan.contains("l_returnflag"), "scan reads l_returnflag which q2 never uses")
  }

  test("q3 broadcasts the dimension tables") {
    val plan = planOf("q3_top_nations")
    assert(plan.contains("BroadcastHashJoin"), "dims not broadcast")
  }

  test("q1 aggregates map-side (partial) inside codegen stages") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    df.collect() // materialize THIS plan so AQE finalizes it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    // '*(n)' prefixes mark whole-stage-codegen'd stages in the final plan
    assert(plan.contains("*("), "no codegen stage markers in final plan")
    assert(plan.contains("partial_sum"), "no map-side partial aggregation")
  }

  test("dedup pair-generation joins never broadcast the corpus side") {
    for (q <- Seq("dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
                  "dedup_emb_lsh")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        s"$q pair join is not a shuffle join:\n${plan.take(600)}")
    }
  }

  test("decontaminate broadcasts the benchmark-sized eval index") {
    // the training-corpus shingle stream must join map-side — only
    // the eval index (benchmark-sized) may be broadcast
    val plan = planOf("decontaminate")
    assert(plan.contains("BroadcastHashJoin"), "eval index not broadcast")
  }

  test("q12's global window only ever sees the daily pre-aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = SparkEntry.queries("q12_moving_avg")(spark, sf)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "q12 lost its moving-average window")
    // the un-partitioned window is only scale-safe over the bounded
    // per-day aggregate; raw rows below it would serialize the job
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        "q12's global window input is not the daily pre-aggregate")
    }
  }

  test("no q1–q22 plan sums a per-row double→decimal cast (Util.sumDec instead)") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    def castSums(plan: LogicalPlan): Seq[Sum] =
      plan.collectWithSubqueries { case n => n.expressions.flatMap(_.collect {
        case s: Sum if s.child.exists {
          case c: Cast => c.child.dataType == DoubleType && c.dataType.isInstanceOf[DecimalType]
          case _ => false
        } => s
      }) }.flatten
    // the detector sees the BigDecimal recipe the kernel replaced
    val old = spark.range(3).select(col("id").cast("double").as("x"))
      .agg(sum(col("x").cast(DecimalType(18, 2))))
    assert(castSums(old.queryExecution.optimizedPlan).nonEmpty)
    // Exempt: q22's SQL text keeps CAST(SUM(CAST(.. AS DECIMAL(18,2))))
    // (SQL has no sumDec). RangeJoin's text of that shape is its DuckDB
    // oracle, never a Spark plan, and rangeJoinAgg itself uses sum2.
    val exempt = Set("q22_above_avg")
    val dashboard = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted
    assert(dashboard.size == 22)
    for (q <- dashboard if !exempt(q)) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      assert(castSums(plan).isEmpty, s"$q sums a per-row cast: ${castSums(plan).mkString(", ")}")
    }
  }

  test("q13 anti join pushes the date filter into the orders scan") {
    val plan = planOf("q13_anti_semi")
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("o_orderdate"), "date filter not at the scan")
  }

  test("no BM25 scoring plan carries a corpus scalar as a literal") {
    import graft.operators.Search
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("plan-scalars").toString
    Search.writeInvertedIndexBucketed(docs, dir, nBuckets = 64)
    val stats = spark.read.parquet(s"$dir/stats").head()
    val (n, st) = (stats.getLong(0), stats.getLong(1))
    // the scalars, and the products the scoring derives from them or
    // the optimizer folds a literal recipe into
    val scalars = Set(n, st, 2 * n + 2, 3 * st, 22 * st, 10 * st, 9 * n).map(_.toDouble)
    // a cast of a literal folds, so a scalar may survive as a double
    def flagged(df: DataFrame): Set[Double] =
      df.queryExecution.optimizedPlan.collectWithSubqueries { case p =>
        p.expressions.flatMap(_.collect {
          case Literal(v: Long, _) if scalars(v.toDouble) => v.toDouble
          case Literal(v: Double, _) if scalars(v) => v
        })
      }.flatten.toSet
    // the detector sees the literal recipe (the scalars inlined into
    // the idf and tf factors, over stand-in count columns)
    val (tf, dl) = (col("doc_id"), col("doc_id") + 1)
    val litRecipe = docs.select(
      (lit(2L * n + 2).cast("double") / (lit(2L) * tf + lit(1L)).cast("double")).as("idf"),
      ((lit(22L) * tf * lit(st)).cast("double") /
        (lit(10L) * tf * lit(st) + lit(3L * st) + lit(9L) * dl * lit(n)).cast("double")).as("w"))
    assert(Set(2 * n + 2, 3 * st).map(_.toDouble).subsetOf(flagged(litRecipe)),
      flagged(litRecipe))
    val served = Search.bm25ServeBatch(spark, dir,
      Search.BmQueries.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term"))
    assert(flagged(served).isEmpty, s"bm25ServeBatch inlines ${flagged(served)}")
    val gate = SparkEntry.queries("bm25_topk")(spark, sf)
    assert(flagged(gate).isEmpty, s"bm25_topk inlines ${flagged(gate)}")
  }
}
