package graft.operators

import graft.{Tables, Util}
import graft.Util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational core: the reference pipeline's batch aggregation, pool
  * building, upsert and enrichment-join semantics re-expressed as
  * declarative Spark plans (see SURVEY.md §2a; reference sites cited
  * per method).
  *
  * Scale notes: every query is a pure DataFrame plan — filters and
  * projections reach the parquet scan, dims are broadcast explicitly,
  * aggregations get map-side partial aggregation from Catalyst.
  */
object Relational {

  /** q1: TPC-H-Q1-style pricing summary — the batch "aggregate a day's
    * scraped timeseries" workload (ref main.py:432-482). */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum2(col("l_quantity")).as("sum_qty"),
        sum2(col("l_extendedprice")).as("sum_base_price"),
        sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        sum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        avg2(col("l_quantity")).as("avg_qty"),
        avg2(col("l_extendedprice")).as("avg_price"),
        avg2(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** q2: TPC-H-Q6-style filtered revenue — price math on a pruned,
    * filter-pushed scan (ref price parse main.py:356-364). */
  def q2RevenueFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum4(col("l_extendedprice") * col("l_discount")).as("revenue"),
           count(lit(1)).as("n_rows"))

  /** q3: revenue per nation — fact ⋈ broadcast dims (ref enrichment
    * joins main.py:322-374). nation/region are tiny at any SF →
    * broadcast; orders⋈customer shuffles on the key. */
  def q3TopNations(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = broadcast(Tables.nation(s, d))
    val r = broadcast(Tables.region(s, d))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum2(col("o_totalprice")).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q4: candidate-pool building — union of two ranked ID lists,
    * dedup, sort (ref main.py:406-421 `sorted(list(set(a+b)))`). */
  def q4CandidatePool(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val topSpenders = o.groupBy(col("o_custkey"))
      .agg(sumDec(col("o_totalprice"), 2).as("spend"))
      .orderBy(col("spend").desc, col("o_custkey"))
      .limit(50).select(col("o_custkey").as("custkey"))
    val mostActive = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
      .select(col("o_custkey").as("custkey"))
    topSpenders.union(mostActive).distinct().orderBy(col("custkey"))
  }

  /** q5: SCD-1 upsert / last-write-wins per key, as a window — the
    * Spark-side equivalent of `on_conflict_do_update`
    * (ref main.py:451-457). */
  def q5UpsertLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("last_ts"),
              col("event_type").as("last_type"),
              dbl(dec2(col("value"))).as("last_value"))
      .orderBy(col("user_id"))
  }

  /** q7: discount-ROI — uplift of discounted vs undiscounted cohorts
    * (VISUALIZATION_PLAN.md §3.2B "Discount ROI Analyzer"). */
  def q7DiscountRoi(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sum2(when(col("l_discount") >= 0.05, col("l_quantity"))).as("qty_disc"),
        count(when(col("l_discount") >= 0.05, lit(1))).as("n_disc"),
        sum2(when(col("l_discount") < 0.05, col("l_quantity"))).as("qty_full"),
        count(when(col("l_discount") < 0.05, lit(1))).as("n_full"))
      .withColumn("avg_disc_qty", col("qty_disc") / col("n_disc"))
      .withColumn("avg_full_qty", col("qty_full") / col("n_full"))
      .withColumn("uplift", col("avg_disc_qty") / col("avg_full_qty"))
      .select(col("l_returnflag"), col("n_disc"), col("n_full"),
              col("avg_disc_qty"), col("avg_full_qty"), col("uplift"))
      .orderBy(col("l_returnflag"))

  /** q8: price↔engagement correlation with JSON prop extraction
    * (VISUALIZATION_PLAN.md §3.1 hypothesis exploration). corr is
    * assembled from exact decimal sums so both engines evaluate the
    * identical IEEE expression tree. */
  def q8PriceCorr(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
    e.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum2(col("value")).as("sx"),
        dbl(sum(col("k"))).as("sy"),
        sum4(col("value") * col("value")).as("sxx"),
        dbl(sum(col("k") * col("k"))).as("syy"),
        sum2(col("value") * col("k")).as("sxy"))
      .withColumn("corr_vk",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
         sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
      .select(col("event_type"), col("n"), col("corr_vk"))
      .orderBy(col("event_type"))
  }

  /** q9: "Indie Gem Finder" — filter + custom potential score + rank
    * (VISUALIZATION_PLAN.md §3.2A). */
  def q9PotentialScore(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_size") <= 40)
      .withColumn("score",
        (lit(1000.0) - col("p_retailprice")) * lit(2.0) / (col("p_size") + lit(10.0)))
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("score"))
      .orderBy(col("score").desc, col("p_partkey"))
      .limit(20)

  /** q10: name normalization — strip symbols/whitespace, lowercase
    * (ref normalize_game_name main.py:318-320). */
  def q10NameNormalize(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .withColumn("norm_name",
        regexp_replace(
          regexp_replace(lower(trim(col("p_name"))), "[^a-z0-9 ]", ""),
          "\\s+", " "))
      .select(col("p_partkey"), col("p_name"), col("norm_name"))
      .orderBy(col("p_partkey"))

  /** q22: correlated scalar subquery — parts above their brand's
    * average price (Catalyst decorrelates to an aggregate+join; the
    * SQL front door is exercised deliberately, `spark.sql` being as
    * first-class as the DataFrame API). Exact-decimal average both
    * sides. */
  def q22AboveAvg(s: SparkSession, d: String): DataFrame = {
    // a per-call view: the session's temp views are shared by every
    // concurrent caller, and the analysed plan no longer needs it
    val view = s"part_v_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.part(s, d).createOrReplaceTempView(view)
    try s.sql(s"""
      SELECT p_partkey, p_brand, p_retailprice FROM $view p
      WHERE p_retailprice > (
        SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM $view p2 WHERE p2.p_brand = p.p_brand)
      ORDER BY p_partkey""")
    finally s.catalog.dropTempView(view)
  }

  /** q13: semi/anti join — entities lacking downstream data
    * ("apps that returned no timeseries", ref main.py:460-477). */
  def q13AntiSemi(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** q14: rollup cube over region/nation — the dashboard aggregate
    * (VISUALIZATION_PLAN.md §3.1). */
  def q14Rollup(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = broadcast(Tables.nation(s, d))
    val r = broadcast(Tables.region(s, d))
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sum2(col("c_acctbal")).as("acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("n_name"), lit("ALL")).as("nation"),
              col("n_cust"), col("acctbal"))
      .orderBy(col("region"), col("nation"))
  }

  /** q16: nested-JSON flatten — appdetails parsing (ref
    * main.py:296-313). Spark-first: a real `from_json` with schema,
    * not string hacking. */
  def q16JsonFlatten(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("j", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .select(col("event_id"), col("j.k").as("k_val"),
              (col("j.k") % 10).as("k_bucket"))
      .orderBy(col("event_id"))

  /** q17: metadata-similarity recommendations — "user selected a
    * game, recommend similar" (VISUALIZATION_PLAN.md §3.3 content
    * recommender). Anchor set is tiny → broadcast against the token
    * inverted index, so pair generation is linear in corpus size; the
    * all-pairs variant is intentionally NOT used (quadratic blowup on
    * low-cardinality token vocabularies — see dedup_* operators for
    * the LSH-banded all-pairs shape). */
  def q17Recommend(s: SparkSession, d: String): DataFrame = {
    val tokens = Tables.part(s, d)
      .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val anchors = broadcast(tokens.filter(col("p_partkey") <= 20))
    anchors.as("a")
      .join(tokens.as("b"),
        col("a.tok") === col("b.tok") && col("a.p_partkey") =!= col("b.p_partkey"))
      .groupBy(col("a.p_partkey").as("p1"), col("b.p_partkey").as("p2"))
      .agg(count(lit(1)).as("shared_tokens"))
      .filter(col("shared_tokens") >= 2)
      .orderBy(col("shared_tokens").desc, col("p1"), col("p2"))
      .limit(100)
  }

  /** Collaborative-filtering recommender — item-item co-occurrence
    * over the event stream's (user_id, item) interactions (the
    * reference's phase-3 "recommendation engine" aspiration,
    * VISUALIZATION_PLAN.md:70, grounded on events instead of
    * metadata-token overlap like q17). Item = the `props.k` id (the
    * q8 extraction), interactions = distinct (user, item) over the
    * engagement event types; similarity = co-occurrence cosine
    * c_ij / √(n_i·n_j) on EXACT BIGINT counts snapped to e6 units in
    * one fixed IEEE expression (the ANN cos_e6 recipe); top-k per
    * item by (cos_e6 desc, rec_item) — fully deterministic.
    *
    * Scale shape: pair generation is a shared-user EQUI-join (never
    * an item all-pairs product — the q17 anchoring precedent); its
    * cost is Σ_u d_u², the classic item-CF bound, and the aggregated
    * pair frame is bounded by the item catalog² co-occurrence
    * support, not by the corpus. Item counts are a catalog-sized dim
    * — broadcast. The top-k window partitions by item (catalog
    * cardinality), never a global sort. */
  def recommendCollab(s: SparkSession, d: String, k: Int = 10): DataFrame =
    Recommend.recommendTopK(Recommend.interactions(Tables.events(s, d)), k)
}
