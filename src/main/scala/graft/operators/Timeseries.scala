package graft.operators

import graft.{Tables, Util}
import graft.Util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Timeseries analytics over the append-only event stream — the
  * engine-side analogs of games_timeseries queries
  * (ref main.py:91-105; VISUALIZATION_PLAN.md phases 1-3).
  *
  * All windows partition by an entity key (user_id) or operate on a
  * pre-aggregated-by-day frame, so no unbounded global window state
  * exists at 100 TB.
  */
object Timeseries {

  /** q6: daily pipeline-health counts (VIZ plan §3.1 "数据心电图"). */
  def q6DailyHealth(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"),
           sum2(col("value")).as("sum_value"))
      .orderBy(col("day"))

  /** funnel_steps: ordered conversion funnel click → view → purchase
    * per user — each stage's first completion must be strictly after
    * the previous stage's (the classic product-analytics funnel).
    * Three conditional min-aggregates, each a further aggregate of
    * the SAME user_id-clustered shuffle (the first groupBy's
    * partitioning is reused — no extra exchange per stage); stage
    * counts fall out of the null pattern. */
  def funnelSteps(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "click", col("ts"))).as("t_click"))
    val s2 = ev.join(s1, "user_id")
      .groupBy(col("user_id"), col("t_click"))
      .agg(min(when(col("event_type") === "view" && col("ts") > col("t_click"),
        col("ts"))).as("t_view"))
    val s3 = ev.join(s2, "user_id")
      .groupBy(col("user_id"), col("t_click"), col("t_view"))
      .agg(min(when(col("event_type") === "purchase" && col("ts") > col("t_view"),
        col("ts"))).as("t_purchase"))
    s3.withColumn("stages_completed",
        when(col("t_click").isNull, 0)
          .when(col("t_view").isNull, 1)
          .when(col("t_purchase").isNull, 2)
          .otherwise(3).cast("int"))
      .orderBy(col("user_id"))
  }

  /** retention_cohorts: weekly cohort retention — users grouped by
    * first-seen week, counted distinct per week offset (the matrix
    * behind every retention dashboard). Cohort assignment is one
    * min-aggregate; offsets are integer day-diffs / 7 (identical
    * truncation both engines, offsets ≥ 0); the (cohort, offset)
    * count is map-side combinable. At 100 TB the cohort frame is
    * user-dimension-sized — broadcast-joined back onto the stream. */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    ev.join(broadcast(cohort), "user_id")
      .withColumn("week_offset",
        // explicit floor: DuckDB CAST(double AS INT) rounds-to-nearest
        // while Spark truncates — floor() agrees on both
        floor(datediff(to_date(col("ts")), to_date(col("cohort_week"))) / 7)
          .cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** events_anomaly: per-user z-score outliers — mean/std from the
    * exact-decimal sum recipe (S1 on the 2-dp grid, S2 on the 4-dp
    * grid → both sums exact, variance/std/z derived by identical
    * IEEE expression trees cross-engine; the q8 corr recipe's
    * moment form). Stats are user-dimension-sized and broadcast back
    * onto the stream; the z filter compares the ROUNDED z so the
    * boundary is engine-safe. variance>0 guards the constant-series
    * NaN channel identically on both engines. */
  /** Per-user (mean, std) from exact-decimal moments — the model half
    * of [[eventsAnomaly]], exposed so a STREAMING moment state
    * ([[graft.streaming.EventStream.streamingAnomalyStats]]) can feed
    * the same read-out (parity spec'd on identical flags). */
  def anomalyStats(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum2(col("value")).as("s1"),
        sum4(col("value") * col("value")).as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance",
        col("s2") / col("n") - col("mean") * col("mean"))
      .filter(col("variance") > 0)
      .withColumn("std", sqrt(col("variance")))
      .select(col("user_id"), col("mean"), col("std"))

  /** The scoring half: flag |z| > 3 events against a per-user stats
    * frame (broadcast — user-dim-sized). */
  def anomalyFlag(ev: DataFrame, stats: DataFrame): DataFrame =
    ev.join(broadcast(stats), "user_id")
      .withColumn("z", round((col("value") - col("mean")) / col("std"), 6))
      .filter(abs(col("z")) > 3)
      .select(col("user_id"), col("event_id"),
        dbl(dec2(col("value"))).as("value"), col("z"))
      .orderBy(col("user_id"), col("event_id"))

  def eventsAnomaly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"))
    anomalyFlag(ev, anomalyStats(ev))
  }

  /** ewma_trend: per-user exponentially-weighted moving average of
    * value (α=0.2), final state per user — the decayed-trend analog
    * of q12's windowed MA. The sequential recurrence is re-expressed
    * as its closed form Σ w_i·x_i (w_1=(1-α)^(n-1), w_i=α(1-α)^(n-i))
    * so it's one window pass + one aggregate instead of a per-row
    * loop; each term is snapped to the 1e-9 grid and summed in exact
    * decimal (the ngram_lm transcendental recipe — pow() is the only
    * libm call and its output is grid-snapped before any
    * accumulation). Weights underflow to a clean 0 at the grid for
    * old rows, so unbounded history costs nothing. */
  def ewmaTrend(s: SparkSession, d: String, alpha: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val w = when(col("rn") === 1, pow(lit(1.0 - alpha), col("n") - 1))
      .otherwise(lit(alpha) * pow(lit(1.0 - alpha), col("n") - col("rn")))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("rn", row_number().over(byUser))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .withColumn("term", round(w * col("value"), 9).cast(DecimalType(22, 9)))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        round(dbl(sum(col("term"))), 6).as("ewma"))
      .orderBy(col("user_id"))
  }

  /** q11: gap-based sessionization via lag + cumulative flag sum —
    * the batch form (streaming form: graft.streaming.EventStream). */
  def q11Sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(s, d)
      .withColumn("prev_s", lag(col("ts").cast("long"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_s").isNull || col("ts").cast("long") - col("prev_s") > 1800, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    sessions.groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
           count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** q12: 7-day moving average of daily revenue — trend analysis
    * (VIZ plan §3.3). Exact decimal window sums → double at the end.
    *
    * INVARIANT (PlanSpec-guarded): the un-partitioned window is safe
    * ONLY because its input is the per-day pre-aggregate — bounded by
    * the calendar, not by data volume. Never feed it raw order rows. */
  def q12MovingAvg(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sumDec(col("o_totalprice"), 2).as("rev_dec"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    daily
      .withColumn("ma7", dbl(sum(col("rev_dec")).over(w)) / count(lit(1)).over(w))
      .select(col("day"), dbl(col("rev_dec")).as("revenue"), col("ma7"))
      .orderBy(col("day"))
  }

  /** q15: latest-N quality sample (VIZ plan §3.1 "質量抽樣台";
    * ref /games endpoint main.py:514-523). */
  def q15LatestSample(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(100)
      .select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), dbl(dec2(col("value"))).as("value"))

  /** q20: exact value percentiles per event type — the distribution
    * sampling behind the "quality sampling" dashboards (VIZ plan
    * §3.1). Exact `percentile` (not approx) so the oracle can check
    * it; rounded to 6 dp to absorb interpolation-formula ulps. One
    * `percentile` over the three levels sorts each group's value
    * buffer once instead of three times. */
  def q20Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(value, array(0.5, 0.9, 0.99))").as("ps"))
      .select(col("event_type"), col("n"),
        round(col("ps")(0), 6).as("p50"),
        round(col("ps")(1), 6).as("p90"),
        round(col("ps")(2), 6).as("p99"))
      .orderBy(col("event_type"))

  /** q21: daily event counts pivoted into one column per event type —
    * the wide health-dashboard table (VIZ plan §3.1). Pivot values
    * are pinned so the schema is static (no collect job) and the
    * oracle can enumerate the same columns. */
  def q21Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("day"))

  /** q18: tumbling-window aggregation — batch-equivalent of the
    * streaming job in graft.streaming.EventStream, so the DuckDB
    * oracle can check the same semantics. */
  def q18StreamTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum2(col("value")).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** regress_trend — per-event-type least-squares trend over daily
    * volumes: slope/intercept/r² of count-vs-day — the drift monitor
    * a pipeline runs over ingest volumes (is a source decaying?
    * accelerating?). All five moments (Σx, Σy, Σx², Σy², Σxy) are
    * EXACT integer aggregates of (day number, daily count); the
    * closed-form estimates are rationals of those moments, so both
    * engines perform the SAME single IEEE divisions: slope = N/D with
    * N = nΣxy−ΣxΣy, D = nΣx²−(Σx)² (both < 2^53 — one division);
    * intercept and r² need N·Σx-scale products (~1e19+, past int64),
    * so those two ratios compute their numerator/denominator in
    * EXACT DECIMAL(18,0) products first and cast once to double.
    * One groupBy per event type — a handful of groups, map-side
    * partial aggregation, nothing global. */
  def regressTrend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(18, 0))
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date"))
        .cast("long"))
    val m = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val nN = m("n") * m("sxy") - m("sx") * m("sy")   // fits int64
    val dD = m("n") * m("sxx") - m("sx") * m("sx")   // fits int64
    val dy = m("n") * m("syy") - m("sy") * m("sy")   // fits int64
    m.select(col("event_type"), col("n").as("n_days"),
        round(nN.cast("double") / dD.cast("double"), 6).as("slope"),
        round((dec(m("sy")) * dec(dD) - dec(nN) * dec(m("sx"))).cast("double") /
          (m("n") * dD).cast("double"), 6).as("intercept"),
        round((dec(nN) * dec(nN)).cast("double") /
          (dec(dD) * dec(dy)).cast("double"), 6).as("r2"))
      .orderBy(col("event_type"))
  }

  /** feature_lags — supervised feature engineering over the event
    * stream: per (user, day) activity with CALENDAR-aligned lag and
    * rolling features plus the next-day target — the standard
    * forecasting/training-matrix op. Days are sparse, so row-based
    * lag() would read "previous active day", not "yesterday"; every
    * feature therefore uses RANGE frames over the integer day number
    * (absent days contribute 0 via coalesce), and the label is the
    * 1-FOLLOWING range sum — rows without a next-day label are
    * dropped (no nullable columns, no dtype drift). Rolling mean
    * divides the exact integer sum by the constant window length
    * (one IEEE division). Scale: one groupBy + one window, both
    * partitioned by user_id — millions of small partitions, no skew,
    * no global sort. */
  def featureLags(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("day_n", datediff(col("day"), lit("1970-01-01").cast("date")))
    def rangeSum(lo: Int, hi: Int): org.apache.spark.sql.Column =
      coalesce(sum(col("n_events")).over(
        Window.partitionBy(col("user_id")).orderBy(col("day_n"))
          .rangeBetween(lo, hi)), lit(0L))
    val roll7 = Window.partitionBy(col("user_id")).orderBy(col("day_n"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("lag1", rangeSum(-1, -1))
      .withColumn("lag7", rangeSum(-7, -7))
      .withColumn("roll7_sum", sum(col("n_events")).over(roll7))
      .withColumn("roll7_days", count(lit(1)).over(roll7))
      .withColumn("roll7_mean", col("roll7_sum").cast("double") / lit(7.0))
      .withColumn("next_n", sum(col("n_events")).over(
        Window.partitionBy(col("user_id")).orderBy(col("day_n"))
          .rangeBetween(1, 1)))
      .filter(col("next_n").isNotNull)
      .select(col("user_id"), col("day"), col("n_events"), col("lag1"),
        col("lag7"), col("roll7_sum"), col("roll7_days"),
        col("roll7_mean"), col("next_n"))
      .orderBy(col("user_id"), col("day"))
  }

  /** events_gap_fill: calendar densification + forward fill — the
    * timeseries repair step every daily-metric consumer needs (a
    * model-feature join against sparse days silently drops rows;
    * [[featureLags]] works around sparsity with RANGE frames, this
    * operator REMOVES it). Per user: a day spine from first to last
    * active day (explode(sequence) — bounded by the calendar span),
    * left-joined daily exact-decimal totals, missing days carry the
    * last observed value forward (`last(ignoreNulls)` over a running
    * row frame) and are flagged. One shuffle for the daily agg, one
    * co-keyed join, one per-user window — no global state. The
    * fill runs on the DECIMAL total and casts once at the end, so
    * filled rows are bit-identical to their source row's double. */
  def eventsGapFill(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sumDec(col("value"), 2).as("tot"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("total", dbl(last(col("tot"), ignoreNulls = true).over(w)))
      .withColumn("is_gap", col("tot").isNull)
      .select(col("user_id"), col("day"), col("total"), col("is_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  val eventsGapFillOracle: String = """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        SUM(CAST(value AS DECIMAL(18,2))) AS tot
      FROM events GROUP BY 1, 2),
    spine AS (
      SELECT user_id,
        CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))
          AS DATE) AS day
      FROM daily GROUP BY user_id),
    j AS (
      SELECT s.user_id, s.day, d.tot
      FROM spine s LEFT JOIN daily d
        ON d.user_id = s.user_id AND d.day = s.day)
    SELECT user_id, day,
      CAST(last_value(tot IGNORE NULLS) OVER (PARTITION BY user_id
        ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS total,
      tot IS NULL AS is_gap
    FROM j ORDER BY user_id, day"""

  /** Holt-Winters additive seasonal forecasting over daily event
    * counts per event_type — the reference's phase-3 "seasonal trend
    * forecasting" aspiration (VISUALIZATION_PLAN.md:71). Period m=7
    * (weekly), α=1/5, β=1/10, γ=1/5; the whole recurrence runs on
    * EXACT 1e-6-unit BIGINTs with rational weights via floor
    * division (Math.floorDiv == the `(a - pmod(a,d)) div d` form in
    * both engines — operands go negative through the trend, so plain
    * truncating div would diverge; the pagerank integer-mass recipe
    * extended to signed state). Init: level = floor-avg of the first
    * season, trend = floor((Σ season2 − Σ season1)/m²), seasonals =
    * first-season residuals; rows r=1..14 seed the state, fitted
    * (one-step-ahead l+b+s BEFORE the update) is emitted for r≥8,
    * and `horizon` forecast rows l+h·b+s follow with y=0 sentinel
    * (never NULL — the driver hash and pandas dtype both wobble on
    * nullable ints). Season slot = (r−1) mod 7 on the PER-SERIES row
    * rank, so alignment is internal and gap-proof.
    *
    * Scale shape: the recurrence is sequential per series but its
    * input is the per-day PRE-AGGREGATE (the q12 invariant — bounded
    * by the calendar, not data volume): one typed flatMapGroups
    * buffers ≤ a few years of daily points per key. e6 units keep
    * 4·(l+b) under 2^63 up to ~10^11 events/day/series. Series with
    * fewer than 2m observations are skipped (no state to seed). */
  def holtWinters(s: SparkSession, d: String, horizon: Int = 7): DataFrame =
    holtWintersOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      horizon)

  /** Forecast-residual anomaly monitor over the [[holtWinters]] fit
    * — the "is today off-trend?" readout a forecasting dashboard
    * gates on: per observed day, residual = y − fitted (exact e6
    * BIGINTs), flagged when |residual| exceeds `k` × the series'
    * mean absolute residual (an integer-algebra robust scale: one
    * floor division per series — no float accumulation anywhere, so
    * the flag boundary is exact cross-engine). The seasonal model
    * absorbs weekly structure, so the flag fires on genuinely
    * off-pattern days, not on seasonality. */
  def forecastAnomaly(s: SparkSession, d: String, k: Int = 3): DataFrame =
    forecastAnomalyOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      k)

  /** The [[forecastAnomaly]] core on an explicit daily frame — split
    * out so specs can plant off-trend days. */
  def forecastAnomalyOn(daily: DataFrame, k: Int = 3): DataFrame = {
    // horizon = 0: no forecast sentinel rows exist, so no filter is
    // needed to strip them — a filter on y > 0 would also silently
    // drop a GENUINE zero-valued observed day (a total outage is
    // exactly what this monitor must flag) from both the flag set
    // and the residual scale
    val fit = holtWintersOn(daily, horizon = 0)
      .withColumn("resid_e6", col("y") * lit(1000000L) - col("fitted_e6"))
    // |resid| sums are non-negative, so truncating div == floor div
    // in both engines (the pagerank rule); `div` keeps the whole
    // chain in BIGINT — no double division anywhere
    val mar = fit.groupBy(col("event_type"))
      .agg(sum(abs(col("resid_e6"))).as("sar"), count(lit(1)).as("cnt"))
      .select(col("event_type"), expr("sar div cnt").as("mar_e6"))
    fit.join(mar, "event_type")
      .select(col("event_type"), col("r"), col("y"), col("fitted_e6"),
        col("resid_e6"), col("mar_e6"),
        (abs(col("resid_e6")) > lit(k) * col("mar_e6")).as("is_anomaly"))
      .orderBy(col("event_type"), col("r"))
  }

  /** The [[holtWinters]] core on an explicit (event_type, day, y)
    * daily frame — split out so specs can feed crafted series.
    * `damped` switches the recurrence to the Gardner damped-trend
    * form (see [[hwStepDamped]]). */
  def holtWintersOn(daily: DataFrame, horizon: Int = 7,
                    damped: Boolean = false): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    daily
      .select(col("event_type"), col("day"), col("y").cast("long"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val ys = it.toArray.sortBy(_._2.getTime).map(_._3)
        val n = ys.length
        if (n < 14) Iterator.empty
        else {
          val yE6 = ys.map(_ * 1000000L)
          var st = hwSeed(yE6)
          val out = Array.newBuilder[(String, Long, Long, Long)]
          var r = 8
          while (r <= n) {
            val (fitted, next) =
              if (damped) hwStepDamped(st, r, yE6(r - 1))
              else hwStep(st, r, yE6(r - 1))
            out += ((et, r.toLong, ys(r - 1), fitted))
            st = next
            r += 1
          }
          var h = 1
          while (h <= horizon) {
            out += ((et, (n + h).toLong, 0L,
              if (damped) hwForecastDamped(st, n, h) else hwForecast(st, n, h)))
            h += 1
          }
          out.result().iterator
        }
      }
      .toDF("event_type", "r", "y", "fitted_e6")
      .orderBy(col("event_type"), col("r"))
  }

  /** DAMPED-trend Holt-Winters (Gardner & McKenzie) — the standard
    * robustness answer when a fitted trend must not be extrapolated
    * linearly forever (a growth spurt in the last season would
    * otherwise forecast unbounded growth): the trend is multiplied
    * by φ = 9/10 at every use, so the h-step forecast adds
    * Σ_{k≤h} φ^k·b — a geometric approach to l + 9b instead of an
    * unbounded line. Same exact-integer machinery as [[holtWinters]]
    * (φ·b = one more signed floor division; the seed and γ update
    * are shared), fifth readout of the family. */
  def holtWintersDamped(s: SparkSession, d: String,
                        horizon: Int = 7): DataFrame =
    holtWintersOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      horizon, damped = true)

  /** Forecast BACKTEST: hold the last `holdout` days of each series
    * out of training, forecast them from the truncated state, and
    * score absolute error per horizon — the "would I have trusted
    * this forecaster last week" readout that gates shipping one.
    * Per-(series, h) detail plus the per-horizon MAE (exact integer
    * floor division over non-negative sums) in one frame; everything
    * BIGINT end to end. Series shorter than 2m + holdout are
    * skipped (no seedable train prefix). */
  def forecastEval(s: SparkSession, d: String, holdout: Int = 7,
                   damped: Boolean = false): DataFrame =
    forecastEvalOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      holdout, damped)

  /** The [[forecastEval]] core on an explicit daily frame. */
  def forecastEvalOn(daily: DataFrame, holdout: Int = 7,
                     damped: Boolean = false): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val detail = daily
      .select(col("event_type"), col("day"), col("y").cast("long"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val ys = it.toArray.sortBy(_._2.getTime).map(_._3)
        val n = ys.length - holdout
        if (n < 14) Iterator.empty
        else {
          val yE6 = ys.map(_ * 1000000L)
          var st = hwSeed(yE6)
          var r = 8
          while (r <= n) {
            st = (if (damped) hwStepDamped(st, r, yE6(r - 1))
                  else hwStep(st, r, yE6(r - 1)))._2
            r += 1
          }
          (1 to holdout).iterator.map { h =>
            val fc = if (damped) hwForecastDamped(st, n, h)
                     else hwForecast(st, n, h)
            (et, h.toLong, ys(n + h - 1), fc, math.abs(yE6(n + h - 1) - fc))
          }
        }
      }
      .toDF("event_type", "h", "y", "forecast_e6", "ae")
    val mae = detail.groupBy(col("h"))
      .agg(sum(col("ae")).as("sae"), count(lit(1)).as("cnt"))
      .select(col("h"), expr("sae div cnt").as("mae_e6"))
    detail.join(mae, "h")
      .select(col("event_type"), col("h"), col("y"), col("forecast_e6"),
        col("ae").as("ae_e6"), col("mae_e6"))
      .orderBy(col("event_type"), col("h"))
  }

  /** STL-style decomposition readout over the HW fit — the
    * level/trend/seasonal split a trend dashboard plots (the
    * reference's VIZ plan §3.3 trend analysis, upgraded from the
    * moving average): per observed day r ≥ 8, the POST-update state
    * (level_e6, trend_e6) and the day's post-update seasonal slot.
    * Same exact-integer recurrence, third readout. */
  def forecastDecompose(s: SparkSession, d: String): DataFrame =
    forecastDecomposeOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")))

  /** The [[forecastDecompose]] core on an explicit daily frame. */
  def forecastDecomposeOn(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    daily
      .select(col("event_type"), col("day"), col("y").cast("long"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val ys = it.toArray.sortBy(_._2.getTime).map(_._3)
        val n = ys.length
        if (n < 14) Iterator.empty
        else {
          val yE6 = ys.map(_ * 1000000L)
          var st = hwSeed(yE6)
          val out = Array.newBuilder[(String, Long, Long, Long, Long, Long)]
          var r = 8
          while (r <= n) {
            st = hwStep(st, r, yE6(r - 1))._2
            out += ((et, r.toLong, ys(r - 1), st.l, st.b, st.sea((r - 1) % 7)))
            r += 1
          }
          out.result().iterator
        }
      }
      .toDF("event_type", "r", "y", "level_e6", "trend_e6", "seasonal_e6")
      .orderBy(col("event_type"), col("r"))
  }

  /** Prediction INTERVALS over the [[holtWinters]] forecasts — the
    * uncertainty bands a forecast dashboard shades: each h-step
    * forecast carries ± the series' q-th percentile of historical
    * absolute residuals (the empirical-residual interval — the
    * standard model-free band when residuals aren't assumed
    * Gaussian). The band is an exact ELEMENT of the residual set,
    * never an interpolated quantile (the ccnet tertile discipline:
    * engines disagree on interpolation, they cannot disagree on the
    * k-th element of a deterministic sort): rank ceil(q·n/100) =
    * (q·n + 99) div 100 over (|resid|, r) per series. Everything
    * BIGINT e6 end to end.
    *
    * Scale shape: residual ranking is a PER-SERIES window (calendar-
    * bounded partitions — never a global sort); the band joins the
    * horizon rows on the series key. */
  def forecastIntervals(s: SparkSession, d: String, qPct: Int = 95,
                        horizon: Int = 7): DataFrame =
    forecastIntervalsOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      qPct, horizon)

  /** The [[forecastIntervals]] core on an explicit daily frame. ONE
    * recurrence pass backs both readouts: the horizon-run fit rows
    * with r ≤ n_obs ARE the horizon-0 fit (the forecast rows are
    * appended after the same state walk), so the residual band and
    * the forecast rows both derive from a single eagerly-checkpointed
    * holtWintersOn — the frame feeds two plan branches, and lineage
    * would re-run the sequential per-series flatMapGroups (and the
    * events scan above it) once per branch. */
  def forecastIntervalsOn(daily: DataFrame, qPct: Int = 95,
                          horizon: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // observed-day counts identify forecast rows by RANK (never the
    // y=0 sentinel: a genuine zero-valued observed day must not be
    // mistaken for a forecast row)
    val n = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_obs"))
    val all = holtWintersOn(daily, horizon)
      .join(n, "event_type")
      .localCheckpoint()
    val fit = all.filter(col("r") <= col("n_obs"))
      .withColumn("aresid",
        abs(col("y") * lit(1000000L) - col("fitted_e6")))
    val bySeries = Window.partitionBy(col("event_type"))
    val w = bySeries.orderBy(col("aresid"), col("r"))
    val band = fit
      .withColumn("rn", row_number().over(w))
      .withColumn("nr", count(lit(1)).over(bySeries))
      .filter(col("rn") === expr(s"($qPct * nr + 99) div 100"))
      .select(col("event_type"), col("aresid").as("band_e6"))
    all.filter(col("r") > col("n_obs"))
      .join(band, "event_type")
      .select(col("event_type"), col("r"), col("fitted_e6"),
        (col("fitted_e6") - col("band_e6")).as("lo_e6"),
        (col("fitted_e6") + col("band_e6")).as("hi_e6"))
      .orderBy(col("event_type"), col("r"))
  }

  /** Interval BACKTEST — "are my 95% bands honest?": train on each
    * series minus a `holdout`-day tail (the forecast_eval carve),
    * derive the residual band from the TRAIN fit only, forecast the
    * held-out days, and report whether each held-out actual landed
    * inside [lo, hi]. The per-horizon coverage a gate reads before
    * trusting the shaded dashboard. Same exact-element band, same
    * shared recurrence — everything BIGINT/boolean. */
  def forecastIntervalsEval(s: SparkSession, d: String, qPct: Int = 95,
                            holdout: Int = 7): DataFrame =
    forecastIntervalsEvalOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      qPct, holdout)

  /** The [[forecastIntervalsEval]] core on an explicit daily frame. */
  def forecastIntervalsEvalOn(daily: DataFrame, qPct: Int = 95,
                              holdout: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySeries = Window.partitionBy(col("event_type"))
    val ranked = daily
      .withColumn("rr", row_number().over(bySeries.orderBy(col("day"))))
      .withColumn("n_all", count(lit(1)).over(bySeries))
    val train = ranked.filter(col("rr") <= col("n_all") - holdout)
      .select(col("event_type"), col("day"), col("y"))
    // ONE recurrence pass (the forecastIntervalsOn share): the
    // holdout-horizon run's rows with r ≤ n_tr ARE the train fit —
    // checkpoint once, derive the TRAIN-only residual band and the
    // held-out forecasts from the same frame
    val nTrain = train.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_tr"))
    val all = holtWintersOn(train, holdout)
      .join(nTrain, "event_type")
      .localCheckpoint()
    val fit = all.filter(col("r") <= col("n_tr"))
      .withColumn("aresid",
        abs(col("y") * lit(1000000L) - col("fitted_e6")))
    val band = fit
      .withColumn("rn", row_number().over(
        bySeries.orderBy(col("aresid"), col("r"))))
      .withColumn("nr", count(lit(1)).over(bySeries))
      .filter(col("rn") === expr(s"($qPct * nr + 99) div 100"))
      .select(col("event_type"), col("aresid").as("band_e6"))
    val fc = all.filter(col("r") > col("n_tr"))
      .select(col("event_type"), col("r"), col("fitted_e6"), col("n_tr"))
    val actuals = ranked.select(col("event_type"), col("rr").as("r"),
      col("y").cast("long").as("y_act"))
    fc.join(band, "event_type")
      .join(actuals, Seq("event_type", "r"))
      .select(col("event_type"), (col("r") - col("n_tr")).as("h"),
        col("y_act").as("y"), col("fitted_e6"),
        (col("fitted_e6") - col("band_e6")).as("lo_e6"),
        (col("fitted_e6") + col("band_e6")).as("hi_e6"),
        (col("y_act") * lit(1000000L))
          .between(col("fitted_e6") - col("band_e6"),
            col("fitted_e6") + col("band_e6")).as("covered"))
      .orderBy(col("event_type"), col("h"))
  }

  /** Holt-Winters state: level and trend in e6 units plus the 7
    * seasonal residuals — the whole recurrence is these 9 BIGINTs. */
  case class HwState(l: Long, b: Long, sea: Seq[Long])

  /** Seed from the first TWO SEASONS (e6-unit values): level =
    * floor-avg of season 1, trend = floor((Σs2 − Σs1)/m²),
    * seasonals = season-1 residuals. Rows 8..14 are also stepped
    * through by the recurrence — seeding consumes them only for the
    * trend init. */
  private[graft] def hwSeed(yE6: IndexedSeq[Long]): HwState = {
    val sum1 = yE6.take(7).sum
    val sum2 = yE6.slice(7, 14).sum
    val l = Math.floorDiv(sum1, 7L)
    HwState(l, Math.floorDiv(sum2 - sum1, 49L),
      (0 until 7).map(i => yE6(i) - l))
  }

  /** One recurrence step at row rank r with observation yy (e6
    * units): returns (one-step-ahead fitted BEFORE the update, the
    * updated state). α=1/5, β=1/10, γ=1/5 as exact floor divisions. */
  private[graft] def hwStep(st: HwState, r: Int, yy: Long): (Long, HwState) = {
    val idx = (r - 1) % 7
    val sold = st.sea(idx)
    val fitted = st.l + st.b + sold
    val lnew = Math.floorDiv((yy - sold) + 4L * (st.l + st.b), 5L)
    val bnew = Math.floorDiv((lnew - st.l) + 9L * st.b, 10L)
    (fitted, HwState(lnew, bnew,
      st.sea.updated(idx, Math.floorDiv((yy - lnew) + 4L * sold, 5L))))
  }

  /** h-step-ahead forecast from the state after n observed rows. */
  private[graft] def hwForecast(st: HwState, n: Int, h: Int): Long =
    st.l + h * st.b + st.sea((n + h - 1) % 7)

  /** One DAMPED recurrence step (φ = 9/10): every use of the trend —
    * in the fitted value, the level update, and the trend update —
    * goes through φ·b = floorDiv(9·b, 10) first (one extra signed
    * floor division; the γ seasonal update is unchanged). With φ < 1
    * the trend state decays geometrically unless observations keep
    * re-feeding it. */
  private[graft] def hwStepDamped(st: HwState, r: Int, yy: Long): (Long, HwState) = {
    val idx = (r - 1) % 7
    val sold = st.sea(idx)
    val phb = Math.floorDiv(9L * st.b, 10L)
    val fitted = st.l + phb + sold
    val lnew = Math.floorDiv((yy - sold) + 4L * (st.l + phb), 5L)
    val bnew = Math.floorDiv((lnew - st.l) + 9L * phb, 10L)
    (fitted, HwState(lnew, bnew,
      st.sea.updated(idx, Math.floorDiv((yy - lnew) + 4L * sold, 5L))))
  }

  /** Damped h-step forecast: l + Σ_{k=1..h} φ^k·b + seasonal, the
    * geometric damp iterated as exact floor divisions (db_{k+1} =
    * floorDiv(9·db_k, 10) starting from db_0 = b). */
  private[graft] def hwForecastDamped(st: HwState, n: Int, h: Int): Long = {
    var db = st.b
    var cum = 0L
    var k = 1
    while (k <= h) {
      db = Math.floorDiv(9L * db, 10L)
      cum += db
      k += 1
    }
    st.l + cum + st.sea((n + h - 1) % 7)
  }

  // ---- MULTIPLICATIVE seasonality (Holt-Winters "method 2") --------------

  /** Seed for the multiplicative form: level/trend as in [[hwSeed]],
    * but the seasonal state holds RATIOS in e6 units (1e6 = ×1.0):
    * s_i = floorDiv(y_i·1e12, l₀) — season-1 values relative to the
    * season-1 mean. A non-positive level (an all-zero first week)
    * degenerates every ratio to 1e6, making the recurrence fall back
    * to plain trend tracking instead of dividing by zero — the same
    * deterministic guard the step applies (replicated in the
    * oracle's CASE arms, so both engines degrade identically). */
  private[graft] def hwMulSeed(yE6: IndexedSeq[Long]): HwState = {
    val sum1 = yE6.take(7).sum
    val sum2 = yE6.slice(7, 14).sum
    val l = Math.floorDiv(sum1, 7L)
    HwState(l, Math.floorDiv(sum2 - sum1, 49L),
      (0 until 7).map(i =>
        if (l > 0) Math.floorDiv(yE6(i) * 1000000L, l) else 1000000L))
  }

  /** One multiplicative step (α=1/5, β=1/10, γ=1/5): the observation
    * is DESEASONALIZED by ratio division (dy = y·1e12 div s) where
    * the additive form subtracts, the fitted value and the seasonal
    * update are ratio multiplications/divisions, and every division
    * is an exact floor division of BIGINTs — the divisor is always
    * positive (guards: a non-positive stored ratio serves as 1e6, a
    * non-positive updated level keeps the old ratio), and the
    * variable-divisor divisions all have NON-NEGATIVE numerators, so
    * truncating `//` == floor in both engines (the pagerank rule).
    * Magnitude bound: y·s must stay under 2^63/1e6 ≈ 9.2e12 — at
    * ratio ~2 that is ~4×10^12 events/day/series, far past any real
    * daily aggregate. */
  private[graft] def hwMulStep(st: HwState, r: Int, yy: Long): (Long, HwState) = {
    val idx = (r - 1) % 7
    val sold = st.sea(idx)
    val sEff = if (sold > 0) sold else 1000000L
    val fitted = Math.floorDiv((st.l + st.b) * sEff, 1000000L)
    val dy = Math.floorDiv(yy * 1000000L, sEff)
    val lnew = Math.floorDiv(dy + 4L * (st.l + st.b), 5L)
    val bnew = Math.floorDiv((lnew - st.l) + 9L * st.b, 10L)
    val robs = if (lnew > 0) Math.floorDiv(yy * 1000000L, lnew) else sEff
    val snew = Math.floorDiv(robs + 4L * sEff, 5L)
    (fitted, HwState(lnew, bnew, st.sea.updated(idx, snew)))
  }

  /** Multiplicative h-step forecast: (l + h·b) × the stored seasonal
    * ratio of the target slot (guarded like the step). */
  private[graft] def hwMulForecast(st: HwState, n: Int, h: Int): Long = {
    val s0 = st.sea((n + h - 1) % 7)
    val sEff = if (s0 > 0) s0 else 1000000L
    Math.floorDiv((st.l + h * st.b) * sEff, 1000000L)
  }

  /** MULTIPLICATIVE-seasonality Holt-Winters — the other half of the
    * seasonal-model family: for series whose seasonal AMPLITUDE
    * scales with level (a weekend dip that is always −40% of
    * traffic, not −40k events), the additive form's fixed seasonal
    * offsets chase a moving target while ratios stay stationary.
    * Same exact-integer discipline as [[holtWinters]] — the seasonal
    * state is ratios in e6 units and every use is one guarded floor
    * division (see [[hwMulStep]]); eighth readout of the family,
    * oracle-gated via a recursive CTE replay of the same algebra. */
  def holtWintersMul(s: SparkSession, d: String, horizon: Int = 7): DataFrame =
    holtWintersMulOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      horizon)

  /** The [[holtWintersMul]] core on an explicit daily frame. */
  def holtWintersMulOn(daily: DataFrame, horizon: Int = 7): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    daily
      .select(col("event_type"), col("day"), col("y").cast("long"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val ys = it.toArray.sortBy(_._2.getTime).map(_._3)
        val n = ys.length
        if (n < 14) Iterator.empty
        else {
          val yE6 = ys.map(_ * 1000000L)
          var st = hwMulSeed(yE6)
          val out = Array.newBuilder[(String, Long, Long, Long)]
          var r = 8
          while (r <= n) {
            val (fitted, next) = hwMulStep(st, r, yE6(r - 1))
            out += ((et, r.toLong, ys(r - 1), fitted))
            st = next
            r += 1
          }
          var h = 1
          while (h <= horizon) {
            out += ((et, (n + h).toLong, 0L, hwMulForecast(st, n, h)))
            h += 1
          }
          out.result().iterator
        }
      }
      .toDF("event_type", "r", "y", "fitted_e6")
      .orderBy(col("event_type"), col("r"))
  }

  /** Holdout BACKTEST of the multiplicative form — the
    * [[forecastEval]] readout over the ratio recurrence, so fit mode
    * and backtest mode share one step function. */
  def forecastMulEval(s: SparkSession, d: String,
                      holdout: Int = 7): DataFrame =
    forecastMulEvalOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      holdout)

  /** MODEL SELECTION over the seasonal family — the capstone readout
    * a production forecaster ships on: backtest ALL THREE recurrence
    * modes (additive, damped, multiplicative) on the same
    * holdout carve and pick, per series, the mode with the smallest
    * total absolute holdout error (exact BIGINT sums — ties break by
    * the fixed precedence additive > damped > mul, i.e. prefer the
    * simpler model on equal evidence; the same CASE in both
    * engines). The per-mode errors ride along so the readout shows
    * HOW decisive the pick was, not just which. One daily
    * pre-aggregate feeds the three sequential recurrence passes
    * (eagerly checkpointed — the ≥3-branch rule). */
  def forecastModelSelect(s: SparkSession, d: String,
                          holdout: Int = 7): DataFrame =
    forecastModelSelectOn(
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y")),
      holdout)

  /** The [[forecastModelSelect]] core on an explicit daily frame. */
  def forecastModelSelectOn(daily: DataFrame, holdout: Int = 7): DataFrame = {
    val dd = daily.localCheckpoint() // feeds all three recurrences
    def sae(df: DataFrame, name: String) =
      df.groupBy(col("event_type")).agg(sum(col("ae_e6")).as(name))
    val add = sae(forecastEvalOn(dd, holdout), "sae_add_e6")
    val dmp = sae(forecastEvalOn(dd, holdout, damped = true),
      "sae_damped_e6")
    val mul = sae(forecastMulEvalOn(dd, holdout), "sae_mul_e6")
    add.join(dmp, "event_type").join(mul, "event_type")
      .select(col("event_type"), col("sae_add_e6"), col("sae_damped_e6"),
        col("sae_mul_e6"),
        when(col("sae_add_e6") <= col("sae_damped_e6") &&
             col("sae_add_e6") <= col("sae_mul_e6"), lit("additive"))
          .when(col("sae_damped_e6") <= col("sae_mul_e6"), lit("damped"))
          .otherwise(lit("mul")).as("best"))
      .orderBy(col("event_type"))
  }

  /** The [[forecastMulEval]] core on an explicit daily frame. */
  def forecastMulEvalOn(daily: DataFrame, holdout: Int = 7): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val detail = daily
      .select(col("event_type"), col("day"), col("y").cast("long"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val ys = it.toArray.sortBy(_._2.getTime).map(_._3)
        val n = ys.length - holdout
        if (n < 14) Iterator.empty
        else {
          val yE6 = ys.map(_ * 1000000L)
          var st = hwMulSeed(yE6)
          var r = 8
          while (r <= n) {
            st = hwMulStep(st, r, yE6(r - 1))._2
            r += 1
          }
          (1 to holdout).iterator.map { h =>
            val fc = hwMulForecast(st, n, h)
            (et, h.toLong, ys(n + h - 1), fc, math.abs(yE6(n + h - 1) - fc))
          }
        }
      }
      .toDF("event_type", "h", "y", "forecast_e6", "ae")
    val mae = detail.groupBy(col("h"))
      .agg(sum(col("ae")).as("sae"), count(lit(1)).as("cnt"))
      .select(col("h"), expr("sae div cnt").as("mae_e6"))
    detail.join(mae, "h")
      .select(col("event_type"), col("h"), col("y"), col("forecast_e6"),
        col("ae").as("ae_e6"), col("mae_e6"))
      .orderBy(col("event_type"), col("h"))
  }
}
