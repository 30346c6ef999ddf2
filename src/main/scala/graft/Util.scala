package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine determinism helpers.
  *
  * The driver hash-compares our parquet output against DuckDB running
  * the oracle SQL. Double-typed aggregates are NOT associativity-stable
  * across engines, so every money/metric aggregate follows one recipe:
  * cast the (2-decimal-valued) input to an exact decimal, aggregate in
  * decimal (exact), and cast the final scalar back to double (a single
  * deterministic conversion). Derived per-row products are computed in
  * double (IEEE-deterministic for identical operand trees) and snapped
  * to the decimal grid they mathematically live on (<= 4 or 6 dp), so
  * no rounding ambiguity can arise at .5 boundaries.
  *
  * The recipe runs on a 64-bit kernel, bit-identical to Spark's cast:
  * [[graft.functions.DoubleToUnscaled]] turns each double into the
  * unscaled `Long` of `cast(x AS DECIMAL(18, s))`. Its fast path is
  * y = x·10^s rounded to nearest, taken only when |y| < 2^52 and y sits
  * at least 4 ulp(y) away from a half-integer: the shortest decimal
  * Spark's cast reads (within 1 ulp of x) and y are then within
  * 2.5 ulp(y) of each other, so both round to the same integer. NaN,
  * ±Inf, overflow and near-ties fall back to Spark's `Cast`, so nulls
  * and ANSI errors are today's. A sum splits each unscaled value as
  * u = h·10^9 + l into two plain `long` sums (no BigDecimal buffer):
  * exact while a group holds at most ~10^10 rows, the headroom Spark's
  * own `DecimalAggregates` assumes. The read-out recombines them
  * exactly and casts to `DECIMAL(28, s)`, the type and overflow rule of
  * `sum(cast(x AS DECIMAL(18, s)))`.
  *
  * Use [[sumDec]] (or `sum2/4/6`), never `sum(dec2(x))`: the latter
  * puts a BigDecimal add back on every row.
  */
object Util {
  import graft.functions.{DoubleToUnscaled, UnscaledSum}
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  import org.apache.spark.sql.catalyst.expressions.{Expression, IntegralDivide, Literal, MakeDecimal, Remainder}

  private def unscaled(c: Column, s: Int): Expression = DoubleToUnscaled(expression(c), s)

  /** `cast(c AS DECIMAL(18, s))` of a double column, via the kernel. */
  private def dec(c: Column, s: Int): Column = column(MakeDecimal(unscaled(c, s), 18, s))
  def dec2(c: Column): Column = dec(c, 2)
  def dec4(c: Column): Column = dec(c, 4)
  def dec6(c: Column): Column = dec(c, 6)
  def dbl(c: Column): Column = c.cast(DoubleType)

  /** Exact `sum(cast(c AS DECIMAL(18, s)))` of a double column, as the
    * same `DECIMAL(28, s)` value (null for no non-null input). */
  def sumDec(c: Column, s: Int): Column = {
    val u = unscaled(c, s)
    val split = Literal(UnscaledSum.Split)
    val hi = sum(column(IntegralDivide(u, split)))
    val lo = sum(column(Remainder(u, split)))
    column(UnscaledSum(expression(hi), expression(lo), s)).cast(DecimalType(28, s))
  }

  /** Exact sum of a 2-dp double column, returned as double. */
  def sum2(c: Column): Column = dbl(sumDec(c, 2))
  /** Exact sum of a derived expr that lives on the 1e-4 grid. */
  def sum4(c: Column): Column = dbl(sumDec(c, 4))
  def sum6(c: Column): Column = dbl(sumDec(c, 6))
  /** avg as exact-sum / count — reproducible double division. */
  def avg2(c: Column): Column = sum2(c) / count(lit(1))

  /** The library's ONE e6 coordinate snap (exact 1e-6-unit BIGINTs
    * via floor(x·1e6 + 0.5) — the classify/kcenter/hard-negative
    * integer-cosine chain and the SQL `list_transform` oracles all
    * mirror this exact expression; change it here and nowhere else). */
  def snapE6(v: Array[Float]): Array[Long] = {
    val out = new Array[Long](v.length)
    var j = 0
    while (j < v.length) {
      out(j) = math.floor(v(j).toDouble * 1e6 + 0.5).toLong; j += 1 }
    out
  }

  /** Spread a frame across the session's cores ahead of a CPU-heavy
    * per-row stage (media decode, rolling-hash windowing, n-gram
    * explode, token packing). A parquet row group is indivisible, so a
    * small-file / single-row-group input serializes the whole
    * downstream stage onto one task regardless of cluster size; when
    * the planned split count is below `defaultParallelism`, a
    * round-robin repartition (KBs over the wire here, bounded by the
    * input's own size in general) buys back full parallelism. No-op —
    * no shuffle — when the input is already split at least that wide. */
  def fanOut[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < p) ds.repartition(p) else ds
  }

  /** Below this many rows a round-robin repartition costs more than
    * the single-task serialization it prevents for CHEAP per-row
    * stages (token counting) — the same dispatch constant family as
    * Dedup.SaltBypassRows. Heavy per-row stages (media decode,
    * rolling-hash windowing) skip the gate: there even a few hundred
    * rows are worth spreading. */
  val FanOutMinRows: Int = 10000

  /** [[fanOut]] gated by a BOUNDED input-size probe: fan out only when
    * the input holds at least `minRows` rows. The probe scans no data
    * columns and at most `minRows` rows (`limit(n).count()` — never a
    * full count), the repo's input-size-dispatch discipline. */
  def fanOutIfAtLeast[T](ds: org.apache.spark.sql.Dataset[T],
                         minRows: Int = FanOutMinRows)
      : org.apache.spark.sql.Dataset[T] =
    if (ds.toDF().select(lit(1).as("_one")).limit(minRows).count() < minRows) ds
    else fanOut(ds)
}
