package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Bucketed-table helpers: pre-shuffle fact tables by their join key
  * at write time so repeated joins/aggregations on that key run with
  * NO exchange — the single biggest shuffle saver for a fact table
  * that is joined on the same key by every query (at 100 TB, one
  * avoided shuffle is the whole game).
  */
object Bucketed {

  /** Run `write` with parquet timestamps as INT64 micros: Spark's
    * default (INT96, for ancient-reader compatibility) carries NO
    * column statistics, so a timestamp predicate can never skip a row
    * group — silently defeating any ts-axis clustering. The skipping
    * layouts below force TIMESTAMP_MICROS for their writes and
    * restore the session default after. */
  private def withMicrosTimestamps[A](df: DataFrame)(write: => A): A = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.parquet.outputTimestampType"
    val old = conf.get(key)
    conf.set(key, "TIMESTAMP_MICROS")
    try write finally conf.set(key, old)
  }

  /** Write `df` as a bucketed managed table (sorted within buckets,
    * so sort-merge joins also skip the sort). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Write a timeseries-shaped frame range-partitioned AND sorted by
    * (key, ts) — the Spark analog of the reference's composite
    * (app_id, timestamp) index (main.py:91-105), at the storage layer:
    * range partitioning clusters each key into few files, the
    * within-partition sort makes every parquet row group's (key, ts)
    * min/max statistics TIGHT, and a (key, time-range) probe with
    * pushed filters then skips whole row groups and pages at the
    * reader (parquet stats + column-index skipping) instead of
    * decoding the full table and filtering after. Proven in
    * ScaleTechniquesSpec by comparing the scan's numOutputRows against
    * the same data written unsorted: the sorted layout's scan emits a
    * small fraction of the rows for identical results. At 100 TB this
    * is the keyed-timeseries complement to [[writeDayPartitioned]]:
    * day directories prune the TIME axis at the partition level, the
    * range-sorted files prune the KEY axis inside each file.
    *
    * `rowGroupBytes` sizes parquet row groups (the skipping granule) —
    * the default 128 MB suits production; specs shrink it to get many
    * granules from small test data. */
  def writeRangeSorted(df: DataFrame, path: String, keyCol: String,
                       tsCol: String, numFiles: Int = 8,
                       rowGroupBytes: Long = 128L << 20): Unit = {
    import org.apache.spark.sql.functions.col
    withMicrosTimestamps(df) {
      df.repartitionByRange(numFiles, col(keyCol), col(tsCol))
        .sortWithinPartitions(keyCol, tsCol)
        .write.mode("overwrite")
        .option("parquet.block.size", rowGroupBytes)
        .parquet(path)
    }
  }

  /** Z-ORDER (Morton-interleave) layout: multi-dimensional data
    * skipping where [[writeRangeSorted]] is one-dimensional. Range
    * sorting by (key, ts) gives perfect row-group stats on the KEY
    * axis but none on a ts-only probe (every file spans all time);
    * interleaving the bits of both quantized columns clusters rows so
    * row groups are tight RECTANGLES in (key, ts) space — a probe on
    * EITHER axis (or both) skips most granules, at the price of
    * neither axis skipping as perfectly as its dedicated sort. This
    * is the lakehouse OPTIMIZE ZORDER technique expressed as plain
    * Spark: per-column [min,max] quantization to `bits` levels (one
    * tiny driver agg — the SQ8-grid pattern), a pure codegen'd
    * bit-interleave expression, repartitionByRange + sort on the
    * Morton value. Spec proves the both-axes skipping against the
    * range-sorted and unsorted layouts at equal row-group size. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    bits: Int = 12, numFiles: Int = 8,
                    rowGroupBytes: Long = 128L << 20): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // Timestamp axes (including TIMESTAMP_NTZ, which admits no numeric
    // cast at all) quantize on their micros value; everything else on a
    // plain double cast.
    def numeric(name: String): Column = df.schema(name).dataType match {
      case TimestampType | TimestampNTZType =>
        unix_micros(col(name).cast("timestamp")).cast("double")
      case _ => col(name).cast("double")
    }
    val (na, nb) = (numeric(colA), numeric(colB))
    val r = df.agg(
      min(na).as("mna"), max(na).as("mxa"),
      min(nb).as("mnb"), max(nb).as("mxb")).collect().head
    if (r.isNullAt(0)) { // empty input: nothing to cluster, write as-is
      withMicrosTimestamps(df) {
        df.write.mode("overwrite")
          .option("parquet.block.size", rowGroupBytes).parquet(path)
      }
      return
    }
    val (mna, mxa) = (r.getAs[Double]("mna"), r.getAs[Double]("mxa"))
    val (mnb, mxb) = (r.getAs[Double]("mnb"), r.getAs[Double]("mxb"))
    def quant(c: Column, mn: Double, mx: Double): Column =
      if (mx > mn)
        floor((c - mn) * (((1 << bits) - 1).toDouble / (mx - mn)))
          .cast("long")
      else lit(0L)
    val qa = quant(na, mna, mxa)
    val qb = quant(nb, mnb, mxb)
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(qa, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftrightunsigned(qb, i).bitwiseAND(lit(1L)), 2 * i))
    }
    withMicrosTimestamps(df) {
      df.withColumn("_z", z)
        .repartitionByRange(numFiles, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("parquet.block.size", rowGroupBytes)
        .parquet(path)
    }
  }

  /** Write a timeseries-shaped frame partitioned by day — the layout
    * that turns time-range queries into partition pruning (the scan
    * reads only matching day directories; `PartitionFilters` in the
    * plan, verified in ScaleTechniquesSpec). At 100 TB this is the
    * difference between scanning a day and scanning a decade. */
  def writeDayPartitioned(df: DataFrame, path: String, tsCol: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("day", to_date(col(tsCol)))
      .write.mode("overwrite")
      .partitionBy("day")
      .parquet(path)
  }

  /** Backfill/repair: rewrite ONLY the day partitions present in
    * `df` inside a standing [[writeDayPartitioned]] layout — the
    * idempotent reprocess-one-day maintenance job. Overwrite mode
    * with the `partitionOverwriteMode=dynamic` write option (scoped to
    * this write; no session conf is touched) replaces exactly the
    * partitions the frame touches: every OTHER day directory is left
    * byte-identical (spec'd), so a backfill of 2020-03-07 never
    * rewrites the decade around it — static overwrite would truncate
    * the whole table, append would double-count the day. Rerunning the same backfill
    * converges (idempotent, spec'd). */
  def backfillDays(df: DataFrame, path: String, tsCol: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("day", to_date(col(tsCol)))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(path)
  }
}
