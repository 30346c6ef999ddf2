package perfbench

import java.sql.DriverManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Upsert
import graft.sources.{Bucketed, Ingest, JdbcUpsert}

/** The reference's daily batch job, replayed one day per call over
  * maintained state that grows each day:
  *
  *   1. the day's rendered appdetails JSON lines (seeded, with
  *      malformed lines) are read with quarantine and flattened,
  *   2. merged into a parquet `games_metadata` snapshot (SCD-1),
  *   3. upserted into an embedded-Derby `games_metadata`,
  *   4. the day's `events` rows append to a day-partitioned timeseries.
  */
final class IngestJob(spark: SparkSession, tables: String, input: String, t: Tracer) {
  import IngestJob._

  private val appdetails = spark.read.parquet(s"$input/appdetails.parquet")
  private val events = Tables.events(spark, tables)
  private val evDay = to_date(col("ts"))
  private val expected = Inputs.json(s"$input/expected.json")
  val badPerDay: Seq[Int] = expected("bad_per_day").asInstanceOf[List[Int]]
  /** Input rows of each day: JSON lines plus event rows. */
  val rowsPerDay: Seq[Int] = expected("rows_per_day").asInstanceOf[List[Int]]

  final class State(val dir: String) {
    val url = s"jdbc:derby:$dir/derby;create=true"
    val timeseries = s"$dir/timeseries"
    val init = s"$dir/snapshot/init"
    var snapshot = init
    var days = 0
    val quarantined = scala.collection.mutable.ArrayBuffer.empty[Long]
  }

  /** Fresh state: the Derby table and an empty snapshot. */
  def create(stateDir: String): State = {
    val st = new State(stateDir)
    val c = DriverManager.getConnection(st.url)
    try c.createStatement().execute(
      s"""CREATE TABLE $Table (app_id BIGINT PRIMARY KEY, name VARCHAR(256),
         type VARCHAR(64), release_date VARCHAR(64), developer VARCHAR(256),
         publisher VARCHAR(256), genres VARCHAR(256), price_numeric DOUBLE,
         price_currency VARCHAR(16), discount_percent INT, version INT)""")
    finally c.close()
    Ingest.parseAppDetails(appdetails.limit(0), "app_id", "raw")
      .withColumn("version", lit(0))
      .write.mode("overwrite").parquet(st.init)
    st
  }

  /** Replay the next day; true when its quarantine count is the
    * seeded number of malformed lines. */
  def day(st: State): Boolean = {
    val d = st.days
    val raw = appdetails.filter(col("day") === d).select("app_id", "raw")
    val batchDir = s"${st.dir}/batches/$d"
    val rep = t.span("ingest.parse", "ingest") {
      val (valid, rep) = Ingest.readJsonQuarantine(raw, "app_id", "raw",
        Ingest.appDetailsSchema, s"${st.dir}/quarantine", Seq("name"))
      Ingest.parseAppDetails(
          raw.join(valid.select("app_id"), Seq("app_id"), "left_semi"), "app_id", "raw")
        .withColumn("version", lit(d))
        .write.mode("overwrite").parquet(batchDir)
      rep
    }
    val updates = spark.read.parquet(batchDir)
    val next = s"${st.dir}/snapshot/$d"
    t.span("upsert.merge", "upsert") {
      Upsert.upsert(spark.read.parquet(st.snapshot), updates, Seq("app_id"), "version")
        .write.mode("overwrite").parquet(next)
    }
    st.snapshot = next
    t.span("jdbc_upsert.upsert", "jdbc_upsert") {
      JdbcUpsert.upsertBatch(updates, st.url, Table, Seq("app_id"), "version")
    }
    t.span("bucketed.backfill", "bucketed") {
      Bucketed.backfillDays(events.filter(evDay === lit(date(d)).cast("date")),
        st.timeseries, "ts")
    }
    st.quarantined += rep.quarantined
    st.days += 1
    rep.quarantined == badPerDay(d)
  }

  /** Per-layer figures of the days replayed since `firstDay`. */
  def layers(st: State, firstDay: Int, o: Outcome): Unit = {
    val n = (st.days - firstDay).max(1)
    def med(name: String) = Main.median(t.named(name).map(_.ms))
    o.layers("ingest.parse_ms") = med("ingest.parse")
    o.layers("ingest.quarantined_rows") = st.quarantined.drop(firstDay).sum.toDouble / n
    o.layers("upsert.merge_ms") = med("upsert.merge")
    o.layers("jdbc_upsert.ms") = med("jdbc_upsert.upsert")
    o.layers("jdbc_upsert.rows") = (firstDay until st.days)
      .map(d => spark.read.parquet(s"${st.dir}/batches/$d").count()).sum.toDouble / n
    o.layers("bucketed.backfill_ms") = med("bucketed.backfill")
    o.layers("bucketed.files_written") = parquetFiles(st.timeseries).toDouble / st.days.max(1)
  }

  /** End-of-run checks: Derby ≡ snapshot ≡ one-shot upsert of every
    * batch; timeseries ≡ the replayed days' events; quarantined rows ≡
    * seeded malformed lines. */
  def check(st: State, o: Outcome): Unit = {
    val days = 0 until st.days
    val oneShot = Upsert.upsert(spark.read.parquet(st.init),
      spark.read.parquet(days.map(d => s"${st.dir}/batches/$d"): _*), Seq("app_id"), "version")
    val derby = spark.read.format("jdbc").option("url", st.url).option("dbtable", Table).load()
    val snap = rowsOf(spark.read.parquet(st.snapshot))
    o.check("ingest.derby_eq_snapshot", rowsOf(derby) == snap)
    o.check("ingest.snapshot_eq_one_shot_upsert", snap == rowsOf(oneShot))
    val want = events.filter(evDay.cast("string").isin(days.map(date): _*))
    val got = spark.read.parquet(st.timeseries).drop("day")
      .select(want.columns.map(col).toIndexedSeq: _*)
    o.check("ingest.timeseries_eq_events",
      got.collect().map(_.toString).sorted.sameElements(want.collect().map(_.toString).sorted))
    val quarantined =
      if (new java.io.File(s"${st.dir}/quarantine").exists)
        spark.read.parquet(s"${st.dir}/quarantine").count()
      else 0L
    val malformed = days.map(badPerDay).sum
    o.check("ingest.quarantined_eq_malformed", quarantined == malformed,
      s"$quarantined quarantined, $malformed malformed")
  }
}

object IngestJob {
  val Table = "games_metadata"
  private val Day0 = java.time.LocalDate.of(2024, 1, 1)

  def date(d: Int): String = Day0.plusDays(d.toLong).toString

  /** Sorted row strings — an order-free fingerprint for equality. */
  private def rowsOf(df: DataFrame): Seq[String] = {
    val cols = Seq("app_id", "name", "type", "release_date", "developer", "publisher",
      "genres", "price_numeric", "price_currency", "discount_percent", "version")
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
      .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  private def parquetFiles(dir: String): Int = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(_.toString.endsWith(".parquet")).count().toInt finally s.close()
  }
}
