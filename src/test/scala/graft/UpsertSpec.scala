package graft

import graft.operators.Upsert
import graft.streaming.EventStream

class UpsertSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("upsert applies inserts, updates and keeps untouched rows") {
    import spark.implicits._
    val current = Seq(
      ("a", "old-a", 1L), ("b", "old-b", 1L)).toDF("id", "payload", "v")
    val updates = Seq(
      ("b", "new-b", 2L), ("c", "new-c", 2L)).toDF("id", "payload", "v")
    val got = Upsert.upsert(current, updates, Seq("id"), "v")
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(1))).toList
    assert(got == List(("a", "old-a"), ("b", "new-b"), ("c", "new-c")))
  }

  test("updates win version ties (on_conflict_do_update semantics)") {
    import spark.implicits._
    val current = Seq(("a", "old", 5L)).toDF("id", "payload", "v")
    val updates = Seq(("a", "new", 5L)).toDF("id", "payload", "v")
    val got = Upsert.upsert(current, updates, Seq("id"), "v").collect()
    assert(got.length == 1 && got.head.getString(1) == "new")
  }

  test("upsert of the events table matches q5 last-write-wins") {
    val ev = Tables.events(spark, sf).withColumn("_v", col("ts").cast("long"))
    val merged = Upsert.upsert(ev.limit(0), ev, Seq("user_id"), "_v")
    // one row per user, and it is a max-ts row for that user
    assert(merged.count() == ev.select("user_id").distinct().count())
  }

  // ---- SCD-2 -------------------------------------------------------------

  private def scd2args = ("o_custkey", "o_orderpriority",
    "o_orderdate", "o_orderkey")

  test("scd2 intervals tile each key's timeline: v1 opens, current is open") {
    val (k, a, ts, tie) = scd2args
    val hist = Upsert.scd2Build(Tables.orders(spark, sf), k, a, ts, tie)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(k)).orderBy(col("version"))
    val bad = hist
      .withColumn("_next_from", lead(col("valid_from"), 1).over(w))
      .filter(
        // interval chain must be gapless: valid_to == next valid_from
        (col("_next_from").isNotNull && col("valid_to") =!= col("_next_from")) ||
        // exactly the last version is current/open
        (col("_next_from").isNull && (!col("is_current") || col("valid_to").isNotNull)) ||
        (col("_next_from").isNotNull && col("is_current")))
    assert(bad.count() == 0)
    // consecutive versions never repeat the attribute (true run collapse)
    val rep = hist.withColumn("_next_attr", lead(col(a), 1).over(w))
      .filter(col("_next_attr").isNotNull && col("_next_attr") === col(a))
    assert(rep.count() == 0)
  }

  test("scd2Apply on an in-order split equals the one-shot build") {
    val (k, a, ts, tie) = scd2args
    val orders = Tables.orders(spark, sf)
    val cut = orders.selectExpr(s"percentile_approx($ts, 0.5)").head().get(0)
    val day1 = orders.filter(col(ts) <= lit(cut))
    val day2 = orders.filter(col(ts) > lit(cut))
    assert(day1.count() > 0 && day2.count() > 0)
    val applied = Upsert.scd2Apply(
      Upsert.scd2Build(day1, k, a, ts, tie), day2, k, a, ts, tie)
    val oneShot = Upsert.scd2Build(orders, k, a, ts, tie)
    assert(applied.collect().map(_.toSeq).toSet ==
      oneShot.collect().map(_.toSeq).toSet)
    // and the split genuinely exercises cross-batch continuation:
    // some keys must appear in both days
    val overlap = day1.select(col(k)).intersect(day2.select(col(k))).count()
    assert(overlap > 0)
  }

  test("scd2 cross-batch run merge: repeating the current attr adds no version") {
    import spark.implicits._
    val day1 = Seq((1L, "A", 10L, 100L), (1L, "B", 20L, 101L))
      .toDF("k", "a", "ts", "tie")
    val day2 = Seq((1L, "B", 30L, 102L), (1L, "C", 40L, 103L))
      .toDF("k", "a", "ts", "tie")
    val applied = Upsert.scd2Apply(
      Upsert.scd2Build(day1, "k", "a", "ts", "tie"), day2, "k", "a", "ts", "tie")
      .orderBy("version")
      .select("a", "valid_from", "version", "is_current")
      .collect().map(_.toSeq).toList
    // B@20 extends through the day-2 repeat; C@40 opens version 3
    assert(applied == List(
      Seq("A", 10L, 1, false), Seq("B", 20L, 2, false), Seq("C", 40L, 3, true)))
  }

  test("streaming SCD-2 sink on a three-batch split equals the one-shot build") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (k, a, ts, tie) = scd2args
    val orders = Tables.orders(spark, sf)
      // normalize NTZ -> instant: the MemoryStream round-trip below
      // produces TimestampType, and the parity compare must see the
      // same type on both sides (session TZ is UTC)
      .withColumn(ts, col(ts).cast("timestamp"))
      .select(col(k), col(a), col(ts), col(tie)).localCheckpoint()
    val cuts = orders.selectExpr(
      s"percentile_approx($ts, 0.33)", s"percentile_approx($ts, 0.66)").head()
    val (c1, c2) = (cuts.get(0), cuts.get(1))
    val batches = Seq(
      orders.filter(col(ts) <= lit(c1)),
      orders.filter(col(ts) > lit(c1) && col(ts) <= lit(c2)),
      orders.filter(col(ts) > lit(c2)))
    val dir = java.nio.file.Files.createTempDirectory("scd2sink").toString + "/h"
    val input = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val q = EventStream.streamingScd2Sink(
      input.toDS().toDF(k, a, ts, tie), dir, k, a, ts, tie)
    batches.foreach { b =>
      input.addData(b.as[(Long, String, java.sql.Timestamp, Long)].collect())
      q.processAllAvailable()
    }
    q.stop()
    val got = EventStream.readScd2History(spark, dir)
      .collect().map(_.toSeq).toSet
    val oneShot = Upsert.scd2Build(orders, k, a, ts, tie)
      .collect().map(_.toSeq).toSet
    assert(got == oneShot && got.nonEmpty)
  }

  test("scd2 sink rewrites only the buckets a batch's keys hash into") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (k, a, ts, tie) = scd2args
    val dir = java.nio.file.Files.createTempDirectory("scd2part").toString + "/h"
    val input = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val q = EventStream.streamingScd2Sink(
      input.toDS().toDF(k, a, ts, tie), dir, k, a, ts, tie)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: many keys spread across the EventStream.SinkBuckets buckets
    input.addData((1L to 200L).map(i =>
      (i, s"A$i", t("2024-01-01 00:00:00"), i)): _*)
    q.processAllAvailable()
    def fingerprint(): Map[String, Set[(String, Long)]] =
      new java.io.File(dir).listFiles.filter(_.getName.startsWith("_kb="))
        .map { d =>
          d.getName -> d.listFiles.filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified)).toSet
        }.toMap
    val before = fingerprint()
    assert(before.size > 1, "history not bucket-partitioned")
    // batch 2: ONE key — at most one bucket may change
    Thread.sleep(1100) // an untouched rewrite would move mtimes
    input.addData((7L, "B7", t("2024-01-02 00:00:00"), 1000L))
    q.processAllAvailable()
    q.stop()
    val after = fingerprint()
    val changed = before.keySet.filter(d => before(d) != after(d))
    assert(changed.size <= 1,
      s"batch of one key rewrote ${changed.size} buckets: $changed")
    // and the merge itself is correct: key 7 now has two versions
    val h7 = EventStream.readScd2History(spark, dir)
      .filter(col(k) === 7L).orderBy("version")
      .select(a, "version", "is_current").collect().map(_.toSeq).toList
    assert(h7 == List(Seq("A7", 1, false), Seq("B7", 2, true)))
    // dynamic mode did not leak into the session conf
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }

  test("scd2Apply replay of an already-applied batch is idempotent") {
    val (k, a, ts, tie) = scd2args
    val orders = Tables.orders(spark, sf)
    val cut = orders.selectExpr(s"percentile_approx($ts, 0.5)").head().get(0)
    val day2 = orders.filter(col(ts) > lit(cut))
    val once = Upsert.scd2Apply(
      Upsert.scd2Build(orders.filter(col(ts) <= lit(cut)), k, a, ts, tie),
      day2, k, a, ts, tie).localCheckpoint()
    val twice = Upsert.scd2Apply(once, day2, k, a, ts, tie)
    assert(twice.collect().map(_.toSeq).toSet ==
      once.collect().map(_.toSeq).toSet)
  }

  test("scd2Build plans a single exchange (windows share the key partitioning)") {
    val (k, a, ts, tie) = scd2args
    val plan = Upsert.scd2Build(Tables.orders(spark, sf), k, a, ts, tie)
      .queryExecution.executedPlan.toString
    val exchanges = plan.sliding("Exchange ".length).count(_ == "Exchange ")
    assert(exchanges == 1, s"expected 1 exchange, plan had $exchanges:\n$plan")
  }

  test("scd2Lookup resolves each probe to exactly one version, boundaries next") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // key 7: A from Jan 1, B from Jan 10 (current)
    val events = Seq(
      (7L, "A", ts("2024-01-01"), 1L),
      (7L, "A", ts("2024-01-05"), 2L),
      (7L, "B", ts("2024-01-10"), 3L)).toDF("k", "attr", "t", "tie")
    val hist = graft.operators.Upsert.scd2Build(events, "k", "attr", "t", "tie")
      .drop("tie", "is_current")
    val probes = Seq(
      (1L, 7L, ts("2024-01-03")),  // inside v1
      (2L, 7L, ts("2024-01-10")),  // ON the boundary -> v2 ([from, to))
      (3L, 7L, ts("2024-03-01")),  // far future -> open current version
      (4L, 7L, ts("2023-12-25"))   // before first interval -> no match
    ).toDF("pid", "k", "probe_ts")
    val got = graft.operators.Upsert
      .scd2Lookup(hist, probes, "k", "probe_ts")
      .select(col("pid"), col("attr"), col("version"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(got == Map(1L -> ("A", 1), 2L -> ("B", 2), 3L -> ("B", 2)))
    // uniqueness on the full query: one row per probing order
    val q = graft.operators.Upsert.scd2LookupQuery(spark, sf)
    assert(q.count() == Tables.orders(spark, sf).count())
    assert(q.groupBy("o_orderkey").count()
      .filter(col("count") > 1).count() == 0)
  }
}
