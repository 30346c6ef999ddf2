package graft

import graft.operators.Cdc
import org.apache.spark.sql.functions._

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("id")
  private val cmp = Seq("v", "w")

  private def oldDf = Seq(
    (1L, "a", 10.0),  // unchanged
    (2L, "b", 20.0),  // update (v changes)
    (3L, "c", 30.0),  // delete
    (5L, null.asInstanceOf[String], 50.0) // update (null -> value)
  ).toDF("id", "v", "w")

  private def newDf = Seq(
    (1L, "a", 10.0),
    (2L, "B", 20.0),
    (4L, "d", 40.0),  // insert
    (5L, "e", 50.0)
  ).toDF("id", "v", "w")

  test("snapshotDiff classifies insert/delete/update and skips unchanged") {
    val diff = Cdc.snapshotDiff(oldDf, newDf, keys, cmp)
    val byId = diff.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId == Map(2L -> "update", 3L -> "delete", 4L -> "insert",
      5L -> "update"))
    // old/new value columns carry the respective side (null when absent)
    val row4 = diff.filter($"id" === 4L).collect().head
    assert(row4.isNullAt(row4.fieldIndex("old_v")))
    assert(row4.getAs[String]("new_v") == "d")
    val row3 = diff.filter($"id" === 3L).collect().head
    assert(row3.getAs[String]("old_v") == "c")
    assert(row3.isNullAt(row3.fieldIndex("new_v")))
  }

  test("null-safe comparison: null -> value is an update, null == null unchanged") {
    val o = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("id", "v")
    val n = Seq((1L, null.asInstanceOf[String]), (2L, "x")).toDF("id", "v")
    val got = Cdc.snapshotDiff(o, n, Seq("id"), Seq("v")).collect()
    assert(got.map(_.getLong(0)).toSet == Set(2L))
    assert(got.head.getString(1) == "update")
  }

  test("applyCdc round trip: old + diff(old, new) == new") {
    val diff = Cdc.snapshotDiff(oldDf, newDf, keys, cmp)
    val rebuilt = Cdc.applyCdc(oldDf, diff, keys, cmp)
    val want = newDf.select("id", "v", "w")
    assert(rebuilt.exceptAll(want).count() == 0)
    assert(want.exceptAll(rebuilt).count() == 0)
  }

  test("empty diff on identical snapshots; applyCdc is then identity") {
    val diff = Cdc.snapshotDiff(oldDf, oldDf, keys, cmp)
    assert(diff.count() == 0)
    val rebuilt = Cdc.applyCdc(oldDf, diff, keys, cmp)
    assert(rebuilt.exceptAll(oldDf.select("id", "v", "w")).count() == 0)
    assert(rebuilt.count() == oldDf.count())
  }

  test("round trip holds on randomized snapshot pairs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      // random keyed tables with overlapping key ranges, random values
      // (incl. nulls) — every insert/delete/update/unchanged mix
      def snap() = (0 until 60).flatMap { _ =>
        val id = rnd.nextInt(40).toLong
        Some((id, if (rnd.nextBoolean()) null.asInstanceOf[String]
                  else s"v${rnd.nextInt(4)}", rnd.nextInt(3).toDouble))
      }.groupBy(_._1).map(_._2.head).toSeq // unique keys
      val o = snap().toDF("id", "v", "w")
      val n = snap().toDF("id", "v", "w")
      val diff = Cdc.snapshotDiff(o, n, keys, cmp)
      val rebuilt = Cdc.applyCdc(o, diff, keys, cmp)
      assert(rebuilt.exceptAll(n).count() == 0, s"trial $trial extra rows")
      assert(n.exceptAll(rebuilt).count() == 0, s"trial $trial missing rows")
      // minimality: no unchanged row ever appears in the diff
      val unchanged = o.intersect(n)
      assert(diff.join(unchanged.select(col("id")), Seq("id"), "left_semi")
        .filter(col("change_type") === "update").count() == 0,
        s"trial $trial: unchanged row emitted as update")
    }
  }

  test("diff of co-bucketed snapshots runs with zero exchanges") {
    // the 100 TB shape: daily snapshots land bucketed by the key, so
    // the full-outer join needs no shuffle at all
    for (t <- Seq("snap_old_b", "snap_new_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
    val k = col("o_orderkey")
    graft.sources.Bucketed.writeBucketed(
      orders.filter(k % 10 =!= 3), "snap_old_b", "o_orderkey", 8)
    graft.sources.Bucketed.writeBucketed(
      orders.filter(k % 13 =!= 7), "snap_new_b", "o_orderkey", 8)
    val diff = Cdc.snapshotDiff(
      graft.sources.Bucketed.read(spark, "snap_old_b"),
      graft.sources.Bucketed.read(spark, "snap_new_b"),
      Seq("o_orderkey"), Seq("o_totalprice"))
    diff.collect()
    val plan = diff.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed diff still shuffles:\n${plan.take(800)}")
    // same change set as the unbucketed diff
    val want = Cdc.snapshotDiff(orders.filter(k % 10 =!= 3),
      orders.filter(k % 13 =!= 7), Seq("o_orderkey"), Seq("o_totalprice"))
    assert(diff.exceptAll(want).count() == 0)
    assert(want.exceptAll(diff).count() == 0)
  }

  test("CDC sink: micro-batched diffs fold to the final snapshot; replay idempotent") {
    import graft.streaming.EventStream
    val dir = java.nio.file.Files.createTempDirectory("cdcsink").toString + "/snap"
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val k = col("o_orderkey")
    val oldSnap = orders.filter(k % 10 =!= 3)
      .withColumn("o_totalprice",
        when(k % 7 === 0, lit(100.0)).otherwise(col("o_totalprice")))
    val mid = orders.filter(k % 13 =!= 7)
    val fin = orders.filter(k % 11 =!= 2)
      .withColumn("o_totalprice",
        when(k % 5 === 0, col("o_totalprice") * 2).otherwise(col("o_totalprice")))
    EventStream.writeCdcSnapshot(oldSnap, dir, Seq("o_orderkey"))
    val d1 = Cdc.snapshotDiff(oldSnap, mid, Seq("o_orderkey"), Seq("o_totalprice"))
    val d2 = Cdc.snapshotDiff(mid, fin, Seq("o_orderkey"), Seq("o_totalprice"))
    EventStream.cdcSinkBatch(d1, dir, Seq("o_orderkey"), Seq("o_totalprice"))
    EventStream.cdcSinkBatch(d2, dir, Seq("o_orderkey"), Seq("o_totalprice"))
    def snap() = EventStream.readCdcSnapshot(spark, dir)
    assert(snap().exceptAll(fin).count() == 0)
    assert(fin.exceptAll(snap()).count() == 0)
    // at-least-once: replaying the last diff changes nothing
    EventStream.cdcSinkBatch(d2, dir, Seq("o_orderkey"), Seq("o_totalprice"))
    assert(snap().exceptAll(fin).count() == 0)
    assert(fin.exceptAll(snap()).count() == 0)
    // bounded writes: a one-key diff moves at most one bucket directory
    def bucketMtimes(): Map[String, Seq[(String, Long)]] =
      new java.io.File(dir).listFiles.filter(_.getName.startsWith("_kb="))
        .map { b =>
          b.getName -> b.listFiles.filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified)).toSeq.sortBy(_._1)
        }.toMap
    val before = bucketMtimes()
    assert(before.size > 1, "need multiple bucket directories")
    Thread.sleep(1100)
    val oneKey = fin.limit(1).select(col("o_orderkey"),
      lit("update").as("change_type"),
      col("o_totalprice").as("old_o_totalprice"),
      (col("o_totalprice") + 1.0).as("new_o_totalprice"))
    EventStream.cdcSinkBatch(oneKey, dir, Seq("o_orderkey"), Seq("o_totalprice"))
    val after = bucketMtimes()
    val movedBuckets = after.count { case (kb, v) => !before.get(kb).contains(v) }
    assert(movedBuckets == 1, s"one-key diff rewrote $movedBuckets buckets")
    // dynamic mode did not leak into the session conf
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }

  test("CDC sink: a delete-only batch drains its bucket directory") {
    import graft.streaming.EventStream
    val dir = java.nio.file.Files.createTempDirectory("cdcdrain").toString + "/snap"
    def bucketsOf(ids: Seq[Long]): Map[Long, Int] = ids.toDF("id")
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(EventStream.SinkBuckets)).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // two ids in each of two sink buckets, picked under the sink's
    // bucket count
    val ids = bucketsOf(1L to 500L).groupBy(_._2).values
      .filter(_.size >= 2).take(2).flatMap(_.keys.toSeq.sorted.take(2)).toSeq
    val base = ids.map(id => (id, id * 10.0)).toDF("id", "v")
    EventStream.writeCdcSnapshot(base, dir, Seq("id"))
    val bucketOf = bucketsOf(ids)
    assume(bucketOf.values.toSet.size == 2, "ids collapsed into one bucket")
    val target = bucketOf(ids.head)
    val doomed = bucketOf.filter(_._2 == target).keys.toSeq
    val diff = doomed.map(id => (id, "delete", Option(id * 10.0),
        Option.empty[Double]))
      .toDF("id", "change_type", "old_v", "new_v")
    EventStream.cdcSinkBatch(diff, dir, Seq("id"), Seq("v"))
    val left = EventStream.readCdcSnapshot(spark, dir).collect()
      .map(r => r.getLong(0)).toSet
    assert(left == bucketOf.filterNot(_._2 == target).keys.toSet)
    // the drained directory itself is gone, not just empty
    assert(!new java.io.File(s"$dir/_kb=$target").exists())
  }

  test("streamingCdcApply: MemoryStream batches match the batch fold") {
    import graft.streaming.EventStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdcstream").toString + "/snap"
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
    EventStream.writeCdcSnapshot(base, dir, Seq("id"))
    val input = MemoryStream[(Long, String, Option[Double], Option[Double])]
    val q = EventStream.streamingCdcApply(
      input.toDF().toDF("id", "change_type", "old_v", "new_v"),
      dir, Seq("id"), Seq("v"))
    input.addData((2L, "update", Some(20.0), Some(25.0)),
      (4L, "insert", None, Some(40.0)))
    q.processAllAvailable()
    input.addData((1L, "delete", Some(10.0), None))
    q.processAllAvailable()
    q.stop()
    val got = EventStream.readCdcSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((2L, 25.0), (3L, 30.0), (4L, 40.0)))
  }

  test("round trip holds on the query's degraded-orders construction") {
    val orders = Tables.orders(spark, sf)
    val k = col("o_orderkey")
    val oldSnap = orders.filter(k % 10 =!= 3)
      .withColumn("o_totalprice",
        when(k % 7 === 0, lit(100.0)).otherwise(col("o_totalprice")))
    val newSnap = orders.filter(k % 13 =!= 7)
    val diff = Cdc.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
      Seq("o_totalprice"))
    // diff is minimal: every change_type present, no spurious rows
    val types = diff.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types.keySet == Set("insert", "delete", "update"))
    val rebuilt = Cdc.applyCdc(oldSnap.select("o_orderkey", "o_totalprice"),
      diff, Seq("o_orderkey"), Seq("o_totalprice"))
    val want = newSnap.select("o_orderkey", "o_totalprice")
    assert(rebuilt.exceptAll(want).count() == 0)
    assert(want.exceptAll(rebuilt).count() == 0)
  }
}
