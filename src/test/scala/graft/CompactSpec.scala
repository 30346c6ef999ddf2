package graft

import graft.sources.Compact
import org.apache.spark.sql.functions._

class CompactSpec extends SparkSpec {

  test("compaction collapses small files to the byte-sized target, data intact") {
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    val ev = Tables.events(spark, sf)
    // 64 tiny files — the streaming-sink accretion shape
    ev.repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
    val sizeOfOne = {
      val d = new java.io.File(s"$tmp/small")
      d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    // target ≈ a quarter of the total → ~4 output files
    val r = Compact.compact(spark, s"$tmp/small", s"$tmp/big", sizeOfOne / 4)
    assert(r.filesIn == 64)
    assert(r.filesOut <= 5 && r.filesOut >= 3, s"got ${r.filesOut} files")
    assert(r.rows == ev.count())
    // content equality, not just counts
    val a = spark.read.parquet(s"$tmp/small")
    val b = spark.read.parquet(s"$tmp/big")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("compaction of an already-compact directory is a no-op in file count") {
    val tmp = java.nio.file.Files.createTempDirectory("compact2").toString
    Tables.events(spark, sf).coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/one")
    val r = Compact.compact(spark, s"$tmp/one", s"$tmp/out", 1L << 30)
    assert(r.filesIn == 1 && r.filesOut == 1)
  }

  test("compacting a directory onto itself is rejected before any write") {
    val tmp = java.nio.file.Files.createTempDirectory("compact3").toString
    Tables.events(spark, sf).coalesce(2).write.mode("overwrite")
      .parquet(s"$tmp/d")
    intercept[IllegalArgumentException] {
      Compact.compact(spark, s"$tmp/d", s"$tmp/d")
    }
    // equivalent path spellings must also be caught — overwrite-before-
    // read would destroy the input mid-job
    intercept[IllegalArgumentException] {
      Compact.compact(spark, s"$tmp/d", s"$tmp/./d")
    }
    // input untouched
    assert(spark.read.parquet(s"$tmp/d").count() ==
      Tables.events(spark, sf).count())
  }

  test("compacting sink folds batch files into generations, data intact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("lsm").toString + "/t"
    val input = MemoryStream[(Long, String)]
    val q = Compact.compactingSink(input.toDS().toDF("id", "v"), dir,
      compactEvery = 4, targetBytes = 1L << 30)
    var fed = Set.empty[(Long, String)]
    for (b <- 0 until 10) {
      val rows = (0 until 50).map(i => (b * 100L + i, s"r$b-$i"))
      fed ++= rows
      input.addData(rows)
      q.processAllAvailable()
    }
    q.stop()
    def got() = Compact.readCompacting(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got() == fed)
    // compactions fired at batch ids 3 and 7; g7 supersedes g3, and
    // batches 0..7 collapsed to ONE file (tiny bytes, 1 GB target)
    val g = Compact.currentGen(spark, dir)
    assert(g.exists(_._1 == 7L), s"current generation: $g")
    val genFiles = new java.io.File(g.get._2.stripPrefix("file:"))
      .listFiles.count(_.getName.endsWith(".parquet"))
    assert(genFiles == 1, s"generation holds $genFiles files")
    // one-compaction grace: the batch-7 compaction deletes what the
    // batch-3 compaction folded (b0..b3), but keeps g3 and b4..b7 so
    // a reader pinned on the pre-compaction listing can finish; the
    // retained dirs are ignored by id, never double-counted (checked
    // by the got() == fed assertion above)
    val live = new java.io.File(s"$dir/live").listFiles
      .map(_.getName).filter(_.startsWith("b")).toSet
    assert(live == Set("b4", "b5", "b6", "b7", "b8", "b9"),
      s"live dirs: $live")
    val gens = new java.io.File(dir).listFiles
      .map(_.getName).filter(_.startsWith("g")).toSet
    assert(gens == Set("g3", "g7"), s"generation dirs: $gens")
    // a stale/replayed live dir OLDER than the generation is ignored
    // by id, never double-counted
    spark.range(5).selectExpr("id", "'junk' AS v")
      .write.mode("overwrite").parquet(s"$dir/live/b2")
    assert(got() == fed, "stale live dir leaked into the read")
  }

  test("time travel: readAsOf replays retained history, refuses collected") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("tt").toString + "/t"
    val input = MemoryStream[(Long, String)]
    val q = Compact.compactingSink(input.toDS().toDF("id", "v"), dir,
      compactEvery = 5, targetBytes = 1L << 30)
    val perBatch = scala.collection.mutable.Map.empty[Int, Set[(Long, String)]]
    for (b <- 0 until 15) {
      val rows = (0 until 20).map(i => (b * 100L + i, s"r$b-$i"))
      perBatch(b) = rows.toSet
      input.addData(rows)
      q.processAllAvailable()
    }
    q.stop()
    def asOf(b: Long) = Compact.readAsOf(spark, dir, b).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def upTo(b: Int) = (0 to b).flatMap(perBatch).toSet
    // compactions fired at 4, 9, 14; grace retains g9 + g14 and
    // live b10..b14 — one full cycle of queryable history
    assert(Compact.listGenerations(spark, dir) == Seq(9L, 14L))
    assert(asOf(14) == upTo(14)) // now
    assert(asOf(12) == upTo(12)) // generation 9 + lives b10..b12
    assert(asOf(9) == upTo(9))   // exactly the old generation
    // beyond the retained window: REFUSE, never a silent partial read
    val e = intercept[IllegalArgumentException](asOf(4))
    assert(e.getMessage.contains("retained window"))
    // and the current read still matches readAsOf(now)
    assert(Compact.readCompacting(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == upTo(14))
  }

  test("a torn (uncommitted) generation stays invisible and is never 'current'") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lsmtorn").toString + "/t"
    for (b <- 0 until 6)
      (0 until 20).map(i => (b * 100L + i, s"r$b-$i")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/live/b$b")
    // simulate a crash mid-generation-write: a g5 directory with data
    // files but NO _SUCCESS marker
    spark.range(3).selectExpr("id", "'torn' AS v")
      .write.mode("overwrite").parquet(s"$dir/g5")
    assert(new java.io.File(s"$dir/g5/_SUCCESS").delete())
    // the torn generation must not become current — if it did, live
    // batches 0..5 (never actually folded) would silently vanish
    assert(Compact.currentGen(spark, dir).isEmpty)
    assert(Compact.readCompacting(spark, dir).count() == 6 * 20)
    // the replayed compaction overwrites the torn dir and commits
    Compact.compactGenerations(spark, dir, 5L, 1L << 30)
    assert(Compact.currentGen(spark, dir).exists(_._1 == 5L))
    assert(Compact.readCompacting(spark, dir).count() == 6 * 20)
  }

  test("replayed compaction batch is a no-op, not a wedged stream") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lsmreplay").toString + "/t"
    for (b <- 0 until 4)
      (0 until 20).map(i => (b * 100L + i, s"r$b-$i")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/live/b$b")
    Compact.compactGenerations(spark, dir, 3L, 1L << 30)
    // an at-least-once restart between compaction and checkpoint
    // commit replays the batch: without the guard this reads g3 while
    // overwrite-writing g3 — Spark throws on every retry, permanently
    // wedging the stream
    Compact.compactGenerations(spark, dir, 3L, 1L << 30)
    assert(Compact.currentGen(spark, dir).exists(_._1 == 3L))
    assert(Compact.readCompacting(spark, dir).count() == 4 * 20)
  }

  test("a reader pinned on the pre-compaction listing survives the compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lsmgrace").toString + "/t"
    def feed(range: Range): Unit = for (b <- range)
      (0 until 20).map(i => (b * 100L + i, s"r$b-$i")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/live/b$b")
    feed(0 until 4)
    Compact.compactGenerations(spark, dir, 3L, 1L << 30)
    feed(4 until 8)
    // pin a read on the current view (g3 + b4..b7), then compact
    val pinned = Compact.readCompacting(spark, dir)
    Compact.compactGenerations(spark, dir, 7L, 1L << 30)
    // grace: g3 and b4..b7 still exist, so the pinned scan completes
    assert(pinned.count() == 8 * 20)
    // ...and the NEXT compaction collects them
    feed(8 until 12)
    Compact.compactGenerations(spark, dir, 11L, 1L << 30)
    val gens = new java.io.File(dir).listFiles
      .map(_.getName).filter(_.startsWith("g")).toSet
    assert(gens == Set("g7", "g11"), s"generation dirs: $gens")
    assert(Compact.readCompacting(spark, dir).count() == 12 * 20)
  }

  test("partitioned input is sized from its recursive file listing") {
    val tmp = java.nio.file.Files.createTempDirectory("compact4").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .repartition(8)
      .write.mode("overwrite").partitionBy("day").parquet(s"$tmp/p")
    val r = Compact.compact(spark, s"$tmp/p", s"$tmp/flat", 1L << 30)
    // files live under day=... subdirectories — a non-recursive
    // listing would report filesIn=0/bytesIn=0
    assert(r.filesIn > 0 && r.bytesIn > 0, s"sizing missed nested files: $r")
    assert(r.rows == Tables.events(spark, sf).count())
    // partition column survives as a data column in the flat rewrite
    val flat = spark.read.parquet(s"$tmp/flat")
    assert(flat.columns.contains("day"))
    assert(flat.select("day").distinct().count() ==
      spark.read.parquet(s"$tmp/p").select("day").distinct().count())
  }

  /** A bucket directory's data files as (name, bytes). */
  private def bucketFiles(dir: java.io.File): Seq[(String, Seq[Byte])] =
    dir.listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      .toSeq

  test("rewriteBuckets: touched buckets replaced, carried rows kept, drained buckets deleted, the rest byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // 12 rows over buckets 0..3 (b = id % 4)
    val init = (0L until 12L).map(i => (i, "x", (i % 4).toInt))
    def rows(r: (Long, String, Int)*): DataFrame = r.toDF("id", "v", "b")
    case class Case(name: String, touched: Seq[Int],
                    fold: DataFrame => DataFrame,
                    want: Set[(Long, String, Int)], identical: Set[Int])
    val cases = Seq(
      Case("carried bucket: the fold lands a row outside `touched`",
        Seq(0), _.withColumn("v", lit("y")).unionByName(rows((100L, "new", 2))),
        init.map(r => if (r._3 == 0) r.copy(_2 = "y") else r).toSet +
          ((100L, "new", 2)), identical = Set(1, 3)),
      Case("drained bucket", Seq(1), _.filter(lit(false)),
        init.filterNot(_._3 == 1).toSet, identical = Set(0, 2, 3)),
      Case("empty touched: a new bucket and a carried one", Nil,
        _ => rows((200L, "new", 4), (201L, "new", 3)),
        init.toSet + ((200L, "new", 4)) + ((201L, "new", 3)),
        identical = Set(0, 1, 2)))
    for (c <- cases) {
      val dir = java.nio.file.Files.createTempDirectory("rewrite").toString + "/t"
      rows(init: _*).repartition(col("b")).write.partitionBy("b").parquet(dir)
      def bucket(b: Int) = new java.io.File(s"$dir/b=$b")
      val before = c.identical.map(b => b -> bucketFiles(bucket(b))).toMap
      Compact.rewriteBuckets(spark, dir, "b", c.touched)(c.fold)
      val got = spark.read.parquet(dir).as[(Long, String, Int)].collect().toSet
      assert(got == c.want, s"${c.name}: rows")
      c.identical.foreach(b =>
        assert(bucketFiles(bucket(b)) == before(b), s"${c.name}: bucket $b was rewritten"))
      // every bucket the rewrite wrote holds one file; drained ones are gone
      val outBuckets = c.want.map(_._3) -- c.identical
      outBuckets.foreach(b =>
        assert(bucketFiles(bucket(b)).size == 1, s"${c.name}: bucket $b files"))
      (0 to 4).filterNot(c.want.map(_._3)).foreach(b =>
        assert(!bucket(b).exists, s"${c.name}: drained bucket $b left behind"))
      assert(!new java.io.File(dir + ".tmp").exists, s"${c.name}: staging left behind")
    }
  }

  test("swap: the previous generation is kept as .old, the temp is cleared") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("swap").toString + "/t"
    def gen(g: Int): String => Int = { tmp =>
      Seq(g).toDF("g").write.parquet(tmp); g }
    def read(d: String) = spark.read.parquet(d).as[Int].collect().toSeq
    val old = new java.io.File(dir + ".old")
    val tmp = new java.io.File(dir + ".tmp")
    assert(Compact.swap(spark, dir)(gen(1)) == 1) // a first write
    assert(read(dir) == Seq(1) && !old.exists && !tmp.exists)
    Compact.swap(spark, dir)(gen(2))
    assert(read(dir) == Seq(2) && read(old.getPath) == Seq(1) && !tmp.exists)
    // the grace copy is one generation deep
    Compact.swap(spark, dir)(gen(3))
    assert(read(dir) == Seq(3) && read(old.getPath) == Seq(2) && !tmp.exists)
    // a write that fails leaves the live generation in place, and the
    // next swap discards the torn temp it left
    intercept[RuntimeException](Compact.swap(spark, dir) { t =>
      Seq(9).toDF("g").write.parquet(t); sys.error("crash mid-rewrite") })
    assert(read(dir) == Seq(3) && tmp.exists)
    Compact.swap(spark, dir)(gen(4))
    assert(read(dir) == Seq(4) && read(old.getPath) == Seq(3) && !tmp.exists)
  }
}

object CompactSpec {
  /** Rename `dir` aside as `dir.old` and leave a torn temp beside it
    * (one junk data file, no commit marker): the on-disk state a crash
    * between the two renames of `Compact.swap` leaves. */
  def tearSwap(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    Files.move(Paths.get(dir), Paths.get(dir + ".old"))
    val torn = Files.createDirectories(Paths.get(dir + ".tmp", "part"))
    Files.write(torn.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(!Files.exists(Paths.get(dir)))
  }

  /** `dir` is back and its torn temp is gone. */
  def healed(dir: String): Boolean =
    new java.io.File(dir).isDirectory && !new java.io.File(dir + ".tmp").exists
}
