package graft

import graft.operators.SkewJoin
import graft.sources.Bucketed
import org.apache.spark.sql.functions._

class ScaleTechniquesSpec extends SparkSpec {

  test("salted join matches the plain join result") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val part = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = li.join(part, "l_partkey")
    val salted = SkewJoin.saltedJoin(li, part, "l_partkey",
      largeIdCol = "l_orderkey", saltBuckets = 8)
    assert(salted.count() == plain.count())
    val a = plain.groupBy("p_brand").agg(sum("l_quantity").as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = salted.groupBy("p_brand").agg(sum("l_quantity").as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("runtime bloom-filter join injection fires on a selective shuffle join") {
    // at 100 TB a selective dim filter should reach the fact scan even
    // when DPP can't (non-partitioned layout): Spark's InjectRuntimeFilter
    // builds a bloom filter from the filtered creation side and
    // semi-filters the application side before the shuffle. Thresholds
    // are sized for clusters — drop them so the local plan exercises
    // the rule; restore after.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creation side must sit UNDER its threshold, the application
      // side's scan OVER its — size both so the tiny test tables
      // qualify the way a dim/fact pair does at scale
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 500000)
        .select("o_orderkey")
      val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
      val n = j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no runtime bloom filter in plan:\n${plan.take(1200)}")
      // the filter is a pure pre-filter: results match the plain join
      val plain = Tables.lineitem(spark, sf).select("l_orderkey")
        .join(Tables.orders(spark, sf).filter(col("o_totalprice") > 500000)
          .select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
      assert(n == plain.count())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fanOut spreads a single-split scan to defaultParallelism tasks") {
    // the driver-generated tables are single-file single-row-group
    // parquet — indivisible, so every scan plans one task; the
    // CPU-heavy operators guard with Util.fanOut before their
    // decode/fan-out stage
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val p = spark.sparkContext.defaultParallelism
    assume(docs.rdd.getNumPartitions < p, "input already multi-split")
    val fanned = Util.fanOut(docs)
    assert(fanned.rdd.getNumPartitions == p,
      s"fanOut left ${fanned.rdd.getNumPartitions} partitions, wanted $p")
    // no data lost/duplicated by the round-robin
    assert(fanned.count() == docs.count())
    // a frame already at/above parallelism passes through unshuffled
    val wide = docs.repartition(p + 3)
    assert(Util.fanOut(wide) eq wide)
  }

  test("fanOutIfAtLeast bypasses small inputs and fans wide ones") {
    // the gated form (cheap per-row stages, e.g. token counting in
    // pack_*): below the row floor the repartition costs more than
    // the single-task serialization it prevents, so the input passes
    // through untouched — above it, same behavior as fanOut
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(Util.fanOutIfAtLeast(docs, minRows = 1000000) eq docs)
    val p = spark.sparkContext.defaultParallelism
    assume(docs.rdd.getNumPartitions < p, "input already multi-split")
    val fanned = Util.fanOutIfAtLeast(docs, minRows = 1)
    assert(fanned.rdd.getNumPartitions == p)
    assert(fanned.count() == docs.count())
  }

  test("day-partitioned layout prunes partitions on time filters") {
    val dir = java.nio.file.Files.createTempDirectory("evpart").toString
    Bucketed.writeDayPartitioned(Tables.events(spark, sf), dir, "ts")
    val filtered = spark.read.parquet(dir)
      .filter(col("day") === "2024-01-03")
    filtered.collect()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"no partition filter at the scan:\n${plan.take(600)}")
    val expected = Tables.events(spark, sf)
      .filter(to_date(col("ts")) === "2024-01-03").count()
    assert(filtered.count() == expected)
  }

  test("dynamic partition pruning reaches the partitioned fact scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evdpp").toString
    Bucketed.writeDayPartitioned(Tables.events(spark, sf), dir, "ts")
    val fact = spark.read.parquet(dir)
    val days = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.toString)
    // dim: every 5th day tagged 0 — the selective dim filter must
    // prune the fact's day partitions AT RUNTIME via DPP. The dim is
    // written to parquet because a LocalRelation's filter is folded
    // away by ConvertToLocalRelation and DPP then sees no selective
    // predicate on the pruning side.
    val dimDir = java.nio.file.Files.createTempDirectory("dppdim").toString
    days.zipWithIndex.map { case (d, i) => (d, i % 5) }
      .toSeq.toDF("day", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.filter(col("tag") === 0), "day")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in plan:\n${plan.take(800)}")
    val keepDays = days.zipWithIndex.filter(_._2 % 5 == 0).map(_._1.toString).toSet
    val expected = Tables.events(spark, sf)
      .filter(to_date(col("ts")).cast("string").isin(keepDays.toSeq: _*)).count()
    assert(joined.count() == expected)
  }

  test("range-sorted layout skips row groups on (key, time-range) probes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sf0.01 (10k events): enough rows that files hold several 16 KB
    // row groups — the sf0.001 table is one granule per file
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val sortedDir = java.nio.file.Files.createTempDirectory("evsorted").toString
    val plainDir = java.nio.file.Files.createTempDirectory("evplain").toString
    // tiny row groups so the small test table yields many skipping
    // granules; same granule size for the unsorted baseline
    Bucketed.writeRangeSorted(ev, sortedDir, "user_id", "ts",
      numFiles = 8, rowGroupBytes = 16 * 1024)
    ev.repartition(8).write.mode("overwrite")
      .option("parquet.block.size", 16 * 1024).parquet(plainDir)
    val lo = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    def probe(dir: String) = spark.read.parquet(dir)
      .filter(col("user_id") === 5 && col("ts") >= lo && col("ts") < hi)
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val scan = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s }
      assert(scan.nonEmpty, "no FileSourceScanExec in the probe plan")
      scan.map(_.metrics("numOutputRows").value).sum
    }
    // identical answers from both layouts
    val a = probe(sortedDir).collect().map(_.toSeq).toSet
    val b = probe(plainDir).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    // the filters reach the scan…
    val plan = probe(sortedDir).queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(user_id,5)"),
      s"probe filters not pushed:\n${plan.take(600)}")
    // …and the sorted layout's tight stats make the reader emit a
    // small fraction of what the unsorted layout decodes
    val sortedRows = scanRows(probe(sortedDir))
    val plainRows = scanRows(probe(plainDir))
    assert(sortedRows * 5 <= plainRows,
      s"no data skipping: sorted scan emitted $sortedRows vs plain $plainRows")
  }

  test("z-ordered layout skips on BOTH probe axes where the sorted layout skips on one") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val zDir = java.nio.file.Files.createTempDirectory("evz").toString
    val sortedDir = java.nio.file.Files.createTempDirectory("evzs").toString
    val plainDir = java.nio.file.Files.createTempDirectory("evzp").toString
    Bucketed.writeZOrdered(ev, zDir, "user_id", "ts",
      bits = 12, numFiles = 8, rowGroupBytes = 16 * 1024)
    Bucketed.writeRangeSorted(ev, sortedDir, "user_id", "ts",
      numFiles = 8, rowGroupBytes = 16 * 1024)
    ev.repartition(8).write.mode("overwrite")
      .option("parquet.block.size", 16 * 1024).parquet(plainDir)
    def scanRows(dir: String, cond: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).filter(cond)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum
    }
    def rowsOf(dir: String, cond: org.apache.spark.sql.Column) =
      spark.read.parquet(dir).filter(cond).collect().map(_.toSeq).toSet
    val lo = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
    val userProbe = col("user_id") === 5
    val tsProbe = col("ts") >= lo && col("ts") < hi
    // correctness first: every layout answers identically
    for (cond <- Seq(userProbe, tsProbe)) {
      val expect = rowsOf(plainDir, cond)
      assert(expect.nonEmpty)
      assert(rowsOf(zDir, cond) == expect && rowsOf(sortedDir, cond) == expect)
    }
    // key-axis probe: both clustered layouts beat the unsorted one
    val zUser = scanRows(zDir, userProbe)
    val plainUser = scanRows(plainDir, userProbe)
    assert(zUser * 2 <= plainUser,
      s"z-order key probe: $zUser vs plain $plainUser")
    // time-axis probe: the (key, ts) sort gives NO ts clustering —
    // z-order must decode materially less than the key-sorted layout
    val zTs = scanRows(zDir, tsProbe)
    val sortedTs = scanRows(sortedDir, tsProbe)
    assert(zTs * 2 <= sortedTs,
      s"z-order ts probe: $zTs vs range-sorted $sortedTs")
  }

  test("IVF-partitioned corpus prunes to the probed buckets and matches annIvf") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivfpart").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, dir)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val part = Similarity.annIvfServeBatch(spark, dir, cents, queries,
      excludeSelf = true)
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"probe not pruned at the partitioned scan:\n${plan.take(800)}")
    // identical results to the filter-after-read formulation
    val viaFilter = Similarity.annIvf(spark, sf).collect().map(_.toSeq).toSet
    assert(part.collect().map(_.toSeq).toSet == viaFilter)
  }

  test("ANN serve batch reads ONLY the probed bucket partitions") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("ivfserve").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, dir)
    // ONE query probes exactly nprobe buckets — the scan's partition
    // count must equal that, strictly below the nlist total
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val vec = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val probed = Similarity.topCentroids(cents, vec, Similarity.IvfNprobe).toSet
    val topk = Similarity.annIvfServeBatch(spark, dir, cents, qv)
    topk.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val corpusScans = scans(topk.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("ivfserve")))
    assert(corpusScans.nonEmpty, "no corpus scan found in the executed plan")
    val partsRead = corpusScans.map(_.metrics("numPartitions").value).sum
    val totalBuckets = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("bucket="))
    assert(partsRead == probed.size,
      s"scan read $partsRead partitions, probed ${probed.size}")
    assert(partsRead < totalBuckets,
      s"scan read all $totalBuckets buckets — no pruning")
  }

  test("appended serving corpus answers exactly like a one-shot layout") {
    import graft.operators.Similarity
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") % 5 =!= 4)
    val batch = Tables.embeddings(spark, sf).filter(col("vec_id") % 5 === 4)
    val cents = Similarity.ivfCentroids(spark, sf)
    val grownDir = java.nio.file.Files.createTempDirectory("ivfgrow").toString
    val oneShotDir = java.nio.file.Files.createTempDirectory("ivfone").toString
    Similarity.writeLayout(Similarity.FloatCodec(cents), base, grownDir)
    Similarity.appendIvfPartitioned(batch, cents, grownDir)
    Similarity.writeLayout(Similarity.FloatCodec(cents), base.unionByName(batch),
      oneShotDir)
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def rows(dir: String) =
      Similarity.annIvfServeBatch(spark, dir, cents, queries)
        .collect().map(_.toSeq).toSet
    val grown = rows(grownDir)
    assert(grown.nonEmpty)
    assert(grown == rows(oneShotDir),
      "append-maintained layout diverged from the one-shot layout")
  }

  test("ANN serve batch treats query ids as an independent id space") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivfserveid").toString
    val cents = Similarity.writeIvfPartitioned(spark, sf, dir)
    // a query whose id numerically collides with a corpus vec_id must
    // STILL see that corpus vector as a candidate (default serve form)
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.annIvfServeBatch(spark, dir, cents, qv)
      .filter(col("neighbor_id") === 3).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 1.0,
      s"corpus vector lost to an id collision: ${got.mkString(",")}")
  }

  test("IVF×SQ8 partitioned code layout prunes to probed buckets, matches inline") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8").toString
    val emb = Tables.embeddings(spark, sf)
    val (mns, mxs) = Similarity.sq8Grid(emb)
    val sq8 = Similarity.writeLayout(
      Similarity.Sq8Codec(Similarity.ivfCentroids(spark, sf), mns, mxs), emb, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val part = Similarity.annIvfSq8ServeBatch(spark, dir, sq8, queries,
      excludeSelf = true)
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"probe not pruned at the partitioned code scan:\n${plan.take(800)}")
    // the stored-code path must reproduce the inline quantize exactly
    val inline = Similarity.annIvfSq8(spark, sf).collect().map(_.toSeq).toSet
    assert(part.collect().map(_.toSeq).toSet == inline)
    // and the code layout is materially smaller than the float32 one:
    // 1 byte/dim + parquet overhead vs 4 bytes/dim
    def bytesUnder(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) (if (f.getName.endsWith(".parquet")) f.length else 0L)
        else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    val floatDir = java.nio.file.Files.createTempDirectory("ivff32").toString
    Similarity.writeIvfPartitioned(spark, sf, floatDir)
    assert(bytesUnder(dir) < bytesUnder(floatDir) / 2,
      s"codes ${bytesUnder(dir)}B not < half of float32 ${bytesUnder(floatDir)}B")
  }

  test("bucketed tables join without an exchange") {
    // the in-memory catalog is fresh per JVM but the warehouse dir
    // persists — clear stale table locations from previous runs
    for (t <- Seq("orders_b", "lineitem_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Bucketed.writeBucketed(o, "orders_b", "o_orderkey", 8)
    Bucketed.writeBucketed(li, "lineitem_b", "o_orderkey", 8)
    val joined = Bucketed.read(spark, "orders_b")
      .join(Bucketed.read(spark, "lineitem_b"), "o_orderkey")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(800)}")
    assert(joined.count() == Tables.lineitem(spark, sf).count())
  }
}
