package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev tool: per-JOB wall-clock breakdown of one or more SparkEntry
  * queries — shows how much of a query's time is serialized driver
  * round-trips (checkpoint materializations, scalar collects) vs the
  * final action, which the formatted plan alone cannot (guide §1:
  * measure where the time goes before touching anything). Usage:
  *   runMain graft.JobProfile <q1,q2,...> [sfDir]
  * Each query runs once untimed (JIT/codegen warmup, the Bench
  * discipline), then once timed with a listener recording every job's
  * duration and task count. Construction time (internal collects /
  * eager checkpoints fire there) is reported separately from the
  * final count() action, and `compiles` counts the whole-stage and
  * expression classes Janino compiled during the timed run (a warm
  * query that recompiles per request shows a nonzero count).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      println("usage: runMain graft.JobProfile <q1,q2,...> [sfDir]")
      return
    }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val starts = mutable.Map[Int, (Long, Int)]()
    val lines = mutable.ArrayBuffer[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) =
          (j.time, j.stageInfos.map(_.numTasks).sum)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, nt) =>
          lines.synchronized {
            lines += f"  job ${j.jobId}%4d ${(j.time - t0) / 1000.0}%7.3fs tasks=$nt%5d"
          }
        }
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup
      Thread.sleep(300)
      lines.synchronized(lines.clear())
      val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val c0 = compiles.getCount
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tc = System.nanoTime()
      val n = df.count()
      val t1 = System.nanoTime()
      Thread.sleep(500) // listener drain
      lines.synchronized {
        println(f"== $name rows=$n total=${(t1 - t0) / 1e9}%.3fs " +
          f"construct=${(tc - t0) / 1e9}%.3fs action=${(t1 - tc) / 1e9}%.3fs " +
          f"jobs=${lines.size} compiles=${compiles.getCount - c0}")
        lines.foreach(println)
      }
    }
    spark.stop()
  }
}
