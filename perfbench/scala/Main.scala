package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Outcome of one timed request: a query or a served batch, or a
  * maintenance op (ingest day, index append, tombstone). */
final case class Op(startNs: Long, endNs: Long, ok: Boolean, inputRows: Long,
                    maintenance: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Op {
  /** Times `f`, which returns whether it succeeded and its input rows. */
  def time(maintenance: Boolean)(f: => (Boolean, Long)): Op = {
    val t0 = System.nanoTime()
    val (ok, rows) = f
    Op(t0, System.nanoTime(), ok, rows, maintenance)
  }
}

/** What a workload hands back: timed ops, set-up times, named checks
  * and per-layer metrics (filled only when traced). */
final class Outcome {
  val ops = mutable.ArrayBuffer.empty[Op]
  var setupS = Seq.empty[Double]
  var clients = 1 // closed-loop clients
  val checks = mutable.LinkedHashMap.empty[String, String] // name -> "" when ok
  val layers = mutable.LinkedHashMap.empty[String, Double]
  // a traced run's overhead sample: (untraced, traced) op of each request
  val overhead = new java.util.concurrent.ConcurrentLinkedQueue[(Op, Op)]()

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = checks.synchronized {
    checks(name) = if (ok) "" else Option(detail).filter(_.nonEmpty).getOrElse("failed")
  }

  def addOp(op: Op): Unit = ops.synchronized(ops += op)

  /** One request of a traced run's tracing-overhead sample: `send` runs
    * twice back to back over the same state, untraced and traced, the
    * order alternating with `i` so that warm-up favours neither. */
  def sampleOverhead(t: Tracer, i: Int)(send: => Op): Unit = overhead.add(
    if (i % 2 == 0) { val plain = t.untraced(send); (plain, send) }
    else { val traced = send; (t.untraced(send), traced) })
}

/** Entry point of the benchmark JVM: one workload, one seed-generated
  * input directory, one result file (or, as `train`, a short run that
  * loads the classes a run needs, for the build's class-data archive).
  *
  *   perfbench.Main <workload> <tablesDir> <inputDir> <workDir> <seconds> <trace> <out.json> <cores>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, tables, input, work, seconds, trace, out, cores) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    if (workload == "train") { // the build's run for the class-data archive
      SparkEntry.queries(Dashboard.Queries.head)(spark, tables).collect()
      spark.range(10).write.parquet(s"$work/train")
      spark.stop()
      return
    }
    val traced = trace == "1"
    val secs = seconds.toDouble
    val run: (SparkSession, String, String, String, Double, Tracer) => Outcome = workload match {
      case "dashboard"    => Dashboard.run
      case "search_serve" => SearchServe.run
      case w => sys.error(s"unknown workload $w")
    }
    val tracer = new Tracer(spark.sparkContext, enabled = traced)
    val o = run(spark, tables, input, work, secs, tracer)
    if (traced) {
      tracer.drain()
      sparkLayer(tracer, o, cores.toInt)
      val pairs = o.overhead.asScala.toSeq
      o.layers("trace.overhead_p50_ms") = median(pairs.map { case (p, t) => t.ms - p.ms })
      o.layers("trace.overhead_ops_pct") =
        100.0 * (1 - pairs.map(_._1.ms).sum / pairs.map(_._2.ms).sum.max(1e-9))
      tracer.dump(s"$work/spans.jsonl")
    }
    Files.writeString(Paths.get(out), json(o))
    spark.stop()
  }

  /** Engine counters over the spans of the timed phase (its requests
    * carry ids from 1; a span outside it carries 0). */
  private def sparkLayer(t: Tracer, o: Outcome, cores: Int): Unit = {
    val timed = t.all.filter(_.request > 0)
    val roots = timed.filter(_.parent == 0)
    val c = t.total(timed)
    val wallMs = if (roots.isEmpty) 0.0
      else (roots.map(_.endNs).max - roots.map(_.startNs).min) / 1e6
    o.layers("spark.jobs") = c.jobs
    o.layers("spark.tasks") = c.tasks
    o.layers("spark.task_run_ms") = c.taskRunMs
    o.layers("spark.core_util") = if (wallMs > 0) c.taskRunMs / (wallMs * cores) else 0.0
    o.layers("spark.queue_wait_ms") = if (c.jobs > 0) c.queueWaitMs.toDouble / c.jobs else 0.0
    o.layers("spark.shuffle_bytes") = c.shuffleBytes
    o.layers("spark.spill_bytes") = c.spillBytes
    o.layers("spark.gc_ms") = c.gcMs
    o.layers("spark.failed_tasks") = c.failedTasks
    t.selfMs.foreach { case (l, ms) => o.layers(s"$l.self_ms") = ms }
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Closed-loop throughput of every op, served and maintenance:
    * clients / mean op latency, which leaves out the drain at the end
    * of a run when fewer clients are busy. */
  def opsPerS(ops: Seq[Op], clients: Int): Double =
    if (ops.isEmpty) 0.0 else clients * ops.size / ops.map(_.ms / 1e3).sum

  private def peakRssMb: Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    hwm / 1024.0
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def endToEnd(o: Outcome, ops: Seq[Op]): Map[String, Double] = Map(
    "setup_s" -> median(o.setupS),
    "ops_per_s" -> opsPerS(ops, o.clients),
    "latency_p50_ms" -> percentile(ops.map(_.ms), 50),
    "rows_per_s" -> rowsPerS(ops, o.clients))

  /** Input rows per second of the workload's data path, over the time
    * its ops ran: the maintenance ops' (one client) when it has any,
    * else every op's. */
  private def rowsPerS(all: Seq[Op], clients: Int): Double = {
    val writes = all.filter(_.maintenance)
    val (ops, n) = if (writes.nonEmpty) (writes, 1) else (all, clients)
    if (ops.isEmpty) 0.0 else n * ops.map(_.inputRows).sum / ops.map(_.ms / 1e3).sum
  }

  private def json(o: Outcome): String = obj(Seq(
    "attempted" -> o.ops.size.toString,
    "failed" -> o.ops.count(!_.ok).toString,
    "checks" -> obj(o.checks.map { case (k, v) => k -> str(v) }),
    "end_to_end" -> obj((endToEnd(o, o.ops.toSeq) + ("peak_rss_mb" -> peakRssMb))
      .map { case (k, v) => k -> num(v) }),
    "setup_runs_s" -> o.setupS.map(num).mkString("[", ",", "]"),
    "layers" -> obj(o.layers.map { case (k, v) => k -> num(v) })))
}
