package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters charged to one span (or summed over many). */
final class Counters {
  var jobs, tasks, failedTasks = 0L
  var taskRunMs, gcMs, queueWaitMs = 0L
  var shuffleBytes, spillBytes, inputBytes, inputRows = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    taskRunMs += o.taskRunMs; gcMs += o.gcMs; queueWaitMs += o.queueWaitMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRows += o.inputRows
  }
}

/** One call into a layer, timed from the benchmark's side. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
                      request: Long, startNs: Long, var endNs: Long = 0L) {
  val counters = new Counters
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. Each span sets the Spark local
  * property [[Tracer.SpanProp]] on the calling thread, so the listener
  * charges every job the call submits (and that job's stages and
  * tasks) to the span that was open when the job started. Spans stay
  * in memory and are written out when the run ends. Untraced, and
  * inside [[untraced]], every call is a plain pass-through. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val off = ThreadLocal.withInitial[Boolean](() => false)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val request = ThreadLocal.withInitial[Long](() => 0L)

  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .flatMap(id => Option(byId.get(id.toLong))).foreach { s =>
          jobSpan.put(e.jobId, s)
          jobStart.put(e.jobId, e.time)
          e.stageIds.foreach { st => stageSpan.put(st, s); stageJob.put(st, e.jobId) }
          s.counters.synchronized { s.counters.jobs += 1 }
        }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageJob.get(e.stageId)).foreach { job =>
        // queue wait: job submitted -> its first task launched
        val t0 = jobStart.remove(job)
        if (t0 != null) {
          val s = jobSpan.get(job)
          s.counters.synchronized {
            s.counters.queueWaitMs += math.max(0L, e.taskInfo.launchTime - t0)
          }
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = s.counters
        c.synchronized {
          c.tasks += 1
          if (!e.taskInfo.successful) c.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            c.taskRunMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRows += m.inputMetrics.recordsRead
          }
        }
      }
  })

  /** Forget every span so far, keeping the listener. */
  def reset(): Unit = {
    drain()
    spans.synchronized { spans.clear(); byId.clear() }
  }

  /** Run `f` with no spans on the calling thread. */
  def untraced[T](f: => T): T = {
    off.set(true)
    try f finally off.set(false)
  }

  /** Mark the calling thread's next spans as belonging to `id`. */
  def setRequest(id: Long): Unit = request.set(id)

  /** Run `f` inside a span named `name` of `layer`. */
  def span[T](name: String, layer: String)(f: => T): T = {
    if (!enabled || off.get) return f
    val parents = stack.get()
    val s = Span(nextId.getAndIncrement(), name, layer,
      parents.headOption.map(_.id).getOrElse(0L), request.get(), System.nanoTime())
    byId.put(s.id, s)
    spans.synchronized(spans += s)
    stack.set(s :: parents)
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
      stack.set(parents)
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def layer(l: String): Seq[Span] = all.filter(_.layer == l)

  /** Counters summed over `ss`. */
  def total(ss: Seq[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => c.add(s.counters))
    c
  }

  /** Per layer: summed duration minus the part covered by child spans. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.layer).map { case (l, ls) =>
      l -> ls.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Span dump, one JSON object a line. */
  def dump(path: String): Unit = {
    val base = all.map(_.startNs).foldLeft(Long.MaxValue)(math.min)
    val lines = all.map { s =>
      val c = s.counters
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        s""""request":${s.request},"start_ms":${(s.startNs - base) / 1e6},""" +
        s""""end_ms":${(s.endNs - base) / 1e6},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""task_run_ms":${c.taskRunMs},"queue_wait_ms":${c.queueWaitMs},""" +
        s""""input_rows":${c.inputRows},"input_bytes":${c.inputBytes}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
