package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out for the generated request files, and timing and
  * threading helpers. */
object Inputs {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** Runs every task on a thread of its own, waits for all of them
    * and rethrows the first failure. */
  def inParallel(tasks: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map(f => new Thread(() =>
      try f() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
