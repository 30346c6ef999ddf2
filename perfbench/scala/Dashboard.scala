package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** `dashboard`: a closed loop of [[Clients]] analysts sharing one
  * seeded request list of the 22 reference-analytics queries: a free
  * client takes the next request and collects its full result. The
  * list is a series of passes (each a permutation of the queries) and
  * the run stops at the first pass boundary after the deadline, so
  * every run weighs every query alike. Read-only: no writer and no
  * maintained artifact. */
object Dashboard {
  val Clients = 2
  val Queries: Seq[String] =
    (1 to 22).map(i => SparkEntry.queries.keys.find(_.startsWith(s"q${i}_")).get)

  final case class Result(hash: String, rows: Array[Row], schema: StructType,
                          files: Seq[String])

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(spark: SparkSession, dir: String, input: String, work: String, secs: Double,
          t: Tracer): Outcome = {
    val o = new Outcome
    val order = Inputs.json(s"$input/requests.json")("order")
      .asInstanceOf[List[Int]].map(Queries).toVector

    def query(q: String): Result = {
      val df = t.span("relational.construct", "relational")(SparkEntry.queries(q)(spark, dir))
      val rows = t.span("relational.execute", "relational")(df.collect())
      Result(digest(rows), rows, df.schema, df.inputFiles.toSeq)
    }

    // set-up: the warm-up pass, each client taking its share of the
    // queries; its results are the reference every timed result and
    // the DuckDB oracle are held to
    val (ref, setupS) = Inputs.time {
      val shares = Queries.indices.groupBy(_ % Clients).values.toSeq
      val results = new java.util.concurrent.ConcurrentHashMap[String, Result]()
      Inputs.inParallel(shares.map(idx => () =>
        idx.foreach(i => results.put(Queries(i), query(Queries(i))))): _*)
      Queries.map(q => q -> results.get(q)).toMap
    }
    o.setupS = Seq(setupS)
    o.clients = Clients
    t.reset()
    val tableRows = Inputs.json(s"$input/expected.json")("table_rows")
      .asInstanceOf[Map[String, Int]]
    val inputRows = Queries.map { q =>
      q -> tableRows.collect {
        case (n, r) if ref(q).files.exists(_.contains(s"/$n.parquet")) => r.toLong
      }.sum
    }.toMap

    Main.log(s"set-up done: $setupS s")
    var deadline = 0L
    var next = 0
    var stopped = false
    def take(): Option[Int] = synchronized {
      if (!stopped && next < order.size &&
          (next % Queries.size != 0 || next == 0 || System.nanoTime() < deadline)) {
        next += 1
        Some(next)
      } else { stopped = true; None }
    }
    def op(i: Int): Op = {
      val q = order(i - 1)
      t.setRequest(i)
      Op.time(maintenance = false) {
        val ok = try t.span(s"dashboard.$q", "client")(query(q).hash == ref(q).hash)
          catch { case e: Throwable => System.err.println(s"[dashboard] $q: $e"); false }
        (ok, inputRows(q))
      }
    }
    // the clients take requests from the start of the list until the
    // first pass boundary after `secs`
    def clients(secs: Double)(each: Int => Unit): Unit = {
      deadline = System.nanoTime() + (secs * 1e9).toLong
      next = 0
      stopped = false
      Inputs.inParallel(Seq.fill(Clients)(() => {
        var i = take()
        while (i.nonEmpty) { each(i.get); i = take() }
      }): _*)
    }
    if (t.enabled) {
      clients(0)(i => o.sampleOverhead(t, i)(op(i))) // one pass
      t.reset()
    }
    clients(secs)(i => o.addOp(op(i)))
    Main.log(s"timed phase done: ${o.ops.size} ops")
    if (t.enabled) {
      t.drain()
      val n = t.layer("client").size.max(1)
      val rel = t.layer("relational")
      val c = t.total(rel)
      o.layers("relational.construct_ms") = Main.median(t.named("relational.construct").map(_.ms))
      o.layers("relational.execute_ms") = Main.median(t.named("relational.execute").map(_.ms))
      o.layers("relational.jobs_per_query") = c.jobs.toDouble / n
      o.layers("tables.input_bytes") = c.inputBytes.toDouble / n
      o.layers("tables.input_rows") = c.inputRows.toDouble / n
    }

    // the reference results go to the DuckDB oracle compare
    val oracleDir = s"$work/oracle"
    Inputs.inParallel(Queries.grouped(6).toSeq.map(qs => () => qs.foreach { q =>
      val r = ref(q)
      spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$q")
    }): _*)
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"),
      Inputs.toJson(SparkEntry.oracleSql.filter(kv => Queries.contains(kv._1))))
    Main.log("reference results written")
    o
  }
}
