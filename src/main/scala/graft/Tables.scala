package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}
import org.apache.hadoop.fs.Path

/** Typed access to the driver-generated parquet tables (TESTDATA.md).
  *
  * Loaders are plain `spark.read.parquet` so Catalyst keeps full
  * pushdown/pruning freedom; data is never cached here — each query
  * builds a fresh plan and the optimizer dedups shared scans where it
  * can.
  *
  * Schemas are cached per file version. Inferring a parquet schema
  * reads footers in a Spark job (80–130 ms a table), so the inferred
  * `StructType` is kept and later reads pass it to
  * `spark.read.schema(..)`. The key is the path, its leaf files as
  * (name, length, mtime) listed fresh on every call, and the session
  * confs that change what inference returns: any rewrite of the table,
  * or a changed conf, misses and infers again. The cache holds at most
  * `MaxSchemas` schemas and drops the least recently used first.
  */
object Tables {
  private val MaxSchemas = 256

  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val schemas = new java.util.LinkedHashMap[Seq[Any], StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Seq[Any], StructType]): Boolean =
      size() > MaxSchemas
  }

  /** (name, length, mtime) of every leaf file under `path`, or None
    * when it cannot be listed (the plain read then reports why). */
  private def version(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    scala.util.Try {
      val p = new Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      files.result().sorted
    }.toOption

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    version(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = Seq(path, files, SchemaConfs.map(spark.conf.getOption))
        schemas.synchronized(Option(schemas.get(key))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.put(key, df.schema))
            df
        }
    }
  }

  private val trained =
    scala.collection.concurrent.TrieMap.empty[(String, String, Any, Any), Any]

  /** The one memo for artifacts trained from a table (IVF centroids,
    * PQ codebooks, PCA and whitening bases from `embeddings`; BPE
    * merges, WordPiece and unigram pieces from `documents`), keyed on
    * (dir, table, params, file version of `dir/table.parquet`): a
    * rewritten table retrains instead of reusing stale artifacts.
    * Training is deterministic, so the memo changes no result; it
    * keeps one training per (dir, table, params) and drops only
    * superseded versions of that same key. */
  private[graft] def memo[T](s: SparkSession, dir: String, table: String,
                             params: Any)(train: => T): T = {
    val key = (dir, table, params, version(s, s"$dir/$table.parquet"))
    trained.getOrElseUpdate(key, {
      trained.keySet.filter(k => k._1 == dir && k._2 == table && k._3 == params &&
        k != key).foreach(trained.remove)
      train
    }).asInstanceOf[T]
  }

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** `events.ts` has shipped in two physical parquet forms; both are
    * normalized here to a plain TimestampType (micros, session-zone)
    * column so every downstream operator sees one type:
    *
    *  - TIMESTAMP(NANOS): Spark's TimestampType cannot hold nanos, so
    *    read via the nanos-as-long escape hatch and truncate to micros —
    *    identical to DuckDB's ns→µs cast for post-epoch data.
    *  - timestamp[us] without timezone (pyarrow default): Spark reads
    *    TIMESTAMP_NTZ, which admits no numeric casts. The session runs
    *    UTC, so `cast("timestamp")` reinterprets the naive value as the
    *    same instant DuckDB's `epoch()` computes on it.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }
}
