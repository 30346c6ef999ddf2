package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}
import org.apache.hadoop.fs.{FileStatus, Path}

/** Typed access to the driver-generated parquet tables (TESTDATA.md),
  * and the one owner of what the engine keeps per file version of any
  * stored path: base tables and the artifacts the engine writes
  * (inverted and positional indexes, IVF layouts, tombstone logs).
  *
  * Data is never cached here — each query builds a fresh plan and the
  * optimizer dedups shared scans where it can. What is kept:
  *
  *  - Schemas. Inferring a parquet schema reads a footer in a Spark job
  *    (10–130 ms), so the inferred `StructType` is kept and later reads
  *    pass it to the scan. Without `mergeSchema`, inference reads one
  *    footer and takes every data file to share it; so a schema stays
  *    valid while the listing still holds a data file of the last
  *    listing it was read over, with the same partition directories
  *    and the same session confs that change what inference returns
  *    (under `mergeSchema`, only the identical listing). An append
  *    keeps it; a rewrite that replaces every file (overwrite,
  *    compaction, swap) infers again.
  *  - Small per-generation values ([[memo]]): trained artifacts, an
  *    index's bucket count and corpus scalars, a log's distinct ids.
  *
  * Both are keyed on a [[Version]]: the leaf listing of the path, made
  * with the Hadoop FileSystem on every call (no Spark job). Every write
  * creates new file names, so a value from an older generation can
  * never serve. A read through a [[Version]] builds its file index from
  * that same listing, so it launches neither a listing nor an
  * inference job once the schema is known.
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

  /** (path, partition directories, confs) → (schema, the data files it
    * was inferred over). */
  private val schemas =
    new java.util.LinkedHashMap[Seq[Any], (StructType, Set[(String, Long, Long)])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[Any], (StructType, Set[(String, Long, Long)])]): Boolean =
        size() > MaxSchemas
    }

  private def stamp(f: FileStatus) = (f.getPath.toString, f.getLen, f.getModificationTime)

  /** One file version of the stored path `path`: every leaf file under
    * it, listed once. `sub` cuts a sub-path's version from the same
    * listing, so one listing of an artifact directory keys all of its
    * tables. A path that cannot be listed has no files. */
  private[graft] final case class Version(path: String, root: Path, files: Seq[FileStatus]) {
    /** The generation key: (name, length, mtime) of every leaf file. */
    lazy val key: Seq[(String, Long, Long)] = files.map(stamp)

    def sub(rel: String): Version = {
      val r = new Path(root, rel)
      val prefix = r.toString + "/"
      Version(s"$path/$rel", r, files.filter(_.getPath.toString.startsWith(prefix)))
    }

    /** Path components of `f` below the root (its own name included). */
    private def below(f: FileStatus): Seq[String] = {
      val p = f.getPath.toString
      if (p == root.toString) Seq(f.getPath.getName)
      else p.stripPrefix(root.toString + "/").split("/").toSeq
    }

    /** The files a parquet scan of `path` reads: Spark's listing rule
      * hides every component that starts with `_` or `.` (a
      * `_name=value` partition directory is read), so a layout's
      * `_tombstones` log and the commit markers are not data. */
    lazy val data: Seq[FileStatus] =
      files.filter(f => below(f).forall(c => !GraftSqlBridge.hiddenPathName(c)))

    /** The distinct `col=value` directory names on the data files' paths. */
    private[Tables] lazy val partitionDirs: Seq[String] =
      data.flatMap(f => below(f).init.filter(_.contains("="))).distinct.sorted

    /** The values of the `name=value` directories directly under the
      * root that hold data files, sorted as strings. */
    def partitions(name: String): Seq[String] =
      data.flatMap(f => below(f).headOption.filter(_.startsWith(name + "=")))
        .map(_.stripPrefix(name + "=")).distinct.sorted
  }

  /** The current [[Version]] of `path`: a recursive `listStatus` walk.
    * Not `listFiles`, whose located statuses load each file's owner
    * and permissions (on the local file system, one forked process a
    * file). */
  private[graft] def version(spark: SparkSession, path: String): Version = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(q: Path): Seq[FileStatus] =
      fs.listStatus(q).toSeq.flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st))
    val files = scala.util.Try(walk(p)).getOrElse(Nil).sortBy(_.getPath.toString)
    Version(path, fs.makeQualified(p), files)
  }

  /** A read of `v`, the data files of its listing as the scan's file
    * index, with the schema inferred at most once per version (see the
    * object doc). A version with no data files reads through
    * `spark.read.parquet`, which reports why. */
  private[graft] def read(spark: SparkSession, v: Version): DataFrame =
    if (v.data.isEmpty) spark.read.parquet(v.path)
    else {
      val merge = spark.conf.getOption("spark.sql.parquet.mergeSchema").contains("true")
      val key = Seq(v.path, v.partitionDirs, SchemaConfs.map(spark.conf.getOption))
      val files = v.data.map(stamp)
      val cached = schemas.synchronized(Option(schemas.get(key))).collect {
        case (schema, over) if (if (merge) over == files.toSet else files.exists(over)) => schema
      }
      val df = relation(spark, v, cached)
      // the files of this listing share the schema too: an append
      // after an append still finds a file it was read over
      schemas.synchronized(schemas.put(key, (df.schema, files.toSet)))
      df
    }

  /** The parquet relation over `v`'s data files: the file index takes
    * its leaf files from the listing (a pre-filled status cache), so a
    * read lists nothing. `schema` None infers it (one footer job). */
  private def relation(spark: SparkSession, v: Version, schema: Option[StructType]): DataFrame = {
    val leaves = v.data.toArray
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        if (p == v.root) Some(leaves) else None
      def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(v.root), Map.empty, schema, listed)
    val format = new ParquetFileFormat
    val parts = index.partitionSchema
    val cols = schema.getOrElse(format.inferSchema(spark, Map.empty, index.allFiles())
      .getOrElse(throw new IllegalStateException(s"no parquet schema under ${v.path}")))
    val data = GraftSqlBridge.asNullable(
      StructType(cols.filterNot(f => parts.fieldNames.contains(f.name))))
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, parts, data, None, format, Map.empty)(spark))
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, version(spark, s"$dir/$name.parquet"))

  private val trained =
    scala.collection.concurrent.TrieMap.empty[(String, Any), (Seq[(String, Long, Long)], Any)]

  /** The one memo for values derived from a stored path, keyed on
    * (path, params) and valid for one [[Version]]: trained artifacts
    * (IVF centroids, PQ codebooks, PCA and whitening bases from
    * `embeddings`; BPE merges, WordPiece and unigram pieces from
    * `documents`) and an artifact's small per-generation values (an
    * index's bucket count and corpus scalars, a tombstone log's ids).
    * A new version recomputes and replaces the entry, so a stale value
    * never serves. Every computation is deterministic, so the memo
    * changes no result. */
  private[graft] def memo[T](s: SparkSession, v: Version, params: Any)(compute: => T): T = {
    val k = (v.path, params)
    trained.get(k) match {
      case Some((key, value)) if key == v.key => value.asInstanceOf[T]
      case _ =>
        val value = compute
        trained.put(k, (v.key, value))
        value
    }
  }

  /** [[memo]] over the base table `dir/table.parquet`. */
  private[graft] def memo[T](s: SparkSession, dir: String, table: String,
                             params: Any)(train: => T): T =
    memo(s, version(s, s"$dir/$table.parquet"), params)(train)

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
