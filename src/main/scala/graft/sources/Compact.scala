package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import graft.Tables

/** Small-file compaction — the table-maintenance op every long-lived
  * 100 TB lake needs: streaming sinks and fine-grained partitions
  * accrete kilobyte parquet files whose per-file open/footer cost
  * dominates scans. Compaction reads the directory once and rewrites
  * it as ceil(totalBytes / targetBytes) files via a round-robin
  * repartition (size-balanced without a shuffle key; no sort order
  * is claimed or destroyed — callers who bucket/sort use the
  * Bucketed writer instead). Sizing from the ACTUAL byte total, not
  * file counts, so a directory of mixed sizes still lands on the
  * target. All paths go through the Hadoop FileSystem API — any
  * scheme, not just local disk.
  */
object Compact {

  case class CompactReport(filesIn: Int, bytesIn: Long, filesOut: Int,
                           rows: Long)

  /** The parquet data files a read of `dir` sees, RECURSIVELY — a
    * partitioned layout keeps its files in subdirectories, and a
    * non-recursive listing would report 0 input bytes and size the
    * rewrite to one file. Spark's listing rule applies
    * ([[Tables.Version.data]]), so a layout's `_tombstones` log is not
    * counted as its input. */
  private def dataFiles(s: SparkSession, dir: String): Seq[FileStatus] =
    Tables.version(s, dir).data.filter(_.getPath.getName.endsWith(".parquet"))

  /** Rewrite `dir` into `out` with ~`targetBytes` per output file.
    * Returns (input files, input bytes, output files, rows). Note the
    * output is a FLAT directory: a partitioned input's partition
    * columns become ordinary data columns (values preserved) — callers
    * keeping a partitioned layout compact per partition directory.
    * `out` must differ from `dir`: overwrite-writing the input before
    * the job reads it would destroy the data mid-flight. */
  def compact(s: SparkSession, dir: String, out: String,
              targetBytes: Long = 128L << 20): CompactReport = {
    val conf = s.sparkContext.hadoopConfiguration
    val inPath = new Path(dir).getFileSystem(conf).makeQualified(new Path(dir))
    val outPath = new Path(out).getFileSystem(conf).makeQualified(new Path(out))
    require(inPath != outPath,
      s"compact output must differ from the input directory ($inPath)")
    val in = dataFiles(s, dir)
    val bytesIn = in.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytesIn.toDouble / targetBytes).toInt)
    s.read.parquet(dir).repartition(nOut).write.mode("overwrite").parquet(out)
    // row count read back from the WRITTEN output (one cheap
    // footer-count scan) — never a second pass over the input
    CompactReport(in.length, bytesIn, dataFiles(s, out).length,
      s.read.parquet(out).count())
  }

  /** In-place compaction for a MAINTAINED INDEX directory — the
    * periodic pass that re-collapses an append-only artifact (band /
    * span / emb-code / phash indexes, IVF corpus partitions, inverted-
    * index postings) after N daily appends have accreted N small
    * files per directory. Where [[compact]] writes to a caller-chosen
    * new path, this keeps the index's PATH stable (every serve/detect
    * entry point addresses the index by its directory): the
    * size-targeted rewrite goes through [[swap]] (partitioned layouts
    * keep their partition columns via `partitionCols`, so pruned
    * probes keep pruning).
    *
    * `transform` lets log-structured indexes fold their semantic
    * collapse into the same pass (the span index re-aggregates
    * min(keeper_id) per hash — readers already do, so the collapsed
    * index is reader-identical while dropping superseded rows).
    * Cross-compaction atomicity is a table-format concern (the
    * [[compactingSink]] caveat); this is the maintenance shape. */
  def compactInPlace(s: SparkSession, dir: String,
                     targetBytes: Long = 128L << 20,
                     partitionCols: Seq[String] = Nil,
                     transform: DataFrame => DataFrame = identity,
                     sortCols: Seq[String] = Nil)
      : CompactReport = {
    val in = swap(s, dir) { tmp =>
      val in = dataFiles(s, dir)
      val nOut = math.max(1,
        math.ceil(in.map(_.getLen).sum.toDouble / targetBytes).toInt)
      val df = transform(s.read.parquet(dir))
      val clustered =
        if (partitionCols.isEmpty) df.repartition(nOut)
        // hash-cluster by the partition keys so each output partition
        // directory lands ~one file instead of one per task
        else df.repartition(nOut, partitionCols.map(col): _*)
      // layouts that rely on row-group statistics (token-sorted bucketed
      // postings) re-establish their within-file order AFTER the cluster
      val ordered =
        if (sortCols.isEmpty) clustered
        else clustered.sortWithinPartitions(sortCols.map(col): _*)
      ordered.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(tmp)
      require(fsOf(s, dir).exists(new Path(tmp, "_SUCCESS")),
        s"compaction rewrite of $dir did not commit")
      in
    }
    CompactReport(in.length, in.map(_.getLen).sum, dataFiles(s, dir).length,
      s.read.parquet(dir).count())
  }

  // ---- the one owner of stored-artifact rewrites -------------------------

  /** The scratch path beside `dir` that [[swap]] writes the next
    * generation to and [[rewriteBuckets]] stages its buckets in. */
  private def tmpOf(dir: String) = new Path(dir + ".tmp")

  /** Heal a torn [[swap]] of `dir` before anything reads it: a crash
    * between the two renames leaves no `dir` and the last committed
    * generation at `dir.old`, which renames back; a leftover temp (a
    * crash mid-write or between the renames) is discarded. */
  private def heal(fs: FileSystem, dir: String): Unit = {
    val (cur, old) = (new Path(dir), new Path(dir + ".old"))
    if (!fs.exists(cur) && fs.exists(old))
      require(fs.rename(old, cur), s"could not restore $dir from $old")
    if (fs.exists(tmpOf(dir))) fs.delete(tmpOf(dir), true)
  }

  /** The one generation swap every maintained artifact replaces its
    * files through (compactions, retrains, model merges, whole-table
    * stats rewrites): `write` builds the next generation at the temp
    * path it is handed, then the live `dir` renames aside as
    * `dir.old` and the temp renames in — two metadata ops, no data
    * copy. Returns what `write` returns.
    *
    *   - A torn swap heals FIRST ([[heal]]).
    *   - The previous `.old` is deleted at the START of the next swap,
    *     not at the end of this one — the one-cycle grace that lets a
    *     reader pinned to the pre-swap listing finish its scan.
    *   - `dir` need not exist yet (a first write).
    *
    * `write` reads the live generation itself, after the heal, and
    * never targets a path it reads — so a rewrite of `dir` from `dir`
    * needs no materialize-first checkpoint. */
  def swap[A](s: SparkSession, dir: String)(write: String => A): A = {
    val fs = fsOf(s, dir)
    val (cur, old, tmp) = (new Path(dir), new Path(dir + ".old"), tmpOf(dir))
    heal(fs, dir)
    if (fs.exists(old)) fs.delete(old, true)
    val written = write(tmp.toString)
    require(fs.exists(tmp), s"the rewrite of $dir wrote nothing")
    if (fs.exists(cur)) require(fs.rename(cur, old), s"could not stage $dir aside")
    require(fs.rename(tmp, cur), s"could not swap the rewritten $dir in")
    written
  }

  /** The one touched-bucket rewrite of a table hash-partitioned on
    * `bucketCol` (`dir/bucketCol=b/`): `fold` receives the rows of the
    * `touched` buckets (a partition-pruned read) and returns the rows
    * that replace them, `bucketCol` included. The output stages at
    * `dir.tmp`, clustered one file per bucket, and then:
    *
    *   - every touched bucket is replaced by its staged files;
    *   - an output bucket outside `touched` KEEPS its rows: a fold
    *     whose bucket key is derived (a relabeled cluster id) can land
    *     rows there, disjoint from the kept ones — the staged files
    *     join the bucket, which then re-collapses to one file;
    *   - a touched bucket the fold drained is deleted;
    *   - every other bucket's files stay byte-identical.
    *
    * The written buckets come from the staging LISTING, so where the
    * bucket key is the row key the helper adds no Spark job beyond the
    * write, and the write never targets the path the fold reads (no
    * materialize-first checkpoint). A torn swap of `dir` heals first;
    * a crash before the moves leaves `dir` as it was, and the next
    * rewrite discards the stale staging.
    * Returns the fold's rows, lazily: a caller that uses them after
    * the rewrite materializes them inside `fold`, since the buckets
    * they read have moved by then. */
  def rewriteBuckets(s: SparkSession, dir: String, bucketCol: String,
                     touched: Seq[Int])(fold: DataFrame => DataFrame): DataFrame = {
    val fs = fsOf(s, dir)
    val stage = tmpOf(dir)
    heal(fs, dir)
    val out = fold(Tables.read(s, Tables.version(s, dir)).filter(col(bucketCol).isin(touched: _*)))
    out.repartition(col(bucketCol))
      .write.mode("overwrite").partitionBy(bucketCol).parquet(stage.toString)
    val prefix = bucketCol + "="
    def bucketDir(root: Path, b: Int) = new Path(root, prefix + b)
    def move(from: Path, to: Path) =
      require(fs.rename(from, to), s"could not move $from to $to")
    val written = fs.listStatus(stage).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toInt)
    val isTouched = touched.toSet
    val carried = written.filter { b =>
      val (from, to) = (bucketDir(stage, b), bucketDir(new Path(dir), b))
      if (isTouched(b) && fs.exists(to)) fs.delete(to, true)
      val keeps = fs.exists(to)
      if (keeps) fs.listStatus(from).foreach(f => move(f.getPath, new Path(to, f.getPath.getName)))
      else move(from, to)
      keeps
    }
    touched.filterNot(written.toSet).foreach(b => fs.delete(bucketDir(new Path(dir), b), true))
    fs.delete(stage, true)
    if (carried.nonEmpty) rewriteBuckets(s, dir, bucketCol, carried)(identity)
    out
  }

  // ---- the tombstone log -------------------------------------------------

  /** The pending-delete log of a stored artifact, `dir/_tombstones`
    * (the underscore keeps it invisible to every parquet scan of the
    * artifact): a delete appends ids here instead of rewriting data
    * files, every read subtracts them, and the next rewrite folds
    * them (the LSM tombstone discipline). Ids are never reused in
    * this engine, so a tombstone cannot shadow a later insert. */
  private def tombstoneLog(dir: String) = new Path(dir, "_tombstones")

  /** Log the distinct `key` values of `ids` as deleted from `dir`. */
  def addTombstones(dir: String, ids: DataFrame, key: String): Unit =
    ids.select(col(key)).distinct()
      .write.mode("append").parquet(tombstoneLog(dir).toString)

  /** Whether any delete against `dir` is pending (a listing probe). */
  def hasTombstones(s: SparkSession, dir: String): Boolean =
    fsOf(s, dir).exists(tombstoneLog(dir))

  /** The version of `dir`'s tombstone log, for a caller without a
    * listing of `dir`. */
  private def logOf(s: SparkSession, dir: String): Tables.Version =
    Tables.version(s, tombstoneLog(dir).toString)

  /** The pending deletes of the log version `log` (`dir/_tombstones`,
    * cut from a listing of `dir` or listed alone) as distinct `key`
    * values, or None when no delete is pending — so a read without
    * deletes gains no plan node. The ids are collected once per log
    * version ([[Tables.memo]]; the log is bounded by the deletes since
    * the last fold) and return as a local relation. */
  private[graft] def tombstones(s: SparkSession, log: Tables.Version,
                                key: String): Option[DataFrame] =
    if (log.data.isEmpty) None
    else {
      val (schema, ids) = Tables.memo(s, log, ("ids", key)) {
        val df = Tables.read(s, log).select(col(key))
        (df.schema, df.collect().distinct)
      }
      Some(s.createDataFrame(java.util.Arrays.asList(ids: _*), schema))
    }

  def tombstones(s: SparkSession, dir: String, key: String): Option[DataFrame] =
    tombstones(s, logOf(s, dir), key)

  /** `rows` minus the pending deletes of the log version `log`, matched
    * on `key` (a broadcast anti-join); `rows` itself when none are
    * pending. */
  private[graft] def minusTombstones(s: SparkSession, log: Tables.Version, key: String)
                                    (rows: DataFrame): DataFrame =
    tombstones(s, log, key).fold(rows)(t =>
      rows.join(broadcast(t), Seq(key), "left_anti"))

  /** `rows` minus `dir`'s pending deletes. */
  def minusTombstones(s: SparkSession, dir: String, key: String)
                     (rows: DataFrame): DataFrame =
    minusTombstones(s, logOf(s, dir), key)(rows)

  /** Drop `dir`'s tombstone log once a rewrite has folded it. */
  def clearTombstones(s: SparkSession, dir: String): Unit = {
    fsOf(s, dir).delete(tombstoneLog(dir), true)
    ()
  }

  // ---- compacting streaming sink (log-structured generations) -----------

  /** Streaming APPEND sink with built-in small-file maintenance — the
    * compaction loop run AS the sink instead of as a separate job. A
    * micro-batch sink accretes one tiny parquet directory per batch;
    * left alone, a year-lived stream is a million-file table. This
    * sink keeps a two-tier log-structured layout:
    *
    *   - `dir/live/b{batchId}` — one directory per micro-batch,
    *     written with OVERWRITE so an at-least-once foreachBatch
    *     replay rewrites the same directory instead of duplicating,
    *   - `dir/g{N}` — compacted generations; the NAME records the
    *     highest batch id folded in, so recovery needs no manifest:
    *     the newest generation plus live batches with id > N is
    *     always exactly-once data, and stale live directories (from a
    *     crash between compaction and cleanup, or a replay) are
    *     IGNORED by id, never double-counted.
    *
    * Every `compactEvery` batches the current view rewrites into the
    * next generation (size-targeted like [[compact]]). Only
    * directories carrying Spark's `_SUCCESS` marker count as
    * committed — a torn write from a mid-job crash stays invisible
    * instead of masquerading as the current generation — and cleanup
    * runs with a ONE-COMPACTION GRACE: the directories a compaction
    * folds are deleted by the NEXT compaction, not immediately, so a
    * reader holding the pre-compaction listing can finish. A failure
    * anywhere in cleanup affects garbage, not correctness. Readers go
    * through [[readCompacting]]. (Full snapshot isolation across
    * concurrent readers/writers is a table-format concern —
    * Delta/Iceberg; this component is the maintenance SHAPE with
    * crash-safe accounting.) */
  def compactingSink(rows: DataFrame, dir: String, compactEvery: Int = 10,
                     targetBytes: Long = 128L << 20)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // an empty micro-batch would write a schema-less directory
        // that poisons every later read — skip the write, still run
        // the compaction cadence
        if (!batch.isEmpty)
          batch.write.mode("overwrite").parquet(s"$dir/live/b$batchId")
        if ((batchId + 1) % compactEvery == 0)
          compactGenerations(s, dir, batchId, targetBytes)
        ()
      }
      .start()

  private def fsOf(s: SparkSession, dir: String) =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def numberedDirs(s: SparkSession, dir: String,
                           prefix: String): Seq[(Long, String)] = {
    val fs = fsOf(s, dir); val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.matches(prefix + "\\d+") &&
        // only COMMITTED directories count: a write that crashed
        // mid-job leaves no _SUCCESS marker, and a torn generation
        // that became 'current' by name alone would silently hide the
        // live batches it failed to fold (and the next compaction
        // would bake the loss in). A torn dir stays invisible until
        // its batch replays and overwrites it.
        fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(st => (st.getPath.getName.drop(prefix.length).toLong,
        st.getPath.toString))
      .sortBy(_._1)
  }

  private[graft] def currentGen(s: SparkSession, dir: String): Option[(Long, String)] =
    numberedDirs(s, dir, "g").lastOption

  /** The sink's current contents: newest generation + live batches
    * NEWER than it (older live dirs are already folded in — ignored
    * by id, so replayed or crash-orphaned directories cannot
    * double-count). */
  def readCompacting(s: SparkSession, dir: String): DataFrame = {
    val gen = currentGen(s, dir)
    val upTo = gen.map(_._1).getOrElse(-1L)
    val parts = gen.map(_._2).toSeq ++
      numberedDirs(s, s"$dir/live", "b").filter(_._1 > upTo).map(_._2)
    require(parts.nonEmpty, s"no data under $dir")
    parts.map(s.read.parquet(_)).reduce(_ unionByName _)
  }

  /** Committed generation ids retained under `dir`, oldest first —
    * the time-travel catalog. The one-compaction grace means the
    * newest TWO generations (plus live batches newer than the older
    * one) are always on disk, so one full compaction cycle of history
    * is queryable at any time without a manifest. */
  def listGenerations(s: SparkSession, dir: String): Seq[Long] =
    numberedDirs(s, dir, "g").map(_._1)

  /** Time-travel read: the sink's contents AS OF `batchId` — the
    * newest committed generation at or before it plus the live batch
    * directories in between. Sound exactly for the retained window
    * (batchId ≥ oldest retained generation): beyond it, folded live
    * directories are already garbage-collected and a silent partial
    * read would masquerade as history, so this REFUSES instead
    * (fail-loud, the [[readCompacting]] contract). Deeper history is
    * a table-format/retention decision, not a maintenance-sink one. */
  def readAsOf(s: SparkSession, dir: String, batchId: Long): DataFrame = {
    val gens = numberedDirs(s, dir, "g")
    require(gens.isEmpty || batchId >= gens.head._1,
      s"batch $batchId predates the retained window (oldest generation " +
        s"${gens.head._1}) — its folded live directories are collected")
    val gen = gens.filter(_._1 <= batchId).lastOption
    val upTo = gen.map(_._1).getOrElse(-1L)
    val parts = gen.map(_._2).toSeq ++
      numberedDirs(s, s"$dir/live", "b")
        .filter(t => t._1 > upTo && t._1 <= batchId).map(_._2)
    require(parts.nonEmpty, s"no data as of batch $batchId under $dir")
    parts.map(s.read.parquet(_)).reduce(_ unionByName _)
  }

  private[graft] def compactGenerations(s: SparkSession, dir: String,
                                        batchId: Long, targetBytes: Long): Unit = {
    val gen = currentGen(s, dir)
    // at-least-once replay guard: if a generation at or past this
    // batch is already committed, this compaction already ran —
    // proceeding would read g{batchId} while overwrite-writing the
    // same path, which Spark rejects on every retry (a wedged stream)
    if (gen.exists(_._1 >= batchId)) return
    val upTo = gen.map(_._1).getOrElse(-1L)
    val lives = numberedDirs(s, s"$dir/live", "b").filter(_._1 > upTo)
    val inputs = gen.map(_._2).toSeq ++ lives.map(_._2)
    if (inputs.isEmpty) return
    val bytesIn = inputs.flatMap(d => dataFiles(s, d)).map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytesIn.toDouble / targetBytes).toInt)
    inputs.map(s.read.parquet(_)).reduce(_ unionByName _)
      .repartition(nOut)
      .write.mode("overwrite").parquet(s"$dir/g$batchId")
    // cleanup is pure garbage collection with a ONE-COMPACTION GRACE:
    // the directories folded into g{batchId} (the prior generation
    // and its live batches) survive until the NEXT compaction, so a
    // reader that listed the pre-compaction view can finish its scan.
    // Readers never double-count them — readCompacting filters by id
    // against the newest generation. What IS deleted here is one full
    // cycle old: superseded before this compaction even started.
    val fs = fsOf(s, dir)
    numberedDirs(s, dir, "g").filter(_._1 < upTo)
      .foreach { case (_, p) => fs.delete(new Path(p), true) }
    numberedDirs(s, s"$dir/live", "b").filter(_._1 <= upTo)
      .foreach { case (_, p) => fs.delete(new Path(p), true) }
  }
}
