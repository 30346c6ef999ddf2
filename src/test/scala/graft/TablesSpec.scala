package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Tables` resolves each table's schema once per file version: a
  * rewrite is seen at once, an unchanged table is read without a
  * schema-inference job, and the cached schema reads what inference
  * would. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Spark jobs launched while `f` runs. */
  private def jobsDuring(f: => Unit): Int = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; ListenerDrain(spark.sparkContext); n.get() }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("overwriting a table at the same path is seen by the next read: new schema, new rows") {
    val dir = Files.createTempDirectory("tables-overwrite").toString
    Seq((1L, "a"), (2L, "b")).toDF("p_partkey", "p_name")
      .write.parquet(s"$dir/part.parquet")
    val first = Tables.part(spark, dir)
    assert(first.columns.toSeq == Seq("p_partkey", "p_name"))
    assert(rows(Tables.part(spark, dir)) == Seq("[1,a]", "[2,b]"))

    Seq((3L, 9.5, "x")).toDF("p_partkey", "p_retailprice", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val second = Tables.part(spark, dir)
    assert(second.columns.toSeq == Seq("p_partkey", "p_retailprice", "p_brand"))
    assert(rows(second) == Seq("[3,9.5,x]"))

    // same columns, other rows: the file version alone must miss
    Seq((3L, 1.25, "y"), (4L, 2.5, "z")).toDF("p_partkey", "p_retailprice", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    assert(rows(Tables.part(spark, dir)) == Seq("[3,1.25,y]", "[4,2.5,z]"))
  }

  test("a second read of an unchanged table launches no Spark job") {
    val dir = Files.createTempDirectory("tables-jobs").toString
    spark.range(100).select(col("id").as("c_custkey"), (col("id") * 1.5).as("c_acctbal"))
      .write.parquet(s"$dir/customer.parquet")
    // the first read of this file version infers (a footer-reading job)
    assert(jobsDuring(Tables.customer(spark, dir)) >= 1)
    assert(jobsDuring(Tables.customer(spark, dir)) == 0)
    // the shared test tables, events' timestamp normalization included;
    // events sets nanosAsLong, a conf in the key, so it is read first
    Tables.events(spark, sf); Tables.lineitem(spark, sf)
    assert(jobsDuring { Tables.lineitem(spark, sf); Tables.events(spark, sf) } == 0)
  }

  test("a day-partitioned directory reads the same schema and rows with and without the cache") {
    val dir = Files.createTempDirectory("tables-days").toString
    Seq((1L, "2024-01-01", "alpha"), (2L, "2024-01-01", "beta"), (3L, "2024-01-02", "gamma"))
      .toDF("doc_id", "day", "text")
      .write.partitionBy("day").parquet(s"$dir/documents.parquet")
    val plain = spark.read.parquet(s"$dir/documents.parquet")
    Tables.documents(spark, dir) // infer and cache
    val cached = Tables.documents(spark, dir)
    assert(jobsDuring(Tables.documents(spark, dir)) == 0)
    assert(cached.schema == plain.schema)
    assert(rows(cached) == rows(plain))
    assert(rows(cached.filter(col("day") === "2024-01-02")) == Seq("[3,gamma,2024-01-02]"))
  }
}
