package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Util`'s sums on the 64-bit kernel equal the BigDecimal recipe they
  * replace, `dbl(sum(c.cast(DECIMAL(18, s))))`: same values, same
  * types, same nulls and errors — per group and globally, on one and
  * on four partitions, with ANSI on and off. */
class ExactDecimalSpec extends SparkSpec {
  import spark.implicits._

  private def oldSum(c: Column, s: Int): Column = sum(c.cast(DecimalType(18, s)))

  /** The old recipe and the new, column for column. */
  private def recipes(x: Column, x4: Column, x6: Column): Seq[(Column, Column)] = Seq(
    Util.sum2(x) -> Util.dbl(oldSum(x, 2)),
    Util.sum4(x4) -> Util.dbl(oldSum(x4, 4)),
    Util.sum6(x6) -> Util.dbl(oldSum(x6, 6)),
    Util.avg2(x) -> Util.dbl(oldSum(x, 2)) / count(lit(1)),
    Util.sumDec(x, 2) -> oldSum(x, 2),
    Util.sumDec(x4, 4) -> oldSum(x4, 4),
    Util.sumDec(x6, 6) -> oldSum(x6, 6),
    Util.dbl(Util.dec2(max(x))) -> Util.dbl(max(x).cast(DecimalType(18, 2))))

  private def both(df: DataFrame, keys: Seq[Column]): (DataFrame, DataFrame) = {
    val rs = recipes(col("x"), col("x") / 100, col("x") / 10000)
    val named = (cs: Seq[Column]) => cs.zipWithIndex.map { case (c, i) => c.as(s"c$i") }
    val agg = (cs: Seq[Column]) =>
      if (keys.isEmpty) df.agg(named(cs).head, named(cs).tail: _*)
      else df.groupBy(keys: _*).agg(named(cs).head, named(cs).tail: _*)
    (agg(rs.map(_._1)), agg(rs.map(_._2)))
  }

  private def sameResult(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    // as strings: a double's shortest repr pins its bits (and -0.0)
    val order = (rs: Array[Row]) => rs.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(order(got.collect()) == order(want.collect()))
  }

  private def withAnsi[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Groups: mixed-sign 2-dp money, all-null, near 10^15, off-grid
    * values with ties, a single row; plus nulls sprinkled through. */
  private lazy val data: Seq[(Int, Option[Double])] = {
    val r = new scala.util.Random(7)
    val money = Seq.fill(400)(Some((r.nextInt(2000000) - 1000000) / 100.0))
    val nulls = Seq.fill(5)(None)
    val huge = Seq.fill(50)(Some((if (r.nextBoolean()) -1 else 1) *
      (1e15 - r.nextInt(1000000) * 0.25)))
    val offGrid = Seq.fill(200)(Some(r.nextGaussian() * 1e4)) ++
      Seq(0.125, -2.5e-3, 1.005, 2.675, -0.0).map(Some(_))
    money.map((0, _)) ++ nulls.map((1, _)) ++ huge.map((2, _)) ++
      offGrid.map((3, _)) ++ Seq((4, Some(42.42))) ++
      Seq.tabulate(20)(i => (i % 5, Option.empty[Double]))
  }

  for (ansi <- Seq(true, false); parts <- Seq(1, 4)) {
    test(s"sum2/4/6, avg2, sumDec, dec2 equal the BigDecimal recipe (ansi=$ansi, $parts partitions)") {
      withAnsi(ansi) {
        val df = data.toDF("g", "x").repartition(parts)
        val (got, want) = both(df, Seq(col("g")))
        sameResult(got, want)
        val (gotAll, wantAll) = both(df, Nil)
        sameResult(gotAll, wantAll)
        val (gotEmpty, wantEmpty) = both(df.filter(lit(false)), Nil)
        sameResult(gotEmpty, wantEmpty)
        assert(gotEmpty.collect().head.toSeq.forall(_ == null), "empty input must sum to null")
      }
    }
  }

  test("overflow past DECIMAL(18, s) behaves like the cast: error under ANSI, null row otherwise") {
    val df = Seq(1.0, 2e16, 3.0).toDF("x").repartition(2)
    withAnsi(true) {
      val e1 = intercept[Exception](df.agg(Util.sum2(col("x"))).collect())
      val e2 = intercept[Exception](df.agg(Util.dbl(oldSum(col("x"), 2))).collect())
      assert(e1.getClass == e2.getClass)
    }
    withAnsi(false) {
      sameResult(df.agg(Util.sum2(col("x")).as("s")), df.agg(Util.dbl(oldSum(col("x"), 2)).as("s")))
      assert(df.agg(Util.sum2(col("x"))).head.getDouble(0) == 4.0)
    }
  }
}
