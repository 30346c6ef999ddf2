package graft

import graft.functions.DoubleToUnscaled
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** The 64-bit exact-decimal kernel against Spark's own cast: for every
  * double, scale 2/4/6 and ANSI on/off, the kernel's unscaled value,
  * null or error equals `Cast(x AS DECIMAL(18, s))`'s — interpreted
  * and through generated code. */
object ExactDecimalProps extends Properties("ExactDecimal") {

  private val Scales = Seq(2, 4, 6)
  private val Modes = Seq(EvalMode.LEGACY, EvalMode.ANSI)

  private type Outcome = Either[String, Option[Long]]

  private def outcome(f: => Option[Long]): Outcome =
    try Right(f) catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  private def viaSpark(x: java.lang.Double, s: Int, m: EvalMode.Value): Outcome = outcome {
    val lit = if (x == null) Literal(null, DoubleType) else Literal(x.doubleValue)
    Option(Cast(lit, DecimalType(18, s), None, m).eval()).map(_.asInstanceOf[Decimal].toUnscaledLong)
  }

  private def interpreted(x: java.lang.Double, s: Int, m: EvalMode.Value): Outcome = outcome {
    val lit = if (x == null) Literal(null, DoubleType) else Literal(x.doubleValue)
    Option(DoubleToUnscaled(lit, s, m).eval()).map(_.asInstanceOf[Long])
  }

  private val projections = (for (s <- Scales; m <- Modes) yield (s, m) ->
    GenerateUnsafeProjection.generate(
      Seq(DoubleToUnscaled(BoundReference(0, DoubleType, nullable = true), s, m)))).toMap

  private def generated(x: java.lang.Double, s: Int, m: EvalMode.Value): Outcome = outcome {
    val row = projections((s, m)).apply(InternalRow(x))
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  private def agrees(x: java.lang.Double): Prop = Prop.all((for (s <- Scales; m <- Modes) yield {
    val want = viaSpark(x, s, m)
    val got = (interpreted(x, s, m), generated(x, s, m))
    (got == ((want, want))) :| s"x=$x s=$s mode=$m want=$want got=$got"
  }): _*)

  private def nudged(x: Double, n: Int): Double =
    Iterator.iterate(x)(v => if (n > 0) math.nextUp(v) else math.nextDown(v)).drop(n.abs).next()

  /** Values on a 10^-g grid, 0–4 ulps off it, at magnitudes 1e-8..1e16. */
  private val gridGen: Gen[Double] = for {
    digits <- Gen.choose(1, 16)
    k <- Gen.choose(-math.pow(10, digits).toLong, math.pow(10, digits).toLong)
    g <- Gen.choose(0, 8)
    n <- Gen.choose(-4, 4)
  } yield nudged(k / math.pow(10, g), n)

  /** Exact decimal ties k + ½ at scale t: HALF_UP on the shortest repr. */
  private val tieGen: Gen[Double] = for {
    t <- Gen.oneOf(Scales)
    k <- Gen.choose(-1000000000L, 1000000000L)
  } yield (BigDecimal(2 * k + 1) * 5 / BigDecimal(10).pow(t + 1)).toDouble

  private val tieList: Gen[Double] = Gen.oneOf(0.125, -2.5e-3, 0.5, -0.5, 1.005, 2.675,
    -0.0005, 0.00005, 5e-7, -1.0000005, 1234567.125, 0.045)

  private val specialGen: Gen[Double] = Gen.oneOf(-0.0, 0.0, Double.MinPositiveValue,
    -Double.MinPositiveValue, 2.2250738585072E-309, -1e-310, java.lang.Double.MIN_NORMAL,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue,
    -Double.MaxValue)

  /** |x| ≥ 1e16 (overflow at every scale) and the 2^52 boundary of y. */
  private val largeGen: Gen[Double] = Gen.oneOf(
    for (e <- Gen.choose(16.0, 308.0); neg <- Gen.oneOf(true, false))
      yield (if (neg) -1 else 1) * math.pow(10, e),
    Gen.choose(1e8, 1e14).flatMap(x => Gen.choose(-4, 4).map(nudged(x, _))))

  property("grid values ± 1–4 ulps equal Spark's cast") =
    Prop.forAll(gridGen)(x => agrees(x))

  property("exact ties round HALF_UP like Spark's cast") =
    Prop.forAll(Gen.oneOf(tieGen, tieList))(x => agrees(x))

  property("-0.0, subnormals, NaN and ±Inf equal Spark's cast") =
    Prop.forAll(specialGen)(x => agrees(x))

  property("|x| ≥ 1e16 and the 2^52 boundary equal Spark's cast, errors included") =
    Prop.forAll(largeGen)(x => agrees(x))

  property("null in, null out") = agrees(null)
}
