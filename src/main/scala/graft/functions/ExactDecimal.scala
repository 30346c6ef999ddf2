package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, EvalMode, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native Catalyst expression: the unscaled `Long` of
  * `cast(x AS DECIMAL(18, scale))` for a double `x`, without the
  * per-row `Double.toString` → `BigDecimal` round trip of Spark's cast.
  *
  * Why the fast path is exact. Spark's cast takes the shortest decimal
  * `d` that reads back as `x` (so |d − x| ≤ ulp(x)) and rounds d·10^s
  * HALF_UP. The kernel computes y = x·10^s in double (one rounding,
  * ≤ ½ ulp(y)) and rounds y to the nearest integer. Together the two
  * errors put y within 2.5 ulp(y) of d·10^s. When |y| < 2^52 and y is
  * more than |y|·2^-49 (≥ 4 ulp(y)) away from every half-integer, y
  * and d·10^s lie strictly inside the same (k − ½, k + ½), so both
  * roundings give k; every operation in that test is exact.
  *
  * Everything else — NaN, ±Inf, |y| ≥ 2^52, values near a tie —
  * falls back to Spark's own `Cast` with the eval mode captured when
  * the expression is built (like `Cast` itself), so nulls, overflow
  * and ANSI errors are exactly today's.
  */
case class DoubleToUnscaled(
    child: Expression,
    scale: Int,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends UnaryExpression {

  require(scale >= 0 && scale <= 18, s"scale $scale outside [0, 18]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects double, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "double_to_unscaled"

  private val pow = math.pow(10, scale)

  /** Spark's own cast for the inputs the fast path declines. */
  def viaCast(x: Double): java.lang.Long =
    Cast(Literal(x), DecimalType(18, scale), None, evalMode).eval() match {
      case null       => null
      case d: Decimal => java.lang.Long.valueOf(d.toUnscaledLong)
    }

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Double]
    val y = x * pow
    val r = math.rint(y)
    if (math.abs(y) < DoubleToUnscaled.Limit &&
        0.5 - math.abs(y - r) > math.abs(y) * DoubleToUnscaled.Margin) r.toLong
    else viaCast(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, x => {
      val y = ctx.freshName("y")
      val r = ctx.freshName("r")
      val slow = ctx.freshName("slow")
      s"""
         |final double $y = $x * ${pow}D;
         |final double $r = java.lang.Math.rint($y);
         |if (java.lang.Math.abs($y) < ${DoubleToUnscaled.Limit}D &&
         |    0.5D - java.lang.Math.abs($y - $r) > java.lang.Math.abs($y) * ${DoubleToUnscaled.Margin}D) {
         |  ${ev.value} = (long) $r;
         |} else {
         |  final java.lang.Long $slow = $kernel.viaCast($x);
         |  if ($slow == null) { ${ev.isNull} = true; } else { ${ev.value} = $slow.longValue(); }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DoubleToUnscaled {
  /** 2^52: below it every integer is a double and ulp(y) ≤ ½. */
  val Limit: Double = 4503599627370496.0
  /** 2^-49: |y|·2^-49 ≥ 4 ulp(y) for every normal y. */
  val Margin: Double = 1.7763568394002505e-15
}

/** Exact `DECIMAL(38, scale)` of `hi·10^9 + lo` unscaled units: the
  * read-out of the two `long` partial sums `graft.Util.sumDec` keeps.
  * Evaluated once per group, so interpreted. */
case class UnscaledSum(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DecimalType(38, scale)

  override protected def nullSafeEval(hi: Any, lo: Any): Any = {
    val u = java.math.BigInteger.valueOf(hi.asInstanceOf[Long])
      .multiply(UnscaledSum.SplitBig)
      .add(java.math.BigInteger.valueOf(lo.asInstanceOf[Long]))
    Decimal(new java.math.BigDecimal(u, scale), 38, scale)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object UnscaledSum {
  /** Unscaled u splits as u = hi·Split + lo with |hi|, |lo| < 10^9. */
  val Split: Long = 1000000000L
  private val SplitBig = java.math.BigInteger.valueOf(Split)
}
