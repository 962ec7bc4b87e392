package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, Decimal}

/** Native `cast(double AS decimal(18,3))` for the exact-decimal money
  * aggregates ([[graft.queries.QueryUtil.dec]]) — bit-identical to the
  * built-in cast on its domain, without the per-row
  * `Double.toString` + `BigDecimal` parse + `setScale` allocation
  * chain the built-in routes every value through.
  *
  * The built-in cast's semantics: shortest-decimal-representation of
  * the double (`BigDecimal.valueOf`), rounded HALF_UP to 3 decimals.
  * Fast path: `round-half-up(|x|·1000)` as a long-backed Decimal —
  * valid whenever the accumulated double error cannot flip the
  * rounding, i.e. when |x·1000| < 10^12 (error ≤ 1.5 ulp ≈ 3.3e-4)
  * AND the fractional part of |x·1000| sits more than 1e-3 from the
  * .5 rounding boundary. Inside that guard band (a genuine 4-decimal
  * tie like 0.0005, where shortest-repr rounding is subtle) and for
  * large magnitudes, the SLOW path computes the exact built-in
  * semantics — so equality with the cast holds BY CONSTRUCTION for
  * every finite input, not just for 2-decimal money values
  * (Dec3PropertySpec pins it on random doubles, exact ties, and
  * magnitude extremes).
  *
  * Failure contract: exactly the cast's under the default
  * `spark.sql.ansi.enabled=true`. NULL, NaN and ±Infinity yield NULL;
  * a finite value whose rounded form overflows decimal(18,3) throws
  * (`ArithmeticException`, where the cast throws
  * `SparkArithmeticException`). */
case class Dec3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case DoubleType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a double argument, got ${t.sql}")
    }

  override def dataType: DataType = DecimalType(18, 3)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_dec3"

  override protected def nullSafeEval(input: Any): Any =
    Dec3.of(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.Dec3.of($x);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Dec3 =
    copy(child = newChild)
}

object Dec3 {
  val name = "graft_dec3"

  /** `x` (a double column) as decimal(18,3); see the class doc. */
  def column(x: Column): Column = Bridge.column(Dec3(Bridge.expression(x)))

  /** Largest |x·1000| the fast path accepts: below 10^12 the combined
    * multiply + shortest-repr error stays ≤ ~3.3e-4, an order under
    * the 1e-3 tie guard band. */
  private val FastMagnitude = 1.0e12

  /** `cast(d AS decimal(18,3))` (shortest-repr HALF_UP), precision 18
    * scale 3. NULL for NaN/infinite input; throws on decimal(18,3)
    * overflow. */
  def of(d: Double): Decimal = {
    val v = d * 1000.0
    val av = math.abs(v)
    // NaN fails both comparisons below, so it falls to the slow path
    // and yields NULL there.
    if (av < FastMagnitude) {
      val fl = math.floor(av)
      val frac = av - fl
      val dist = math.abs(frac - 0.5)
      if (dist > 1.0e-3) {
        val r = math.floor(av + 0.5).toLong
        return Decimal(if (d < 0) -r else r, 18, 3)
      }
    }
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      return null
    val bd = new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(3, java.math.RoundingMode.HALF_UP)
    if (bd.precision > 18)
      throw new ArithmeticException(
        s"graft_dec3: $d overflows decimal(18,3)")
    Decimal(bd)
  }
}
