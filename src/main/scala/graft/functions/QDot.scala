package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native integer dot product over two `array<bigint>` columns, with
  * whole-stage codegen via `doGenCode` — a worked example of the
  * custom-Expression extension point (builder brief: prefer built-ins;
  * drop to a native `Expression` only when measurement says so).
  *
  * Measurement (1M dot products of dim 64 at sf0.1, DESIGN.md §5):
  * inside whole-stage codegen this expression and the built-in
  * `aggregate(zip_with(a, b, *), ...)` lambda are at parity (~0.12s);
  * on plan shapes that fall out of codegen the lambda runs interpreted
  * at ~9× the cost ([[graft.operators.Dedup.qdot]]), which is why the
  * operators use this expression.
  *
  * Semantics: sum over i of a(i)*b(i), left-to-right — identical to the
  * lambda fold (exact integer math, order-independent anyway). Inputs
  * are expected non-null element-wise (quantized vectors); a null array
  * yields null via the BinaryExpression null contract.
  */
case class QDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> arguments, got " +
            s"${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_qdot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += xs.getLong(i) * ys.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QDot =
    copy(left = newLeft, right = newRight)
}

object QDot {
  val name = "graft_qdot"

  /** The dot product of two `array<bigint>` columns. */
  def column(a: Column, b: Column): Column =
    Bridge.column(QDot(Bridge.expression(a), Bridge.expression(b)))
}
