package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native "first 15 hex digits of md5 as a long" — the MinHash base
  * hash ([[graft.operators.Dedup.shingleBaseHash]]) without the hex
  * STRING round-trip: the built-in form `conv(substring(md5(s),1,15),
  * 16,10)` materializes a 32-char hex string per shingle and re-parses
  * 15 chars of it; this expression reads the same 60 bits straight out
  * of the digest bytes (b[0..6] then the high nibble of b[7] — exactly
  * the number the hex prefix encodes), so results are bit-identical to
  * the built-in chain and the DuckDB oracle mirror
  * `('0x'||substr(md5(s),1,15))::BIGINT` stays valid.
  *
  * Measured (2.9M char 5-grams at sf0.1, 2.5 s → 1.75 s): see DESIGN.md §5
  * — this is the QDot discipline: built-ins first, a native Expression
  * only where the measurement says the built-in chain leaves real time
  * on the table.
  */
case class Md5Prefix64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_md5_prefix64"

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix64.ofBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Prefix64.ofBytes($s.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

object Md5Prefix64 {
  val name = "graft_md5_prefix64"

  /** The 60-bit md5 prefix of `s` (a string column). */
  def column(s: Column): Column = Bridge.column(Md5Prefix64(Bridge.expression(s)))

  /** First 60 bits of md5(bytes), as the hex-prefix integer. */
  def ofBytes(bytes: Array[Byte]): Long = {
    val d = org.apache.commons.codec.digest.DigestUtils.md5(bytes)
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    (acc << 4) | ((d(7) & 0xffL) >>> 4)
  }
}
