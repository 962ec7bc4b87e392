package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 32-bit SimHash fingerprint ('0'/'1' string) of a
  * space-tokenized text ([[graft.operators.Dedup.simHash32]]) —
  * bit-identical to the built-in chain the DuckDB oracle mirrors (an
  * `aggregate` over the tokens that votes the 32 hex digits of each
  * token's md5 through `zip_with`), without its per-token
  * intermediates: the built-in form materializes, per token, a 32-char md5 hex string,
  * splits it into 32 single-char strings, and folds a fresh 32-int
  * array through `zip_with` — allocation per token per bit. Here the
  * votes accumulate in one int[32] straight from the raw digest
  * nibbles (hex digit j >= '8' iff nibble j >= 8, the same test on the
  * same bits), one MessageDigest reused across tokens.
  *
  * Tokenization contract: `split(text, " ")` with Java limit -1
  * semantics — split at every single space, empty tokens (consecutive
  * / leading spaces) kept, trailing empties kept, and the empty text
  * yields one empty token. A 0x20 byte in valid UTF-8 is always the
  * space character (continuation bytes are >= 0x80), so the byte-level
  * scan below is exactly the character-level split.
  *
  * Measured (q32 at sf0.1): 3.0 s -> see DESIGN.md §5 / the r21
  * optimization log; the md5 itself is unavoidable (oracle parity),
  * the expression removes everything around it.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_simhash32"

  // NULL text yields "" — the built-in chain's value (concat_ws skips
  // the null vote array), so a nullable text column can never fork
  // the native form from the oracle (ADVICE r21).
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8
    else SimHash32.of(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val javaCode =
      code"""
        ${childGen.code}
        UTF8String ${ev.value} = ${childGen.isNull} ?
          UTF8String.EMPTY_UTF8 :
          graft.functions.SimHash32.of(${childGen.value});
      """
    ev.copy(code = javaCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

object SimHash32 {
  val name = "graft_simhash32"

  /** The SimHash32 fingerprint of `text` (a string column). */
  def column(text: Column): Column = Bridge.column(SimHash32(Bridge.expression(text)))

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** SimHash32 of the UTF-8 text: ±1 votes over the 32 hex-digit top
    * bits of each space-separated token's md5, sign-folded to a 32-char
    * '0'/'1' string. */
  def of(text: UTF8String): UTF8String = {
    val bytes = text.getBytes
    val md = md5Local.get()
    val votes = new Array[Int](32)
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        var j = 0
        while (j < 16) {
          val b = d(j)
          votes(2 * j) += (if ((b & 0x80) != 0) 1 else -1)
          votes(2 * j + 1) += (if ((b & 0x08) != 0) 1 else -1)
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    val out = new Array[Byte](32)
    var k = 0
    while (k < 32) {
      out(k) = if (votes(k) > 0) '1' else '0'
      k += 1
    }
    UTF8String.fromBytes(out)
  }
}
