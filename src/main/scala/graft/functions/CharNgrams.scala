package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native DISTINCT character n-grams ([[graft.operators.Dedup.charShingles]])
  * — bit-identical to the built-in chain the DuckDB oracles mirror,
  * `array_distinct(transform(sequence(1, greatest(length(text) - n + 1,
  * 1)), i -> substr(text, i, n)))`, including array_distinct's
  * first-occurrence order, without materializing the L-element multiset array and
  * running the generic array_distinct pass per document. On all-ASCII
  * text (byte count == char count) each gram is a zero-copy byte
  * slice and, for n <= 8, dedupes through a packed-long hash set with
  * no per-gram allocation at all; the general path mirrors the
  * declarative per-position `substr` exactly.
  *
  * Gram semantics (exactly that chain's): character positions
  * 1..max(L-n+1, 1), each `substr(i, n)` (a text shorter than n
  * yields itself as its single gram; the empty text yields one empty
  * gram).
  */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1, got $n")
    else child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_char_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    CharNgrams.of(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.CharNgrams.of($s, $n);")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object CharNgrams {
  val name = "graft_char_ngrams"

  /** The distinct character `n`-grams of `text` (a string column),
    * in first-seen order. */
  def column(text: Column, n: Int): Column = {
    require(n >= 1, s"$name: n must be >= 1, got $n")
    Bridge.column(CharNgrams(Bridge.expression(text), n))
  }

  /** Distinct char n-grams in first-seen order. */
  def of(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    if (bytes.length == text.numChars() && n <= 8) ofAsciiPacked(bytes, n)
    else ofGeneric(text, n)
  }

  /** ASCII, n <= 8: every full gram packs injectively into a long
    * (n bytes, zero-padded — texts shorter than n have exactly ONE
    * gram, so padding never collides with a full gram). */
  private def ofAsciiPacked(bytes: Array[Byte], n: Int): ArrayData = {
    val len = bytes.length
    if (len < n)
      return new GenericArrayData(Array[Any](UTF8String.fromBytes(bytes)))
    val nGrams = len - n + 1
    val seen = new java.util.HashSet[java.lang.Long](
      math.max(16, nGrams * 2))
    val out = new java.util.ArrayList[Any](math.min(nGrams, 1024))
    var i = 0
    while (i < nGrams) {
      var key = 0L
      var j = 0
      while (j < n) { key = (key << 8) | (bytes(i + j) & 0xffL); j += 1 }
      if (seen.add(key)) out.add(UTF8String.fromBytes(bytes, i, n))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private def ofGeneric(text: UTF8String, n: Int): ArrayData = {
    val nChars = text.numChars()
    val nGrams = math.max(nChars - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](
      math.max(16, nGrams * 2))
    var i = 0
    while (i < nGrams) {
      seen.add(text.substringSQL(i + 1, n))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]]
      .asInstanceOf[Array[Any]])
  }
}
