package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram MULTISET of a space-tokenized text — the grams
  * of [[graft.operators.Dedup.wordShingleMultiset]], equal to the
  * zip-fold [[graft.operators.Dedup.wordShingleMultisetFromTokens]]
  * over `split(text, " ")` (the form the DuckDB oracles mirror)
  * without its per-row work: the zip-fold runs n−1 interpreted
  * `zip_with` passes (HOFs are CodegenFallback), allocating an
  * intermediate gram array per step per document.
  *
  * The key identity this exploits: `split(text, " ")` splits at EVERY
  * single space (empty tokens kept, Java limit -1 semantics), so the
  * n-gram of consecutive tokens i..i+n−1 re-joined with single spaces
  * is EXACTLY the byte range of the original text from token i's
  * start to token i+n−1's end — each gram is a zero-copy slice over
  * the input's byte buffer, no string is ever built. The short-text
  * fallback (`concat_ws(" ", words)` when the text has fewer than n
  * tokens) is the same identity applied end-to-end: it reconstructs
  * the text verbatim. A 0x20 byte in valid UTF-8 is always the space
  * character, so the byte scan equals the character-level split.
  *
  * Bit-identity vs the declarative chain pinned by NativeTextHashSpec
  * (edge fixtures + the documents corpus).
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1, got $n")
    else child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_word_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    WordNgrams.of(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.WordNgrams.of($s, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  val name = "graft_word_ngrams"

  /** The word `n`-gram multiset of `text` (a string column). */
  def column(text: Column, n: Int): Column = {
    require(n >= 1, s"$name: n must be >= 1, got $n")
    Bridge.column(WordNgrams(Bridge.expression(text), n))
  }

  /** Word n-gram multiset as byte-range slices of the text (see the
    * class doc for why slicing is exact). Fewer than n tokens → one
    * gram, the text itself. */
  def of(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // token count = spaces + 1 (split keeps leading/trailing empties)
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val tokens = spaces + 1
    if (tokens < n) return new GenericArrayData(Array[Any](text))
    val out = new Array[Any](tokens - n + 1)
    // starts(j) = byte offset of token j; gram g spans
    // [starts(g), end of token g+n-1) — track a ring of the last n
    // token starts to avoid materializing all boundaries
    val ring = new Array[Int](n)
    var tok = 0      // index of the token currently being scanned
    var start = 0    // its start offset
    ring(0) = 0
    i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        // token `tok` ends at i
        if (tok >= n - 1) {
          val g = tok - (n - 1)
          val gs = ring(g % n)
          out(g) = UTF8String.fromBytes(bytes, gs, i - gs)
        }
        tok += 1
        start = i + 1
        if (tok < tokens) ring(tok % n) = start
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
