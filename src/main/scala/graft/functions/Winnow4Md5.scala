package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native robust-fingerprint selector: the 4 smallest md5 hex digests
  * of a text's DISTINCT character 8-grams, ascending, joined with '|'
  * — the selector of [[graft.operators.TextAnalysis.fingerprint]]'s md5
  * tier, bit-identical to the built-in chain the DuckDB oracle mirrors,
  * `concat_ws("|", slice(array_sort(transform(charShingles(text, 8),
  * md5)), 1, 4))`.
  *
  * What the built-in chain pays that this removes: a 32-char hex
  * string MATERIALIZED per gram (L of them per document), two L-sized
  * Catalyst array allocations (grams, hashes), a generic
  * `array_distinct` pass, and a full O(L log L) sort of hex strings —
  * all to keep 4 values. Here each distinct gram's raw digest is
  * compared unsigned against a running top-4 (hex encoding of a
  * lowercase md5 is order-preserving, so unsigned byte order == hex
  * string order), and only the 4 winners are hex-encoded at the end.
  * The md5 per distinct gram — the oracle-parity cost — is unchanged.
  *
  * Gram semantics (exactly [[graft.operators.Dedup.charShingles]] at
  * n = 8): character positions 1..max(L-7, 1), each gram
  * `substr(i, 8)` (shorter at the short-text edge: a text under 8
  * chars yields itself as its single gram; the empty text yields one
  * empty gram), deduplicated BY GRAM (not by digest) in first-seen
  * order — which is irrelevant after sorting but keeps multiset
  * semantics identical: two distinct grams with colliding md5s would
  * occupy two sorted slots in both forms.
  */
case class Winnow4Md5(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.sql}")
    }

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_winnow4_md5"

  // NULL text yields "" — the built-in chain's value (concat_ws skips
  // the null gram array), so robust_digest stays md5("") on a
  // nullable text column instead of silently forking from the
  // oracle (ADVICE r21).
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8
    else Winnow4Md5.of(v.asInstanceOf[UTF8String])
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
          graft.functions.Winnow4Md5.of(${childGen.value});
      """
    ev.copy(code = javaCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Winnow4Md5 =
    copy(child = newChild)
}

object Winnow4Md5 {
  val name = "graft_winnow4_md5"

  /** The "h1|h2|h3|h4" selector of `text` (a string column). */
  def column(text: Column): Column = Bridge.column(Winnow4Md5(Bridge.expression(text)))

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Unsigned lexicographic compare of two 16-byte digests. */
  private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** Running top-4 smallest digests, kept sorted ascending. */
  private final class Top4 {
    val top = new Array[Array[Byte]](4)
    var size = 0
    def offer(d: Array[Byte]): Unit = {
      if (size < 4) {
        var p = size
        while (p > 0 && cmp(top(p - 1), d) > 0) { top(p) = top(p - 1); p -= 1 }
        top(p) = d
        size += 1
      } else if (cmp(d, top(3)) < 0) {
        var p = 3
        while (p > 0 && cmp(top(p - 1), d) > 0) { top(p) = top(p - 1); p -= 1 }
        top(p) = d
      }
    }
  }

  /** "h1|h2|h3|h4": the 4 smallest md5 hex digests of the text's
    * distinct char 8-grams, ascending (fewer if the text has fewer
    * distinct grams). */
  def of(text: UTF8String): UTF8String = {
    val bytes = text.getBytes
    val acc = new Top4
    if (bytes.length == text.numChars()) ofAscii(bytes, acc)
    else ofGeneric(text, acc)
    val top = acc.top
    val size = acc.size
    // hex-encode the winners, '|'-joined: size*32 hex chars + size-1 pipes
    val out = new Array[Byte](size * 33 - 1)
    var k = 0
    var pos = 0
    while (k < size) {
      if (k > 0) { out(pos) = '|'; pos += 1 }
      val d = top(k)
      var j = 0
      while (j < 16) {
        out(pos) = hexChars((d(j) >> 4) & 0xf).toByte
        out(pos + 1) = hexChars(d(j) & 0xf).toByte
        pos += 2
        j += 1
      }
      k += 1
    }
    UTF8String.fromBytes(out)
  }

  /** ASCII fast path: every char is one byte, so gram i is the byte
    * slice [i, i+8) and — for texts of >= 8 chars, where every gram is
    * exactly 8 bytes — packs injectively into a long for O(1) dedupe
    * with zero allocation per gram. Texts under 8 chars have exactly
    * ONE gram (the text itself), so the packed-key dedupe never sees a
    * short gram colliding with a padded one. */
  private def ofAscii(bytes: Array[Byte], acc: Top4): Unit = {
    val n = bytes.length
    val nGrams = math.max(n - 7, 1)
    val md = md5Local.get()
    val seen = new java.util.HashSet[java.lang.Long](
      math.max(16, nGrams * 2))
    var i = 0
    while (i < nGrams) {
      val len = math.min(8, n - i)
      var key = 0L
      var j = 0
      while (j < len) { key = (key << 8) | (bytes(i + j) & 0xffL); j += 1 }
      if (seen.add(key)) {
        md.reset()
        md.update(bytes, i, len)
        acc.offer(md.digest())
      }
      i += 1
    }
  }

  /** Generic (multi-byte chars) path: character-indexed grams via
    * substringSQL, deduped as UTF8Strings — the declarative chain's
    * exact semantics at the declarative chain's O(L) per-gram cost. */
  private def ofGeneric(text: UTF8String, acc: Top4): Unit = {
    val nChars = text.numChars()
    val nGrams = math.max(nChars - 7, 1)
    val md = md5Local.get()
    val seen = new java.util.HashSet[UTF8String](
      math.max(16, nGrams * 2))
    var i = 0
    while (i < nGrams) {
      // substringSQL is 1-based and clamps at the end — exactly
      // substr(i, 8)'s short-text edge behavior
      val gram = text.substringSQL(i + 1, 8)
      if (seen.add(gram)) {
        md.reset()
        val gb = gram.getBytes
        md.update(gb, 0, gb.length)
        acc.offer(md.digest())
      }
      i += 1
    }
  }
}
