package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Consistent-hash ring successor lookup: the shard of the first vnode
  * CLOCKWISE from a 60-bit key hash — `shards[i]` for the smallest
  * `positions[i] >= kh`, wrapping to index 0 when no position is ≥ kh.
  * Equivalent to `argmin over vnodes of (pos − kh) mod 2^60` when
  * `positions` is sorted ascending and distinct (successor distances
  * are always smaller than wrap-around distances in the 60-bit space),
  * which is [[graft.operators.Layout.hashRing]]'s output contract.
  *
  * Why a native Expression (the QDot/Md5Prefix64 discipline — measured,
  * not guessed): the declarative form evaluates a LITERAL-constructed
  * `array(struct(pmod(vh − kh, 2^60), shard), …)` of S·V live struct
  * expressions per row and array_min's over it — S·V = 288 already
  * generates ~megabyte codegen that Janino chews on for seconds
  * (measured on q177, see DESIGN.md §5) and still costs S·V struct
  * allocations per row at runtime. Here the ring enters as two ARRAY
  * LITERALS (codegen'd once as reference objects, zero per-row
  * construction) and the lookup is a log2(S·V)-probe binary search.
  *
  * Sortedness is the CALLER's contract (hashRing sorts); this
  * expression does not re-verify per row.
  */
case class RingLookup(first: Expression, second: Expression,
                      third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (k, p, s) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, array<bigint>, array<bigint>), " +
          s"got ${k.sql}, ${p.sql}, ${s.sql}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_ring_lookup"

  override protected def nullSafeEval(kh: Any, pos: Any, sh: Any): Any =
    RingLookup.lookup(kh.asInstanceOf[Long],
      pos.asInstanceOf[ArrayData], sh.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, p, s) =>
      s"${ev.value} = graft.functions.RingLookup.lookup($k, $p, $s);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): RingLookup =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RingLookup {
  val name = "graft_ring_lookup"

  /** The shard of `keyHash` on the ring given as parallel arrays
    * (`positions` ascending, `shards(i)` owning `positions(i)`); both
    * enter the plan as array literals. */
  def column(keyHash: Column, positions: Array[Long],
             shards: Array[Long]): Column =
    Bridge.column(RingLookup(Bridge.expression(keyHash),
      Literal(positions), Literal(shards)))

  /** Binary search for the first position ≥ kh; wraps to index 0. */
  def lookup(kh: Long, pos: ArrayData, sh: ArrayData): Long = {
    val n = pos.numElements()
    // Named errors instead of a raw executor AIOOBE: the function is
    // SQL-callable, so malformed literal rings must fail legibly.
    if (n == 0)
      throw new IllegalArgumentException(
        s"$name: the ring position array is empty")
    if (sh.numElements() != n)
      throw new IllegalArgumentException(
        s"$name: ${n} positions but ${sh.numElements()} shards — " +
          "the two ring arrays must be parallel")
    var lo = 0
    var hi = n
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (pos.getLong(m) >= kh) hi = m else lo = m + 1
    }
    sh.getLong(if (lo == n) 0 else lo)
  }
}
