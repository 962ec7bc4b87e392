package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, GraftCollectTopK}
import org.apache.spark.sql.graftshim.Bridge

/** `graft_bottom_k(value, k)` — the k SMALLEST values of a group as an
  * array (unsorted; wrap in `array_sort`), exposing Spark's own
  * CollectTopK aggregate (`reverse = true` flips its top-k ordering;
  * no Column or SQL builder exists upstream, hence this object —
  * composing the existing aggregate per the extension ladder, SURVEY §7).
  * CollectTopK is a `Collect` over a `BoundedPriorityQueue`, so every
  * PARTIAL buffer caps at k and map-side combine ships at most k rows
  * per partition per group — the property a bounded group fold needs
  * under HOT-KEY skew, where a window must co-locate the hot group's
  * entire input.
  *
  * Status: VETTED ESCAPE HATCH, not the default
  * ([[graft.streaming.DocStreams.bucketIndexFrame]] measured it at
  * q263 9.8 s vs the window's ~6.8 s at sf0.1 — ObjectHashAggregate
  * with interpreted per-row struct ordering loses to a codegen'd
  * spillable sort until partials actually truncate; under real
  * hot-band skew the ≤ k-per-partition shuffle bound wins). Semantics
  * spec-pinned in BottomKSpec.
  *
  * Ordering is the interpreted ordering of the value's type — for a
  * struct, field order (first field is the sort key). */
object BottomK {
  val name = "graft_bottom_k"

  /** The k smallest values of `value` per group, as an array column. */
  def column(value: Column, k: Int): Column =
    Bridge.column(aggregate(Bridge.expression(value), k).toAggregateExpression())

  /** The aggregate function itself; `k` must be at least 1 (a
    * `PriorityQueue(0)` would throw mid-job on the executors). */
  def aggregate(value: Expression, k: Int): AggregateFunction = {
    require(k >= 1, s"$name: k must be >= 1, got $k")
    GraftCollectTopK.bottomK(value, k)
  }
}
