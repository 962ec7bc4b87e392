package org.apache.spark.sql.catalyst.expressions.aggregate

import org.apache.spark.sql.catalyst.expressions.Expression

/** Accessor for the `private[aggregate]` [[CollectTopK]] constructor —
  * same single-purpose-bridge pattern as
  * [[org.apache.spark.sql.graftshim.Bridge]]: graft composes Spark's
  * own bounded top-k aggregate (`BoundedPriorityQueue` partials)
  * instead of re-implementing one; only the constructor is exposed. */
object GraftCollectTopK {
  def bottomK(child: Expression, k: Int): AggregateFunction =
    CollectTopK(child, k, reverse = true)
}
