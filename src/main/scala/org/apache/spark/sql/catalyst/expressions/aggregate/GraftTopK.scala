package org.apache.spark.sql.catalyst.expressions.aggregate

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}

/** Spark's package-private bounded-heap aggregate [[CollectTopK]] as a
  * Column (the [[org.apache.spark.sql.GraftBridge]] idiom). */
object GraftTopK {
  /** The `k` smallest non-null values of `c` in its natural order, as an
    * ascending array: a heap of k per partition, merged. */
  def smallest(c: Column, k: Int): Column =
    column(CollectTopK(expression(c), k, reverse = true))
}
