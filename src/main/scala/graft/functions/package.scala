package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.ColumnShim.{column, expression}

/** Typed Column builders for the graft Catalyst expressions. Each builder
  * wraps its expression directly, so any session can use them with no
  * function registration (a `newSession()` included). */
package object functions {
  /** [[GraftDot]]: left-fold dot product of two float/double arrays. */
  def dot(a: Column, b: Column): Column =
    column(GraftDot(expression(a), expression(b)))

  /** [[GraftL2]]: squared L2 distance of two float/double arrays. */
  def l2(a: Column, b: Column): Column =
    column(GraftL2(expression(a), expression(b)))

  /** [[GraftTopK]]: per-group top-k (score DESC, id ASC) bounded heap. */
  def topK(score: Column, id: Column, k: Int): Column =
    column(GraftTopK(expression(score), expression(id), Literal(k))
      .toAggregateExpression())

  /** [[GraftCmsProbe]]: frequency estimate of `item` in a CMS binary. */
  def cmsProbe(sketch: Column, item: Column): Column =
    column(GraftCmsProbe(expression(sketch), expression(item)))

  /** [[GraftCmsMerge]]: counter-wise sum of two CMS binaries. */
  def cmsMerge(a: Column, b: Column): Column =
    column(GraftCmsMerge(expression(a), expression(b)))

  /** [[GraftCmsDot]]: join-size estimate from two CMS binaries. */
  def cmsDot(a: Column, b: Column): Column =
    column(GraftCmsDot(expression(a), expression(b)))

  /** Catalyst's bloom-filter aggregate, which exists for the optimizer's
    * runtime filters but has no public builder. Long keys only. */
  def bloomAgg(key: Column, expectedItems: Column, numBits: Column): Column =
    column(new BloomFilterAggregate(expression(key),
      expression(expectedItems), expression(numBits)).toAggregateExpression())

  /** Bloom probe; `bloom` must be a scalar subquery (`Dataset.scalar()`)
    * or a literal, which BloomFilterMightContain's type check enforces. */
  def mightContain(bloom: Column, value: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(value)))
}
