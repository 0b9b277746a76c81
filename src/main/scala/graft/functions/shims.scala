/* Bridge for Spark 4's private[sql] Expression<->Column conversion:
 * a single accessor pair placed inside the sql package namespace so
 * graft's custom Catalyst expressions can be exposed as Columns. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object graftShims {
  /** `AbstractDataType` is private[sql]; this public alias lets graft
    * expressions declare `ExpectsInputTypes.inputTypes` (the
    * analysis-time cast/reject contract) from outside the package.
    */
  type AbsDataType = org.apache.spark.sql.types.AbstractDataType

  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (Dataset.ofRows is
    * private[sql]) — the construction path for graft's custom
    * logical operators.
    */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `NormalizeFloatingNumbers.normalize` is private[sql]; custom
    * physical operators that key state on projected bytes need the
    * same -0.0/NaN canonicalization the optimizer gives built-in
    * grouping operators.
    */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The runtime-filter bloom pair (`BloomFilterAggregate` /
    * `BloomFilterMightContain`) is NOT in the public function registry
    * — Spark only instantiates it inside InjectRuntimeFilter. The BM25
    * index's retired-tombstone check reuses the same codegen'd pair
    * for its flush-maintained sidecar bloom, so expose constructors.
    */
  def bloomFilterAgg(c: Column, estimatedItems: Long,
      numBits: Long): Column =
    toColumn(new catalyst.expressions.aggregate.BloomFilterAggregate(
      toExpression(c),
      catalyst.expressions.Literal(estimatedItems),
      catalyst.expressions.Literal(numBits)).toAggregateExpression())

  def bloomMightContain(bloom: Array[Byte], c: Column): Column =
    toColumn(catalyst.expressions.BloomFilterMightContain(
      catalyst.expressions.Literal(bloom, types.BinaryType),
      toExpression(c)))
}
