package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Access bridge to the sql-private Column <-> Expression converters —
  * the standard pattern for libraries that ship custom Catalyst
  * expressions without a SparkSessionExtensions registration (graft uses
  * DotProductD from graft.functions.expressions).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A 1-row/1-column Dataset as a scalar-subquery expression — required
    * by expressions that must see their input as a constant-per-query
    * value (e.g. BloomFilterMightContain insists on foldable-or-subquery
    * so the filter is deserialized once, not per row).
    */
  def scalarSubquery(df: org.apache.spark.sql.Dataset[_]): Column =
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.queryExecution.analyzed))

  /** The optimizer rules the session's extensions injected (empty for a
    * session built without extensions).
    */
  def injectedOptimizerRules(spark: org.apache.spark.sql.SparkSession): Seq[Rule[LogicalPlan]] =
    spark match {
      case s: SparkSession => s.extensions.buildOptimizerRules(s)
      case _ => Nil
    }
}
