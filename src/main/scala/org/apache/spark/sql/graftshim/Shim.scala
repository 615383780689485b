package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The engine's two-method bridge into `private[sql]` Spark surface —
  * the standard technique Spark-extension libraries use (a subpackage
  * of `org.apache.spark.sql` sees `private[sql]` members), kept to the
  * absolute minimum:
  *
  *   - [[column]]/[[expression]]: Column ⇄ Catalyst Expression. Spark 4
  *     made `Column` wrap a connect-portable `ColumnNode`, so a native
  *     [[org.apache.spark.sql.catalyst.expressions.Expression]] (the
  *     engine's codegen'd string kernels) needs `ExpressionUtils` to
  *     enter a DataFrame program;
  *   - [[ofRows]]: LogicalPlan → DataFrame, for SQL-facet commands
  *     (UPDATE/MERGE INTO) that must hand an analyzed source subtree
  *     to the commit layer as a first-class DataFrame, and for the
  *     engine's in-process connector reads (a resolved DataSourceV2
  *     relation over an explicit entry list or feed range).
  *
  * Nothing else of Spark's internals is touched through here; every
  * caller cites this object so the bridge surface stays auditable. */
object Shim {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def ofRows(s: SparkSession, p: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], p)
}
