package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for engine-native Catalyst expressions: `ExpressionUtils` is
  * `private[sql]`, so the Column ⇄ Expression conversions are re-exported
  * from inside the package (the standard pattern for third-party Spark
  * extensions that ship custom expressions).
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an already-analyzed LogicalPlan as a DataFrame
    * (`Dataset.ofRows` is `private[sql]`). Used by the SQL MERGE
    * command, whose USING source arrives as a resolved plan that must
    * feed the native upsert as a frame.
    */
  def ofRows(
      session: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field nullable (`StructType.asNullable` is
    * `private[spark]`), as `spark.read` declares a file relation's data.
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable

  /** Spark's own Catalyst-to-source filter translation. */
  def sourceFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)
}
