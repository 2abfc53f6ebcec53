package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy,
  DataSourceUtils, HadoopFsRelation}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Column <-> catalyst Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * extension libraries provide this one-file shim inside the sql
  * namespace — the only non-`graft` package in this repo. It also
  * reaches the `private[spark]` `StructType.asNullable` and the
  * `protected[sql]` filter helpers of Spark's file scan planning.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, element and value nullable: what
    * Spark's file `DataSource` reads a user-given schema as. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Register a function builder on an EXISTING session's registry
    * (SparkSessionExtensions only applies at session build time). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** `exprs` with each attribute named as in `output`, as
    * FileSourceStrategy hands data filters to a `FileIndex`. */
  def normalizeExprs(exprs: Seq[Expression],
      output: Seq[AttributeReference]): Seq[Expression] =
    DataSourceStrategy.normalizeExprs(exprs, output)

  /** The data-source filters FileSourceStrategy pushes into
    * `relation`'s reader for the (normalized) `filters`. */
  def pushedFilters(relation: HadoopFsRelation,
      filters: Seq[Expression]): Seq[Filter] =
    filters.flatMap(DataSourceStrategy.translateFilter(_,
      DataSourceUtils.supportNestedPredicatePushdown(relation)))
}
