package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard pattern for third-party Catalyst expression libraries on
  * Spark 4 (Column no longer wraps Expression publicly; conversion lives
  * in `org.apache.spark.sql.classic.ExpressionUtils`). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the
    * `Dataset.ofRows` bridge custom whole-operator APIs need (the
    * factory is `private[sql]` on Spark 4). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DSv2 `Predicate` → v1 `sources.Filter` (the converter runtime-
    * filtering scans need is `private[sql]`). Unconvertible predicates
    * are dropped — callers treat the v1 set as a conservative
    * over-approximation. */
  def predicatesToV1(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(predicates)

  /** `schema` with every field, array element and map value nullable —
    * the shape Spark's file sources read any data schema as
    * (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}
