package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, TypeCollection}

/** Bridge into the `private[sql]` Column ↔ Expression converters, so the
  * library can lift custom codegen'd Catalyst expressions (e.g.
  * `graft.functions.FloatDot`) into the public Column API without needing a
  * session-bound function registry. Standard extension-library pattern. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An input type accepting any one of `types` (for `inputTypes`). */
  def anyOf(types: AbstractDataType*): AbstractDataType = TypeCollection(types: _*)

  /** Register a function builder on an ALREADY-BUILT session (the
    * SparkSessionExtensions path only applies at session build time). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** A new session on `spark`'s SparkContext holding a copy of its conf,
    * catalog and functions; conf set on either afterwards stays its own. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a DataFrame of `spark`: queries started from it
    * register with `spark`, while the relations inside keep the session
    * that resolved them. */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)
}
