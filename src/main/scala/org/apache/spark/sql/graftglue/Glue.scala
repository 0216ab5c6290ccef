package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Narrow glue onto Spark's `private[sql]` surface (Column ↔ Catalyst
  * Expression, function registration). Lives under `org.apache.spark.sql`
  * for visibility — the standard pattern for Spark extension libraries;
  * everything else in graft stays in public API land.
  */
object Glue {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder so `spark.sql("fn(...)")`
    * resolves it (temp function in the session's FunctionRegistry). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** `batch` as a DataFrame of `home`, zero-copy (its planned
    * `InternalRow` RDD, no external `Row`s): jobs over it run in `home`. */
  def rehome(home: SparkSession, batch: DataFrame): DataFrame =
    home.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(batch.queryExecution.toRdd, batch.schema, false)
}
