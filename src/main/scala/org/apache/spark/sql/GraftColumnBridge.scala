package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ↔ catalyst-Expression bridge for the engine's native
  * expressions. Spark 4 made `ExpressionUtils` private[sql]; this
  * one-file shim in the sql package is the conventional way for
  * external libraries to lift a custom `Expression` into the public
  * `Column` API without registering it in a FunctionRegistry. It also
  * moves Spark's internal rows between a plan and the driver. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on a LIVE session (the
    * SparkSessionExtensions path only applies at session build time —
    * getOrCreate on an existing session silently skips it). */
  def registerTempFunction(
      spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** `df`'s rows in Spark's internal format, collected to the driver by
    * one SQL execution (what `collect` runs, minus the conversion to
    * external `Row`s). */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** A DataFrame of `schema` over `rows` held on the driver: a
    * `LocalRelation`, so the optimizer evaluates projections and
    * filters over it in place (`ConvertToLocalRelation`) and collecting
    * the result runs no job. */
  def localRelation(
      spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
