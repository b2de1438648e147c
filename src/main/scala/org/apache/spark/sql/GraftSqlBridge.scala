package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into package-private Spark SQL internals — the standard
  * pattern for third-party Catalyst extension libraries (native Expressions
  * need a way to become user-facing Columns). Kept to three one-liners so
  * the internal surface touched is as small as possible.
  */
object GraftSqlBridge {
  /** Wrap a raw Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Extract the Catalyst Expression behind a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a native expression under `name` for the spark.sql surface. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Wrap a custom LogicalPlan as a DataFrame (runs the full analyzer). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Rebind a streaming micro-batch plan's rows as an ordinary batch
    * DataFrame — the V1 `Sink.addBatch` contract: the incoming frame is
    * backed by an IncrementalExecution and must not be re-planned by
    * batch actions; the standard move is to lift its already-computed
    * InternalRow RDD into a fresh batch frame. */
  def internalDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Idempotently register a planner strategy on a live session — the
    * runtime-injection twin of SparkSessionExtensions.injectPlannerStrategy
    * (which can only run at session construction). */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.exists(_ eq s)) exp.extraStrategies = exp.extraStrategies :+ s
  }
}
