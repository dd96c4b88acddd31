package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark 4's `private[sql]` Column ↔ Expression converters,
  * placed under org.apache.spark.sql — the standard pattern for Spark
  * extension libraries that define custom Catalyst expressions (the
  * public Column API wraps ColumnNode, not Expression, since 4.0).
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager ColumnNode→catalyst conversion (UnresolvedAttributes intact,
    * for embedding in CUSTOM logical nodes, where the analyzer — not the
    * Dataset API — must perform resolution; the lazy
    * ColumnNodeExpression wrapper from [[expression]] is only unwrapped
    * inside built-in operators).
    */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Analyzed logical plan of a DataFrame (for wrapping in custom
    * logical operators).
    */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(df).queryExecution.analyzed

  /** DataFrame over a custom logical plan. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark), plan)

  /** Install a planner strategy into a LIVE session (builder-time
    * registration goes through SparkSessionExtensions instead).
    */
  def addStrategy(spark: SparkSession,
                  s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark).experimental
    if (!exp.extraStrategies.contains(s)) exp.extraStrategies ++= Seq(s)
  }

  /** Drop the storage blocks backing a `localCheckpoint()`'ed frame.
    * The blocks ARE the checkpoint (lineage is truncated), so this is
    * only safe on frames that will never be read again — superseded
    * iteration state, not results. No-op for non-checkpointed frames.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    logicalPlan(df).collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** The frame's result rows as the driver receives them: the one job
    * (or AQE job set) `collect` runs, under its own SQL execution, but
    * without the conversion to external `Row`s. Every row is an
    * UnsafeRow owned by the caller.
    */
  def collectUnsafe(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.expressions.UnsafeRow] = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
    val qe = org.apache.spark.sql.classic.ClassicConversions.castToImpl(df).queryExecution
    val rows = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    lazy val toUnsafe = UnsafeProjection.create(df.schema)
    rows.map {
      case u: UnsafeRow => u
      case r => toUnsafe(r).copy()
    }
  }

  /** A frame over rows the driver holds: a LocalRelation, so neither
    * building nor collecting it starts a Spark job.
    */
  def localFrame(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                 rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** `s` with every field nullable, nested ones included — the schema a
    * file-source read reports for data written at `s`.
    */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Register a custom expression under a SQL function name. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
