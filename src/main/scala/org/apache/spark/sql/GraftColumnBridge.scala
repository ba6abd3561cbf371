package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * the standard pattern for extension libraries that define custom
  * Catalyst expressions and expose them as `Column`s without going
  * through a per-session FunctionRegistry.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a custom LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`) — the construction path for custom logical
    * operators planned by an injected `SparkStrategy`.
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (child-plan input for
    * custom logical operators).
    */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** `rows` (`df`'s, persisted) as one `LogicalRDD` leaf with `df`'s
    * output, partitioning and statistics, as `Dataset.checkpoint` builds.
    */
  def overRows(df: DataFrame,
               rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    ofRows(df.sparkSession, org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      rows, df.asInstanceOf[classic.Dataset[_]], df.isStreaming))

  /** `df` under an `InMemoryRelation` the CacheManager does not know: no
    * other query is rewritten to read it, and its blocks go with it.
    */
  def inMemory(df: DataFrame, level: org.apache.spark.storage.StorageLevel): DataFrame =
    ofRows(df.sparkSession, org.apache.spark.sql.execution.columnar.InMemoryRelation(
      level, df.queryExecution, None))

  /** The RDDs behind the `LogicalRDD` leaves ([[overRows]]) of `df`'s plan. */
  def pinnedRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }

  /** Idempotently add an extra planner strategy to a live session.
    * Synchronized: `extraStrategies` is a plain var, so a concurrent
    * check-then-append from two threads could lose one strategy.
    */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(s)) exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** Idempotently add an extra optimizer rule to a live session (same
    * check-then-append hazard as [[addStrategy]]).
    */
  def addOptimization(spark: SparkSession,
                      r: org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(r)) exp.extraOptimizations = exp.extraOptimizations :+ r
    }
  }
}
