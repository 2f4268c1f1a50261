package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` door the custom-operator layer needs:
  * constructing a DataFrame from a hand-built LogicalPlan
  * (`Dataset.ofRows`). Lives inside the `org.apache.spark.sql` package
  * tree for access; everything else in graft uses only public API. */
object Shims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-wrap an eager `localCheckpoint` whose job counted `rows` so its
    * leaf reports that row count and Spark's size for it (row count ×
    * the schema's row width, the convention of every other leaf the
    * planner compares against `spark.sql.autoBroadcastJoinThreshold`).
    * Spark's checkpoint leaf keeps the ESTIMATE of the plan it was
    * computed from: a 1000-row aggregate of a 20 MB input still claims
    * 20 MB, so the planner never broadcasts it, while a join out of
    * compressed parquet can claim a small fraction of its real size. */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = df.queryExecution.logical match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      val size = org.apache.spark.sql.catalyst.plans.logical.statsEstimation
        .EstimationUtils.getSizePerRow(l.output) * rows
      val leaf = l.copy()(
        df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(size, Some(rows))),
        Some(l.constraints))
      leaf.setAnalyzed() // a copy of an analyzed leaf: skip the analyzer's ~1 ms
      ofRows(df.sparkSession, leaf)
    case _ => df
  }

  /** The exact row count [[withRowCount]] put on a checkpoint leaf, or
    * None when `df` is not such a leaf (a projection over it, a parquet
    * scan, a stats-free `LogicalRDD`): then only a count job knows. */
  def leafRowCount(df: DataFrame): Option[Long] = df.queryExecution.logical match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.stats.rowCount.map(_.toLong)
    case _ => None
  }

  /** Block until every event posted so far reached its listeners
    * (QueryExecutionListener callbacks arrive on the listener bus). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The query a finished SQL execution ran, with the name of the action
    * that ran it, if it succeeded. The event carries its
    * `QueryExecution` for every session of the context, including a
    * stream's `newSession()` clones that a per-session
    * `QueryExecutionListener` never hears from. */
  def executed(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[(String, org.apache.spark.sql.execution.QueryExecution)] =
    Option(e.qe).filter(_ => e.executionFailure.isEmpty)
      .map(qe => e.executionName.getOrElse("execution") -> qe)

  /** The JVM's cumulative Janino compile time, in nanoseconds. */
  def codegenCompileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Classes Janino has compiled in this JVM (cache misses of the
    * generated-class cache). */
  def codegenClassesCompiled: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes; negative = never
    * broadcast by size. */
  def autoBroadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** Spark 4's Column wraps a ColumnNode, not a catalyst Expression.
    * `ExpressionUtils.expression` only produces a LAZY
    * `ColumnNodeExpression` wrapper (non-serializable, breaks task
    * closures); the eager classic converter yields a real catalyst tree
    * (e.g. an actual `expressions.SortOrder` for `col.desc`). */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Inverse direction: wrap a hand-built catalyst Expression as a public
    * Column (for custom expressions used without SQL registration). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Float/double key canonicalization (NaN bit patterns, -0.0) for
    * custom operators that group or partition by raw UnsafeRow bytes.
    * Catalyst applies `NormalizeFloatingNumbers` only to the operators
    * it knows (Aggregate/Window/Join); a custom node must normalize its
    * own keys or distinct NaN bit patterns split one logical key group.
    * No-op on expressions without floating-point content. */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
