package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, SparkSession}

/**
 * Minimal bridge into `private[sql]` Spark API. Spark 4 removed
 * `new Column(Expression)` from the public surface (Column is
 * expression-tree-free in spark-sql-api); the supported conversion lives in
 * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]`.
 *
 * This is the narrowest possible analogue of the reference's
 * `EncapsulationViolator` (reference:
 * alchemy/src/main/scala/org/apache/spark/sql/EncapsulationViolator.scala:8-49)
 * — only Column↔Expression and the session FunctionRegistry, nothing else.
 */
object GraftSqlBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry

  /** Interpreted total ordering for a data type (TypeUtils is
   * `private[sql]`) — structs compare field by field, the ordering
   * [[graft.operators.TopKStructsAgg]] ranks under. */
  def orderingFor(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)
      .asInstanceOf[Ordering[Any]]

  /** A checkpointed frame (`localCheckpoint`/`checkpoint` output) re-stated
   * at `rows` rows, counted by the job that built it. A checkpoint
   * otherwise inherits the estimate of the plan it truncated, which
   * compounds through every join in that plan, so even a small
   * checkpointed table plans as a sort-merge join instead of a
   * broadcast. */
  def withRowCount(checkpointed: org.apache.spark.sql.DataFrame,
      rows: Long): org.apache.spark.sql.DataFrame = {
    val session =
      checkpointed.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val l = checkpointed.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    ofRows(session, l.copy()(session,
      Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
        org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
          .getOutputSize(l.output, rows), Some(rows))), None))
  }

  /** Re-root a logical plan onto another session of the same SparkContext
   * (`Dataset.ofRows` is `private[sql]`). The cache manager lives in
   * sharedState, so persisted subtrees still substitute — this exists so
   * an iterative operator can run its tiny per-round queries on a child
   * session with driver-latency-heavy features (AQE stage-jobs) tuned
   * off, without mutating the caller's session conf. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
