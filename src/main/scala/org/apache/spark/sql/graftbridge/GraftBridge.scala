package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal `private[sql]` access bridge (the established OSS pattern —
  * Spark-ecosystem libraries place one small object under
  * `org.apache.spark.sql.*` to construct a Dataset from a custom
  * LogicalPlan, which has no public constructor path). Nothing here adds
  * behavior: one-line delegations to Spark's own internals, used by
  * graft.plans.ColumnarResize to wire its custom node into a vanilla
  * session and by graft.functions.Fixed to wrap its aggregate as a Column.
  * Everything else in this repo lives under `graft.*`.
  */
object GraftBridge {

  /** The analyzed-logical-plan handle of a DataFrame. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Dataset.ofRows — wrap a custom LogicalPlan as a DataFrame. */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A Column over a Catalyst expression. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression of a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Idempotently attach a planner strategy to THIS session (the public
    * experimental hook — no extension rebuild needed on the driver's
    * vanilla session). */
  def addStrategy(s: SparkSession, st: SparkStrategy): Unit = {
    val exp = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    // The contains/append pair is a non-atomic read-modify-write on
    // session-shared state, and the banded bench runs queries concurrently
    // (ADVICE r13): serialize on the ExperimentalMethods instance so two
    // callers can't double-append or drop a concurrently added strategy.
    // Planner threads read exp.extraStrategies OUTSIDE this lock — that is
    // safe because the underlying field is declared @volatile in Spark
    // (verified against the 4.1.2 bytecode: `private volatile Seq<...>
    // extraStrategies`, ADVICE r14), so a completed append is immediately
    // visible to every subsequent planner read.
    exp.synchronized {
      if (!exp.extraStrategies.contains(st))
        exp.extraStrategies = exp.extraStrategies :+ st
    }
  }
}
