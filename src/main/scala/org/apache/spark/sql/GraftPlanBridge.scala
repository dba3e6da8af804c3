package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into Spark's `private[sql]` plan plumbing for the classic
  * (non-Connect) runtime — the LogicalPlan-level sibling of
  * [[GraftColumnBridge]].
  *
  * Library code that contributes a CUSTOM Catalyst operator (a
  * [[LogicalPlan]] node planned by its own [[SparkStrategy]], preference
  * (c) of the custom-operator ladder, SURVEY.md §7.2) needs three hooks
  * Spark keeps `private[sql]`: wrap a hand-built plan as a DataFrame
  * (`Dataset.ofRows`), read a DataFrame's analyzed plan to splice it in
  * as a child, and install the strategy on an already-built session
  * (`session.experimental.extraStrategies` — the runtime-injection twin
  * of `SparkSessionExtensions.injectPlannerStrategy`, which only helps
  * callers who controlled the builder). One line per hook, no session
  * state beyond the strategy list, nothing copied.
  */
object GraftPlanBridge {

  /** Wrap a hand-constructed logical plan as a user-facing DataFrame
    * (runs the full analyze → optimize → plan pipeline lazily). */
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame — resolved attributes
    * with stable exprIds, safe to reference from a parent node. */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** A fresh Hadoop conf of the session, as Spark's own file reads get
    * it: the context's conf (where `spark.hadoop.*` keys land) plus every
    * key set on the session, such as an `fs.s3a.*` one. */
  def newHadoopConf(s: SparkSession): Configuration =
    s.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Idempotently add a planner strategy to a live session. */
  def addStrategy(s: SparkSession, st: SparkStrategy): Unit = {
    val exp = s.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(st))
      exp.extraStrategies = exp.extraStrategies :+ st
  }

  /** Idempotently add an optimizer rule to a live session (runs in the
    * optimizer's "User Provided Optimizers" fixed-point batch). */
  def addOptimization(
      s: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = s.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }
}
