package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Column ⇄ Expression converters and the
  * plan→DataFrame constructor of the classic (non-Connect) API, needed to
  * expose graft's custom Catalyst expressions and logical operators through
  * the public DataFrame DSL. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** `df` without its top-level global sort, for a consumer whose result
    * does not depend on row order (a regroup or a join): the range
    * exchange, its sampling job and the sort are skipped. Any other plan
    * is returned as is. */
  def unordered(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case s: catalyst.plans.logical.Sort if s.global => ofRows(df.sparkSession, s.child)
    case _ => df
  }

  /** `df` as a one-node plan (a LogicalRDD over its executed rows, with
    * its statistics, partitioning and ordering): what `localCheckpoint`
    * gives a plan, without a second copy of the rows. Over a persisted,
    * materialized frame the node reads the cache. Partitioning and
    * ordering come from the planned scan: the adaptive wrapper of the
    * executed plan reports none, and a union or join over the node would
    * then lose the partitioning the rows have (a union of two frames
    * hash-partitioned alike keeps their partition count). */
  def flatten(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    ofRows(df.sparkSession, execution.LogicalRDD(ds.logicalPlan.output, qe.toRdd,
      qe.sparkPlan.outputPartitioning, qe.sparkPlan.outputOrdering, ds.isStreaming)(
      ds.sparkSession, Some(qe.optimizedPlan.stats)))
  }
}
