package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The specs' one plan-node counter: logical plan size for plan-growth
  * pins, and physical nodes matching a predicate for plan-shape pins. The
  * physical walk descends into adaptive plans, query stages, subqueries
  * and cached relations, so a node hidden behind any of them counts. */
object PlanNodes {
  /** Nodes in `df`'s logical plan as built (before analysis). */
  def logical(df: DataFrame): Int = df.queryExecution.logical.collect { case p => p }.size

  /** Every physical node under `df`'s executed plan (the final plan once
    * an action has run it). */
  def physical(df: DataFrame): Seq[SparkPlan] = walk(df.queryExecution.executedPlan)

  def count(df: DataFrame)(p: PartialFunction[SparkPlan, Boolean]): Int =
    physical(df).count(n => p.applyOrElse(n, (_: SparkPlan) => false))

  private def walk(plan: SparkPlan): Seq[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    plan +: (plan.children ++ plan.subqueries ++ inner).flatMap(walk)
  }

  /** Jobs started while `body` runs (listener bus drained before reading). */
  def jobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.TestBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
