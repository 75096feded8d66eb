package org.apache.spark.sql.graftext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Execution observability: run a DataFrame and report what the physical
  * plan actually did — rows produced by the scans (AFTER pushed filters,
  * so pushdown is measurable, not just visible in explain text), files
  * touched, and shuffle volume. The numbers a capacity planner needs per
  * query at 100 TB, extracted from the same SQLMetrics the Spark UI shows.
  *
  * Lives in the spark namespace for access to the executed AQE plan.
  */
object PlanMetrics {

  case class Report(scanOutputRows: Long, scanFiles: Long,
      shuffleRecords: Long, shuffleBytes: Long,
      filterOutputRows: Long, pushedFilters: Seq[String])

  /** Full traversal: AQE presents executed stages as QueryStageExec LEAF
    * wrappers (and reused exchanges as ReusedExchangeExec), so a plain
    * `collect` stops at the stage boundary — descend into their inner
    * plans explicitly. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val walked = p match {
      case q: QueryStageExec => q +: allNodes(q.plan)
      case r: ReusedExchangeExec => r +: allNodes(r.child)
      case other => other +: other.children.flatMap(allNodes)
    }
    // AQE plans are DAGs (stages are shared/reused) — count each physical
    // node once, keyed by its plan id, or shared scans double-count
    walked.groupBy(_.id).map(_._2.head).toSeq
  }

  /** Execute `df` fully and collect metrics from its final plan. */
  def run(df: DataFrame): Report = {
    val qe = df.queryExecution
    // drive THIS QueryExecution's plan so its metric objects populate
    qe.executedPlan.execute().count()
    val finalPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def metric(p: SparkPlan, name: String): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L)
    val nodes = allNodes(finalPlan)
    val leaves = nodes.collect {
      case l: LeafExecNode if !l.isInstanceOf[QueryStageExec] &&
        !l.isInstanceOf[ReusedExchangeExec] => l
    }
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    val filters = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }
    val pushed = nodes.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "[]")
    }.filter(_ != "[]")
    Report(
      scanOutputRows = leaves.map(metric(_, "numOutputRows")).sum,
      scanFiles = leaves.map(metric(_, "numFiles")).sum,
      shuffleRecords = shuffles.map(metric(_, "shuffleRecordsWritten")).sum,
      shuffleBytes = shuffles.map(metric(_, "shuffleBytesWritten")).sum,
      filterOutputRows = filters.map(metric(_, "numOutputRows")).sum,
      pushedFilters = pushed)
  }
}
