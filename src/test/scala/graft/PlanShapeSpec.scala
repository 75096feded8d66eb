package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}

import graft.operators.{AnalyticOps, PipelineOps, TextOps}

/** Physical-plan shape assertions for the scale claims the operator docs
  * make: map-side ops must not hash-shuffle for their own work (their
  * only exchanges are the contract sort's — the range exchange and the
  * pre-sort repartition on the sort key under it), and the as-of join
  * must be ONE hash shuffle — the union+running-last design's whole
  * point. The test session runs AQE (Spark's default), so the plans read
  * here are AQE's initial plans, before any runtime re-optimization.
  */
class PlanShapeSpec extends SparkTestBase {

  // other suites cache() frames over the same sf0.001 plans; a cache hit
  // would swap the subtree for InMemoryTableScan and hide the exchanges
  // this spec exists to count
  private def planOf(df: => DataFrame) = {
    spark.catalog.clearCache()
    df.queryExecution.executedPlan
  }

  private def hashExchanges(df: => DataFrame): Int =
    "Exchange hashpartitioning".r.findAllIn(planOf(df).toString).length

  /** The contract tail of a map-side op: the trailing sort's range
    * exchange sits DIRECTLY on one hash repartition on the sort key (so
    * the range sampling job and the sort read one set of shuffle files),
    * and that repartition is the plan's only hash exchange. */
  private def assertPreSortOnly(df: => DataFrame): Unit = {
    val plan = planOf(df) match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    val hash = exchanges.filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    val range = exchanges.filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(hash.size == 1 && hash.head.shuffleOrigin == REPARTITION_BY_COL,
      s"want exactly one REPARTITION_BY_COL hash exchange in:\n$plan")
    assert(range.size == 1 && (range.head.child eq hash.head),
      s"the pre-sort exchange must sit directly under the range exchange:\n$plan")
  }

  test("repetition metrics are map-side: only the pre-sort hash exchange") {
    assertPreSortOnly(TextOps.repetition(spark, sf0001))
  }

  test("chunking is map-side: only the pre-sort hash exchange") {
    assertPreSortOnly(PipelineOps.chunkDocs(spark, sf0001))
  }

  test("as-of join is exactly one hash shuffle (union + running-last)") {
    assert(hashExchanges(AnalyticOps.asofJoin(spark, sf0001)) == 1)
  }

  test("int8 quantization is map-side: zero hash exchanges") {
    assert(hashExchanges(
      graft.operators.SimilarityOps.embedQuantize(spark, sf0001)) == 0)
  }

  test("corpus shuffle windows are partitioned — no single-partition sort") {
    val plan = planOf(PipelineOps.corpusShuffle(spark, sf0001)).toString
    // a Window over an EMPTY partition spec funnels the corpus through one
    // task — the formulation this operator's scaladoc promises to avoid
    val emptyPartitionWindow = "Window \\[[^\\]]*\\], \\[\\]".r
    assert(emptyPartitionWindow.findFirstIn(plan).isEmpty,
      s"found unpartitioned window in:\n$plan")
    assert(plan.contains("windowspecdefinition(shard"),
      "rank window must partition by shard")
  }
}
