package org.apache.spark.sql.graftext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** The one release rule for the caches operators leave behind.
  *
  * Operator builders `.cache()` the intermediates they reuse within one
  * query and return a lazy frame — there is no in-query point "after
  * materialization" to unpersist at (DedupOps caching contract). So
  * whoever runs a frame's last action calls [[retire]] on it once that
  * action is done: the streaming sink after each micro-batch's write (a
  * stream runs for days with no harness loop to clear anything), and
  * Verify after publishing each query (a global `clearCache` would yank
  * frames its concurrent siblings are mid-scan on).
  *
  * [[retire]] walks the frame's analyzed-with-cached-data plan for the
  * [[InMemoryRelation]]s it reads (recursing into cached plans for nested
  * caches, outer first) and frees each one's RDD blocks. Unless
  * `keepEntries`, it first drops the CacheManager entry as
  * `Dataset.unpersist` does, so one retained entry per micro-batch cannot
  * grow the session's cache list without bound.
  *
  * `keepEntries` is for a caller whose concurrent queries may share an
  * entry (Verify): a sibling that looked the entry up while building its
  * frame must still find it when its write plans, or it computes that
  * subplan twice in one query, and a cached k-means (`ivfCentroids`)
  * computed twice can differ in its float sums — dropping entries in
  * Verify made q_ann_ivfpq return 0 rows and q_ivfpq_recall miss hits.
  * A kept entry whose blocks are freed just re-materializes on its next
  * scan. */
object CacheRetire {
  def retire(df: DataFrame, keepEntries: Boolean = false): Unit = {
    val qe = df.queryExecution
    val cacheManager = qe.sparkSession.sharedState.cacheManager
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[InMemoryRelation, java.lang.Boolean]())
    def fromPhysical(p: SparkPlan): Unit = p.foreach {
      case s: InMemoryTableScanExec => fromRelation(s.relation)
      case _ =>
    }
    def fromRelation(r: InMemoryRelation): Unit = if (seen.add(r)) {
      if (!keepEntries)
        cacheManager.uncacheQuery(qe.sparkSession, r.cacheBuilder.logicalPlan,
          cascade = false, blocking = false)
      r.cacheBuilder.clearCache(blocking = false)
      fromPhysical(r.cachedPlan)
    }
    qe.withCachedData.foreach {
      case r: InMemoryRelation => fromRelation(r)
      case _ =>
    }
  }
}
