package graft

/** Plan-shape audit: prints the INITIAL physical plan tree (no execution)
  * for every registered query + bench alias, one section per query, for
  * offline shape scans (e.g. "which trailing contract sorts sit directly
  * on an unshuffled expensive subtree and therefore pay it twice via the
  * range-partitioner sampling job"). `graft.PlanAudit [sfDir]`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // AQE=false renders WholeStageCodegen spans (`*(n)`) in the initial
    // plan — the codegen-coverage audit mode. AQE=true (default) matches
    // the production plan shape (what Bench/Verify run).
    val adaptive = sys.env.getOrElse("SPARK_GRAFT_PLAN_ADAPTIVE", "true")
    val spark = GraftSession.build(s"local[$cpus]", "graft-plan-audit", cpus.toInt)
    spark.conf.set("spark.sql.adaptive.enabled", adaptive)
    spark.sparkContext.setLogLevel("ERROR")
    (SparkEntry.queries ++ SparkEntry.benchExtras).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"##### $name")
        try println(fn(spark, sfDir).queryExecution.executedPlan.treeString)
        catch { case e: Throwable => println(s"(plan failed: ${e.getMessage})") }
      }
    spark.stop()
  }
}
