package graft

/** Plan inspector: `graft.Explain <queryName> [sfDir] [reps]` prints the
  * formatted physical plan and per-rep wall times for one query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", "graft-explain", cpus.toInt)
    // registry first, then the bench-only x_ fast-path aliases
    val fn = (SparkEntry.queries ++ SparkEntry.benchExtras)(name)
    fn(spark, sfDir).explain("formatted")
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"rep $r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
