package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (Bench, Verify, Tools, the
  * streaming and serving daemons) and the test base build through it,
  * so the verified and benchmarked configuration IS the production one.
  *
  * Local (`local[N]`) and cluster masters share the same settings; only
  * shuffle parallelism differs. It owns:
  *  - [[org.apache.spark.sql.graftext.GraftExtensions]]: the native
  *    function family, callable from spark.sql text.
  *  - UTC session time — all dt/hr derivations are timezone-stable.
  *  - nanos-as-long parquet reading (the events table's TIMESTAMP(NANOS)).
  *  - a compiled-codegen class cache sized to the application (below).
  *  - no web UI.
  * AQE is left at Spark's default (on).
  *
  * Callers that need another STATIC setting (StreamBench's warehouse
  * dir) add it to [[builder]]; runtime SQL confs go through
  * `spark.conf.set` after [[build]].
  */
object GraftSession {
  def builder(master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new org.apache.spark.sql.graftext.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Compiled-codegen class cache sized to the APPLICATION, not the
      // 100-entry default: a registry of ~200 distinct queries evicts
      // the default cache completely between a query's rep 1 and rep 2
      // — so min-of-reps was re-paying janino compilation (plus fresh
      // C2 JIT of the regenerated classes) on EVERY rep, measuring
      // compile overhead instead of steady-state computation (r16 A/B on
      // a 25-query subset: 84.1 s → 68.1 s). Scale-independent: a
      // production driver compiles codegen the same way at any data
      // size / core count.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")

  def build(master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession =
    start(builder(master, appName, shufflePartitions))

  /** `getOrCreate` plus the engine's log level. */
  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
