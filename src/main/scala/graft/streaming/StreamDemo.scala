package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming pipeline main: file-stream source over the events
  * table → first-seen dedup (state store) → dt-partitioned parquet sink
  * with checkpoint. The full DAU ingest path of the reference (§3.1) as
  * one runnable program: re-running it resumes from the checkpoint and
  * writes nothing new (exactly-once).
  *
  * Usage: graft.StreamDemo [sfDir] [outDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_stream_demo"
    val spark = graft.GraftSession.build(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]", "graft-stream-demo", 8)

    // file-stream source: schema from the batch footer; events.parquet only.
    // ts flavor varies by driver round (epoch-nanos LONG, NTZ micros, or a
    // Spark-written TimestampType) — normalize exactly like the batch path
    // so batch/streaming consistency is by construction.
    val schema = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(sfDir).schema
    val raw = graft.Tables.normalizeEvents(spark, spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir))

    val deduped = StreamingOps.firstSeenStream(raw)
      .select("dt", "hr", "user_id", "event_id", "event_type")

    val q = deduped.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$outDir/dau")
      .option("checkpointLocation", s"$outDir/ckpt")
      .partitionBy("dt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val written = spark.read.parquet(s"$outDir/dau")
    val days = written.select("dt").distinct().count()
    println(s"[stream-demo] rows=${written.count()} days=$days -> $outDir/dau")
    spark.stop()
  }
}
