package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming-intake throughput bench — the rate evidence for the engine's
  * streaming identity (the reference is a 5 s-micro-batch pipeline end to
  * end; every functional property of the intakes is spec-verified, this
  * main adds the rows/s + per-batch-latency numbers a user sizing an
  * intake needs).
  *
  * Seven streams run over SPARK_GRAFT_SF_DIR as file-source streams
  * chopped into SPARK_GRAFT_STREAM_BATCHES micro-batches
  * (maxFilesPerTrigger=1 over a repartition(n)-written input dir — the
  * micro-batch boundary is the unit the 5 s trigger would deliver), one
  * row of the `intakes` table each:
  *
  *  - curation_intake: in-stream quality/repetition gate + cross-batch
  *    exact-dup state (curationIntakeStream) → noop sink. Pure
  *    stream-transform shape: measures gate + state-store throughput.
  *  - asset_intake: binary payload fingerprints map-side + cross-batch
  *    (modality, digest) dedup state (assetIntakeStream) → noop sink.
  *    The multimodal ingest shape: media bytes never reach the state.
  *  - decode_intake: the incremental decode cache online
  *    (decodeIntakeStream): per batch a digest anti-join against the
  *    accumulated output ledger, then real codec work on only the new
  *    distinct payloads → epoch-partitioned parquet.
  *  - neardup_intake: per-batch MinHash signatures probing the PERSISTED
  *    corpus band index (nearDupIntakeStream) → epoch-partitioned parquet.
  *    Measures the batch-proportional-probe design end to end, sink I/O
  *    included.
  *  - substr_intake: per-batch k-gram windows probing the persisted
  *    corpus position index (substrIntakeStream) → epoch-partitioned
  *    parquet with every duplicated ≥50-token span's geometry.
  *  - ann_intake: per-batch query vectors probing the persisted IVF index
  *    (annIntakeStream) → epoch-partitioned parquet. The online-serving
  *    shape: query broadcast + pruned list scan + per-query top-k.
  *  - first_seen: the reference's DAU dedup (firstSeenStream, one
  *    state row per open (dt, user_id)) over the events table → noop
  *    sink; the standing record of the state operator's cost. Its input
  *    is written in event-time order, so the watermark drops no row.
  *
  * Set-up (index builds, one-off corpus work) happens BEFORE the clock
  * starts; rates come from the streaming engine's own progress events
  * (numInputRows / triggerExecution ms summed over non-empty batches), so
  * file-listing and trigger overhead are inside the measurement — the
  * honest micro-batch number. A row whose stream dropped any row to the
  * watermark fails the run: its rate would describe fewer rows than it
  * reports. SPARK_GRAFT_STREAM_SCALE replicates the document and vector
  * inputs; SPARK_GRAFT_STREAM_ONLY names the rows to run. Prints ONE JSON
  * line: {"metric":"stream_intake", "streams":{name:{rows,batches,
  * total_sec,rows_per_sec,p50_batch_ms,max_batch_ms}}, "sf":dir}.
  */
object StreamBench {
  private case class Report(rows: Long, batches: Int, totalSec: Double,
      rowsPerSec: Double, p50BatchMs: Long, maxBatchMs: Long)

  /** One bench row: `setUp` is its untimed one-off work, `start` starts
    * the stream whose progress is measured. */
  private case class Intake(name: String, setUp: () => Unit,
      start: () => StreamingQuery)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt
    // rows-per-trigger sweep knob (the knee experiment, SCALING.md r13):
    // SCALE replicates the input corpus with distinct ids/texts so one
    // trigger carries scale× the rows
    val scale = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALE", "1").toInt
    val work = java.nio.file.Files.createTempDirectory("graft_streambench_")
      .toString
    // corpus-sized parquet copies + sink output + checkpoints live under
    // `work` — delete on exit or repeated runs accumulate to disk pressure
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(work))
    }
    val spark = graft.GraftSession.start(
      graft.GraftSession.builder(s"local[$cpus]", "graft-stream-bench", cpus.toInt)
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
    // recentProgress is a ring buffer (default 100 events); rates are
    // summed over it, so it must hold EVERY batch of a run or the
    // reported rows/batches silently describe only the tail
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(1000, 4 * nBatches).toString)

    /** A file-source stream over the parquet files in `$work/$name`, one
      * file per micro-batch. */
    def streamOf(df: DataFrame, name: String): DataFrame =
      spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/$name")

    /** Write `df` as `n` files so maxFilesPerTrigger=1 yields n
      * micro-batches, and return a file-source stream over them. */
    def asStream(df: DataFrame, name: String): DataFrame = {
      df.repartition(nBatches).write.mode("overwrite").parquet(s"$work/$name")
      streamOf(df, name)
    }

    /** [[asStream]] in event-time order: `n` range slices of `ts`, file i
      * stamped one second after file i-1, since the file source takes
      * files in modification-time order. Each batch's rows then sit at or
      * past the previous batch's latest ts, so the watermark drops none. */
    def asEventTimeStream(df: DataFrame, name: String): DataFrame = {
      df.repartitionByRange(nBatches, col("ts"))
        .write.mode("overwrite").parquet(s"$work/$name")
      val parts = new java.io.File(s"$work/$name").listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - 1000L * parts.length
      parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + 1000L * i) }
      streamOf(df, name)
    }

    /** Drain a streaming query and report rates from its progress events
      * (empty trailing triggers excluded — they carry no rows). */
    def measure(name: String, start: => StreamingQuery): Report = {
      val q = start
      q.processAllAvailable()
      val prog = q.recentProgress.filter(_.numInputRows > 0)
      q.stop()
      val dropped = prog.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      require(dropped == 0, s"$name: the watermark dropped $dropped rows")
      val rows = prog.map(_.numInputRows).sum
      val durs = prog.map(_.durationMs.get("triggerExecution").longValue)
      val totalMs = durs.sum
      val sorted = durs.sorted
      Report(rows, prog.length, totalMs / 1e3,
        if (totalMs > 0) rows / (totalMs / 1e3) else 0.0,
        if (sorted.nonEmpty) sorted(sorted.length / 2) else 0L,
        if (sorted.nonEmpty) sorted.last else 0L)
    }

    /** Replicate a documents-shaped frame `scale`× with distinct ids AND
      * distinct texts (a copy suffix), so fp/digest state and the probe
      * work grow with the row count — replicating identical rows would
      * let the dedup states collapse the extra volume and understate the
      * per-row cost the sweep exists to find. */
    def scaledDocs(df: DataFrame): DataFrame =
      if (scale == 1) df
      else df.withColumn("c", explode(typedlit((0 until scale).toList)))
        .withColumn("doc_id", col("doc_id") * scale + col("c"))
        .withColumn("text", concat(col("text"), lit(" copy"), col("c")))
        .drop("c")

    val docs = scaledDocs(graft.Tables.documents(spark, sfDir))
    // the probe intakes stream the batch slice; the corpus slice is indexed
    val batchDocs = docs.where(pmod(col("doc_id"), lit(10)) >= 8)
    val assets = graft.operators.MultimodalOps.assetsFrom(docs)
    def toNoop(stream: DataFrame, ckpt: String): StreamingQuery =
      stream.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", s"$work/$ckpt").start()
    val none = () => ()

    val intakes = Seq(
      Intake("curation_intake", none, () =>
        toNoop(StreamingOps.curationIntakeStream(asStream(docs, "cur_in")), "cur_ckpt")),
      Intake("asset_intake", none, () =>
        toNoop(StreamingOps.assetIntakeStream(asStream(assets, "as_in")), "as_ckpt")),
      Intake("decode_intake", none, () =>
        StreamingOps.decodeIntakeStream(asStream(assets, "dec_in"),
          s"$work/dec_out", s"$work/dec_ckpt")),
      Intake("neardup_intake",
        () => graft.operators.DedupOps.buildSnapNearDupIndex(
          spark, sfDir, "sb_band_idx", "sb_sig"),
        () => StreamingOps.nearDupIntakeStream(asStream(batchDocs, "nd_in"),
          "sb_band_idx", "sb_sig", s"$work/nd_out", s"$work/nd_ckpt")),
      Intake("substr_intake",
        () => graft.operators.DedupOps.buildSubstrIndex(spark, sfDir, "sb_substr_idx"),
        () => StreamingOps.substrIntakeStream(asStream(batchDocs, "ss_in"),
          "sb_substr_idx", s"$work/ss_out", s"$work/ss_ckpt")),
      Intake("ann_intake",
        () => graft.operators.SimilarityOps.buildAnnIndex(spark, sfDir, s"$work/annidx"),
        () => {
          val vecs = graft.Tables.embeddings(spark, sfDir)
            .where(pmod(col("vec_id"), lit(10)) >= 8)
          val queries = (if (scale == 1) vecs
            else vecs.withColumn("c", explode(typedlit((0 until scale).toList)))
              .withColumn("vec_id", col("vec_id") * scale + col("c")).drop("c"))
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
          StreamingOps.annIntakeStream(asStream(queries, "ann_in"),
            s"$work/annidx", s"$work/ann_out", s"$work/ann_ckpt")
        }),
      Intake("first_seen", none, () =>
        toNoop(StreamingOps.firstSeenStream(
          asEventTimeStream(graft.Tables.events(spark, sfDir), "fs_in")), "fs_ckpt")))

    val only = graft.SparkEntry.only("SPARK_GRAFT_STREAM_ONLY", intakes.map(_.name).toSet)
    val results = intakes.filter(i => only.forall(_(i.name))).map { i =>
      i.setUp()
      spark.catalog.clearCache()
      i.name -> measure(i.name, i.start())
    }

    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val streams = results.map { case (n, r) =>
      s""""$n":{"rows":${r.rows},"batches":${r.batches}""" +
        s""","total_sec":${f(r.totalSec)},"rows_per_sec":${f(r.rowsPerSec)}""" +
        s""","p50_batch_ms":${r.p50BatchMs},"max_batch_ms":${r.maxBatchMs}}"""
    }.mkString("{", ",", "}")
    spark.sparkContext.setLogLevel("ERROR")
    println(s"""{"metric":"stream_intake","streams":$streams,""" +
      s""""batches":$nBatches,"scale":$scale,"sf":${graft.Json.quote(sfDir)}}""")
    spark.stop()
  }
}
