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
  * Four production intakes run over SPARK_GRAFT_SF_DIR as file-source
  * streams chopped into SPARK_GRAFT_STREAM_BATCHES micro-batches
  * (maxFilesPerTrigger=1 over a repartition(n)-written input dir — the
  * micro-batch boundary is the unit the 5 s trigger would deliver):
  *
  *  - curation_intake: in-stream quality/repetition gate + cross-batch
  *    exact-dup state (curationIntakeStream) → noop sink. Pure
  *    stream-transform shape: measures gate + state-store throughput.
  *  - asset_intake: binary payload fingerprints map-side + cross-batch
  *    (modality, digest) dedup state (assetIntakeStream) → noop sink.
  *    The multimodal ingest shape: media bytes never reach the state.
  *  - neardup_intake: per-batch MinHash signatures probing the PERSISTED
  *    corpus band index (nearDupIntakeStream) → epoch-partitioned parquet.
  *    Measures the batch-proportional-probe design end to end, sink I/O
  *    included.
  *  - ann_intake: per-batch query vectors probing the persisted IVF index
  *    (annIntakeStream) → epoch-partitioned parquet. The online-serving
  *    shape: query broadcast + pruned list scan + per-query top-k.
  *
  * Index builds (one-off corpus work) happen BEFORE the clock starts;
  * rates come from the streaming engine's own progress events
  * (numInputRows / triggerExecution ms summed over non-empty batches), so
  * file-listing and trigger overhead are inside the measurement — the
  * honest micro-batch number. Prints ONE JSON line:
  * {"metric":"stream_intake", "streams":{name:{rows,batches,total_sec,
  * rows_per_sec,p50_batch_ms,max_batch_ms}}, "sf":dir}.
  */
object StreamBench {
  private case class Report(rows: Long, batches: Int, totalSec: Double,
      rowsPerSec: Double, p50BatchMs: Long, maxBatchMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt
    // rows-per-trigger sweep knobs (the knee experiment, SCALING.md r13):
    // SCALE replicates the input corpus with distinct ids/texts so one
    // trigger carries scale× the rows; ONLY selects a subset of intakes
    // (comma list; unknown names are a hard error, mirroring BENCH_ONLY)
    val scale = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALE", "1").toInt
    val onlyNames = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val allNames = Set("curation_intake", "asset_intake",
      "neardup_intake", "ann_intake", "decode_intake", "substr_intake")
    onlyNames.foreach { names =>
      val unknown = names -- allNames
      require(unknown.isEmpty, s"SPARK_GRAFT_STREAM_ONLY unknown: $unknown")
    }
    def wanted(name: String): Boolean = onlyNames.forall(_.contains(name))
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

    /** Write `df` as `n` files so maxFilesPerTrigger=1 yields n
      * micro-batches, and return a file-source stream over them. */
    def asStream(df: DataFrame, name: String): DataFrame = {
      df.repartition(nBatches).write.mode("overwrite").parquet(s"$work/$name")
      spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/$name")
    }

    /** Drain a streaming query and report rates from its progress events
      * (empty trailing triggers excluded — they carry no rows). */
    def measure(start: => StreamingQuery): Report = {
      val q = start
      q.processAllAvailable()
      val prog = q.recentProgress.filter(_.numInputRows > 0)
      q.stop()
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
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Report]

    // 1) curation intake: full documents table through the gate + fp state
    if (wanted("curation_intake"))
      results("curation_intake") = measure {
        StreamingOps.curationIntakeStream(asStream(docs, "cur_in"))
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", s"$work/cur_ckpt").start()
      }

    // 1b) asset intake: binary payloads fingerprinted map-side, dedup
    // state holds metadata + 8-byte digests only (the multimodal ingest
    // shape — media bytes are dropped before the state store)
    if (wanted("asset_intake"))
      results("asset_intake") = measure {
        StreamingOps.assetIntakeStream(
          asStream(graft.operators.MultimodalOps.assetsFrom(docs), "as_in"))
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", s"$work/as_ckpt").start()
      }

    // 1c) decode intake: the incremental decode cache online — per batch
    // a digest anti-join against the accumulated output ledger, then REAL
    // codec work (PNG inflate / JPEG imageio / WAV PCM) on only the new
    // distinct payloads, landing epoch-partitioned decoded stats. The
    // expensive stage of a media pipeline measured in its streaming shape.
    if (wanted("decode_intake"))
      results("decode_intake") = measure {
        StreamingOps.decodeIntakeStream(
          asStream(graft.operators.MultimodalOps.assetsFrom(docs), "dec_in"),
          s"$work/dec_out", s"$work/dec_ckpt")
      }

    // 2) near-dup intake: corpus slice indexed offline, batch slice streamed
    if (wanted("neardup_intake")) {
      graft.operators.DedupOps.buildSnapNearDupIndex(
        spark, sfDir, "sb_band_idx", "sb_sig")
      spark.catalog.clearCache()
      results("neardup_intake") = measure {
        StreamingOps.nearDupIntakeStream(
          asStream(docs.where(pmod(col("doc_id"), lit(10)) >= 8), "nd_in"),
          "sb_band_idx", "sb_sig", s"$work/nd_out", s"$work/nd_ckpt")
      }
    }

    // 2b) substring intake: corpus k-gram position index built offline,
    // the batch slice streamed — every duplicated ≥50-token span lands
    // with its exact (batch position, corpus position, length) geometry.
    // Measures the position-join + island-merge probe end to end,
    // epoch-partitioned sink I/O included.
    if (wanted("substr_intake")) {
      graft.operators.DedupOps.buildSubstrIndex(spark, sfDir, "sb_substr_idx")
      spark.catalog.clearCache()
      results("substr_intake") = measure {
        StreamingOps.substrIntakeStream(
          asStream(docs.where(pmod(col("doc_id"), lit(10)) >= 8), "ss_in"),
          "sb_substr_idx", s"$work/ss_out", s"$work/ss_ckpt")
      }
    }

    // 3) ANN intake: IVF index built offline, query vectors streamed
    if (wanted("ann_intake")) {
      graft.operators.SimilarityOps.buildAnnIndex(spark, sfDir, s"$work/annidx")
      spark.catalog.clearCache()
      val vecs = graft.Tables.embeddings(spark, sfDir)
        .where(pmod(col("vec_id"), lit(10)) >= 8)
      val queries = (if (scale == 1) vecs
        else vecs.withColumn("c", explode(typedlit((0 until scale).toList)))
          .withColumn("vec_id", col("vec_id") * scale + col("c")).drop("c"))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      results("ann_intake") = measure {
        StreamingOps.annIntakeStream(asStream(queries, "ann_in"),
          s"$work/annidx", s"$work/ann_out", s"$work/ann_ckpt")
      }
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
      s""""batches":$nBatches,"scale":$scale,"sf":"$sfDir"}""")
    spark.stop()
  }
}
