package graft.streaming

import graft.operators.{AnalyticOps, CoreOps, DedupOps, MultimodalOps, ScaleOps, SimilarityOps}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CacheRetire
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming layer — the streaming semantics of the reference
  * (SURVEY.md §2.8) rebuilt on event-time + watermarks + the state store.
  *
  * What replaces what (reference site → here):
  *  - Redis SADD first-seen dedup into `dau:{dt}` sets (DauApp.scala:59-75)
  *      → per-(dt, user_id) state in the state store that expires when the
  *        watermark closes its day, where the reference's sets lived until
  *        expired from outside (see firstSeenStream for the state and
  *        late-data rules); checkpointing replaces the manual offset
  *        protocol (OffsetManager.scala). Hourly DAU is computed where the
  *        reference's publisher computes it, on the landed rows
  *        (ServingOps.realtimeHourly), not as a second stream.
  *  - DStream window(10s,5s) + keyBy + join + zset dedup
  *    (DwsOrderWideApp.scala:88-122)
  *      → watermarked stream-stream inner join with a ±10s event-time range.
  *        Structured Streaming emits each matched pair exactly once, so the
  *        zset dedup (F4) disappears; watermarks make the orphan/late rule
  *        DETERMINISTIC where the reference depended on arrival timing
  *        (documented delta, SURVEY §7.5c).
  *  - per-record Kafka fan-out by table (OdsGmallCanalMax.scala:40-57)
  *      → a single partitionBy("table_name") sink: one job, N output
  *        directories, no per-record producer.
  *
  * All functions are DataFrame→DataFrame so they run identically on a
  * `readStream` source (production) and a batch DataFrame or MemoryStream
  * (tests) — the Spark way to keep streaming logic unit-testable.
  */
object StreamingOps {

  /** Event-time watermark matching the reference's 10s join window. */
  val WatermarkDelay = "10 seconds"

  /** F3: first-seen-per-day dedup, the reference's Redis `dau:{dt}` SADD
    * (DauApp.scala:59-75). Emits the first row of each (dt, user_id), with
    * the input's columns plus `dt` and `hr` (as [[CoreOps.withDtHr]]), in
    * append mode; of several rows of one key in one micro-batch, the first
    * to arrive wins.
    *
    * State is one `true` per (dt, user_id) of an OPEN day: each key sets an
    * event-time timeout at the end of its day (the session time zone the
    * query runs under, UTC under GraftSession), and once the watermark
    * passes it the key is removed and nothing is emitted. Input rows later
    * than the 10 s watermark are dropped before the dedup (SURVEY §7.5c:
    * the reference's SADD would have accepted them — the documented price
    * of a watermark, counted in `numRowsDroppedByWatermark`). So no row of
    * day d reaches the dedup once its keys expire, and freeing them changes
    * no emission: state holds the keys of the days the watermark has not
    * closed, not every day the query has seen (StreamingSpec pins both).
    *
    * One batch straddles each midnight: Spark drops late rows by the
    * previous batch's watermark but runs the dedup under the current one,
    * so a row of day d can still arrive after the watermark passed d's
    * end. Its day is already closed, so its key is removed rather than
    * given a timeout in the past; a first sighting is still emitted, as
    * the watermarked `dropDuplicates` this replaced emitted it, and the
    * next batch's late filter drops every later row of d. */
  def firstSeenStream(events: DataFrame): DataFrame = {
    val days = CoreOps.withDtHr(events).withWatermark("ts", WatermarkDelay)
    // dt and its day's end are computed in the same plan, under the
    // session zone it runs with: one owner for the day boundary
    val dayEnd = unix_millis(date_add(col("dt"), 1).cast("timestamp"))
    days.groupBy(col("dt"), col("user_id"), dayEnd)
      .as(Encoders.row(days.select(col("dt"), col("user_id"), dayEnd).schema),
        Encoders.row(days.schema))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: Row, rows: Iterator[Row], seen: GroupState[Boolean]) =>
          if (seen.hasTimedOut) { seen.remove(); Iterator.empty }
          else {
            val first = !seen.exists
            if (key.isNullAt(2)) { if (first) seen.update(true) } // a null ts has no day to close
            else if (key.getLong(2) <= seen.getCurrentWatermarkMs()) seen.remove()
            else {
              if (first) seen.update(true)
              seen.setTimeoutTimestamp(key.getLong(2)) // every call clears it
            }
            if (first) rows.take(1) else Iterator.empty
          })(Encoders.scalaBoolean, Encoders.row(days.schema))
  }

  /** T2 extension: per-user SESSION windows on a stream — the same
    * `session_window` expression as the batch AnalyticOps.sessionWindow
    * (30 min gap), watermarked so sessions close and emit in append mode
    * once the watermark passes session end + gap. State per (user,
    * open-session) only — closed sessions are evicted, so state is
    * bounded by concurrent activity, not history. */
  def sessionWindowStream(events: DataFrame,
      gap: String = AnalyticOps.SessionGap): DataFrame =
    AnalyticOps.sessions(events.withWatermark("ts", WatermarkDelay), gap)

  /** J1: stream-stream inner equi-join, order_info ⋈ order_detail.
    * Both sides watermarked; the ±10s event-time range bounds join state
    * exactly like the reference's 10s sliding window bounded which pairs
    * could meet. Input schemas follow the testdata mapping:
    * orders(o_orderkey, ..., o_ts) and lineitem(l_orderkey, ..., l_ts). */
  def orderWideStream(orderInfo: DataFrame, orderDetail: DataFrame): DataFrame =
    orderWideJoin(orderInfo, orderDetail, "inner")

  /** Shared watermark + ±10s range condition for the inner/outer order-wide
    * joins — one definition so the window width and keys can't diverge. */
  private def orderWideJoin(orderInfo: DataFrame, orderDetail: DataFrame,
      joinType: String): DataFrame = {
    val oi = orderInfo.withWatermark("o_ts", WatermarkDelay)
    val od = orderDetail.withWatermark("l_ts", WatermarkDelay)
    od.join(oi,
      od("l_orderkey") === oi("o_orderkey") &&
        od("l_ts") >= oi("o_ts") - expr("INTERVAL 10 SECONDS") &&
        od("l_ts") <= oi("o_ts") + expr("INTERVAL 10 SECONDS"),
      joinType)
  }

  /** J1 outer form: stream-stream LEFT OUTER order-wide join. Matched
    * pairs emit immediately (inner semantics); an order detail whose
    * order_info never arrives emits ONCE with null order columns after the
    * watermark passes its join window — the orphan-audit row the
    * reference's pipeline silently dropped (its window join discarded
    * unmatched details when the windows slid past each other). State is
    * bounded exactly as in the inner form: the ±10s event-time range plus
    * the watermark delay tell Spark when a detail can no longer match and
    * must be emitted-with-nulls and evicted. */
  def orderWideStreamOuter(orderInfo: DataFrame,
      orderDetail: DataFrame): DataFrame =
    orderWideJoin(orderInfo, orderDetail, "left_outer")

  /** F1+T6: the batch CDC routing keep ([[CoreOps.Routing.keep]]) applied
    * to a stream; the result carries `table_name` so a single
    * partitionBy("table_name") sink fans out to per-table
    * directories/topics. */
  def cdcRouteStream(events: DataFrame): DataFrame =
    events.filter(CoreOps.Routing.keep)
      .withColumn("table_name", CoreOps.Routing.table)
      .withColumn("op", CoreOps.Routing.op)

  /** DWS → ADS chain: the stream-stream order-wide join feeding a windowed
    * revenue aggregation IN THE SAME STREAMING QUERY — two chained
    * stateful operators (join state + agg state), which Structured
    * Streaming supports with both operators watermark-bounded. The
    * reference needed a separate app + Kafka hop for each layer; here the
    * whole ODS→DWS→ADS path is one checkpointed query. */
  def orderRevenueStream(orderInfo: DataFrame, orderDetail: DataFrame): DataFrame =
    orderWideStream(orderInfo, orderDetail)
      .groupBy(window(col("o_ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice")).as("revenue"))
      .select(col("w.start").as("window_start"), col("n_items"), col("revenue"))

  /** The ONE micro-batch sink every table-writing intake runs through:
    * per micro-batch, `perBatch(batch, batchId)` builds the batch's
    * output, dynamic partition overwrite ([[ScaleOps.overwriteByPartition]])
    * replaces exactly the `partCol` partitions it holds, and then
    * [[CacheRetire.retire]] releases whatever that output cached.
    *
    *  - Idempotence: a REPLAYED micro-batch (checkpoint rollback,
    *    at-least-once upstream) rewrites the partitions it wrote the first
    *    time instead of appending duplicate rows, so replayable sources
    *    plus this sink give exactly-once table state — the form here of
    *    the reference's ES doc-id / Phoenix keyed upserts (K1/K4), where
    *    plain parquet append has no transactional upsert.
    *  - Release: the operators a batch runs `.cache()` what they reuse and
    *    leave it registered (DedupOps caching contract); a stream runs for
    *    days with no harness loop to clear it, so the sink drops each
    *    batch's cache entries once its write is done.
    *  - Batch operators: inside the sink each batch is a plain DataFrame,
    *    so `perBatch` may rank, window and read persisted indexes, and the
    *    intakes call the SAME operator the offline query uses — stream ≡
    *    batch is a property, not a test hope.
    *
    * The query runs in append output mode, the mode of every stream here
    * (firstSeenStream's state operator accepts no other). */
  private def microBatchSink(stream: DataFrame, partCol: String, path: String,
      checkpoint: String)(perBatch: (DataFrame, Long) => DataFrame)
      : StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = perBatch(batch, batchId)
        try ScaleOps.overwriteByPartition(out, partCol, path)
        finally CacheRetire.retire(out)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** [[microBatchSink]] for the intakes: each micro-batch lands in its
    * own `epoch=<batchId>` partition of `outPath`. */
  private def epochSink(stream: DataFrame, outPath: String, checkpoint: String)(
      perBatch: (DataFrame, Long) => DataFrame): StreamingQuery =
    microBatchSink(stream, "epoch", outPath, checkpoint)((batch, batchId) =>
      perBatch(batch, batchId).withColumn("epoch", lit(batchId)))

  /** Streaming → idempotent-table bridge: run a stream into a
    * dt-partitioned parquet table through [[microBatchSink]]; each
    * micro-batch replaces exactly the dt partitions it touches. */
  def upsertByPartitionSink(df: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    microBatchSink(df, "dt", path, checkpoint)((batch, _) => batch)

  /** K3/P8: shape a DataFrame into Kafka producer records — key (the
    * business key, for log-compaction/partitioning), value (the full row
    * as compact JSON, the reference's fastjson toJSONString), topic. This
    * is exactly the schema `.writeStream.format("kafka")` consumes; kept
    * sink-agnostic so it is testable without a broker and reusable for
    * any keyed-JSON sink. */
  def toKafkaRecords(df: DataFrame, keyCol: String, topic: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"),
      lit(topic).as("topic"))

  /** J2 streaming form: stream-static broadcast enrichment. As a plain
    * stream-static join Spark re-plans the static side per micro-batch,
    * so each batch sees the dim as it is then (per-batch dim refresh
    * parity, SURVEY §7.5). */
  def enrichStream(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "left")

  /** ONLINE NEAR-DUP intake — the streaming half of the snapshot dedup:
    * documents arrive as a stream; each micro-batch derives ITS OWN
    * MinHash signatures (batch-proportional work) and probes the
    * PERSISTED corpus band index (DedupOps.buildSnapNearDupIndex — the
    * plan-asserted shuffle-free-on-persisted-sides probe), landing each
    * doc's best corpus partner in `outPath` through the one sink
    * ([[epochSink]]), which also releases the batch's cached signatures.
    * This is the signal the curation intake (curationIntakeStream)
    * declared downstream: exact dedup runs in-stream on the content
    * fingerprint, corpus-grain NEAR-dup runs here against the index.
    * Per-doc results depend only on (doc, index), so any micro-batch
    * partitioning of the stream yields exactly the one-shot batch
    * probe's rows. */
  def nearDupIntakeStream(docStream: DataFrame, indexTable: String,
      sigTable: String, outPath: String, checkpoint: String): StreamingQuery =
    epochSink(docStream, outPath, checkpoint)((batch, _) =>
      DedupOps.snapNearDupProbeOf(batch.sparkSession, batch, indexTable, sigTable))

  /** ONLINE SUBSTRING-DEDUP intake — the streaming half of the
    * substring family (q_substr_dedup detects corpus-internally,
    * q_snap_substr probes a snapshot split; this is the arrival-time
    * form): document micro-batches arrive, each batch's k-gram window
    * positions probe the PERSISTED corpus position index
    * (DedupOps.buildSubstrIndex — bucketed by window hash, so the
    * corpus-sized side never re-shuffles) and every duplicated span
    * ≥ 50 tokens lands in `outPath` with its exact (batch position,
    * corpus position, length) geometry. The island merge needs a window,
    * so the probe is the batch operator (DedupOps.substrProbeOf) run by
    * [[epochSink]]: per-doc rows depend only on (doc text, index), so
    * any micro-batch partitioning yields exactly the one-shot probe's
    * rows. */
  def substrIntakeStream(docStream: DataFrame, indexTable: String,
      outPath: String, checkpoint: String): StreamingQuery =
    epochSink(docStream, outPath, checkpoint)((batch, _) =>
      DedupOps.substrProbeOf(batch.sparkSession, batch, indexTable))

  /** ONLINE DECONTAMINATION intake — training shards arrive as a
    * stream, each micro-batch probes the PERSISTED eval position index
    * (DedupOps.buildEvalIndex) and every leaked eval span ≥ 50 tokens
    * lands with its exact (train position, eval position, length)
    * geometry — the arrival-time form of q_contamination_spans, which
    * is the shape a production ingest actually runs: the eval set is
    * small and static, indexed once; training data flows past it.
    * The batch operator (DedupOps.contaminationProbeOf) runs in
    * [[epochSink]], like every intake here. */
  def contaminationIntakeStream(trainStream: DataFrame,
      evalIndexTable: String, outPath: String, checkpoint: String)
      : StreamingQuery =
    epochSink(trainStream, outPath, checkpoint)((batch, _) =>
      DedupOps.contaminationProbeOf(batch.sparkSession, batch, evalIndexTable))

  /** ONLINE ANN retrieval — the streaming half of the similarity family:
    * query vectors arrive as a stream, each micro-batch probes the
    * PERSISTED trained IVF index (SimilarityOps.buildAnnIndex — centroids
    * + cl-partitioned inverted lists) and its top-k lands in `outPath`.
    *
    * Per-query top-k needs a rank over the candidate set, which streaming
    * plans forbid; inside [[epochSink]] each batch is a plain DataFrame,
    * so the probe is the SAME batch operator (annIndexProbe) the offline
    * path uses. Per batch the work is the online-serving shape: the
    * query set broadcasts, only the probed list partitions are scanned
    * (partition pruning on cl), nothing corpus-sized shuffles. */
  def annIntakeStream(queryStream: DataFrame, indexDir: String,
      outPath: String, checkpoint: String): StreamingQuery =
    epochSink(queryStream, outPath, checkpoint)((batch, _) =>
      SimilarityOps.annIndexProbe(batch.sparkSession, indexDir, batch))

  /** STREAMING MULTIMODAL INGEST — dedup-on-arrival for binary assets,
    * the streaming twin of the batch `q_mm_dedup`: fingerprint the
    * OPAQUE payload map-side (xxhash64 — the production digest, matching
    * x_mm_dedup_fast), then keep the FIRST arrival of each
    * (modality, digest) across ALL micro-batches via dropDuplicates
    * state. Only metadata + the 8-byte digest enter the state store —
    * media bytes are dropped at the map stage, which is what makes the
    * state bounded while 100 TB of payloads flow past. Keep-rule
    * difference vs batch (documented, spec-pinned): the stream keeps the
    * first ARRIVAL, the batch dedup the MIN id — the kept (modality,
    * digest) SET is identical, the representative row can differ (same
    * convention as the curation intake's fp state; group counts are the
    * batch report's job — dropDuplicates emits one row, not a count). */
  def assetIntakeStream(assets: DataFrame): DataFrame =
    assets.select(col("asset_id"), col("modality"),
        xxhash64(col("payload")).as("payload_fp"),
        length(col("payload")).cast("long").as("byte_len"),
        col("width"), col("height"), col("duration_ms"))
      .dropDuplicates("modality", "payload_fp")

  /** STREAMING DECODE INTAKE — the ONLINE form of the incremental decode
    * cache (`q_snap_decode`): asset micro-batches arrive, each batch's
    * payload digests are ANTI-JOINED against the accumulated ledger of
    * already-decoded digests BEFORE any codec runs, and only the new
    * DISTINCT payloads decode (copies ride a count) — "never decode the
    * same bytes twice" holding ACROSS epochs, not just within one batch.
    *
    * The ledger is the sink's own output: each epoch's decoded stats land
    * in an `epoch=<batchId>` partition of `outPath` ([[epochSink]]), and
    * the next batch reads the accumulated `payload_fp`s back (only 16-byte
    * digests — the decoded-stats table is metadata-sized however many
    * payload bytes flowed past). A REPLAYED micro-batch (checkpoint
    * rollback) excludes its OWN epoch partition from the ledger read
    * before re-deciding — otherwise its prior output would anti-join away
    * exactly the digests it must re-emit — and then rewrites that
    * partition. The per-batch dataflow is LITERALLY the batch operator
    * ([[MultimodalOps.snapshotDecodeFrom]]), so stream and batch cannot
    * disagree on any single (batch, ledger) pair.
    *
    * Copy-count semantics across epochs (deliberate, spec-pinned): a
    * digest's row is emitted by its FIRST epoch with that epoch's copy
    * count; copies arriving in LATER epochs are cache hits and are
    * dropped without incrementing anything — the same convention as the
    * batch operator, where batch copies of an already-ledgered digest
    * don't appear at all. So the decoded-stats SET and every per-digest
    * statistic are partitioning-independent, while `n_batch_copies`
    * counts only the first epoch's arrivals (a cumulative per-digest
    * arrival count is a different operator — a groupBy over the raw
    * intake — not a property of the decode cache). */
  def decodeIntakeStream(assetStream: DataFrame, outPath: String,
      checkpoint: String): StreamingQuery =
    epochSink(assetStream, outPath, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      // the ledger read must treat a footerless sink as EMPTY, not
      // fatal: a crash mid-write of epoch 0 (or an empty first epoch)
      // leaves outPath existing with zero parquet files, and a plain
      // read would throw schema-inference AnalysisException on every
      // replay — permanently crash-looping the recovery the
      // checkpoint exists to provide. ONLY those two error classes
      // mean "empty sink": any other AnalysisException (schema drift,
      // permissions, a corrupted path config) must PROPAGATE — zeroing
      // the ledger on it would silently re-decode and re-emit digests
      // already landed, breaking the one-epoch-per-digest invariant
      val EmptySinkClasses = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
      val ledger =
        (try Some(spark.read.parquet(outPath))
         catch {
           case e: org.apache.spark.sql.AnalysisException
             if EmptySinkClasses.contains(e.getCondition) => None
         })
          .map(_.where(col("epoch") =!= batchId) // replay: self-exclusion
            .select(col("payload_fp").as("fp")).distinct())
          .getOrElse(spark.emptyDataset[String](Encoders.STRING).toDF("fp"))
      MultimodalOps.snapshotDecodeFrom(batch, ledger)
    }

  /** LLM-PIPELINE STREAMING INTAKE: the ONLINE half of the curation gate —
    * new crawl/ingest shards arrive as a documents stream, and each doc is
    * accepted or dropped as it lands. The lambda split every production
    * pipeline uses:
    *
    *  - INLINE (this operator, all map-side + one dedup state): the
    *    quality and repetition bits via the SAME shared predicates the
    *    batch gate uses (`TextOps.qualityOk` / `isRepetitive` — one
    *    definition, so online and offline verdicts cannot drift), over
    *    stats built with the native `word_ngrams`; the exact-dup bit as
    *    cross-batch first-seen state on the native `rolling_hash31`
    *    content fingerprint — the streaming twin of batch curation's
    *    min-doc_id-per-md5 window (one survivor per content group either
    *    way; which id survives follows arrival order here vs min-id
    *    there, identical on an id-ordered replay — spec-asserted).
    *  - DOWNSTREAM (batch over the accepted shards): the corpus-sized
    *    signals — boilerplate share, contamination vs the eval set,
    *    near-dup vs the persisted band index ([[DedupOps.snapshotNearDupProbe]])
    *    — exactly the snapshot operators the engine already ships.
    *
    * State: `dropDuplicates("fp")` keeps one fingerprint per corpus
    * FOREVER (intake dedup is against all history by definition). At
    * 100 TB that state is one long per distinct doc in the state store —
    * RocksDB-backed it is the smallest state in the pipeline; a
    * TTL-bounded variant is `dropDuplicatesWithinWatermark` on an
    * ingest-time column when history can be windowed. */
  def curationIntakeStream(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.GraftFunctions.{rolling_hash31, word_ngrams}
    val t = split(col("text"), " ")
    val grams = word_ngrams(t, 3)
    val stats = docs.select(
      col("doc_id"), col("source"),
      rolling_hash31(col("text")).as("fp"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct_tokens"),
      graft.operators.TextOps.stopwordCount(t).cast("long").as("n_stopwords"),
      // short docs have NULL gram counts (isRepetitive treats null as
      // not-repetitive) — same convention as the batch repetitionStats
      when(size(t) >= 3, size(grams).cast("long")).as("n_grams"),
      when(size(t) >= 3, size(array_distinct(grams)).cast("long"))
        .as("n_distinct_grams"))
    stats
      .where(graft.operators.TextOps.qualityOk(
        col("n_tokens"), col("n_distinct_tokens"), col("n_stopwords")))
      .where(!graft.operators.TextOps.isRepetitive(
        col("n_grams"), col("n_distinct_grams")))
      .dropDuplicates("fp")
      .select("doc_id", "source", "fp", "n_tokens")
  }
}
