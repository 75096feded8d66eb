package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingOps

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
case class QVec(query_id: Long, qe: Seq[Float])
case class OInfo(o_orderkey: Long, o_ts: Timestamp, o_totalprice: Double)
case class ODet(l_orderkey: Long, l_ts: Timestamp, l_extendedprice: Double)

class StreamingSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
  }

  test("streaming first-seen dedup: duplicate mids across batches collapse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // batch 1: user 1 twice; batch 2: user 1 again (cross-batch dup) + user 2
    in.addData(
      Ev(0, ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(1, ts("2024-01-01 10:00:01"), 1, "view", 1.0, "{}"))
    val q = StreamingOps.firstSeenStream(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("fs").start()
    q.processAllAvailable()
    in.addData(
      Ev(2, ts("2024-01-01 10:00:02"), 1, "view", 1.0, "{}"),
      Ev(3, ts("2024-01-01 10:00:03"), 2, "view", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("fs").select("user_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L), "one row per user per day across batches")
  }

  test("stream-stream join emits each matched pair once; orphans beyond window never join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val oi = MemoryStream[OInfo]
    val od = MemoryStream[ODet]
    val joined = StreamingOps.orderWideStream(oi.toDF(), od.toDF())
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("wide").start()
    // pair within 10s → joins; detail 99 is 60s away from its order → orphan
    oi.addData(OInfo(1, ts("2024-01-01 10:00:00"), 100.0),
               OInfo(99, ts("2024-01-01 10:00:00"), 50.0))
    od.addData(ODet(1, ts("2024-01-01 10:00:05"), 10.0),
               ODet(99, ts("2024-01-01 10:01:00"), 20.0))
    q.processAllAvailable()
    // advance both watermarks far past everything so state finalizes
    oi.addData(OInfo(1000, ts("2024-01-01 11:00:00"), 0.0))
    od.addData(ODet(1001, ts("2024-01-01 11:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wide").select("l_orderkey").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L), s"only the in-window pair joins, got ${got.toSeq}")
  }

  test("left-outer stream-stream join emits orphan details with nulls after the watermark closes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val oi = MemoryStream[OInfo]
    val od = MemoryStream[ODet]
    val joined = StreamingOps.orderWideStreamOuter(oi.toDF(), od.toDF())
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("wide_outer").start()
    // pair within 10s → joins now; detail 99's order is 60s away → can
    // never match, must surface as a null-padded orphan once the
    // watermark passes its window
    oi.addData(OInfo(1, ts("2024-01-01 10:00:00"), 100.0),
               OInfo(99, ts("2024-01-01 10:00:00"), 50.0))
    od.addData(ODet(1, ts("2024-01-01 10:00:05"), 10.0),
               ODet(99, ts("2024-01-01 10:01:00"), 20.0))
    q.processAllAvailable()
    // advance both watermarks far past everything so outer state finalizes
    oi.addData(OInfo(1000, ts("2024-01-01 11:00:00"), 0.0))
    od.addData(ODet(1001, ts("2024-01-01 11:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wide_outer")
      .select("l_orderkey", "o_orderkey").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    assert(rows.contains((1L, Some(1L))), s"matched pair must join: $rows")
    assert(rows.contains((99L, None)),
      s"out-of-window detail must emit once with null order side: $rows")
    // the matched detail must NOT also reappear as an orphan
    assert(!rows.contains((1L, None)), s"no duplicate orphan for matched rows: $rows")
  }

  test("chained stateful operators: stream-stream join feeding windowed revenue agg in ONE query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val oi = MemoryStream[OInfo]
    val od = MemoryStream[ODet]
    val q = StreamingOps.orderRevenueStream(oi.toDF(), od.toDF())
      .writeStream.outputMode("append").format("memory").queryName("rev").start()
    oi.addData(OInfo(1, ts("2024-01-01 10:00:00"), 100.0),
               OInfo(2, ts("2024-01-01 10:00:30"), 50.0))
    od.addData(ODet(1, ts("2024-01-01 10:00:05"), 10.0),
               ODet(1, ts("2024-01-01 10:00:06"), 15.0),
               ODet(2, ts("2024-01-01 10:00:31"), 20.0))
    q.processAllAvailable()
    // push both watermarks far ahead to close the join state AND the window
    oi.addData(OInfo(1000, ts("2024-01-01 12:00:00"), 0.0))
    od.addData(ODet(1001, ts("2024-01-01 12:00:00"), 0.0))
    q.processAllAvailable()
    oi.addData(OInfo(1002, ts("2024-01-01 14:00:00"), 0.0))
    od.addData(ODet(1003, ts("2024-01-01 14:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rev").collect()
      .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.get("2024-01-01 10:00:00.0").contains((3L, 45.0)),
      s"one closed window with 3 joined items totaling 45.0, got $got")
  }

  test("streaming session windows: gap-merge within session, close on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(0, ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(1, ts("2024-01-01 10:10:00"), 1, "view", 1.0, "{}"), // merges (gap < 30m)
      Ev(2, ts("2024-01-01 11:30:00"), 1, "view", 1.0, "{}"), // new session (gap 80m)
      Ev(3, ts("2024-01-01 10:05:00"), 2, "view", 1.0, "{}"),
      // watermark pusher: closes every session above
      Ev(4, ts("2024-01-01 14:00:00"), 3, "view", 1.0, "{}"))
    val q = StreamingOps.sessionWindowStream(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    def sec(s: String) = ts(s).getTime / 1000
    // session end = last event + 30 min gap (session_window semantics)
    assert(got((1L, sec("2024-01-01 10:00:00"))) == (sec("2024-01-01 10:40:00"), 2L),
      s"user 1 first session wrong: $got")
    assert(got((1L, sec("2024-01-01 11:30:00"))) == (sec("2024-01-01 12:00:00"), 1L))
    assert(got((2L, sec("2024-01-01 10:05:00"))) == (sec("2024-01-01 10:35:00"), 1L))
  }

  test("watermark drops are observable: late row counted in progress metrics, absent from output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamingOps.firstSeenStream(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("wmobs").start()
    in.addData(Ev(0, ts("2024-01-01 10:05:00"), 1, "view", 1.0, "{}"))
    q.processAllAvailable()
    // push the watermark far past 10:30, then send a late first sighting
    in.addData(Ev(1, ts("2024-01-01 14:00:00"), 2, "view", 1.0, "{}"))
    q.processAllAvailable()
    in.addData(Ev(2, ts("2024-01-01 10:30:00"), 3, "view", 1.0, "{}")) // late
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    q.stop()
    // the ops contract: late data is DROPPED (user 3 never counts for the
    // day) and the drop is VISIBLE in metrics — silent loss is the
    // failure mode
    assert(dropped == 1, s"late row must be counted as dropped, got $dropped")
    val got = spark.table("wmobs").select("user_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L), s"late user 3 must not be emitted: ${got.toSeq}")
  }

  test("stream-static broadcast enrichment (J2): left-outer nulls on dim misses") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("d_user", "tier")
    in.addData(
      Ev(0, ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(1, ts("2024-01-01 10:00:01"), 99, "view", 1.0, "{}")) // dim miss
    val q = StreamingOps.enrichStream(in.toDF(), dim, "user_id", "d_user")
      .select("event_id", "tier")
      .writeStream.outputMode("append").format("memory").queryName("enr").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enr").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(0L -> Some("gold"), 1L -> None),
      s"dim miss must yield null, got $got")
  }

  test("checkpoint recovery: dedup state survives a query restart (T4/T5 — replaces Redis offset+state protocol)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val outDir = java.nio.file.Files.createTempDirectory("graft_rec_out_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rec_ckpt_").toString
    def startQuery() = StreamingOps.firstSeenStream(in.toDF())
      .select("dt", "user_id", "event_id")
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()

    in.addData(Ev(0, ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // simulated crash/restart boundary

    // user 1 again after restart: recovered state store must suppress it
    in.addData(
      Ev(1, ts("2024-01-01 10:00:01"), 1, "view", 1.0, "{}"),
      Ev(2, ts("2024-01-01 10:00:02"), 2, "view", 1.0, "{}"))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir).select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 0L), (2L, 2L)),
      s"state must survive restart (no re-emit of user 1), got $got")
  }

  test("first-seen over three event-time days: dropDuplicates' rows, each day's state freed once it closes, across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val outDir = java.nio.file.Files.createTempDirectory("graft_days_out_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_days_ckpt_").toString
    def startQuery() = StreamingOps.firstSeenStream(in.toDF())
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    def ev(id: Long, t: String, user: Long) = Ev(id, ts(t), user, "view", 1.0, "{}")
    val batches = Seq(
      // in-batch duplicate: the first to arrive wins
      Seq(ev(0, "2024-01-01 10:00:00", 1), ev(1, "2024-01-01 10:00:01", 1),
        ev(2, "2024-01-01 10:00:02", 2)),
      // a null ts has no day: emitted once, its key never expires
      Seq(ev(3, "2024-01-01 12:00:00", 1), ev(4, "2024-01-01 12:00:05", 3),
        Ev(18, null, 9, "view", 1.0, "{}")),
      // 4 is more than 10 s late on an open day: dropped
      Seq(ev(5, "2024-01-01 11:00:00", 4), ev(6, "2024-01-01 23:59:50", 5)),
      // day 2 opens; the later arrival has the earlier ts and still loses.
      // The watermark passes the end of day 1, whose keys then expire
      Seq(ev(7, "2024-01-02 00:00:30", 1), ev(8, "2024-01-02 00:00:29", 1)),
      // 9 is a late row of the closed day 1: dropped, never re-emitted
      Seq(ev(9, "2024-01-01 23:59:59", 6), ev(10, "2024-01-02 08:00:00", 2)),
      // (restart here) 11 duplicates 10 across the restart
      Seq(ev(11, "2024-01-02 08:00:01", 2), ev(12, "2024-01-02 09:00:00", 3)),
      // day 3 opens and the watermark closes day 2
      Seq(ev(13, "2024-01-03 00:00:20", 1), ev(14, "2024-01-03 00:00:20", 7)),
      Seq(ev(15, "2024-01-03 01:00:00", 1), ev(16, "2024-01-02 23:00:00", 8)),
      Seq(ev(17, "2024-01-03 02:00:00", 8)))
    var q = startQuery()
    // state rows once the stream has caught up with each batch (the
    // no-data batch a watermark advance triggers included)
    val stateRows = batches.zipWithIndex.map { case (b, i) =>
      if (i == 5) { q.stop(); q = startQuery() }
      in.addData(b)
      q.processAllAvailable()
      q.recentProgress.last.stateOperators(0).numRowsTotal
    }
    q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("dt"),
        r.getAs[String]("hr"), r.getAs[Long]("user_id")))
      .sortBy(_._1).toSeq
    // the rows the watermarked dropDuplicates("dt", "user_id") emitted on
    // this input, recorded from it
    assert(got == Seq((0L, "2024-01-01", "10", 1L), (2L, "2024-01-01", "10", 2L),
      (4L, "2024-01-01", "12", 3L), (6L, "2024-01-01", "23", 5L),
      (7L, "2024-01-02", "00", 1L), (10L, "2024-01-02", "08", 2L),
      (12L, "2024-01-02", "09", 3L), (13L, "2024-01-03", "00", 1L),
      (14L, "2024-01-03", "00", 7L), (17L, "2024-01-03", "02", 8L),
      (18L, null, null, 9L)), s"got $got")
    // dropDuplicates kept every key it saw: 2, 4, 5, 6, 7, 8, 10, 10, 11
    assert(stateRows == Seq(2L, 4L, 5L, 2L, 3L, 4L, 3L, 3L, 4L),
      s"day 1's four keys go after batch 4, day 2's three after batch 7; got $stateRows")
    assert(StreamingOps.firstSeenStream(in.toDF()).schema.map(f => s"${f.name} ${f.dataType.sql}") ==
      Seq("event_id BIGINT", "ts TIMESTAMP", "user_id BIGINT", "event_type STRING",
        "value DOUBLE", "props STRING", "dt STRING", "hr STRING"))
  }

  test("first-seen: a straggler of a day the watermark closed inside its own batch is still emitted once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // without no-data batches, the batch after the one that crosses
    // midnight filters late rows by the old watermark but runs the dedup
    // under the new one, past the end of day 1
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val in = MemoryStream[Ev]
      val q = StreamingOps.firstSeenStream(in.toDF())
        .writeStream.outputMode("append").format("memory").queryName("fs_straddle").start()
      def ev(id: Long, t: String, user: Long) = Ev(id, ts(t), user, "view", 1.0, "{}")
      Seq(
        Seq(ev(0, "2024-01-01 23:59:50", 1)),
        Seq(ev(1, "2024-01-02 00:00:30", 2)),
        // 2 and 3 are later than the old watermark 23:59:40; 3 repeats user 1
        Seq(ev(2, "2024-01-01 23:59:55", 3), ev(3, "2024-01-01 23:59:56", 1)),
        // now later than the 00:00:20 watermark: 4 is dropped
        Seq(ev(4, "2024-01-01 23:59:58", 4), ev(5, "2024-01-02 00:01:00", 1))
      ).foreach { b => in.addData(b); q.processAllAvailable() }
      q.stop()
      val got = spark.table("fs_straddle").select("event_id", "dt", "user_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      // the rows the watermarked dropDuplicates("dt", "user_id") emitted
      // on this input, recorded from it
      assert(got == Seq((0L, "2024-01-01", 1L), (1L, "2024-01-02", 2L),
        (2L, "2024-01-01", 3L), (5L, "2024-01-02", 1L)), s"got $got")
    } finally spark.conf.set(key, saved)
  }

  test("foreachBatch upsert sink: a replayed partition is replaced, others untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_upsert_").toString
    val in = MemoryStream[(String, Long)]
    val q = StreamingOps.upsertByPartitionSink(
      in.toDF().toDF("dt", "user_id"), s"$out/t", s"$out/ckpt")
    in.addData(("2024-01-01", 1L), ("2024-01-01", 2L), ("2024-01-02", 3L))
    q.processAllAvailable()
    // second batch touches ONLY 01-01 → dynamic overwrite replaces that
    // partition (replay semantics), 01-02 must survive untouched
    in.addData(("2024-01-01", 9L))
    q.processAllAvailable()
    q.stop()
    // partition-column type inference reads dt back as DATE — stringify
    val got = spark.read.parquet(s"$out/t")
      .select(col("dt").cast("string"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("2024-01-01", 9L), ("2024-01-02", 3L)),
      s"partition replace + untouched sibling, got $got")
  }

  test("batch/streaming consistency: file-stream dedup finds exactly the batch first-seen set") {
    implicit val sqlCtx = spark.sqlContext
    val schema = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(sf0001).schema
    // batch/streaming consistency comes from sharing the SAME flavor
    // normalization (nanos-long vs NTZ-micros) as Tables.events
    val raw = Tables.normalizeEvents(spark, spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf0001))
    val q = StreamingOps.firstSeenStream(raw)
      .select("dt", "user_id")
      .writeStream.outputMode("append").format("memory").queryName("fsfile").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("fsfile").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.operators.CoreOps.firstSeen(spark, sf0001)
      .select("dt", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streaming and batch dedup must agree; diff=${(streamed diff batch) ++ (batch diff streamed)}")
  }

  test("kafka record shaping (K3/P8): key/value/topic schema with compact JSON values") {
    import spark.implicits._
    val df = Seq((7L, "F", 42.5)).toDF("order_id", "status", "amount")
    val rec = StreamingOps.toKafkaRecords(df, "order_id", "DWD_ORDER_INFO")
    assert(rec.columns.toSeq == Seq("key", "value", "topic"))
    val r = rec.head()
    assert(r.getString(0) == "7")
    assert(r.getString(1) == """{"order_id":7,"status":"F","amount":42.5}""")
    assert(r.getString(2) == "DWD_ORDER_INFO")
  }

  test("cdc routing stream + partitioned fan-out sink (T6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(0, ts("2024-01-01 10:00:00"), 1, "purchase", 1.0, """{"k": 0}"""),  // insert → keep
      Ev(1, ts("2024-01-01 10:00:01"), 1, "purchase", 1.0, """{"k": 2}"""),  // delete → drop
      Ev(2, ts("2024-01-01 10:00:02"), 1, "error", 1.0, """{"k": 3}"""),     // bootstrap leak → keep
      Ev(3, ts("2024-01-01 10:00:03"), 1, "signup", 1.0, """{"k": 1}"""))    // update user_info → keep
    val outDir = java.nio.file.Files.createTempDirectory("graft_route_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val q = StreamingOps.cdcRouteStream(in.toDF()).writeStream
      .outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .partitionBy("table_name")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    assert(dirs == Set("table_name=order_info", "table_name=other_table",
      "table_name=user_info"), s"got $dirs")
    val back = spark.read.parquet(outDir)
    assert(back.count() == 3)
    assert(back.where(col("op") === "delete").count() == 0)
  }

  test("asset intake stream: cross-batch payload dedup, modality-blocked, metadata only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Array[Byte], Long, Long, Long)]
    val assets = in.toDF()
      .toDF("asset_id", "modality", "payload", "width", "height", "duration_ms")
    val q = StreamingOps.assetIntakeStream(assets)
      .writeStream.outputMode("append").format("memory")
      .queryName("asset_intake").start()
    val bytesA = "same jpeg bytes".getBytes("UTF-8")
    val bytesB = "other bytes".getBytes("UTF-8")
    in.addData((1L, "image", bytesA, 64L, 64L, 0L))
    q.processAllAvailable()
    // batch 2: exact payload dup of asset 1 (suppressed by cross-batch
    // state), the SAME bytes under another modality (kept — modality
    // blocks), and a new payload
    in.addData((2L, "image", bytesA, 64L, 64L, 0L),
      (3L, "audio", bytesA, 0L, 0L, 1000L),
      (4L, "image", bytesB, 32L, 32L, 0L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("asset_intake").collect()
      .map(r => r.getAs[Long]("asset_id") -> r.getAs[String]("modality")).toMap
    assert(out == Map(1L -> "image", 3L -> "audio", 4L -> "image"),
      s"got $out")
    // media bytes must NOT flow into the output/state — metadata + digest only
    assert(!spark.table("asset_intake").schema.fieldNames.contains("payload"))
  }

  test("asset intake: streaming and batch agree on the kept (modality, digest) set") {
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.operators.MultimodalOps.assetDedupFast(spark, sf0001)
      .select("modality", "payload_fp").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val schema = spark.read
      .option("pathGlobFilter", "documents.parquet").parquet(sf0001).schema
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf0001)
    // the SHARED synthesis applied to the stream — batch and stream
    // literally run the same assetsFrom shape
    val q = StreamingOps.assetIntakeStream(
      graft.operators.MultimodalOps.assetsFrom(raw))
      .writeStream.outputMode("append").format("memory")
      .queryName("asset_intake_f").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asset_intake_f")
      .select("modality", "payload_fp").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream kept ${streamed.size} digests, batch ${batch.size}")
  }

  test("curation intake stream: quality/repetition gate + cross-batch content dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val goodB = "one two three four five six seven eight nine ten eleven twelve"
    val repetitive = "x y z x y z x y z x y z"  // quality passes, gram-dup 0.7
    val lowQuality = "the the the the the the the the the the the the"
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "source", "text")
    val q = StreamingOps.curationIntakeStream(docs)
      .writeStream.outputMode("append").format("memory").queryName("intake").start()
    in.addData((1L, "s0", good))
    q.processAllAvailable()
    assert(spark.table("intake").select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L), "first batch: the good doc is accepted")
    // batch 2: an exact content dup of doc 1 (different id), a new good
    // doc, a repetitive doc, a low-quality doc
    in.addData((2L, "s0", good), (3L, "s1", goodB),
      (4L, "s1", repetitive), (5L, "s1", lowQuality))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("intake").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.keySet == Set(1L, 3L),
      s"cross-batch dedup + gate: expected docs 1 and 3, got ${out.keySet}")
    // the fingerprint state is content-keyed: doc 2 shares doc 1's fp
    assert(out.size == 2 && out.values.toSet.size == 2)
  }

  test("curation intake: streaming and batch agree on the kept fingerprint set") {
    // the operator is DataFrame→DataFrame, so the SAME code runs in batch;
    // whichever doc survives a content group is arrival/partition-order
    // dependent, but the kept FP SET and per-fp count are deterministic
    implicit val sqlCtx = spark.sqlContext
    val schema = spark.read
      .option("pathGlobFilter", "documents.parquet").parquet(sf0001).schema
    val streamed = {
      val raw = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(sf0001)
      val q = StreamingOps.curationIntakeStream(raw)
        .writeStream.outputMode("append").format("memory").queryName("intakef").start()
      q.processAllAvailable(); q.stop()
      spark.table("intakef").select("fp").collect().map(_.getLong(0)).toSeq
    }
    val batch = StreamingOps
      .curationIntakeStream(Tables.documents(spark, sf0001))
      .select("fp").collect().map(_.getLong(0)).toSeq
    assert(streamed.toSet == batch.toSet,
      s"fp sets must agree; diff=${(streamed.toSet diff batch.toSet) ++ (batch.toSet diff streamed.toSet)}")
    assert(streamed.size == streamed.toSet.size, "stream emits one doc per fp")
    assert(batch.size == batch.toSet.size, "batch keeps one doc per fp")
    assert(batch.nonEmpty, "the gate must accept a nonempty corpus subset")
  }

  test("online ANN intake: streamed probes of the persisted IVF index equal the batch probe; exact match returns itself") {
    import spark.implicits._
    import graft.operators.SimilarityOps
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_annidx_").toString
    SimilarityOps.buildAnnIndex(spark, sf0001, s"$tmp/index")
    def corpusVec(id: Long): Seq[Float] = Tables.embeddings(spark, sf0001)
      .where(col("vec_id") === id).select("embedding")
      .collect()(0).getSeq[Float](0)
    val (v3, v7, v11) = (corpusVec(3), corpusVec(7), corpusVec(11))
    val in = MemoryStream[QVec]
    val q = StreamingOps.annIntakeStream(in.toDF(), s"$tmp/index",
      s"$tmp/out", s"$tmp/ckpt")
    in.addData(QVec(1001L, v3))                       // batch 1
    q.processAllAvailable()
    in.addData(QVec(1002L, v7), QVec(1003L, v11))     // batch 2
    q.processAllAvailable()
    q.stop()
    // epoch=<batchId> is the sink's idempotence partition (a replayed
    // micro-batch rewrites its own partition) — not probe output
    val got = spark.read.parquet(s"$tmp/out").drop("epoch")
    // a probe WITH a corpus vector must get that vector back at cos ≈ 1
    // (this is what an online intake dedup thresholds on)
    val top1 = got.where(col("query_id") === 1001L && col("rank") === 1L)
      .select("neighbor_id", "cos_sim").collect()(0)
    assert(top1.getLong(0) == 3L, s"exact match must be top-1, got $top1")
    assert(top1.getDouble(1) > 0.999999)
    // stream and batch share annIndexProbe — results must be identical
    val batchQ = Seq((1001L, v3), (1002L, v7), (1003L, v11)).toDF("query_id", "qe")
    val batch = SimilarityOps.annIndexProbe(spark, s"$tmp/index", batchQ)
    assert(rowsOf(got.orderBy("query_id", "rank")) ==
      rowsOf(batch.orderBy("query_id", "rank")),
      "per-micro-batch probe must equal the batch probe")
    assert(got.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5L), "top-5 per query")
  }

  test("online near-dup intake: streamed micro-batches probing the persisted band index equal the one-shot batch probe") {
    import graft.operators.DedupOps
    // persisted corpus index (same build as SnapIndexSpec, fresh tables)
    spark.sql("DROP TABLE IF EXISTS intake_band_idx")
    spark.sql("DROP TABLE IF EXISTS intake_sig")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("intake_band_idx", "intake_sig").foreach { t =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      val loc = new java.io.File(wh, t)
      if (loc.exists()) rm(loc)
    }
    DedupOps.buildSnapNearDupIndex(spark, sf0001, "intake_band_idx", "intake_sig")
    spark.catalog.clearCache()
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndintake_").toString
    // play the batch slice (doc_id%10 >= 8) as a 3-micro-batch stream:
    // one single-file slice per doc_id % 3, so maxFilesPerTrigger=1
    // delivers three batches
    val batchDocs = Tables.documents(spark, sf0001)
      .where(pmod(col("doc_id"), lit(10)) >= 8)
    (0 until 3).foreach { r =>
      batchDocs.where(col("doc_id") % 3 === r).coalesce(1)
        .write.parquet(s"$tmp/in/part_$r.parquet")
    }
    val stream = spark.readStream
      .schema(batchDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/in/*")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q = StreamingOps.nearDupIntakeStream(stream,
      "intake_band_idx", "intake_sig", s"$tmp/out", s"$tmp/ckpt")
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 3, s"expected at least 3 micro-batches, got $batches")
    // the sink releases each batch's cached signatures once its write is
    // done: a stream runs for days, so neither an RDD nor a cache entry
    // may outlive the batch that made it
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"RDDs still persisted after the stream: $leaked")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, "cache entries left after the stream")
    val streamed = spark.read.parquet(s"$tmp/out").drop("epoch")
      .collect().map(_.toSeq).toSet
    val oneShot = DedupOps.snapshotNearDupProbe(
        spark, sf0001, "intake_band_idx", "intake_sig")
      .collect().map(_.toSeq).toSet
    assert(oneShot.nonEmpty, "fixture corpus must produce near-dup probes")
    assert(streamed == oneShot,
      "micro-batch partitioning must not change any doc's best partner")
  }

  test("streaming decode intake: the ledger accumulates across epochs and epoch 1 equals the one-shot snapshot decode") {
    import graft.operators.MultimodalOps
    val tmp = java.nio.file.Files.createTempDirectory("graft_decintake_").toString
    val docs = Tables.documents(spark, sf0001)
    // play the corpus as two micro-batches matching the batch operator's
    // ledger/batch split: epoch 0 = the q_snap_decode ledger slice
    // (id%10 < 8), epoch 1 = its batch slice — so epoch 1's output must
    // be EXACTLY the one-shot snapshotDecode rows (same anti-join, same
    // representatives, same decoded stats)
    // coalesce(1): ONE part file per slice, so maxFilesPerTrigger=1
    // maps slices to epochs 1:1 (a multi-part write would split a slice
    // across epochs and break the epoch↔slice identity asserted below)
    docs.where(pmod(col("doc_id"), lit(10)) < 8).coalesce(1)
      .write.parquet(s"$tmp/in/part_a.parquet")
    docs.where(pmod(col("doc_id"), lit(10)) >= 8).coalesce(1)
      .write.parquet(s"$tmp/in/part_b.parquet")
    // deterministic arrival order: the file source orders by the PART
    // FILES' mtimes (directory mtimes are irrelevant) — back-date every
    // file under part_a so the ledger slice provably lands first
    def backdate(dir: String, t: Long): Unit = {
      val d = new java.io.File(dir)
      d.listFiles().foreach(f => f.setLastModified(t))
      d.setLastModified(t); ()
    }
    backdate(s"$tmp/in/part_a.parquet", 1000000L)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/*")
    val q = graft.streaming.StreamingOps.decodeIntakeStream(
      MultimodalOps.assetsFrom(stream), s"$tmp/out", s"$tmp/ckpt")
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$tmp/out")
    // never decode the same bytes twice: each digest in exactly one epoch
    assert(out.groupBy("payload_fp").count().where(col("count") > 1)
      .count() == 0, "a digest decoded in more than one epoch")
    val epoch1 = out.where(col("epoch") === 1).drop("epoch")
      .collect().map(_.toSeq).toSet
    val oneShot = MultimodalOps.snapshotDecode(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(oneShot.nonEmpty, "fixture corpus must produce new digests")
    assert(epoch1 == oneShot,
      "the streamed epoch must equal the one-shot incremental decode")
    // and epoch 0 decoded the ledger slice's distinct digests
    val nLedger = MultimodalOps.assets(spark, sf0001)
      .where(pmod(col("asset_id"), lit(10)) < 8)
      .select(md5(hex(col("payload")))).distinct().count()
    assert(out.where(col("epoch") === 0).count() == nLedger)
  }

  test("decode intake copy counts: a digest's first epoch counts its arrivals, later copies are cache hits") {
    import graft.operators.MultimodalOps
    // the documented cross-epoch semantics: docs 29/59 (same text →
    // byte-identical video payloads) arrive in epoch 0 → ONE row with
    // n_batch_copies = 2; doc 89 (a third copy) arrives in epoch 1 →
    // cache hit, NO new row and no count increment; doc 119 (new text)
    // arrives in epoch 1 → its own row with count 1
    val tmp = java.nio.file.Files.createTempDirectory("graft_decstraddle_").toString
    val e0 = documentsFixture(Seq(
      (29L, "straddle clip", "en", "s"), (59L, "straddle clip", "en", "s")))
    val e1 = documentsFixture(Seq(
      (89L, "straddle clip", "en", "s"), (119L, "fresh clip", "en", "s")))
    spark.read.parquet(s"$e0/documents.parquet").coalesce(1)
      .write.parquet(s"$tmp/in/part_a.parquet")
    spark.read.parquet(s"$e1/documents.parquet").coalesce(1)
      .write.parquet(s"$tmp/in/part_b.parquet")
    val d = new java.io.File(s"$tmp/in/part_a.parquet")
    d.listFiles().foreach(f => f.setLastModified(1000000L))
    val schema = Tables.documents(spark, sf0001).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/*")
    val q = graft.streaming.StreamingOps.decodeIntakeStream(
      MultimodalOps.assetsFrom(stream), s"$tmp/out", s"$tmp/ckpt")
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getAs[Long]("asset_id") ->
        // epoch is a PARTITION column: the directory-name inference
        // types it INT, so read it numerically, not as Long
        ((r.getAs[Number]("epoch").longValue, r.getAs[Long]("n_batch_copies"))))
      .toMap
    assert(out.keySet == Set(29L, 119L), s"cache-hit leak or loss: $out")
    assert(out(29L) == ((0L, 2L)), "first epoch counts ITS arrivals")
    assert(out(119L) == ((1L, 1L)), "a genuinely new digest still decodes")
  }
}
