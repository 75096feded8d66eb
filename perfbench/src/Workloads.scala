package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, count, format_string, lit, sum, xxhash64}
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry

import Main._

/** gmall_sf01: the reference's warehouse and publisher queries in a closed
  * loop with one client. Each query is built through the registry and run
  * through the noop sink. Pass k runs the list in the k-th of a fixed
  * series of shuffled orders, the same in every run: the session's
  * generated-code cache holds fewer classes than the list compiles, so
  * what a pass recompiles depends on the order (see README.md). The seed
  * picks the queries whose output is checked. */
final class Warehouse(a: Args, tracer: Tracer, r: Result) {
  private val fns = Warehouse.Queries.map(n =>
    n -> SparkEntry.queries.getOrElse(n, SparkEntry.benchExtras(n)))

  /** Seconds the query took, or None if it failed. */
  private def runQuery(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, parent: Long): Option[Double] = {
    val op = tracer.newId()
    val t0 = System.nanoTime()
    try {
      tracer.span(s"query:$name", parent, op) { q =>
        val df = tracer.span("operators.construct", q, op) { c =>
          val df = fn(spark, a.data)
          // the DataFrame was analysed while it was built; its tracker
          // holds that phase
          if (tracer.enabled) df.queryExecution.tracker.phases.get("analysis")
            .foreach(p => tracer.record("planner.analysis", c, op,
              p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
          df
        }
        tracer.span("exec.execute", q, op)(_ =>
          df.write.format("noop").mode("overwrite").save())
      }
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        None
    } finally spark.catalog.clearCache()
  }

  def run(): Unit = {
    val tables = Option(new File(a.data).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).sorted
    require(tables.nonEmpty, s"no tables under ${a.data}")
    val (spark, _, builds) = setups(r) { s =>
      tables.foreach(t => s.read.parquet(s"${a.data}/$t").count())
    }(_ => ())
    val nproc = Runtime.getRuntime.availableProcessors()

    // one untimed pass first: every plan's code is generated and compiled,
    // which a long-running client pays once
    val w0 = System.nanoTime()
    fns.foreach { case (n, f) =>
      val t = runQuery(spark, n, f, 0L)
      r.op(s"query $n", t.isDefined)
      t.foreach(x => r.phases(s"$n.warm") = x)
    }
    val warmup = (System.nanoTime() - w0) / 1e9
    r.phases("warmup") = warmup

    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    probe.foreach(_.install())
    val codegen0 = CodeGenerator.compileTime
    val rng = new Random(a.seed)
    val times = ArrayBuffer.empty[Double]
    var passes = 0
    val from = tracer.now()
    tracer.span("run", 0L, tracer.newId()) { root =>
      // whole passes only, so every run times the same mix of queries; the
      // last pass starts only if it should end nearer the target than not
      var last = 0L
      while (passes == 0 || tracer.now() - from + last / 2 < a.seconds * 1000000000L) {
        val p0 = tracer.now()
        tracer.span("pass", root, tracer.newId()) { p =>
          new Random(passes).shuffle(fns).foreach { case (n, f) =>
            val t = runQuery(spark, n, f, p)
            r.op(s"query $n", t.isDefined)
            times ++= t
            t.foreach(x => r.phases(s"$n.pass$passes") = x)
          }
        }
        last = tracer.now() - p0
        passes += 1
      }
    }
    val until = tracer.now()
    r.phases("window") = (until - from) / 1e9
    val codegen = CodeGenerator.compileTime - codegen0
    // the mean is the passes' query time ÷ queries run, so every query of
    // the list weighs in
    latencies(r, times.toSeq.map(_ * 1000))
    r.samples("passes") = passes

    probe.foreach { p =>
      layers(r, p, tracer, from / 1000000L, until / 1000000L, passes, codegen, nproc)
      p.remove()
      val spans = tracer.all
      r.put("session.build_s", median(builds), "s")
      r.put("session.warmup_s", warmup, "s")
      r.put("operators.construct_s", spans.filter(s => s.name == "operators.construct" &&
        s.start >= from).map(s => (s.end - s.start) / 1e9).sum / passes, "s")
      selfTimes(r, spans, spans.filter(_.name == "pass"), passes)
    }

    // output checks, outside the timed window, on a seeded third of the
    // queries: each run checks a different third
    val c0 = System.nanoTime()
    val expected = Warehouse.expected(a.expected, a.workload)
    rng.shuffle(fns).take((fns.size + 2) / 3).foreach { case (n, f) =>
      val got = try Some(Warehouse.digest(f(spark, a.data)))
        catch { case e: Exception => System.err.println(s"[perfbench] check $n: $e"); None }
      spark.catalog.clearCache()
      val want = expected.get(n)
      r.check(s"digest $n", got.isDefined && got == want, s"got $got want $want")
    }
    r.phases("checks") = (System.nanoTime() - c0) / 1e9
    spark.stop()
  }
}

object Warehouse {
  /** The reference's DAU, order-warehouse and publisher queries whose warm
    * pass fits the run: construction, planning and job scheduling dominate
    * each of them at sf0.1. */
  val Queries: Seq[String] = Seq(
    "q_dau_total", "q_dau_hourly", "q_first_seen", "q_order_enrich",
    "q_top_per_brand", "q_search_filter", "q_pagination", "q_latest_event",
    "q_funnel", "q_serve_total", "q_serve_hourly", "q_serve_detail")

  /** Row count and an order-insensitive digest: the sum of every row's
    * xxhash64 over its columns taken in name order. Doubles enter as ten
    * significant digits so the last bit of a parallel sum does not count. */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns
    val d = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cols = names.indices.sortBy(i => names(i)).map { i =>
      d.schema(i).dataType match {
        case DoubleType | FloatType => format_string("%.9e", d.col(s"c$i"))
        case _ => d.col(s"c$i")
      }
    }
    val row = d.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")).cast("string")).head()
    (row.getLong(0), Option(row.getString(1)).getOrElse("0"))
  }

  /** Pinned (rows, digest) per query of one workload, from the
    * tab-separated lines `workload query rows digest` of `path`. */
  def expected(path: String, workload: String): Map[String, (Long, String)] =
    if (path.isEmpty) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq.map(_.split("\t"))
      .collect { case Array(`workload`, q, rows, d) => q -> (rows.toLong, d) }.toMap

  /** Writes each query's result (for the DuckDB comparison in pin.py) and
    * returns its digest, computed twice to show it is stable. */
  def pin(a: Args): String = {
    val spark = build()
    val out = Queries.map { n =>
      val f = SparkEntry.queries.getOrElse(n, SparkEntry.benchExtras(n))
      val (rows, d1) = digest(f(spark, a.data))
      val (_, d2) = digest(f(spark, a.data))
      f(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"${a.pin}/$n")
      spark.catalog.clearCache()
      s"""${str(n)}:{"rows":$rows,"digest":${str(d1)},"stable":${d1 == d2}}"""
    }
    val sql = Queries.flatMap(n => SparkEntry.oracleSql.get(n).map(q => s"${str(n)}:${str(q)}"))
    Files.write(Paths.get(s"${a.pin}/oracle_sql.json"),
      sql.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    spark.stop()
    out.mkString("{", ",", "}")
  }
}

/** live_dau: ingest → first-seen stream → serve, under open-loop load. */
final class LiveRun(a: Args, tracer: Tracer, r: Result) {
  import Live._

  def run(): Unit = {
    midnightWait(a.seconds + 60L) match {
      case Some(Left(why)) => throw new IllegalStateException(s"refusing to start: $why")
      case Some(Right(s)) =>
        System.err.println(s"[perfbench] waiting ${s}s for UTC midnight to pass")
        Thread.sleep(s * 1000L)
      case None => ()
    }
    var n = 0
    val warm = ArrayBuffer.empty[Double]
    val (spark, live, builds) = setups(r) { s =>
      n += 1
      val l = new Live(s, s"${a.work}/live$n", a.seed, tracer)
      val t0 = System.nanoTime()
      l.start()
      warm += (System.nanoTime() - t0) / 1e9
      l
    }(_.stop())
    val nproc = Runtime.getRuntime.availableProcessors()
    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    probe.foreach(_.install())
    val codegen0 = CodeGenerator.compileTime
    val rootOp = tracer.newId()
    val w = tracer.span("run", 0L, rootOp)(root => live.measure(a.seconds, root))
    val codegen = CodeGenerator.compileTime - codegen0
    live.drain()
    val secs = (w.end - w.start) / 1e9
    r.phases("window") = secs
    val runSpan = tracer.all.find(_.op == rootOp)

    w.posts.foreach(p => r.op(s"post ${p.id}", p.status == 200, s"status ${p.status}"))
    w.gets.foreach(g => r.op(s"get ${g.req.path}", g.status == 200, s"status ${g.status}"))

    // the stream's own report of each micro-batch in the window
    val progress = live.query.recentProgress.toSeq
    val batches = progress.filter { p =>
      val t = Instant.parse(p.timestamp).toEpochMilli * 1000000L
      t >= w.start && t <= w.end && p.numInputRows > 0
    }
    batches.foreach(b => r.op(s"batch ${b.batchId}", true))
    r.op("stream alive", live.query.exception.isEmpty,
      live.query.exception.map(_.toString).getOrElse(""))

    // output checks, after the stream drained the tail
    val (lines, bytes, epochs) = live.landedLines()
    val acked = w.posts.count(_.status == 200)
    r.check("acked POSTs = landed lines", acked == lines, s"acked $acked landed $lines")
    val landed = spark.read.parquet(s"${live.tableDir}/events.parquet")
      .select(col("event_id"), col("user_id"), col("dt"),
        col("_metadata.file_modification_time").as("written"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2),
        x.getTimestamp(3).getTime))
    // end to end: an on-time event's creation stamp → the write of the
    // file that landed its first-seen row
    val created = w.posts.filter(_.offsetMs == 0).map(x => x.id -> x.createdMs).toMap
    val fresh = landed.flatMap(x => created.get(x._1).map(c => (x._4 - c).toDouble)).toSeq
    latencies(r, fresh)
    val pairs = landed.map(x => (x._3, x._2))
    r.check("landed (dt, user_id) unique", pairs.distinct.length == pairs.length,
      s"${pairs.length - pairs.distinct.length} duplicates")
    val today = live.today.toString
    val landedToday = landed.filter(_._3 == today).map(_._2).toSet
    val servedToday = live.servedDau(live.today)
    r.check("served DAU today = landed distinct users", servedToday.contains(landedToday.size.toLong),
      s"served $servedToday landed ${landedToday.size}")
    r.check("served DAU yesterday = backfill distinct users",
      live.servedDau(live.yesterday).contains(live.backfillUsers.size.toLong))
    val starts = w.posts.filter(p => p.start && p.status == 200)
    val genUsers = starts.map(_.mid).toSet
    val lateUsers = starts.filter(_.late).map(_.mid).toSet
    r.check("landed users were generated", landedToday.subsetOf(genUsers))
    r.check("missing users are late-stamped users",
      genUsers.size - landedToday.size <= lateUsers.size,
      s"generated ${genUsers.size} landed ${landedToday.size} late ${lateUsers.size}")

    if (a.trace) probe.foreach { p =>
      val root = runSpan.map(_.id).getOrElse(0L)
      batchSpans(batches, root)
      layers(r, p, tracer, w.start / 1000000L, w.end / 1000000L, secs, codegen, nproc)
      p.remove()
      val spans = tracer.all
      r.put("session.build_s", median(builds), "s")
      r.put("session.warmup_s", median(warm.toSeq), "s")

      val late = w.posts.map(x => (x.sent - x.due) / 1e6)
      val ack = w.posts.map(x => (x.done - x.due) / 1e6)
      r.put("ingest.acked", acked / secs, "count")
      r.put("ingest.rejected", (w.posts.size - acked) / secs, "count")
      r.put("ingest.bytes_per_record", if (lines == 0) 0.0 else bytes.toDouble / lines, "B")
      r.put("ingest.epochs", epochs / secs, "count")
      r.put("ingest.gen_late_p99_ms", pct(late, 0.99), "ms")
      r.put("ingest.ack_p50_ms", median(ack), "ms")
      r.put("ingest.ack_p90_ms", pct(ack, 0.9), "ms")

      def dur(k: String) = batches.flatMap(b => Option(b.durationMs.get(k)).map(_.toDouble))
      r.put("streaming.batches", batches.size / secs, "count")
      r.put("streaming.rows_per_s", batches.map(_.numInputRows).sum / secs, "1/s")
      r.put("streaming.trigger_p50_ms", median(dur("triggerExecution")), "ms")
      r.put("streaming.add_batch_p50_ms", median(dur("addBatch")), "ms")
      r.put("streaming.plan_p50_ms", median(dur("queryPlanning")), "ms")
      r.put("streaming.offset_p50_ms", median(dur("latestOffset")), "ms")
      r.put("streaming.commit_p50_ms", median(batches.map(b =>
        Seq("walCommit", "commitOffsets").flatMap(k => Option(b.durationMs.get(k))).map(_.toDouble).sum)), "ms")
      val ops = batches.flatMap(_.stateOperators.headOption)
      r.put("streaming.late_dropped", ops.map(_.numRowsDroppedByWatermark).sum / secs, "count")
      r.put("streaming.state_rows", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
      r.put("streaming.state_mb", ops.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB")
      r.put("streaming.backlog_files_max", backlogMax(live, progress, batches), "count")

      val reqs = spans.filter(_.name.startsWith("serving.request"))
      val withJobs = spans.filter(_.name == "exec.job").map(_.parent).toSet
      r.put("serving.requests", reqs.size / secs, "count")
      r.put("serving.memo_hit_ratio",
        if (reqs.isEmpty) 0.0 else reqs.count(s => !withJobs(s.id)).toDouble / reqs.size, "ratio")
      r.put("serving.open_day_p50_ms", median(w.gets.filter(!_.req.closed).map(g => (g.done - g.due) / 1e6)), "ms")
      r.put("serving.closed_day_p50_ms", median(w.gets.filter(_.req.closed).map(g => (g.done - g.due) / 1e6)), "ms")
      val dash = w.gets.map(g => (g.done - g.due) / 1e6)
      r.put("serving.dash_p50_ms", median(dash), "ms")
      r.put("serving.dash_p90_ms", pct(dash, 0.9), "ms")
      selfTimes(r, spans, spans.filter(s => s.name == "ingest.post" ||
        s.name.startsWith("serving.request") || s.name == "streaming.batch"), secs)
    }
    live.stop()
    spark.stop()
  }

  /** One span per micro-batch and one child per phase it reports, laid
    * out in the order MicroBatchExecution runs them. */
  private def batchSpans(batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      root: Long): Unit = batches.foreach { b =>
    val start = Instant.parse(b.timestamp).toEpochMilli * 1000000L
    val total = Option(b.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val op = tracer.newId()
    val id = tracer.record("streaming.batch", root, op, start, start + total * 1000000L)
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        Option(b.durationMs.get(k)).map(_.longValue).foreach { ms =>
          tracer.record(s"streaming.$k", id, op, t, t + ms * 1000000L)
          t += ms * 1000000L
        }
      }
  }

  /** Most published files any batch found waiting when it started: files
    * published by then minus files the earlier batches consumed (a batch
    * takes whole files, so consumed files follow from its input rows). */
  private def backlogMax(live: Live,
      all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Double = {
    val sizes = live.publishedLineCounts()
    val cum = sizes.scanLeft(0L)(_ + _).tail
    batches.map { b =>
      val t = Instant.parse(b.timestamp).toEpochMilli
      val before = all.filter(p => p.batchId < b.batchId).map(_.numInputRows).sum
      val consumed = cum.count(_ <= before)
      math.max(0, live.publishedAt(t) - consumed)
    }.foldLeft(0)(math.max).toDouble
  }
}
