package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One run of one workload: set up, measure for `--seconds`, check the
  * outputs, write the metrics as JSON to `--out`.
  *
  * `--trace 0` measures the end-to-end metrics with no listener installed;
  * `--trace 1` installs the listeners, records spans and reports the
  * per-layer metrics instead. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: String, out: String,
      expected: String, spans: String, pin: String)

  /** What a run reports: metric -> (value, unit), sample counts, and the
    * operations and output checks it attempted. `correct` means every
    * output check held; a failed operation (query, POST, GET, batch) counts
    * in `failed` only. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val samples = mutable.LinkedHashMap.empty[String, Int]
    var attempted = 0L
    var failed = 0L
    var wrong = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** Wall seconds of each part of the run, for sizing it. */
    val phases = mutable.LinkedHashMap.empty[String, Double]
    /** The end-to-end metrics as a traced run measured them. */
    val traced = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)
    def op(what: String, ok: Boolean, detail: => String = ""): Unit = {
      attempted += 1
      if (!ok) {
        failed += 1
        if (failures.size < 50) failures += s"$what $detail".trim
      }
    }
    def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
      op(what, ok, detail)
      if (!ok) wrong += 1
    }
  }

  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"), kv("out"),
      kv.getOrElse("expected", ""), kv.getOrElse("spans", ""), kv.getOrElse("pin", ""))
    val code =
      try {
        val json = if (a.pin.nonEmpty) Warehouse.pin(a) else toJson(run(a))
        Files.write(Paths.get(a.out), json.getBytes(StandardCharsets.UTF_8))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  def build(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    GraftSession.build(s"local[$n]", "perfbench", shufflePartitions = n)
  }

  def run(a: Args): Result = {
    val tracer = new Tracer(a.trace)
    val r = new Result
    a.workload match {
      case "gmall_sf01" => new Warehouse(a, tracer, r).run()
      case "live_dau" => new LiveRun(a, tracer, r).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.put("peak_rss_mb", peakRssMb(), "MB")
    r.samples("peak_rss_mb") = 1
    if (a.spans.nonEmpty) writeSpans(a.spans, tracer.all)
    finish(r, a.trace)
    r
  }

  /** Median of `n` set-ups, each a session build plus `prepare`; all but
    * the last are torn down again. Returns the live session and state. */
  def setups[T](r: Result)(prepare: SparkSession => T)(
      teardown: T => Unit): (SparkSession, T, Seq[Double]) = {
    val builds, totals = mutable.ArrayBuffer.empty[Double]
    var last: (SparkSession, T) = null
    for (i <- 1 to Setups) {
      val t0 = System.nanoTime()
      val spark = build()
      val t1 = System.nanoTime()
      val state = prepare(spark)
      val t2 = System.nanoTime()
      builds += (t1 - t0) / 1e9
      totals += (t2 - t0) / 1e9
      r.phases(s"setup$i.build") = (t1 - t0) / 1e9
      r.phases(s"setup$i.prepare") = (t2 - t1) / 1e9
      if (i < Setups) { teardown(state); spark.stop() } else last = (spark, state)
      r.phases(s"setup$i.teardown") = (System.nanoTime() - t2) / 1e9
    }
    r.phases("setups") = totals.sum
    r.put("setup_s", median(totals.toSeq), "s")
    r.samples("setup_s") = totals.size
    (last._1, last._2, builds.toSeq)
  }

  // ---------------------------------------------------------------- stats

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** `latency_ms` is the mean of the samples (ms); the per-layer
    * `run.latency_p50_ms` and `run.latency_p90_ms` are their percentiles. */
  def latencies(r: Result, ms: Seq[Double]): Unit = {
    r.put("latency_ms", if (ms.isEmpty) 0.0 else ms.sum / ms.size, "ms")
    r.put("run.latency_p50_ms", median(ms), "ms")
    r.put("run.latency_p90_ms", pct(ms, 0.9), "ms")
    Seq("latency_ms", "run.latency_p50_ms", "run.latency_p90_ms")
      .foreach(r.samples(_) = ms.size)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---------------------------------------------------------------- layers

  val PerLayer: Seq[(String, String)] = Seq(
    "session.build_s" -> "s", "session.warmup_s" -> "s",
    "operators.construct_s" -> "s", "operators.eager_jobs" -> "count",
    "planner.analysis_s" -> "s", "planner.optimize_s" -> "s",
    "planner.physical_s" -> "s", "planner.codegen_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.sched_wait_s" -> "s", "exec.deser_s" -> "s", "exec.task_run_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.fetch_wait_s" -> "s",
    "exec.spill_mb" -> "MB", "exec.slot_busy" -> "ratio",
    "sources.scan_rows" -> "count", "sources.scan_mb" -> "MB",
    "sources.files" -> "count",
    "ingest.acked" -> "count", "ingest.rejected" -> "count",
    "ingest.bytes_per_record" -> "B", "ingest.epochs" -> "count",
    "ingest.gen_late_p99_ms" -> "ms", "ingest.ack_p50_ms" -> "ms",
    "ingest.ack_p90_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.rows_per_s" -> "1/s",
    "streaming.trigger_p50_ms" -> "ms", "streaming.add_batch_p50_ms" -> "ms",
    "streaming.plan_p50_ms" -> "ms", "streaming.offset_p50_ms" -> "ms",
    "streaming.commit_p50_ms" -> "ms", "streaming.late_dropped" -> "count",
    "streaming.backlog_files_max" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB",
    "serving.requests" -> "count", "serving.jobs_per_request" -> "count",
    "serving.memo_hit_ratio" -> "ratio", "serving.open_day_p50_ms" -> "ms",
    "serving.closed_day_p50_ms" -> "ms", "serving.dash_p50_ms" -> "ms",
    "serving.dash_p90_ms" -> "ms", "serving.scan_rows_per_request" -> "count",
    "self.operators_s" -> "s", "self.planner_s" -> "s", "self.exec_run_s" -> "s",
    "self.exec_wait_s" -> "s", "self.streaming_s" -> "s", "self.serving_s" -> "s",
    "self.ingest_s" -> "s", "self.harness_s" -> "s",
    "run.latency_p50_ms" -> "ms", "run.latency_p90_ms" -> "ms",
    "run.error_rate" -> "ratio")

  /** Listener-derived layer metrics over the window [from, until] (epoch
    * ms), divided by `per` (passes, or window seconds). Jobs and planner
    * phases are turned into spans under the innermost harness span that
    * contains their start. */
  def layers(r: Result, probe: SparkProbe, tracer: Tracer, from: Long,
      until: Long, per: Double, codegenNs: Long, nproc: Int): Unit = {
    probe.drain()
    val inWin = (t: Long) => t >= from && t <= until
    val jobs = probe.jobs.values().asScala.toSeq.filter(j => inWin(j.start))
    val stages = probe.stages.asScala.toSeq.filter(s => inWin(s.submitted))
    def put(k: String, v: Double): Unit = r.put(k, v / per, unitOf(k))
    put("exec.jobs", jobs.size)
    put("exec.stages", stages.size)
    val tasks = probe.tasks.asScala.toSeq.filter(t => inWin(t.launch))
    def sum(f: TaskRec => Long) = tasks.map(f).sum.toDouble
    put("exec.tasks", tasks.size)
    put("exec.sched_wait_s", sum(_.schedWaitMs) / 1e3)
    put("exec.deser_s", sum(_.deserMs) / 1e3)
    put("exec.task_run_s", sum(_.runMs) / 1e3)
    put("exec.task_cpu_s", sum(_.cpuNs) / 1e9)
    put("exec.gc_s", sum(_.gcMs) / 1e3)
    put("exec.shuffle_write_mb", sum(_.shuffleW) / 1048576.0)
    put("exec.shuffle_read_mb", sum(_.shuffleR) / 1048576.0)
    put("exec.fetch_wait_s", sum(_.fetchWaitMs) / 1e3)
    put("exec.spill_mb", sum(_.spill) / 1048576.0)
    r.put("exec.slot_busy", sum(t => t.finish - t.launch) / ((until - from).toDouble * nproc), "ratio")
    put("planner.codegen_s", codegenNs / 1e9)
    val scans = probe.scans.asScala.toSeq.filter(s => inWin(s.startMs))
    put("sources.scan_rows", scans.map(_.rows).sum.toDouble)
    put("sources.scan_mb", scans.map(_.bytes).sum / 1048576.0)
    put("sources.files", scans.map(_.files).sum.toDouble)
    val plans = probe.plans.asScala.toSeq.filter(p => p.phases.values.exists(x => inWin(x._1)))

    // derived spans: planner phases and jobs (with their stages) under the
    // innermost harness span that contains their start
    val spans = tracer.all
    val hosts = spans.filter(s => s.name == "operators.construct" ||
      s.name == "exec.execute" || s.name.startsWith("serving.request") ||
      s.name.startsWith("streaming."))
    def host(ms: Long, streaming: Boolean): Option[Span] = {
      val ns = ms * 1000000L
      hosts.filter(h => h.name.startsWith("streaming.") == streaming &&
        h.start <= ns && ns <= h.end).sortBy(h => h.end - h.start).headOption
    }
    for (p <- plans; (k, (s, e)) <- p.phases if k != "parsing"; h <- host(s, p.streaming)) {
      val name = k match {
        case "optimization" => "planner.optimize"
        case "planning" => "planner.physical"
        case other => s"planner.$other"
      }
      tracer.record(name, h.id, h.op, s * 1000000L, math.max(s, e) * 1000000L)
    }
    val stageById = stages.groupBy(_.id)
    for (j <- jobs; h <- host(j.start, j.streaming)) {
      val end = if (j.end < 0) until else j.end
      val jid = tracer.record("exec.job", h.id, h.op, j.start * 1000000L, end * 1000000L)
      for (sid <- j.stages; s <- stageById.getOrElse(sid, Nil))
        tracer.record("exec.stage", jid, h.op, s.submitted * 1000000L,
          math.max(s.submitted, s.completed) * 1000000L)
    }
    val derived = tracer.all.filter(s => s.start >= from * 1000000L && s.start <= until * 1000000L)
    def phase(k: String) = derived.filter(_.name == k).map(s => (s.end - s.start) / 1e9).sum
    put("planner.analysis_s", phase("planner.analysis"))
    put("planner.optimize_s", phase("planner.optimize"))
    put("planner.physical_s", phase("planner.physical"))
    val eager = jobs.count(j => host(j.start, j.streaming).exists(_.name == "operators.construct"))
    put("operators.eager_jobs", eager)
    val serving = jobs.filterNot(_.streaming)
    val reqs = hosts.count(_.name.startsWith("serving.request"))
    if (reqs > 0) {
      r.put("serving.jobs_per_request", serving.size.toDouble / reqs, "count")
      r.put("serving.scan_rows_per_request", scans.map(_.rows).sum.toDouble / reqs, "count")
    }
  }

  /** Self time per layer over the given roots, divided by `per`. */
  def selfTimes(r: Result, spans: Seq[Span], roots: Seq[Span], per: Double): Unit = {
    val split = SelfTime.split(spans, roots)
    SelfTime.Layers.foreach(l => r.put(s"self.${l}_s", split.getOrElse(l, 0.0) / per, "s"))
  }

  def unitOf(k: String): String = PerLayer.find(_._1 == k).map(_._2).getOrElse("count")

  /** Keeps only the metrics this mode reports, filling layers a workload
    * does not have with 0. */
  def finish(r: Result, trace: Boolean): Unit = {
    r.put("run.error_rate", if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted, "ratio")
    val pick = (keep: Seq[(String, String)]) =>
      keep.map { case (k, u) => k -> r.metrics.getOrElse(k, (0.0, u)) }
    if (trace) r.traced ++= pick(EndToEnd)
    val out = pick(if (trace) PerLayer else EndToEnd)
    r.metrics.clear()
    r.metrics ++= out
  }

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "latency_ms" -> "ms", "peak_rss_mb" -> "MB")

  // ---------------------------------------------------------------- output

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def toJson(r: Result): String = {
    def metrics(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}" }.mkString(",")
    val s = r.samples.map { case (k, n) => s"${str(k)}:$n" }
    val f = r.failures.map(str)
    s"""{"correct":${r.wrong == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{${metrics(r.metrics)}},"traced_e2e":{${metrics(r.traced)}},""" +
      s""""samples":{${s.mkString(",")}},""" +
      s""""phases_s":{${r.phases.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")}},""" +
      s""""failures":[${f.mkString(",")}]}"""
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"op":${s.op},"name":${str(s.name)},"parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}""")
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
