package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval on the epoch clock (nanoseconds). `op` groups
  * the spans of one operation (a query, a POST, a GET, a micro-batch). */
final case class Span(id: Long, op: Long, name: String, parent: Long,
    start: Long, end: Long)

/** Span recorder. Spans are kept in memory and written once, at the end of
  * the run. When tracing is off nothing is recorded, but [[now]] still
  * gives the clock the end-to-end timings are taken from. */
final class Tracer(val enabled: Boolean) {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Epoch nanoseconds from the monotonic clock. */
  def now(): Long = System.nanoTime() + base
  def newId(): Long = ids.incrementAndGet()

  def record(name: String, parent: Long, op: Long, start: Long,
      end: Long): Long = {
    val id = newId()
    if (enabled) spans.add(Span(id, op, name, parent, start, end))
    id
  }

  /** Runs `f` inside a span whose id is known before `f` starts, so that
    * children recorded by `f` can name it as their parent. */
  def span[T](name: String, parent: Long, op: Long)(f: Long => T): T = {
    val id = newId()
    val t0 = now()
    try f(id)
    finally if (enabled) spans.add(Span(id, op, name, parent, t0, now()))
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Scan metrics of one executed (non-streaming) query plan. */
final case class ScanStats(startMs: Long, rows: Long, bytes: Long, files: Long)

/** Planner phases of one query execution, as its QueryPlanningTracker saw
  * them (epoch milliseconds). */
final case class Phases(phases: Map[String, (Long, Long)], streaming: Boolean)

final case class JobRec(start: Long, var end: Long, stages: Seq[Int],
    streaming: Boolean)
final case class StageRec(id: Int, submitted: Long, completed: Long)
/** One finished task: launch and finish (epoch ms) and its metrics. */
final case class TaskRec(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
    deserMs: Long, gcMs: Long, shuffleW: Long, shuffleR: Long,
    fetchWaitMs: Long, spill: Long, schedWaitMs: Long)

/** Counts and times from Spark's listener buses, for the traced run only. */
final class SparkProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val scans = new ConcurrentLinkedQueue[ScanStats]()
  val plans = new ConcurrentLinkedQueue[Phases]()
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val streaming = Option(e.properties)
      .exists(_.getProperty("sql.streaming.queryId") != null)
    jobs.put(e.jobId, JobRec(e.time, -1L, e.stageIds, streaming))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmitted.put((i.stageId, i.attemptNumber()),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val sub = Option(stageSubmitted.get((i.stageId, i.attemptNumber())))
      .getOrElse(i.submissionTime.getOrElse(0L))
    stages.add(StageRec(i.stageId, sub,
      i.completionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    Option(e.taskMetrics).foreach { m =>
      val submitted = Option(stageSubmitted.get((e.stageId, e.stageAttemptId)))
      tasks.add(TaskRec(info.launchTime, info.finishTime, m.executorRunTime,
        m.executorCpuTime, m.executorDeserializeTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        submitted.map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val streaming = qe.getClass.getSimpleName == "IncrementalExecution"
    val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    plans.add(Phases(ph, streaming))
    if (!streaming) {
      val nodes = SparkProbe.nodes(qe.executedPlan)
      val scan = nodes.collect { case s: DataSourceScanExec => s }
      def m(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
      val start = ph.values.map(_._1).foldLeft(System.currentTimeMillis())(math.min)
      scans.add(ScanStats(start, scan.map(m(_, "numOutputRows")).sum,
        scan.map(m(_, "filesSize")).sum, scan.map(m(_, "numFiles")).sum))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, Long.box(30000L))
  }
}

object SparkProbe extends AdaptiveSparkPlanHelper {
  /** Every node of an executed plan, through AQE stages, each once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case n => n }.groupBy(_.id).map(_._2.head).toSeq
}

/** Self time by layer: along each root span's timeline, every instant goes
  * to the most specific layer active at that instant, so a root's layers
  * add up to its duration. */
object SelfTime {
  /** Layer of a span name, in order of precedence (highest first). */
  val Layers = Seq("exec_run", "planner", "exec_wait", "operators",
    "streaming", "serving", "ingest", "harness")

  def layer(name: String): String = name match {
    case "exec.stage" => "exec_run"
    case n if n.startsWith("planner.") => "planner"
    case "exec.job" | "exec.execute" => "exec_wait"
    case n if n.startsWith("operators.") => "operators"
    case n if n.startsWith("streaming.") => "streaming"
    case n if n.startsWith("serving.") => "serving"
    case n if n.startsWith("ingest.") => "ingest"
    case _ => "harness"
  }

  /** Seconds per layer over the subtrees of `roots`. */
  def split(spans: Seq[Span], roots: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val rank = Layers.zipWithIndex.toMap
    val acc = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    roots.foreach { root =>
      val tree = subtree(root).map(s => (math.max(s.start, root.start),
        math.min(s.end, root.end), rank(layer(s.name)))).filter(t => t._2 > t._1)
      val cuts = tree.flatMap(t => Seq(t._1, t._2)).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) =>
          val active = tree.filter(t => t._1 <= a && t._2 >= b)
          if (active.nonEmpty) acc(Layers(active.map(_._3).min)) += (b - a) / 1e9
        case _ => ()
      }
    }
    acc.toMap
  }
}
