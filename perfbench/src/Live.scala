package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.serving.{IngestMain, ServeMain}
import graft.streaming.StreamingOps

/** The reference's real-time loop under an open-loop schedule:
  * collector (IngestMain) → jsonl landing → first-seen stream
  * (StreamingOps.firstSeenStream, the DauApp shape) → events.parquet →
  * publisher (ServeMain) polled by a dashboard.
  *
  * Load comes from two threads of this process: one POSTs app logs at a
  * fixed rate, one GETs the dashboard endpoints at a fixed rate, each on a
  * single connection. Neither slows down when the system does; every
  * request is timed from when it was due. */
final class Live(spark: SparkSession, work: String, seed: Long, tracer: Tracer) {
  import Live._

  private val landing = s"$work/landing"
  private val input = s"$work/input"
  private val table = s"$work/table"
  val today: LocalDate = LocalDate.now(ZoneOffset.UTC)
  val yesterday: LocalDate = today.minusDays(1)

  private var ingestLanding: IngestMain.Landing = _
  private var ingest: com.sun.net.httpserver.HttpServer = _
  private var serve: com.sun.net.httpserver.HttpServer = _
  var query: StreamingQuery = _
  private val published = collection.mutable.LinkedHashSet.empty[String]
  private val publishLog = ArrayBuffer.empty[(Long, Int)] // (epoch ms, files)
  private val backfill: Seq[String] = {
    val zipf = new Zipf(Mids, ZipfS, new Random(seed ^ 0x5eedL))
    Seq.fill(BackfillLogs)(s"mid_${zipf.next()}")
  }
  val backfillUsers: Set[String] = backfill.toSet

  /** Start logs for yesterday, written straight into the landing as its
    * first (closed) epoch before the collector opens, plus the stream and
    * both daemons. Returns once the backfill has landed. */
  def start(): Unit = {
    Seq(landing, input, table).foreach(d => new File(d).mkdirs())
    val t0 = yesterday.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    val lines = backfill.zipWithIndex.map { case (mid, i) =>
      log(-1L - i, mid, start = true, t0 + i * (86000000L / BackfillLogs))
    }
    Files.write(Paths.get(landing, "epoch-000000.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    ingestLanding = new IngestMain.Landing(landing, RotateLines)
    ingest = IngestMain.start(ingestLanding, 0)
    publish(all = true)
    query = StreamingOps.firstSeenStream(
      spark.readStream.schema(LogSchema).json(input)
        .where(col("start").isNotNull)
        .select(col("log_id").as("event_id"),
          timestamp_millis(col("ts")).as("ts"),
          col("common.mid").as("user_id")))
      .writeStream.format("parquet")
      .option("path", s"$table/events.parquet")
      .option("checkpointLocation", s"$work/checkpoint")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    // the first batch lands the backfill; processAllAvailable would also
    // wait out the idle trigger after it, up to TriggerMs
    while (query.recentProgress.map(_.numInputRows).sum < BackfillLogs) {
      query.exception.foreach(e => throw e)
      Thread.sleep(10)
    }
    serve = ServeMain.start(spark, table, 0)
    // the dashboard's first load: today's panels, whose answers are never
    // memoised, so this compiles their plans without filling the memo
    dashboard(seed, today, 3 * DashRate * 20).filterNot(_.closed)
      .groupBy(_.endpoint).values.map(_.head).foreach(q => get(q.path))
  }

  def stop(): Unit = {
    Option(query).foreach(_.stop())
    Option(serve).foreach(_.stop(0))
    Option(ingest).foreach(_.stop(0))
    Option(ingestLanding).foreach(_.close())
  }

  /** Makes closed epochs visible to the stream. The collector appends to
    * its newest epoch file in place, and a file source reads a file once,
    * at whatever length it has when listed, so the stream may only see
    * epochs the collector has moved past (the committed offset of the
    * Kafka topic this landing stands in for). */
  def publish(all: Boolean): Unit = synchronized {
    val epochs = Option(new File(landing).list()).getOrElse(Array.empty[String])
      .filter(_.matches("""epoch-\d+\.jsonl""")).sorted
    val closed = if (all) epochs else epochs.dropRight(1)
    var n = 0
    closed.filterNot(published.contains).foreach { f =>
      Files.createLink(Paths.get(input, f), Paths.get(landing, f))
      published += f
      n += 1
    }
    if (n > 0) publishLog += ((System.currentTimeMillis(), published.size))
  }

  /** Lines of each published file, in publish order. */
  def publishedLineCounts(): Seq[Long] = synchronized {
    published.toSeq.map(f => Files.lines(Paths.get(landing, f)).count())
  }

  def publishedAt(ms: Long): Int = synchronized {
    publishLog.takeWhile(_._1 <= ms).lastOption.map(_._2).getOrElse(0)
  }

  private def port(s: com.sun.net.httpserver.HttpServer) = s.getAddress.getPort

  def postLog(body: String): Int = {
    val c = URI.create(s"http://127.0.0.1:${port(ingest)}/applog").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(5000)
    c.setReadTimeout(30000)
    val os = c.getOutputStream
    try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    if (in != null) try in.readAllBytes() finally in.close()
    status
  }

  def flush(): Unit = {
    val c = URI.create(s"http://127.0.0.1:${port(ingest)}/flush").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    require(c.getResponseCode == 200, "flush failed")
    c.getInputStream.readAllBytes()
    c.getInputStream.close()
  }

  def get(path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:${port(serve)}$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(5000)
    c.setReadTimeout(60000)
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (status, body)
  }

  /** The timed window: the generators and the dashboard run on their
    * schedules for `seconds`. */
  def measure(seconds: Int, root: Long): Window = {
    val rng = new Random(seed)
    val zipf = new Zipf(Mids, ZipfS, rng)
    val plan = (0 until Rate * seconds).map { i =>
      val u = rng.nextDouble()
      val offsetMs =
        if (u < LateShare) 20000L + rng.nextInt(20000)
        else if (u < LateShare + OutOfOrderShare) 1L + rng.nextInt(8000)
        else 0L
      (s"mid_${zipf.next()}", rng.nextDouble() < StartShare, offsetMs)
    }
    val reqs = dashboard(seed, today, DashRate * seconds)
    val posts = new Array[Post](plan.size)
    val gets = new Array[Get](reqs.size)
    // start 100 ms past a trigger time (the trigger clock ticks at whole
    // multiples of TriggerMs since the epoch), so that the schedule keeps
    // the same phase against the micro-batches in every run
    val now = tracer.now()
    val tick = TriggerMs * 1000000L
    val epoch0 = ((now + 1000000000L) / tick + 1) * tick + 100000000L
    val t0 = System.nanoTime() + (epoch0 - now)
    val posters = (0 until PostThreads).map(k => new Thread(() =>
        plan.indices.filter(_ % PostThreads == k).foreach { i =>
      val due = t0 + i * 1000000000L / Rate
      sleepUntil(due)
      val sent = System.nanoTime()
      val (mid, start, offsetMs) = plan(i)
      val created = (epoch0 + (due - t0)) / 1000000L
      val status = try postLog(log(i, mid, start, created - offsetMs))
        catch { case _: Exception => -1 }
      val done = System.nanoTime()
      posts(i) = Post(i, mid, start, created, offsetMs, due - t0, sent - t0, done - t0, status)
      val at = epoch0 - t0
      tracer.record("ingest.post", root, tracer.newId(), sent + at, done + at)
    }, s"perfbench-ingest-$k"))
    val dash = new Thread(() => reqs.indices.foreach { i =>
      val due = t0 + i * 1000000000L / DashRate
      sleepUntil(due)
      val sent = System.nanoTime()
      val (status, body) = try get(reqs(i).path)
        catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
      val done = System.nanoTime()
      gets(i) = Get(reqs(i), due - t0, sent - t0, done - t0, status, body)
      val at = epoch0 - t0
      tracer.record(s"serving.request:${reqs(i).endpoint}", root, tracer.newId(),
        sent + at, done + at)
    }, "perfbench-dashboard")
    val publisher = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    publisher.scheduleWithFixedDelay(() => publish(all = false), 100, 100,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    (posters :+ dash).foreach(_.start())
    (posters :+ dash).foreach(_.join())
    val end = tracer.now()
    publisher.shutdown()
    publisher.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    Window(epoch0, end, posts.toSeq, gets.toSeq)
  }

  /** After the window: flushes the tail epoch and lets the stream land it. */
  def drain(): Unit = {
    flush()
    publish(all = true)
    query.processAllAvailable()
  }

  /** Served DAU tile of `/realtime-total` for `date`. */
  def servedDau(date: LocalDate): Option[Long] = {
    val (status, body) = get(s"/realtime-total?date=$date")
    val tile = """"id":"dau","name":"dau_total","value":(\d+)""".r
    if (status != 200) None else tile.findFirstMatchIn(body).map(_.group(1).toLong)
  }

  /** Lines the collector landed, the backfill epoch excluded. */
  def landedLines(): (Long, Long, Int) = {
    val files = new File(landing).listFiles().filter(f =>
      f.getName.matches("""epoch-\d+\.jsonl""") && f.getName != "epoch-000000.jsonl")
    val lines = files.map(f => Files.lines(f.toPath).count()).sum
    (lines, files.map(_.length()).sum, files.length)
  }

  def tableDir: String = table
}

object Live {
  // The reference publishes no traffic figures, so the rates are sized to
  // the connections: each request to the collector or the publisher takes
  // about 44 ms on one connection (the JDK server answers in two TCP
  // writes and the client delays its ACK), and the rates stay near half of
  // what the connections can carry.
  val Rate = 24             // POSTs per second, over PostThreads connections
  val PostThreads = 2
  val DashRate = 1          // GETs per second, on one connection
  val RotateLines = 24      // collector epoch size: one second of logs
  val TriggerMs = 5000L     // micro-batch interval: the reference's DauApp
  val Mids = 2000           // device population
  val ZipfS = 1.1
  val StartShare = 0.5
  val OutOfOrderShare = 0.1 // stamped up to 8 s early: inside the 10 s watermark
  val LateShare = 0.01      // stamped 20-40 s early: past the watermark
  val BackfillLogs = 2000

  val LogSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("ar", StringType), StructField("mid", StringType),
      StructField("uid", StringType), StructField("vc", StringType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType), StructField("loading_time", LongType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType), StructField("during_time", LongType)))),
    StructField("log_id", LongType),
    StructField("ts", LongType)))

  /** One reference-shaped app log (gmall0317-logger's POST body). */
  def log(id: Long, mid: String, start: Boolean, ts: Long): String = {
    val n = math.abs(mid.hashCode)
    val common = s""""common":{"ar":"${n % 34}","mid":"$mid","uid":"${n % 5000}","vc":"v2.1.${n % 4}"}"""
    val body =
      if (start) s""""start":{"entry":"${Seq("icon", "notice", "install")(n % 3)}","loading_time":${1000 + n % 9000}}"""
      else s""""page":{"page_id":"${Seq("home", "good_list", "good_detail", "cart")(n % 4)}","during_time":${n % 20000}}"""
    s"""{$common,$body,"log_id":$id,"ts":$ts}"""
  }

  /** Seconds this run must stay clear of UTC midnight on either side:
    * ServeMain decides open vs closed days from the UTC clock, and the
    * generator stamps events up to 40 s into the past. */
  val MidnightMargin = 90L

  /** None when a run of `runSeconds` can start now; else how long to wait
    * (Right) or that it must refuse (Left). */
  def midnightWait(runSeconds: Long, now: Instant = Instant.now()): Option[Either[String, Long]] = {
    val sec = now.getEpochSecond % 86400L
    if (sec < MidnightMargin) Some(Right(MidnightMargin - sec))
    else if (sec + runSeconds + MidnightMargin > 86400L)
      Some(Left(s"the run would cross UTC midnight (UTC second of day $sec)"))
    else None
  }

  /** One POSTed log. Times are nanoseconds from the window start; the event
    * was created when it was due and stamped `offsetMs` before that. */
  final case class Post(id: Long, mid: String, start: Boolean, createdMs: Long,
      offsetMs: Long, due: Long, sent: Long, done: Long, status: Int) {
    def late: Boolean = offsetMs >= 20000L
  }
  final case class Get(req: Req, due: Long, sent: Long, done: Long,
      status: Int, body: String)
  /** A finished window: epoch nanoseconds of its start and end. */
  final case class Window(start: Long, end: Long, posts: Seq[Post], gets: Seq[Get])

  final class Zipf(n: Int, s: Double, rng: Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  final case class Req(endpoint: String, closed: Boolean, path: String)

  /** The dashboard's seeded request mix: the three panels, half for today
    * (open: recomputed per call) and half for yesterday (closed: memoised). */
  def dashboard(seed: Long, today: LocalDate, n: Int): Seq[Req] = {
    val rng = new Random(seed ^ 0xda5bL)
    Seq.fill(n) {
      val closed = rng.nextBoolean()
      val d = if (closed) today.minusDays(1) else today
      rng.nextInt(3) match {
        case 0 => Req("realtime-total", closed, s"/realtime-total?date=$d")
        case 1 => Req("realtime-hour", closed, s"/realtime-hour?id=dau&date=$d")
        case _ => Req("detail", closed,
          s"/detail?date=$d&page=${1 + rng.nextInt(3)}&size=10")
      }
    }
  }

  def sleepUntil(nanoTime: Long): Unit = {
    var left = nanoTime - System.nanoTime()
    while (left > 0) { LockSupport.parkNanos(left); left = nanoTime - System.nanoTime() }
  }
}
