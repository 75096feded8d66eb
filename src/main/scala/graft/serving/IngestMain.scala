package graft.serving

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The log-ingestion daemon — the reference's gmall0317-logger Spring Boot
  * collector (`LoggerController.java:28-40`: POST /applog with a JSON log
  * body → log to disk + send to Kafka) as a zero-dependency JDK
  * `HttpServer` main. Closes the SURVEY §2 S6 residual ("HTTP log
  * ingestion — fixture-modeled").
  *
  * Architecture note (SURVEY §1: semantics, not service plumbing): the
  * reference ROUTES at the HTTP layer (`start` field present → topic
  * GMALL_START else GMALL_EVENT) because Kafka topics are its landing.
  * Here the landing is an epoch-rotated jsonl directory — the Kafka
  * stand-in every streaming intake in this engine already consumes via
  * the file source — and the start-field ROUTING is the already-spec'd
  * stream operator (StreamingOps start routing / fan-out, §2 F2/T6),
  * running on Spark's real `from_json` instead of a hand-rolled HTTP-side
  * JSON probe. Ingestion = durability; routing = stream processing.
  *
  * Endpoints (shapes mirror the reference controller):
  *   - `POST /applog` (body = one JSON log object) → appended as one
  *     jsonl line to the current epoch file; responds `success` exactly
  *     like the reference. 400 on an empty or non-`{` body — the
  *     cheap malformation gate; full schema validation belongs to
  *     `from_json` downstream, which null-routes bad records.
  *   - `GET /hello?name=` → greeting (the reference's smoke endpoint).
  *   - `POST /flush` → close + rotate the current epoch file so a
  *     consumer (or a test) sees everything landed so far.
  *
  * Rotation: every [[rotateLines]] lines (and on /flush), the writer
  * closes `epoch-N.jsonl` and opens `epoch-(N+1).jsonl` — completed
  * files are immutable, so `readStream.json(dir)` (with
  * maxFilesPerTrigger) treats each epoch as a micro-batch unit, exactly
  * the file-source discipline StreamBench measures. Writes are
  * synchronized on the writer (HTTP pool threads share one appender —
  * the bottleneck at scale is the fronting load balancer, not this
  * single-node stand-in, same as the reference's single logger JVM).
  */
object IngestMain {

  /** One rotating jsonl appender over `dir`. Thread-safe via the object
    * monitor; close() flushes the tail epoch.
    *
    * Restart safety: a consumer (`readStream.json(dir)`) reads each
    * completed epoch file exactly once and never re-reads it, so a file
    * is immutable the moment it exists — including across daemon
    * restarts. The constructor therefore scans `dir` and resumes at
    * max(existing epoch)+1; it must NEVER append to a pre-existing file,
    * even a partial one from a crash (that file may already have been
    * consumed mid-write). */
  final class Landing(dir: String, rotateLines: Int) {
    new File(dir).mkdirs()
    // \d{6,}: the %06d name format WIDENS past 999999 (it never
    // truncates), so 7+-digit epoch files must still count in the resume
    // scan — missing them would restart below an existing epoch and
    // recreate the append-to-closed-file defect this scan prevents
    private val EpochName = raw"epoch-(\d{6,})\.jsonl".r
    private val resumeAt: Long = Option(new File(dir).list()).getOrElse(Array.empty[String])
      .collect { case EpochName(n) => n.toLong }
      .foldLeft(-1L)(math.max) + 1L
    private val epoch = new AtomicLong(resumeAt)
    private var lines = 0
    private var out: BufferedWriter = _

    private def open(): Unit = {
      out = new BufferedWriter(new FileWriter(
        new File(dir, f"epoch-${epoch.get()}%06d.jsonl"), true))
    }

    def append(line: String): Unit = synchronized {
      if (out == null) open()
      out.write(line)
      out.write('\n')
      // flush per record: `success` is only sent after the line is at
      // least in the OS page cache, so a daemon crash (not host crash)
      // loses no acknowledged records and the in-progress epoch is
      // visible to `tail`/tests without waiting for rotation
      out.flush()
      lines += 1
      if (lines >= rotateLines) rotate()
    }

    def rotate(): Unit = synchronized {
      if (out != null) { out.close(); out = null }
      if (lines > 0) { epoch.incrementAndGet(); lines = 0 }
    }

    def close(): Unit = rotate()
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  /** Build and start the server; caller stops it and closes the landing. */
  def start(landing: Landing, port: Int): HttpServer = {
    val server = HttpDaemon.create(port, "graft-ingest")
    server.createContext("/applog", (ex: HttpExchange) => {
      if (ex.getRequestMethod != "POST") respond(ex, 405, "POST only")
      else {
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8).trim
        if (body.isEmpty || body.charAt(0) != '{') {
          respond(ex, 400, "body must be one JSON object")
        } else {
          try {
            // one log record = one jsonl line (strip interior newlines so
            // a pretty-printed body can't split into phantom records)
            landing.append(body.replace('\n', ' ').replace('\r', ' '))
            respond(ex, 200, "success") // the reference's literal reply
          } catch {
            // a landing IO failure (disk full, dir removed) must surface
            // as a 500 the sender can retry on, not a dropped connection
            case e: Exception =>
              respond(ex, 500, s"landing failed: ${e.getMessage}")
          }
        }
      }
    })
    server.createContext("/flush", (ex: HttpExchange) => {
      landing.rotate()
      respond(ex, 200, "flushed")
    })
    server.createContext("/hello", (ex: HttpExchange) => {
      val name = Option(ex.getRequestURI.getQuery)
        .flatMap(_.split('&').map(_.split("=", 2))
          .collectFirst { case Array("name", v) => v })
        .getOrElse("world")
      respond(ex, 200, s"hello $name")
    })
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: IngestMain <landingDir> [port] [rotateLines]")
    val dir = args(0)
    val port = if (args.length > 1) args(1).toInt else 8071
    val rotate = if (args.length > 2) args(2).toInt else 1000
    val landing = new Landing(dir, rotate)
    val server = start(landing, port)
    println(s"ingesting on ${server.getAddress.getPort} -> $dir")
    sys.addShutdownHook { server.stop(0); landing.close() }
    Thread.currentThread().join()
  }
}
