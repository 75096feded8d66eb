package graft.serving

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.operators.ServingOps

/** The publisher REST daemon — the reference's gmall-publisher Spring Boot
  * app (`P/controller/ChartController.java:24-60`) as a thin JDK
  * `HttpServer` main over the engine's oracle-checked serving queries.
  * Closes the one SURVEY §2.6 residual that was "fixture-modeled by
  * design": the endpoints now EXECUTE, not just their semantics.
  *
  * Endpoints (shapes match the reference controller):
  *   - `GET /realtime-total?date=yyyy-MM-dd` → JSON array of
  *     `{id, name, value}` stat tiles; the `dau` tile is
  *     [[ServingOps.realtimeTotal]] (`DauServicelmpl.java:26-42`), the
  *     `new_mid` tile is the reference's own hard-coded mock
  *     (`ChartController.java:37-40` puts a literal 2 — kept verbatim as
  *     shape filler, exactly like the reference).
  *   - `GET /realtime-hour?id=dau&date=yyyy-MM-dd` →
  *     `{"yesterday": {"HH": dau…}, "today": {…}}` — two
  *     [[ServingOps.realtimeHourly]] curves (`ChartController.java:48-57`;
  *     yesterday via the same minus-one-day rule as `GetDate`).
  *
  * Architecture note (SURVEY §1: semantics, not service plumbing): the
  * reference serves from per-day Elasticsearch indexes that the streaming
  * layer maintains; this daemon computes the same answers straight from
  * the dt-pruned events scan ([[ServingOps]] pushes the one-day range
  * into the parquet scan), with a per-(endpoint, date) answer cache in
  * front — the closed-day answers are immutable, so a dashboard polling
  * the same date hits Spark once. At production scale the same main
  * points at the streaming layer's dt-partitioned output table and
  * nothing else changes.
  *
  * Usage: `graft.serving.ServeMain <sfDir> [port]` (port 0 = ephemeral;
  * the bound port is printed as `serving on <port>` for harnesses).
  * JSON is emitted by a small encoder below — the payloads are flat
  * maps/arrays of strings and longs; no library needed offline.
  */
object ServeMain {

  /** Minimal JSON encoder for the payload shapes above (strings, longs,
    * maps, seqs, null). Strings go through [[graft.Json.quote]]. */
  private[graft] def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => graft.Json.quote(s)
    case n: Long => n.toString
    case n: Int => n.toString
    case d: Double => // emit as a JSON number (NaN/Inf have none — fail loud)
      require(!d.isNaN && !d.isInfinite, s"non-finite double in payload: $d")
      d.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${toJson(k.toString)}:${toJson(x)}" }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => // no silent stringification: a payload shape change must
      // fail loudly here, not serialize 2.5 as "2.5" for a client to parse
      throw new IllegalArgumentException(
        s"unsupported payload type ${other.getClass.getName}")
  }

  /** CLOSED-day answers are immutable: memoize per (endpoint, dir, date)
    * — dir participates so two servers over different tables in one JVM
    * (tests, multi-tenant) can't cross-contaminate. The OPEN (current or
    * future) day is never cached: its answer changes with every
    * micro-batch, and the reference controller recomputes per request —
    * freezing today's DAU at its first-poll value would be wrong all
    * day. The cache is still the whole difference between "dashboard
    * polls every 5 s" and "Spark job every 5 s", because dashboards
    * mostly compare CLOSED days (yesterday's curve is cached even while
    * today's recomputes).
    *
    * BOUNDED: a client sweeping arbitrary historical dates must not grow
    * the memo forever, so eviction drops the oldest inserted entries past
    * [[CacheCap]]. Closed-day answers are immutable, so evicting one is
    * always safe — the next request just recomputes. Insertion order (a
    * cheap queue) rather than true LRU: at ~100 B/entry the cap is about
    * recency hygiene, not hit-rate tuning, and it keeps computeIfAbsent's
    * no-duplicate-computation guarantee without a global lock. */
  private[graft] val CacheCap = 4096
  private val cache = new ConcurrentHashMap[(String, String, String), String]()
  private val cacheOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()

  private[graft] def cacheSize: Int = cache.size()

  private def closedDay(date: String): Boolean =
    java.time.LocalDate.parse(date)
      .isBefore(java.time.LocalDate.now(java.time.ZoneOffset.UTC))

  /** Memoize only closed days; open days compute every call. */
  private[graft] def cached(key: (String, String, String))(f: => String): String =
    if (!closedDay(key._3)) f
    else {
      var inserted = false
      val answer = cache.computeIfAbsent(key, _ => { inserted = true; f })
      if (inserted) {
        cacheOrder.add(key)
        // evict oldest past the cap; racing threads each evict at most one
        // stale entry, so size stays within CacheCap + thread-pool width
        while (cache.size() > CacheCap) {
          val oldest = cacheOrder.poll()
          if (oldest != null) cache.remove(oldest) else return answer
        }
      }
      answer
    }

  /** The table's [min dt, max dt] — the clamp that keeps a client
    * sweeping arbitrary dates from costing one Spark job per junk date:
    * below the min the answer is KNOWN to be the empty one, so it's
    * built without touching Spark. None for an empty table. ISO dates
    * compare as strings.
    *
    * Only the LOWER bound is a settled fact worth memoizing forever: in
    * the live ingest → route → serve deployment new days keep landing,
    * so a date ABOVE the cached max (or any date against a cached
    * empty-table answer) re-runs the cheap min/max scan (parquet
    * row-group stats) before concluding empty — otherwise the first
    * request after midnight would be permanently answered 0/{} from a
    * stale ceiling, contradicting the "open days compute every call"
    * rule in [[cached]]. Dates at-or-below the cached max never rescan. */
  private val ranges =
    new ConcurrentHashMap[String, Option[(String, String)]]()

  private def scanRange(spark: SparkSession, dir: String): Option[(String, String)] = {
    import org.apache.spark.sql.functions.{col, max, min, to_date}
    // cast to STRING in-query: the caller wants ISO strings anyway, and
    // decoding a DateType row needs JDK17's sun.util.calendar add-opens
    // — a daemon launched with an incomplete flag set would die with a
    // cryptic EXPRESSION_DECODING_FAILED here (observed live); string
    // rows decode everywhere
    val r = graft.Tables.events(spark, dir)
      .agg(min(to_date(col("ts"))).cast("string"),
        max(to_date(col("ts"))).cast("string")).head()
    if (r.isNullAt(0)) None
    else Some((r.getString(0), r.getString(1)))
  }

  private def dtRange(spark: SparkSession, dir: String): Option[(String, String)] =
    ranges.computeIfAbsent(dir, _ => scanRange(spark, dir))

  private def inRange(spark: SparkSession, dir: String, date: String): Boolean =
    dtRange(spark, dir) match {
      case Some((lo, _)) if date < lo => false // settled: days below min never appear
      case Some((_, hi)) if date <= hi => true
      // above the cached max (or cached-empty): refresh before saying no —
      // but ONLY for dates that could plausibly have landed (≤ today+1
      // UTC: the one-day tolerance absorbs producer clock skew near
      // midnight and timezone-ahead writers, which a hard ≤-today clamp
      // would answer known-empty without ever rescanning). A junk-date
      // sweep of far futures must stay scan-free, or the refresh
      // reintroduces the one-Spark-job-per-junk-date cost the clamp
      // exists to prevent; genuinely new days are ≤ today+1 by
      // definition, and closed days' answers are memoized by [[cached]]
      // after the first computation, so the rescan rate stays bounded.
      case _ if date > java.time.LocalDate.now(java.time.ZoneOffset.UTC)
          .plusDays(1).toString =>
        false
      case _ =>
        val fresh = scanRange(spark, dir)
        ranges.put(dir, fresh)
        fresh.exists { case (lo, hi) => date >= lo && date <= hi }
    }

  private[serving] def totalJson(spark: SparkSession, dir: String,
      date: String): String =
    cached(("total", dir, date)) {
      val dau =
        if (inRange(spark, dir, date))
          ServingOps.realtimeTotal(spark, dir, date).head().getLong(0)
        else 0L // out of the table's dt range: the answer is known empty
      toJson(Seq(
        // LinkedHashMap: tile order is part of the reference shape
        collection.immutable.ListMap(
          "id" -> "dau", "name" -> "dau_total", "value" -> dau),
        collection.immutable.ListMap(
          "id" -> "new_mid", "name" -> "new_mid_total", "value" -> 2L)))
    }

  private def hourCurve(spark: SparkSession, dir: String,
      date: String): collection.immutable.ListMap[String, Any] = {
    if (!inRange(spark, dir, date))
      return collection.immutable.ListMap.empty // known-empty curve, no job
    val rows = ServingOps.realtimeHourly(spark, dir, date).collect()
    collection.immutable.ListMap(
      rows.map(r => r.getString(0) -> (r.getLong(1): Any)).toSeq: _*)
  }

  private[serving] def hourlyJson(spark: SparkSession, dir: String,
      date: String): String =
    cached(("hourly", dir, date)) {
      toJson(collection.immutable.ListMap(
        "yesterday" -> hourCurve(spark, dir, ServingOps.prevDay(date)),
        "today" -> hourCurve(spark, dir, date)))
    }

  /** GET /detail?date=&page=&size=[&keyword=] — the dashboard's third
    * call (dw-chart `IndexController.java:79-107` getData → the ES
    * detail search): one page of the day's per-visitor listing plus the
    * total-hits count the pagination widget needs. The page geometry
    * and keyword participate in the memo key (each page of a closed day
    * is its own immutable answer). */
  private[serving] def detailJson(spark: SparkSession, dir: String,
      date: String, keyword: String, page: Int, size: Int): String = {
    // the total is PAGE-INDEPENDENT: memoize it per (date, keyword) so
    // paging through N pages of a closed day costs N+1 day scans, not 2N
    // (the memo stores the number as its JSON digits). Looked up BEFORE
    // the page's own memo entry, never inside its mapping function: a
    // computeIfAbsent re-entering the same map throws "Recursive update"
    // whenever the two keys share a bin.
    val total = cached((s"detail_total:$keyword", dir, date)) {
      if (!inRange(spark, dir, date)) "0"
      else ServingOps.detailTotal(spark, dir, date, keyword)
        .head().getLong(0).toString
    }.toLong
    cached((s"detail:$page:$size:$keyword", dir, date)) {
      val rows =
        if (!inRange(spark, dir, date)) Seq.empty
        else ServingOps.detailPage(spark, dir, date, keyword, page, size)
          .collect()
          .map(r => collection.immutable.ListMap(
            "user_id" -> r.getString(0),
            "n_events" -> r.getLong(1),
            "first_hour" -> r.getString(2)))
          .toSeq
      toJson(collection.immutable.ListMap(
        "total" -> total, "detail" -> rows))
    }
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Split the RAW query and percent-decode each component: getQuery
    * pre-decodes %XX, so a free-text value containing an encoded '&'
    * or '=' (the keyword parameter) would be split on its DECODED
    * bytes and silently truncated; '+' must decode to a space. */
  private def param(ex: HttpExchange, name: String): Option[String] = {
    def dec(s: String) =
      java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&')).map(_.split("=", 2))
      .collectFirst { case Array(k, v) if dec(k) == name && v.nonEmpty => dec(v) }
  }

  private val DatePattern = "\\d{4}-\\d{2}-\\d{2}".r

  private def handle(ex: HttpExchange)(f: String => String): Unit =
    try {
      param(ex, "date") match {
        case Some(d) if DatePattern.matches(d) => respond(ex, 200, f(d))
        case Some(d) => respond(ex, 400,
          toJson(Map("error" -> s"bad date '$d' (want yyyy-MM-dd)")))
        case None => respond(ex, 400, toJson(Map("error" -> "missing ?date=")))
      }
    } catch {
      case e: IllegalArgumentException => // bad client input, not our fault
        respond(ex, 400, toJson(Map("error" -> String.valueOf(e.getMessage))))
      case e: Exception =>
        respond(ex, 500, toJson(Map("error" -> String.valueOf(e.getMessage))))
    } finally ex.close()

  /** Build and start the server; returns it (caller stops it). Port 0
    * binds an ephemeral port — read it back from `getAddress.getPort`. */
  def start(spark: SparkSession, dir: String, port: Int): HttpServer = {
    // the daemon pool lets cached answers flow while one uncached date
    // computes (computeIfAbsent already prevents duplicate computation
    // per key)
    val server = HttpDaemon.create(port, "graft-serve")
    server.createContext("/realtime-total",
      (ex: HttpExchange) => handle(ex)(totalJson(spark, dir, _)))
    server.createContext("/realtime-hour",
      (ex: HttpExchange) => handle(ex)(hourlyJson(spark, dir, _)))
    server.createContext("/detail", (ex: HttpExchange) => handle(ex) { d =>
      // page/size bounds: a crafted ?size=10000000 must not become one
      // giant collect, and the page cap keeps (page-1)*size < 2^31 so
      // the offset can never wrap Int (1e6 * 1e3 < Int.MaxValue);
      // a NON-NUMERIC value is a client bug and gets the same 400 as
      // out-of-range geometry, never a silent default page
      def intParam(name: String, dflt: Int): Int =
        param(ex, name).map(v => v.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"bad $name '$v' (want an integer)"))).getOrElse(dflt)
      val page = intParam("page", 1)
      val size = intParam("size", 10)
      val keyword = param(ex, "keyword").getOrElse("")
      require(page >= 1 && page <= 1000000 && size >= 1 && size <= 1000,
        s"bad page geometry: page=$page size=$size " +
          "(want 1<=page<=1000000, 1<=size<=1000)")
      detailJson(spark, dir, d, keyword, page, size)
    })
    server.createContext("/", (ex: HttpExchange) => {
      respond(ex, 404, toJson(Map(
        "error" -> "unknown path",
        "endpoints" -> Seq("/realtime-total?date=", "/realtime-hour?date=",
          "/detail?date=&page=&size=&keyword="))))
      ex.close()
    })
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ServeMain <sfDir> [port]")
    val dir = args(0)
    val port = if (args.length > 1) args(1).toInt else 8070
    val spark = GraftSession.build(appName = "graft-serve")
    val server = start(spark, dir, port)
    // the harness contract: one parseable line with the bound port
    println(s"serving on ${server.getAddress.getPort}")
    sys.addShutdownHook { server.stop(0); spark.stop() }
    Thread.currentThread().join() // daemon: block until killed
  }
}
