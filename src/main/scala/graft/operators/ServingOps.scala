package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Entry, Tables}

/** Serving-layer queries — the publisher REST API surface
  * (gmall-publisher, SURVEY §2.6/§3.1) as `(date) => DataFrame` functions.
  * Each replaces an Elasticsearch query over pre-deduped per-day indexes
  * with a direct aggregate over the event stream's batch table; the dedup
  * that ES doc-ids provided implicitly is the count_distinct.
  *
  * At scale these are served from the dt-partitioned output of the
  * streaming layer (partition pruning makes them single-day scans); here
  * they run over the raw events table to stay oracle-checkable.
  */
object ServingOps {

  /** One-day window read through [[Tables.eventsInRange]], which applies
    * the range predicate to the PHYSICAL ts column per testdata flavor so
    * it pushes into the parquet scan (row-group min/max skipping);
    * `date_format(ts) === d` — or a predicate on the derived `ts_ns` —
    * would force a full scan at 100 TB. */
  private def dayEvents(spark: SparkSession, dir: String,
      date: String): DataFrame = {
    val start = java.time.LocalDate.parse(date)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond
    Tables.eventsInRange(spark, dir, start, start + 86400L)
  }

  /** GET /realtime-total?date= — total DAU for one day
    * (P/service/impl/DauServicelmpl.java:26-42). */
  def realtimeTotal(spark: SparkSession, dir: String, date: String): DataFrame =
    dayEvents(spark, dir, date)
      .agg(count_distinct(col("user_id")).as("dau"))

  /** GET /realtime-hour — hourly DAU curve for one day
    * (DauServicelmpl.java:45-71, terms agg size 24). */
  def realtimeHourly(spark: SparkSession, dir: String, date: String): DataFrame =
    dayEvents(spark, dir, date)
      .groupBy(date_format(col("ts"), "HH").as("hr"))
      .agg(count_distinct(col("user_id")).as("dau"))
      .orderBy("hr")
      .limit(24)

  /** The dashboard's today+yesterday comparison
    * (P/controller/ChartController.java:48-57): both curves side by side. */
  def hourlyWithYesterday(spark: SparkSession, dir: String, date: String): DataFrame = {
    val today = realtimeHourly(spark, dir, date)
    val yd = realtimeHourly(spark, dir, prevDay(date))
      .select(col("hr").as("yd_hr"), col("dau").as("dau_yd"))
    today.join(yd, col("hr") === col("yd_hr"), "left")
      .select(col("hr"), col("dau"), col("dau_yd"))
      .orderBy("hr")
  }

  /** GET /detail — the dashboard's third call: the PAGINATED per-visitor
    * detail listing (dw-chart `IndexController.java:79-107` getData →
    * the publisher's ES detail search: startpage/size pagination plus an
    * optional keyword match, returning the page of hits). Per visitor of
    * the day: event count and first-seen hour; keyword = substring match
    * on user_id (the MatchQueryBuilder twin, same shape as
    * q_search_filter's contains). Total-ordered by the UNIQUE user_id,
    * then offset/limit — the q_pagination machinery, so pages are
    * deterministic and non-overlapping. Pushdown shape: the one-day
    * range reaches the parquet scan via [[Tables.eventsInRange]]; the
    * group-by is a single day's visitors. */
  def detailPage(spark: SparkSession, dir: String, date: String,
      keyword: String, page: Int, size: Int): DataFrame = {
    require(page >= 1 && size >= 1, s"bad page geometry: page=$page size=$size")
    val base = dayEvents(spark, dir, date)
    val hits =
      if (keyword.isEmpty) base else base.where(col("user_id").contains(keyword))
    hits.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(date_format(col("ts"), "HH")).as("first_hour"))
      .orderBy("user_id")
      .offset((page - 1) * size)
      .limit(size)
  }

  /** The detail search's total-hits count (the ES `total` field the
    * dashboard pagination widget needs alongside each page). */
  def detailTotal(spark: SparkSession, dir: String, date: String,
      keyword: String): DataFrame = {
    val base = dayEvents(spark, dir, date)
    val hits =
      if (keyword.isEmpty) base else base.where(col("user_id").contains(keyword))
    hits.agg(count_distinct(col("user_id")).as("total"))
  }

  /** GetDate.java:12-24 — date minus one day. */
  private[graft] def prevDay(date: String): String =
    java.time.LocalDate.parse(date).minusDays(1).toString

  /** A fixed mid-corpus date so the serving queries are registrable as
    * driver-contract entries (events span 2024-01; day 15 has a full
    * yesterday). */
  private val FixedDate = "2024-01-15"

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    Entry("q_serve_total", (s, d) => realtimeTotal(s, d, FixedDate), Some(
      """SELECT count(DISTINCT user_id) AS dau FROM events
         WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'""")),
    Entry("q_serve_hourly", (s, d) => realtimeHourly(s, d, FixedDate), Some(
      """SELECT strftime(ts, '%H') AS hr, count(DISTINCT user_id) AS dau
         FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
         GROUP BY hr ORDER BY hr LIMIT 24""")),
    // page 2 of 5: the offset arm is exercised AND non-empty at every
    // gate corpus (the fixed day has 11 visitors at sf0.001, 129 at
    // sf0.01 — page 3 of 10 was empty at the small corpus, gating
    // nothing)
    Entry("q_serve_detail", (s, d) => detailPage(s, d, FixedDate, "", 2, 5), Some(
      """SELECT user_id, count(*) AS n_events,
                min(strftime(ts, '%H')) AS first_hour
         FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
         GROUP BY user_id ORDER BY user_id LIMIT 5 OFFSET 5""")),
    Entry("q_serve_hourly_yd", (s, d) => hourlyWithYesterday(s, d, FixedDate), Some(
      """WITH h AS (
           SELECT strftime(ts, '%Y-%m-%d') AS d, strftime(ts, '%H') AS hr,
                  count(DISTINCT user_id) AS dau
           FROM events
           WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-15', '2024-01-14')
           GROUP BY d, hr)
         SELECT t.hr AS hr, t.dau AS dau, y.dau AS dau_yd
         FROM h t LEFT JOIN h y ON y.d = '2024-01-14' AND y.hr = t.hr
         WHERE t.d = '2024-01-15' ORDER BY 1""")),
  )
}
