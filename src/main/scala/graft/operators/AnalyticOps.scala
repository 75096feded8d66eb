package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Entry, Tables}

/** Temporal-join and analytic operators beyond the reference's surface —
  * the join/window shapes a production analytics engine needs that the
  * reference's record-at-a-time DStream code could not express (SURVEY.md
  * §2.6 flags the analytic-window gap; as-of/range joins are the standard
  * "operators Spark lacks natively" additions).
  *
  * Scale notes (the design constraint for every operator here):
  *   - asofJoin is the union+running-last formulation: ONE shuffle on the
  *     join key, zero pair blow-up — never the naive pair join + argmax,
  *     which explodes on hot keys.
  *   - rangeJoin keeps an equality key so Catalyst plans a hash/SMJ with
  *     the time range as a post-match residual — never a nested-loop.
  *   - Event-time comparisons run on the raw `ts_ns` physical column
  *     (nanos), not the derived micro-precision timestamp, so results are
  *     exact w.r.t. the stored data and range predicates stay
  *     pushdown-eligible.
  */
object AnalyticOps {

  private val NanosPerDay = 86400L * 1000000000L

  /** o_orderdate is TIMESTAMP_NTZ in the parquet; unix_micros wants
    * TIMESTAMP. The session timezone is UTC everywhere (GraftSession /
    * Verify / Bench / tests), so the NTZ→TZ cast is instant-preserving
    * and matches DuckDB's wall-clock epoch_ns on the same column. */
  private def orderEpochNanos: org.apache.spark.sql.Column =
    unix_micros(col("o_orderdate").cast("timestamp")) * 1000L

  // ---------------------------------------------------------------- AS-OF
  /** As-of (point-in-time) join: for every order, the latest event by the
    * same user at-or-before the order timestamp — the SCD2 / trade-quote
    * lookup Spark has no native operator for.
    *
    * Implementation: tag events (side=0) and orders (side=1), union, and
    * take a running `last(…, ignoreNulls)` over a window partitioned by
    * user and ordered by (time, side, event_id). Each order row then
    * carries the most recent event ≤ its own time; ties at the same
    * nanosecond resolve to the highest event_id (deterministic), and
    * same-instant events sort before the order row (side 0 < 1), so
    * "at-or-before" is inclusive.
    *
    * This is one shuffle on the user key and O(n) per partition —
    * contrast with the pair-join + row_number formulation (the oracle
    * SQL), which materializes every (order × earlier event) pair and
    * detonates on hot users at 100 TB. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    // The carried event is ONE struct, so a single running-last picks
    // both fields from the same event row — two independent
    // last(ignoreNulls) windows would tear fields apart whenever
    // event_type is null (id from the newer event, type from an older
    // one). The struct is null (not struct(null,null)) on order rows so
    // ignoreNulls skips them.
    val ev = Tables.events(spark, dir).select(
      col("user_id").as("k"),
      col("ts_ns").as("t"),
      lit(0).as("side"),
      col("event_id").as("tie"),
      struct(col("event_id"), col("event_type")).as("ev"),
      lit(null).cast("long").as("o_orderkey"))
    val od = Tables.orders(spark, dir).select(
      col("o_custkey").as("k"),
      orderEpochNanos.as("t"),
      lit(1).as("side"),
      lit(null).cast("long").as("tie"),
      lit(null).cast("struct<event_id:bigint,event_type:string>").as("ev"),
      col("o_orderkey"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("side"), col("tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(od)
      .withColumn("asof", last(col("ev"), ignoreNulls = true).over(w))
      .where(col("side") === 1)
      .select(col("o_orderkey"), col("k").as("o_custkey"),
        col("asof.event_id").as("asof_event_id"),
        col("asof.event_type").as("asof_event_type"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- RANGE
  /** Bounded-interval (range) join: per order, activity of the same user
    * in the 7 days from the order timestamp. The user equality key makes
    * this a hash/sort-merge join with the `ts_ns` range as a residual
    * filter — per-user pair fan-out only, no cross product. Left join so
    * zero-activity orders survive with n_events=0.
    *
    * Aggregates are chosen exact-by-construction (counts, max) — no
    * order-dependent double summation to reconcile with the oracle. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ns"), col("event_type"), col("value"))
    val od = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      orderEpochNanos.as("lo"))
    od.join(ev,
        ev("user_id") === od("o_custkey") &&
          col("ts_ns") >= col("lo") && col("ts_ns") < col("lo") + lit(7L * NanosPerDay),
        "left")
      .groupBy("o_orderkey")
      .agg(
        count(col("ts_ns")).as("n_events"),
        count_distinct(col("event_type")).as("n_event_types"),
        max(col("value")).as("max_value"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- CUBE
  /** Multi-dimensional totals via CUBE — all 2^2 grouping sets of
    * (status, priority) in one pass (partial aggregation handles the
    * expansion map-side; one shuffle). grouping_id disambiguates a NULL
    * group key from a rolled-up dimension. */
  def cubeSales(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .orderBy(col("gid"),
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  // ---------------------------------------------------------------- W-RANGE
  /** Rolling 7-day per-customer spend via a RANGE window frame — the
    * time-decayed analytic the reference's serving layer approximates
    * with day buckets. RANGE BETWEEN 6 PRECEDING on an epoch-day ordering
    * key includes all same-day peers deterministically (a ROWS frame
    * would be order-sensitive for ties). One shuffle on the customer key. */
  def rollingSpend(spark: SparkSession, dir: String): DataFrame = {
    val od = Tables.orders(spark, dir)
      .withColumn("dnum", datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("dnum"))
      .rangeBetween(-6, Window.currentRow)
    od.select(col("o_orderkey"), col("o_custkey"), col("dnum"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("spend_7d"),
        count(lit(1)).over(w).as("n_orders_7d"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- SESSION
  /** Per-user sessions via the native `session_window` generator (gap =
    * 30 min) — the engine-native form of PipelineOps.sessionize's manual
    * lag-island construction; batch here, and the same expression drops
    * into a streaming groupBy (StreamingOps). Window end = last event +
    * gap, per session_window semantics; epoch-second floors keep the
    * output precision-neutral between the nanos oracle and micros Spark. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessions(Tables.events(spark, dir))
      .orderBy("user_id", "session_start_sec")

  val SessionGap = "30 minutes"

  /** The session aggregation of [[sessionWindow]] and, over a watermarked
    * stream, of StreamingOps.sessionWindowStream: (user_id,
    * session_start_sec, session_end_sec, n_events) per session. */
  def sessions(events: DataFrame, gap: String = SessionGap): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("session_start_sec"),
        unix_timestamp(col("sw.end")).as("session_end_sec"),
        col("n_events"))

  // ---------------------------------------------------------------- SCD2
  /** Slowly-changing-dimension (type 2) build: each customer's order
    * history becomes validity-interval versions — valid_from = this
    * change's date, valid_to = the next change's date, open (null) for
    * the current version. The warehouse-side form of the reference's
    * Phoenix dim upsert (K4): instead of point lookups into a mutable
    * store, the full history is derivable in one window pass — one
    * shuffle on the dimension key, O(n) per partition, no mutable state.
    * Dates are emitted as strings so both engines compare the same
    * calendar value (not timestamp micros vs nanos). */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from", date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .withColumn("valid_to",
        date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd"))
      .withColumn("is_current", col("valid_to").isNull)
      .select("o_custkey", "o_orderkey", "version", "o_orderstatus",
        "valid_from", "valid_to", "is_current")
      .orderBy("o_custkey", "version")
  }

  // ---------------------------------------------------------------- RANKS
  /** The complete ranking-function surface in one deterministic window:
    * row_number / rank / dense_rank / ntile / percent_rank / cume_dist /
    * first_value over (priority, price desc, key) — closes §2.6 fully.
    * percent_rank and cume_dist are integer-derived ((rank−1)/(n−1),
    * peers/n) so the doubles are IEEE-exact across engines. One shuffle
    * on the partition key. */
  def rankSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first(col("o_orderkey")).over(w).as("top_key"))
      .orderBy("o_orderpriority", "rn")
  }

  // -------------------------------------------------------------- GAPFILL
  /** Calendar gap-fill + forward-fill: every user's daily activity series
    * densified to a contiguous per-user date range, with inactive days
    * zero-filled, a running event total, and days-since-last-activity
    * carried forward — the time-series densification step feature
    * pipelines need before any rolling/sequence model, which no single
    * native operator provides.
    *
    * The calendar comes from `sequence(min_d, max_d)` per user (array of
    * dates, exploded map-side off the span aggregate) — output is bounded
    * by users × corpus-day-span, never a cross join of users with a
    * global calendar when spans differ. The fill joins calendar←daily on
    * (user, day) and runs two per-user windows in one pass: a running sum
    * (exact long arithmetic) and a running `last(active_day,
    * ignoreNulls)` for the forward fill — one shuffle on the user key
    * after the daily rollup. */
  def gapfillActivity(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id", "d").agg(count(lit(1)).as("n_events"))
    val cal = daily.groupBy("user_id")
      .agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("d"))
    val w = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "d"), "left")
      .withColumn("active_d", when(col("n_events").isNotNull, col("d")))
      .select(col("user_id"),
        date_format(col("d"), "yyyy-MM-dd").as("dt"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        sum(coalesce(col("n_events"), lit(0L))).over(w).as("cum_events"),
        datediff(col("d"), last(col("active_d"), ignoreNulls = true).over(w))
          .cast("long").as("days_since_active"))
      .orderBy("user_id", "dt")
  }

  // ------------------------------------------------------------ RETENTION
  /** Cohort retention: users grouped by first-seen day, counted on each
    * later active day as an offset from their cohort day, with the
    * retained fraction of the cohort — the canonical product-analytics
    * rollup over the same first-seen semantics as the reference's DAU
    * dedup (SURVEY §2.3 F3 defines first-seen; this is its longitudinal
    * readout).
    *
    * Rate is ONE double division of two exact counts — bit-identical
    * across engines. Single-pass shape: the cohort day rides a per-user
    * min() window on the SAME distinct frame (no self-join), and the
    * cohort size IS the rollup's own day_offset=0 row (every user is
    * active on their cohort day by definition), read back with a window
    * over the days-sized rollup — so the whole query is one linear chain
    * of 4 exchanges with the events fact scanned exactly once, where the
    * old form scanned it twice and paid a cohort-sizes join. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val withC0 = ev.withColumn("c0",
      min(col("d")).over(Window.partitionBy("user_id")))
    val roll = withC0
      .groupBy(col("c0"), datediff(col("d"), col("c0")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    roll
      .withColumn("cohort_n",
        max(when(col("day_offset") === 0, col("n_users")))
          .over(Window.partitionBy("c0")))
      .select(date_format(col("c0"), "yyyy-MM-dd").as("cohort_dt"),
        col("day_offset"), col("n_users"), col("cohort_n"),
        (col("n_users").cast("double") / col("cohort_n")).as("retained_frac"))
      .orderBy("cohort_dt", "day_offset")
  }

  // ------------------------------------------------------------------ RFM
  /** RFM customer segmentation: recency / frequency / monetary per
    * customer, each scored into quartiles — the classic warehouse
    * segmentation rollup over the same order fact the reference's DWS
    * layer aggregates.
    *
    * The quartile windows run over the CUSTOMER-grain frame (one row per
    * customer — dim-sized, not the fact), so the global ntile sort is a
    * dim sort; the fact is only touched by the one groupBy. Monetary is
    * an exact DECIMAL sum cast to double (the engine's standard oracle
    * parity trick); every window orders with the custkey tiebreak so
    * quartile assignment is total-order deterministic. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("m"))
    val dmax = per.agg(max(col("last_d")).as("d_max"))
    def q(c: org.apache.spark.sql.Column*) =
      ntile(4).over(Window.orderBy(c: _*)).cast("long")
    per.crossJoin(broadcast(dmax))
      .select(col("o_custkey"),
        datediff(col("d_max"), col("last_d")).cast("long").as("recency_days"),
        col("frequency"), col("m").cast("double").as("monetary"))
      .withColumn("r_q", q(col("recency_days"), col("o_custkey")))
      .withColumn("f_q", q(col("frequency").desc, col("o_custkey")))
      .withColumn("m_q", q(col("monetary").desc, col("o_custkey")))
      .withColumn("segment",
        concat(col("r_q"), lit("-"), col("f_q"), lit("-"), col("m_q")))
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------- TRANSITIONS
  /** Event-type transition matrix: counts of consecutive (prev → next)
    * event types per user in event-time order — the Markov-chain
    * statistics sequence models and funnel diagnostics start from. One
    * lag window on the user key (ordered by raw nanos + event_id
    * tiebreak, so ordering is exact and deterministic), one
    * map-side-partial groupBy on the 2-gram key. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  // ------------------------------------------------------------------ WAU
  /** Rolling 7-day active users per day (WAU) — the sliding-window
    * companion to the reference's daily DAU (SURVEY §2.5 A1/A2).
    * `count_distinct` can't run over a sliding RANGE frame, so each
    * (user, day) activity row is exploded to the 7 report days it covers
    * and the per-day distinct count becomes ONE groupBy — fan-out exactly
    * 7×, shuffle carries (day, user) pairs, partial-dedup map-side.
    * Report days past the last observed day are clipped (partial windows
    * at the corpus edge would under-count). */
  def wau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val dmax = ud.agg(max(col("d")).as("d_max"))
    ud.select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("report_d"))
      .crossJoin(broadcast(dmax))
      .where(col("report_d") <= col("d_max"))
      .groupBy("report_d")
      .agg(count_distinct(col("user_id")).as("wau"))
      .select(date_format(col("report_d"), "yyyy-MM-dd").as("dt"), col("wau"))
      .orderBy("dt")
  }

  // ----------------------------------------------------------------- CORR
  /** Pearson correlation of line-item quantity vs extended price per
    * return flag — computed from EXACT integer moments, never
    * `corr()`: the built-in accumulates doubles in partition order, so
    * its low bits differ run to run and engine to engine. Here price is
    * quantized to integer cents (`round(x*100)` — exact for a
    * 2-decimal-valued double), quantity to units; all five moments are
    * overflow-safe BIGINT sums; and the final correlation is one fixed
    * dag of IEEE double ops over those integers — bit-identical
    * anywhere, same discipline as the z-score operator. */
  def corrStats(spark: SparkSession, dir: String): DataFrame = {
    // moments accumulate in DECIMAL(38,0): cents² sums overflow BIGINT
    // beyond ~1M rows, and double accumulation is order-dependent —
    // decimal is both exact and big enough (≤ ~1e26 ≪ 1e38)
    val q = expr("CAST(l_quantity AS DECIMAL(20,0))") // integral-valued by construction
    val pc = expr("CAST(round(l_extendedprice * 100) AS DECIMAL(20,0))") // cents
    def d(c: String) = col(c).cast("double")
    val n = col("n").cast("double")
    val cov = n * d("sxy") - d("sx") * d("sy")
    val vx = n * d("sxx") - d("sx") * d("sx")
    val vy = n * d("syy") - d("sy") * d("sy")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), q.as("x"), pc.as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        col("sx").cast("long").as("sx"), col("sy").cast("long").as("sy"),
        (cov / sqrt(vx * vy)).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  // ------------------------------------------------------------------ MAD
  /** Robust length outliers by median absolute deviation — the
    * heavy-tail-safe twin of the z-score operator (one planted 10⁶-char
    * doc shifts a mean/stddev gate but barely moves the median). Exact
    * interpolated medians (`percentile`, matching DuckDB's
    * quantile_cont — the parity q_len_quantiles already pins), one
    * per-source broadcast join back, flag = |x − med| > 3·MAD. MAD-zero
    * sources (more than half the docs at the median) are excluded before
    * the comparison, like the zero-variance guard in q_zscore. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val med = docs.groupBy("source")
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val mad = docs.join(broadcast(med), "source")
      .groupBy("source", "med")
      .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
    docs.join(broadcast(mad), "source")
      .where(col("mad") > 0)
      .where(abs(col("n_chars") - col("med")) > col("mad") * 3)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("med"), col("mad"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- LATENCY
  /** Order-to-first-ship latency per priority: days from order date to
    * the EARLIEST lineitem ship date, averaged per priority class — the
    * operational-SLA rollup every order warehouse reports. The min-ship
    * aggregation runs BEFORE the join (one groupBy on the lineitem fact,
    * then an orderkey equi-join — never a join-then-dedup), and the mean
    * is an exact integer-day sum over a count, one double division. */
  def shipLatency(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(min(to_date(col("l_shipdate"))).as("first_ship"))
    Tables.orders(spark, dir)
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), to_date(col("o_orderdate")))
          .cast("long").as("lat"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("lat")).as("sum_days"),
        min(col("lat")).as("min_days"),
        max(col("lat")).as("max_days"))
      .withColumn("avg_days", col("sum_days").cast("double") / col("n_orders"))
      .orderBy("o_orderpriority")
  }

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    Entry("q_ship_latency", shipLatency, Some(
      """WITH fs AS (
           SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
           FROM lineitem GROUP BY 1),
         lat AS (
           SELECT o.o_orderpriority,
                  date_diff('day', CAST(o.o_orderdate AS DATE), fs.first_ship) AS lat
           FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey)
         SELECT o_orderpriority, count(*) AS n_orders,
                CAST(sum(lat) AS BIGINT) AS sum_days,
                min(lat) AS min_days, max(lat) AS max_days,
                CAST(sum(lat) AS DOUBLE) / count(*) AS avg_days
         FROM lat GROUP BY 1 ORDER BY o_orderpriority""")),
    Entry("q_corr", corrStats, Some(
      """WITH m AS (
           SELECT l_returnflag,
                  CAST(l_quantity AS DECIMAL(20,0)) AS x,
                  CAST(round(l_extendedprice * 100) AS DECIMAL(20,0)) AS y
           FROM lineitem),
         s AS (
           SELECT l_returnflag, count(*) AS n,
                  sum(x) AS sx, sum(y) AS sy,
                  sum(x*x) AS sxx, sum(y*y) AS syy,
                  sum(x*y) AS sxy
           FROM m GROUP BY 1)
         SELECT l_returnflag, n,
                CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  AS corr_qty_price
         FROM s ORDER BY l_returnflag""")),
    Entry("q_mad_outliers", madOutliers, Some(
      """WITH med AS (
           SELECT source, quantile_cont(n_chars, 0.5) AS med
           FROM documents GROUP BY 1),
         mad AS (
           SELECT d.source, med.med,
                  quantile_cont(abs(d.n_chars - med.med), 0.5) AS mad
           FROM documents d JOIN med USING (source)
           GROUP BY 1, 2)
         SELECT d.doc_id, d.source, d.n_chars, mad.med, mad.mad
         FROM documents d JOIN mad USING (source)
         WHERE mad.mad > 0 AND abs(d.n_chars - mad.med) > mad.mad * 3
         ORDER BY d.doc_id""")),
    Entry("q_rfm", rfm, Some(
      """WITH per AS (
           SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
                  count(*) AS frequency,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
           FROM orders GROUP BY 1),
         dm AS (SELECT max(last_d) AS d_max FROM per),
         r AS (
           SELECT o_custkey,
                  date_diff('day', last_d, d_max) AS recency_days,
                  frequency, monetary
           FROM per CROSS JOIN dm)
         SELECT o_custkey, recency_days, frequency, monetary,
                CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_q,
                CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_q,
                CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m_q,
                ntile(4) OVER (ORDER BY recency_days, o_custkey) || '-' ||
                ntile(4) OVER (ORDER BY frequency DESC, o_custkey) || '-' ||
                ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS segment
         FROM r ORDER BY o_custkey""")),
    Entry("q_transitions", transitions, Some(
      """WITH e AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY epoch_ns(ts), event_id) AS from_type
           FROM events)
         SELECT from_type, event_type AS to_type, count(*) AS n
         FROM e WHERE from_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY from_type, to_type""")),
    Entry("q_wau", wau, Some(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         dm AS (SELECT max(d) AS d_max FROM ud),
         x AS (
           SELECT user_id,
                  CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
                                              INTERVAL 1 DAY)) AS DATE) AS report_d
           FROM ud)
         SELECT strftime(report_d, '%Y-%m-%d') AS dt,
                count(DISTINCT user_id) AS wau
         FROM x CROSS JOIN dm
         WHERE report_d <= d_max
         GROUP BY 1 ORDER BY dt""")),
    Entry("q_gapfill", gapfillActivity, Some(
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
           FROM events GROUP BY 1, 2),
         span AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1),
         cal AS (
           SELECT user_id,
                  CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
           FROM span),
         j AS (
           SELECT c.user_id, c.d, daily.n
           FROM cal c LEFT JOIN daily ON daily.user_id = c.user_id AND daily.d = c.d)
         SELECT user_id, strftime(d, '%Y-%m-%d') AS dt,
                coalesce(n, 0) AS n_events,
                CAST(sum(coalesce(n, 0)) OVER w AS BIGINT) AS cum_events,
                date_diff('day',
                  last_value(CASE WHEN n IS NOT NULL THEN d END IGNORE NULLS) OVER w,
                  d) AS days_since_active
         FROM j
         WINDOW w AS (PARTITION BY user_id ORDER BY d ROWS UNBOUNDED PRECEDING)
         ORDER BY user_id, dt""")),
    Entry("q_retention", retention, Some(
      """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         cohort AS (SELECT user_id, min(d) AS c0 FROM ev GROUP BY 1),
         sizes AS (SELECT c0, count(*) AS cohort_n FROM cohort GROUP BY 1),
         r AS (
           SELECT c.c0, date_diff('day', c.c0, ev.d) AS day_offset,
                  count(*) AS n_users
           FROM ev JOIN cohort c ON ev.user_id = c.user_id
           GROUP BY 1, 2)
         SELECT strftime(r.c0, '%Y-%m-%d') AS cohort_dt, r.day_offset,
                r.n_users, s.cohort_n,
                CAST(r.n_users AS DOUBLE) / s.cohort_n AS retained_frac
         FROM r JOIN sizes s ON r.c0 = s.c0
         ORDER BY cohort_dt, day_offset""")),
    // Oracle uses the naive pair join + row_number — O(pairs), fine at
    // verify SF, and semantically the ground truth for the running-last
    // formulation above.
    Entry("q_asof_join", asofJoin, Some(
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS tn, event_id, event_type
           FROM events),
         pairs AS (
           SELECT o.o_orderkey, e.event_id, e.event_type,
                  row_number() OVER (PARTITION BY o.o_orderkey
                                     ORDER BY e.tn DESC, e.event_id DESC) AS rn
           FROM orders o JOIN ev e
             ON e.user_id = o.o_custkey AND e.tn <= epoch_ns(o.o_orderdate))
         SELECT o.o_orderkey, o.o_custkey,
                p.event_id AS asof_event_id, p.event_type AS asof_event_type
         FROM orders o LEFT JOIN pairs p
           ON p.o_orderkey = o.o_orderkey AND p.rn = 1
         ORDER BY o.o_orderkey""")),
    Entry("q_range_join", rangeJoin, Some(
      """SELECT o.o_orderkey,
                count(e.ts) AS n_events,
                count(DISTINCT e.event_type) AS n_event_types,
                max(e.value) AS max_value
         FROM orders o LEFT JOIN events e
           ON e.user_id = o.o_custkey
          AND epoch_ns(e.ts) >= epoch_ns(o.o_orderdate)
          AND epoch_ns(e.ts) <  epoch_ns(o.o_orderdate) + 7 * 86400000000000
         GROUP BY o.o_orderkey
         ORDER BY o.o_orderkey""")),
    Entry("q_cube_sales", cubeSales, Some(
      """SELECT o_orderstatus, o_orderpriority,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                count(*) AS n,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    Entry("q_rolling_spend", rollingSpend, Some(
      """WITH od AS (
           SELECT o_orderkey, o_custkey, o_totalprice,
                  CAST(date_diff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS dnum
           FROM orders)
         SELECT o_orderkey, o_custkey, dnum,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_7d,
                count(*) OVER w AS n_orders_7d
         FROM od
         WINDOW w AS (PARTITION BY o_custkey ORDER BY dnum
                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""")),
    Entry("q_rank_suite", rankSuite, Some(
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
                row_number() OVER w AS rn,
                rank() OVER w AS rnk,
                dense_rank() OVER w AS drnk,
                ntile(4) OVER w AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume,
                first_value(o_orderkey) OVER w AS top_key
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey)
         ORDER BY o_orderpriority, rn""")),
    Entry("q_scd2", scd2, Some(
      """WITH o AS (
           SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
                  row_number() OVER w AS version,
                  lead(o_orderdate) OVER w AS next_date
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
         SELECT o_custkey, o_orderkey, version, o_orderstatus,
                strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
                strftime(next_date, '%Y-%m-%d') AS valid_to,
                next_date IS NULL AS is_current
         FROM o ORDER BY o_custkey, version""")),
    // Session islands: break when the gap to the previous event is >= 30
    // minutes (session_window merges strictly-overlapping [t, t+gap)
    // intervals, i.e. diff < gap merges). The oracle sessionizes in the
    // MICROS domain (epoch_ns // 1000) because that is the engine's time
    // domain — Tables.events truncates nanos to a micros timestamp by
    // documented design, so gap comparisons and second floors must use
    // the same truncation (double-precision epoch() or nanos-exact diffs
    // would diverge on sub-microsecond data).
    Entry("q_session_window", sessionWindow, Some(
      """WITH e AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id FROM events),
         b AS (
           SELECT user_id, tus, event_id,
                  CASE WHEN lag(tus) OVER (PARTITION BY user_id
                                           ORDER BY tus, event_id) IS NULL
                         OR tus - lag(tus) OVER (PARTITION BY user_id
                                                 ORDER BY tus, event_id)
                            >= 1800000000
                       THEN 1 ELSE 0 END AS brk
           FROM e),
         g AS (
           SELECT user_id, tus,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM b),
         s AS (
           SELECT user_id, sid, min(tus) AS st, max(tus) AS en,
                  count(*) AS n_events
           FROM g GROUP BY user_id, sid)
         SELECT user_id,
                st // 1000000 AS session_start_sec,
                (en + 1800000000) // 1000000 AS session_end_sec,
                n_events
         FROM s ORDER BY user_id, session_start_sec""")),
  )
}
