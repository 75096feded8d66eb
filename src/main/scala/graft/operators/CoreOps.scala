package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{Entry, Tables}

/** Core operator parity with the reference (SURVEY.md §2), re-expressed
  * Spark-first over the driver testdata tables.
  *
  * Mapping of reference entities onto testdata (FIXTURES.md §B):
  * events → start/event log stream, orders → order_info,
  * lineitem → order_detail, customer/nation/region → user/province dims,
  * part/supplier → SKU snowflake dims.
  *
  * Every query is a declarative DataFrame program (no RDDs, no driver-side
  * loops): Catalyst handles pushdown/pruning, small dims are explicitly
  * `broadcast()`, and big-table joins shuffle only on their join key.
  */
object CoreOps {

  /** dt ("yyyy-MM-dd") / hr ("HH") derivation — reference P3
    * (gmallrealtime/.../app/DauApp.scala:47-55); the batch queries and the
    * first-seen streams all derive the two columns here. */
  private[graft] def withDtHr(df: DataFrame): DataFrame = df
    .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
    .withColumn("hr", date_format(col("ts"), "HH"))

  /** Shared F1 routing column builders — ONE definition for the batch
    * (cdcRoute) and streaming (StreamingOps.cdcRouteStream) paths so the
    * table/op mapping can never desynchronize between them. */
  object Routing {
    def k: Column = get_json_object(col("props"), "$.k").cast("int")
    def table: Column = when(col("event_type") === "purchase", "order_info")
      .when(col("event_type") === "view", "order_detail")
      .when(col("event_type") === "click", "base_province")
      .when(col("event_type") === "signup", "user_info")
      .otherwise("other_table")
    def op: Column = when(k % 4 === 0, "insert")
      .when(k % 4 === 1, "update")
      .when(k % 4 === 2, "delete")
      .otherwise("bootstrap-insert")
    /** The reference's exact keep-boolean over (table, op) — used verbatim
      * by the streaming path; the batch path uses the single-parse
      * rewrite (empirically proven equivalent by the oracle). */
    def referenceKeep(t: Column, o: Column): Column =
      o.isNotNull && (
        (t === "order_info" && o === "insert") ||
        (t === "order_detail" && o === "insert") ||
        (t === "base_province" && (o === "insert" || o === "update") || o === "bootstrap-insert") ||
        (t === "user_info" && (o === "insert" || o === "update") || o === "bootstrap-insert"))
  }

  // ---------------------------------------------------------------- A1
  /** Daily active users — reference A1: count of per-day deduped mids
    * (gmall-publisher/.../DauServicelmpl.java:26-42, dedup F3 at
    * DauApp.scala:59-75). F3's whole Redis-SADD pipeline + ES doc count
    * collapses to one distinct aggregate. */
  def dauTotal(spark: SparkSession, dir: String): DataFrame =
    withDtHr(Tables.events(spark, dir))
      .groupBy("dt")
      .agg(count_distinct(col("user_id")).as("dau"))
      .orderBy("dt")

  // ---------------------------------------------------------------- A2
  /** Hourly DAU — reference A2 (DauServicelmpl.java:45-71, terms agg on hr). */
  def dauHourly(spark: SparkSession, dir: String): DataFrame =
    withDtHr(Tables.events(spark, dir))
      .groupBy("dt", "hr")
      .agg(count_distinct(col("user_id")).as("dau"))
      .orderBy("dt", "hr")

  // ---------------------------------------------------------------- A3
  /** Day-over-day hourly DAU — reference A3 (ChartController.java:48-57 +
    * GetDate.java:12-24): today's hourly curve joined with yesterday's.
    * Self left-join on (d-1, hr); the hourly agg is computed once and
    * reused on both sides. */
  def dauDayOverDay(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), date_format(col("ts"), "HH").as("hr"),
        col("user_id"))
      .groupBy("d", "hr")
      .agg(count_distinct(col("user_id")).as("dau"))
    val today = hourly
    val yd = hourly.select(col("d").as("yd_d"), col("hr").as("yd_hr"),
      col("dau").as("dau_yd"))
    today
      .join(yd, today("d") === date_add(yd("yd_d"), 1) && today("hr") === yd("yd_hr"), "left")
      .select(date_format(col("d"), "yyyy-MM-dd").as("dt"), col("hr"),
        col("dau"), col("dau_yd"))
      .orderBy("dt", "hr")
  }

  // ---------------------------------------------------------------- F3
  /** Deterministic first-seen-per-day dedup — reference F3 (DauApp.scala:59-75):
    * Redis SADD first-writer-wins per (dt, mid). Batch semantics: the row
    * with the lowest event_id (arrival order) per (dt, user_id) survives.
    * row_number over a hash-partitioned window — one shuffle on (dt, user_id). */
  def firstSeen(spark: SparkSession, dir: String): DataFrame =
    firstSeenDf(withDtHr(Tables.events(spark, dir)))
      .orderBy("dt", "user_id")

  /** Core of F3 on any (dt, user_id, event_id, event_type, hr)-shaped input
    * — exposed for property tests (idempotence etc.). */
  private[graft] def firstSeenDf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("dt"), col("user_id")).orderBy(col("event_id"))
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dt"), col("user_id"), col("event_id").as("first_event_id"),
        col("event_type").as("first_event_type"), col("hr").as("first_hr"))
  }

  // ---------------------------------------------------------------- F1
  /** CDC routing predicate — reference F1 (ods/OdsGmallCanalMax.scala:47-52),
    * replicated with its exact (buggy) parenthesization: the
    * `bootstrap-insert` alternatives sit OUTSIDE the per-table parens, so a
    * bootstrap-insert on ANY table passes the filter. Preserved for parity.
    *
    * Testdata mapping: event_type plays `table`
    * (purchase→order_info, view→order_detail, click→base_province,
    * signup→user_info, error→other_table); props.k mod 4 plays `type`. */
  def cdcRoute(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val k = Routing.k
    val tbl = Routing.table
    val op = Routing.op
    // The reference boolean, written literally over (table, op), inlines the
    // op CASE (and with it the JSON parse) ~14× per row in the Filter.
    // Restructured into the equivalent table as a function of (k mod 4,
    // event_type) so the JSON is parsed ONCE per row:
    //   op=insert (k%4=0): all four routed tables pass
    //   op=update (k%4=1): only the two (... || op='update') tables pass
    //   op=delete (k%4=2): nothing passes
    //   op=bootstrap-insert (else): EVERYTHING passes — the reference's
    //     parenthesization leak, preserved (SURVEY §2.3 F1).
    // The oracle SQL keeps the reference-shaped boolean verbatim; the
    // sf0.01 hash match is the empirical equivalence proof.
    // Index selection must mirror the op CASE's sign-preserving `%`
    // EXACTLY for every k — including negatives: k%4==0 holds for k=-4
    // too (⇒ 'insert'), while k%4 ∈ {-1,-2,-3} falls to the op CASE's
    // ELSE ('bootstrap-insert' ⇒ keep-all, index 4). So classify on the
    // same k%4 equality tests the op CASE uses (k parsed ≤3× per row vs
    // ~14× in the literal reference boolean). Null k ⇒ ELSE, like the op.
    val kmod = k % 4
    val keep = element_at(
      array(
        col("event_type").isin("purchase", "view", "click", "signup"),
        col("event_type").isin("click", "signup"),
        lit(false),
        lit(true)),
      when(kmod === 0, 1).when(kmod === 1, 2).when(kmod === 2, 3)
        .otherwise(4))
    ev.filter(keep)
      .select(col("event_id"), tbl.as("table_name"), op.as("op"),
        concat(lit("ODS_MM_"), upper(tbl)).as("topic"))
      .transform(ContractSort.exchanged(_, "event_id"))
  }

  // ---------------------------------------------------------------- J2/J3
  /** Fact-to-dim enrichment — reference J2 (province broadcast join,
    * DwdOrderInfoApp.scala:87-109) + J3 (per-record user lookup, :65-73).
    * Both become broadcast hash left-joins; J3's per-record Phoenix RPC
    * physical choice is obsolete on Spark. Only the BOUNDED dims (nation=25,
    * region=5 rows at every SF) carry an explicit broadcast hint; customer
    * grows with scale factor, so its join strategy is left to AQE's runtime
    * size check — a forced hint would override that check and OOM the driver
    * at 100× (it broadcasts at test SFs either way). */
  def orderEnrich(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(o("o_orderkey"), o("o_orderstatus"), o("o_totalprice"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("dt"),
        c("c_name"), c("c_mktsegment"), n("n_name"), r("r_name"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- J4
  /** 4-way snowflake broadcast join — reference J4
    * (DwdOrderDetailApp.scala:65-133): detail → sku → {spu, trademark,
    * category3}, left-outer at every hop. Testdata: lineitem → part and
    * lineitem → supplier → nation → region (two-hop chain). Bounded dims
    * (nation, region) hinted broadcast; part/supplier are SF-proportional,
    * so AQE decides for them at runtime (broadcast at test SFs, shuffle
    * join once they outgrow the threshold at cluster scale). */
  def snowflake(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    l.join(p, l("l_partkey") === p("p_partkey"), "left")
      .join(s, l("l_suppkey") === s("s_suppkey"), "left")
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(l("l_orderkey"), l("l_linenumber"), l("l_partkey"),
        l("l_quantity"), l("l_extendedprice"),
        p("p_name"), p("p_brand"), p("p_type"),
        s("s_name"), n("n_name"), r("r_name"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- J1+P7+F4
  /** Order-wide merge — reference J1 stream-stream equi-join
    * (DwsOrderWideApp.scala:88-97) + P7 bean merge (bean/OrderWide.scala:38-88)
    * + F4 zset dedup (:101-122). Batch surface: inner equi-join on the order
    * key with the wide projection. F4 exists only to kill window-overlap
    * duplicates, which a single-emission join never produces; its
    * first-writer-wins semantics are covered by `firstSeen` (F3) and by the
    * streaming layer. Shuffle on orderkey both sides (or AQE broadcast when
    * one side is small). */
  def orderWide(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .select(o("o_orderkey").as("order_id"), l("l_linenumber").as("detail_id"),
        o("o_custkey").as("user_id"), o("o_orderstatus").as("order_status"),
        o("o_totalprice").as("final_total_amount"),
        date_format(o("o_orderdate"), "yyyy-MM-dd").as("create_date"),
        l("l_partkey").as("sku_id"), l("l_quantity").as("sku_num"),
        l("l_extendedprice").as("order_price"), l("l_discount").as("discount"))
      .transform(ContractSort.exchanged(_, "order_id", "detail_id"))
  }

  // ---------------------------------------------------------------- J1+J2+J4 full
  /** The COMPLETE OrderWide row — reference bean OrderWide.scala:3-37 (27
    * fields merged from enriched order_info + enriched order_detail):
    * fact-fact join plus every dimension hop, with the P4 date/hour
    * derivations. This is the reference's whole DWS layer as one plan:
    * one fact-fact shuffle; bounded dims (nation, region) hinted broadcast,
    * SF-proportional ones (customer, part) left to AQE's size check.
    *
    * r17 shape (same 27 columns, same values, same total order): the
    * date/hour string derivations sit ABOVE the contract sort, not below
    * it, so the exchanges below the sort carry the raw 8-byte timestamps,
    * ~70 fewer bytes/row than the formatted strings (guide §2.3). The
    * final projection over a Sort adds no exchange and cannot reorder
    * rows. */
  def orderWideFull(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val p = Tables.part(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"), "inner")
      .join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .join(p, l("l_partkey") === p("p_partkey"), "left")
      .select(
        o("o_orderkey").as("order_id"), l("l_linenumber").as("detail_id"),
        o("o_custkey").as("user_id"), o("o_orderstatus").as("order_status"),
        o("o_totalprice").as("final_total_amount"),
        o("o_orderdate").as("_odate"),
        o("o_orderpriority").as("order_priority"),
        l("l_partkey").as("sku_id"), l("l_quantity").as("sku_num"),
        l("l_extendedprice").as("order_price"),
        l("l_discount").as("discount"), l("l_tax").as("tax"),
        l("l_returnflag").as("return_flag"), l("l_linestatus").as("line_status"),
        l("l_shipdate").as("_sdate"),
        c("c_name").as("user_name"), c("c_mktsegment").as("user_segment"),
        c("c_acctbal").as("user_acctbal"),
        n("n_name").as("province_name"), r("r_name").as("region_name"),
        p("p_name").as("sku_name"), p("p_brand").as("tm_name"),
        p("p_type").as("category3_name"), p("p_size").as("sku_size"),
        p("p_retailprice").as("sku_price"))
      .transform(ContractSort.exchanged(_, "order_id", "detail_id", "sku_id"))
      .select(
        col("order_id"), col("detail_id"), col("user_id"),
        col("order_status"), col("final_total_amount"),
        date_format(col("_odate"), "yyyy-MM-dd HH:mm:ss").as("create_time"),
        date_format(col("_odate"), "yyyy-MM-dd").as("create_date"),
        date_format(col("_odate"), "HH").as("create_hour"),
        col("order_priority"), col("sku_id"), col("sku_num"),
        col("order_price"), col("discount"), col("tax"),
        col("return_flag"), col("line_status"),
        date_format(col("_sdate"), "yyyy-MM-dd").as("ship_date"),
        col("user_name"), col("user_segment"), col("user_acctbal"),
        col("province_name"), col("region_name"),
        col("sku_name"), col("tm_name"), col("category3_name"),
        col("sku_size"), col("sku_price"))
  }

  // ---------------------------------------------------------------- P5/P6
  /** Age-group bucketing + gender decode — reference P5/P6
    * (dim/DimUserInfoApp.scala:55-82). Semantics preserved exactly,
    * including the F-branch OVERRIDING the age bucket with "永远18岁".
    * Testdata mapping: c_acctbal plays age, c_mktsegment=='AUTOMOBILE'
    * plays gender=='F'. Pure codegen'd when/otherwise — no UDF. */
  def ageBucket(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val bucket = when(col("c_acctbal") <= 1800, "少年")
      .when(col("c_acctbal") <= 4000, "青年")
      .otherwise("老年")
    val isF = col("c_mktsegment") === "AUTOMOBILE"
    c.withColumn("gender", when(isF, "女").otherwise("男"))
      .withColumn("age_group", when(isF, "永远18岁").otherwise(bucket))
      .select(col("c_custkey"), col("c_name"), col("gender"), col("age_group"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- A4/L2/L3
  /** Group-avg-sort-limit — reference A4 (MyEsUtil.scala:25 terms agg with
    * avg sub-agg, ordered, size-capped). The average is computed as an
    * EXACT decimal sum divided by count so the result is bit-identical
    * across engines (double summation order would not be). */
  def brandAvgTopN(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_brand")
      .agg(
        (sum(col("p_retailprice").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("avg_price"),
        count(lit(1)).as("n_parts"))
      .orderBy(col("avg_price").asc, col("p_brand").asc)
      .limit(10)

  // ---------------------------------------------------------------- S5
  /** Filtered search — reference S5's demo bool query (MyEsUtil.scala:30-34:
    * RangeQueryBuilder(doubanScore).gte(8).lte(10) + MatchQueryBuilder on a
    * text field), the hit-returning half of the ES surface (the agg half is
    * brandAvgTopN). Here: retail-price range + substring match on p_name,
    * hits in deterministic order. Both predicates reach the parquet scan
    * (PushedFilters: GreaterThanOrEqual/LessThanOrEqual + StringContains)
    * so at 100 TB this is row-group-skipped, never a full scan + filter. */
  def searchFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .where(col("p_retailprice") >= 905 && col("p_retailprice") <= 915 &&
        col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_retailprice"))
      .orderBy(col("p_partkey"))

  // ---------------------------------------------------------------- L4
  /** Pagination — reference L4 (dw-chart/.../IndexController.java:79-107):
    * startpage/size over a sorted detail listing. Total-ordered sort with a
    * unique tiebreak, then offset+limit. */
  def pagination(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(20)
      .limit(10)

  // ---------------------------------------------------------------- P10
  /** Generator / 1→N flatten — reference P10 Canal array unwrap
    * (ods/OdsGmallCanal.scala:44-50): one CDC envelope holds an array of
    * rows, flattened with explode (Spark's Generator — no custom UDTF
    * needed). Modeled as sequence+explode so DuckDB can oracle it. */
  def explodeArray(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_linenumber") <= 7)
      .select(col("l_orderkey"), col("l_linenumber"),
        explode(sequence(lit(1L), col("l_linenumber").cast("long"))).as("n"))
      .orderBy("l_orderkey", "l_linenumber", "n")

  // ---------------------------------------------------------------- J semi/anti
  /** Left-semi join (EXISTS): orders that have at least one returned line
    * item. SURVEY §2.4 notes the reference never needed semi/anti —
    * Catalyst supplies them free; exposed here as engine surface. */
  def ordersWithReturns(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val returned = Tables.lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(returned, o("o_orderkey") === returned("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Left-anti join (NOT EXISTS): customers who never placed an URGENT
    * order. */
  def customersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Full-outer join: reconcile the event calendar against the order
    * calendar — days with activity but no orders surface null n_orders,
    * order days outside the event window surface null dau. Both sides
    * pre-aggregate to day grain BEFORE the join (day-count-sized inputs),
    * so the full-outer shuffle is trivially small at any corpus scale —
    * the pattern for reconciliation joins: aggregate first, outer-join
    * the summaries, never full-outer raw facts. */
  def dailyReconcile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(count_distinct(col("user_id")).as("dau"))
    val o = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d2"))
      .agg(count(lit(1)).as("n_orders"))
    e.join(o, col("d") === col("d2"), "full")
      .select(coalesce(col("d"), col("d2")).as("day"), col("dau"), col("n_orders"))
      .orderBy("day")
  }

  // ---------------------------------------------------------------- funnel
  /** Conversion funnel: of the users who signed up on day D, how many
    * purchased within 7 days of THAT signup — an equi join on user plus an
    * event-time range condition (the funnel/range-join shape the serving
    * layer's product questions need). Whole-second timestamps so ns-vs-µs
    * precision can't flip the boundary. */
  def conversionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val s = ev.where(col("event_type") === "signup")
      .select(col("user_id"), unix_timestamp(col("ts")).as("s_sec"),
        date_format(col("ts"), "yyyy-MM-dd").as("dt"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_timestamp(col("ts")).as("p_sec"))
    s.join(p,
        s("user_id") === p("p_user") && p("p_sec") >= s("s_sec") &&
          p("p_sec") < s("s_sec") + 604800L, "left")
      .groupBy("dt")
      .agg(count_distinct(col("user_id")).as("n_signup_users"),
        count_distinct(when(col("p_user").isNotNull, col("user_id"))).as("n_converted"))
      .orderBy("dt")
  }

  // ---------------------------------------------------------------- set ops
  /** Set operations: users who both purchased and clicked (INTERSECT) and
    * users who viewed but never purchased (EXCEPT). */
  def userSetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def usersOf(t: String) =
      ev.where(col("event_type") === t).select(col("user_id"))
    val both = usersOf("purchase").intersect(usersOf("click"))
      .withColumn("cohort", lit("purchase_and_click"))
    val viewedOnly = usersOf("view").except(usersOf("purchase"))
      .withColumn("cohort", lit("view_never_purchase"))
    both.unionAll(viewedOnly).orderBy("cohort", "user_id")
  }

  // ---------------------------------------------------------------- argmax agg
  /** Latest event per user via max_by (argmax) — the point-lookup shape
    * serving layers need ("what did this user do last"). event_id is the
    * unique arrival order, so the argmax is deterministic. */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max_by(col("event_type"), col("event_id")).as("last_event_type"),
        max(col("event_id")).as("last_event_id"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- pivot
  private val Hours: Seq[String] = (0 until 24).map(h => f"$h%02d")

  /** Hourly DAU as a pivoted matrix (dt × 24 hour columns) — the
    * dashboard-facing shape of A2/A3 (one row per day, one column per
    * hour). */
  def dauPivot(spark: SparkSession, dir: String): DataFrame =
    withDtHr(Tables.events(spark, dir))
      .groupBy("dt")
      .pivot("hr", Hours)
      .agg(count_distinct(col("user_id")))
      // pivot yields NULL for absent (dt, hr) cells; the oracle's
      // count FILTER yields 0 — align (bites on sparse days, e.g. sf0.001)
      .na.fill(0L, Hours)
      .orderBy("dt")

  /** Ordered array aggregation: each user's event-type sequence in event
    * order — the profile/sequence builder behind session models and
    * next-event training data. collect_list order is partition-dependent,
    * so the sequence is made deterministic by collecting (event_id, type)
    * structs and sorting by the unique id before projection; emitted as a
    * joined string so the verification hash is type-stable. One shuffle
    * on user_id; per-user arrays stay executor-side (no driver collect). */
  def eventProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("event_type")).as("_nn"),
        concat_ws(",",
          // field extraction via the codegen'd GetArrayStructFields path —
          // NOT transform(s -> s.getField(...)), which is an interpreted
          // HOF (the engine-wide no-HOF invariant; parity pinned in
          // VectorExprSpec against the lambda form)
          array_sort(collect_list(struct(col("event_id"), col("event_type"))))
            .getField("event_type")).as("_seq"))
      // concat_ws never returns null but DuckDB's string_agg is NULL when
      // zero non-null values exist — align the all-null-group edge
      .select(col("user_id"), col("n_events"),
        when(col("_nn") === 0, lit(null)).otherwise(col("_seq")).as("event_seq"))
      .orderBy("user_id")

  /** Unpivot (melt) — the inverse of dauPivot: the dt × 24-hour matrix
    * back to long (dt, hr, dau) rows via Dataset.unpivot, which plans as
    * a single Expand (one pass, no shuffle beyond the contract sort).
    * Round-trips dauPivot exactly, INCLUDING the zero-fill: absent
    * (dt, hr) cells come back as dau=0 rows, which is what the melted
    * form of a dense dashboard matrix means. */
  def dauUnpivot(spark: SparkSession, dir: String): DataFrame =
    dauPivot(spark, dir)
      .unpivot(Array(col("dt")), Hours.map(col(_)).toArray, "hr", "dau")
      .orderBy("dt", "hr")

  // ---------------------------------------------------------------- T2 batch
  /** Tumbling event-time windows in batch — the batch analog of the
    * reference's stream time windows (T2): 6-hour buckets of event volume
    * and distinct users via Spark's `window()` (epoch-aligned, same
    * arithmetic as the oracle's floor(epoch/21600)). */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .select(unix_timestamp(col("w.start")).as("bucket_start_sec"),
        col("n_events"), col("n_users"))
      .orderBy("bucket_start_sec")

  // ---------------------------------------------------------------- DauInfo
  /** The DauInfo serving document — reference bean (bean/DauInfo.scala:4-13)
    * built at app/DauApp.scala:115-125. Field quirks preserved exactly:
    * `ar` is populated with the MID, not the area (reference bug at
    * DauApp.scala:117), and `mi` is hardcoded "00" (:118). One doc per
    * (dt, mid) — the first-seen row (F3). */
  def dauInfo(spark: SparkSession, dir: String): DataFrame =
    firstSeenDf(withDtHr(Tables.events(spark, dir)))
      .select(
        col("user_id").cast("string").as("mid"),
        col("user_id").cast("string").as("uid"),
        col("user_id").cast("string").as("ar"), // reference bug: ar := mid
        col("first_event_type").as("ch"),
        lit("v1.0").as("vc"),
        col("dt"), col("first_hr").as("hr"),
        lit("00").as("mi"))
      .orderBy("dt", "mid")

  // ---------------------------------------------------------------- A1 at scale
  /** DAU with approx_count_distinct — the 100 TB form of A1: HyperLogLog++
    * sketches merge associatively across partitions, so the daily distinct
    * count needs no exact dedup shuffle of the full key space.
    *
    * REGISTERED FORM IS SELF-CHECKING: the estimate and the exact
    * count_distinct come out of ONE aggregation, and the output carries
    * the exact count plus `hll_ok` — the 4σ bound (rsd 0.02 → 8%
    * relative, 5 absolute slack for tiny days) folded into a boolean.
    * Every output column is deterministic, so the driver's hash gate
    * covers the sketch end-to-end (the DuckDB twin emits the exact count
    * and TRUE); an out-of-bound estimate flips the boolean and
    * hash-fails. The estimate-only production projection lives in
    * [[dauApproxEstimate]] (error-bounded in ScalaTest). */
  def dauApprox(spark: SparkSession, dir: String): DataFrame =
    withDtHr(Tables.events(spark, dir))
      .groupBy("dt")
      .agg(count_distinct(col("user_id")).as("dau_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("_est"))
      .select(col("dt"), col("dau_exact"),
        (abs(col("_est") - col("dau_exact")).cast("double") <=
          greatest(col("dau_exact").cast("double") * 0.08, lit(5.0)))
          .as("hll_ok"))
      .orderBy("dt")

  /** The estimate-only production projection of [[dauApprox]] — what a
    * 100 TB run would actually emit (no exact twin computed). */
  def dauApproxEstimate(spark: SparkSession, dir: String): DataFrame =
    withDtHr(Tables.events(spark, dir))
      .groupBy("dt")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("dau_approx"))
      .orderBy("dt")

  /** Mergeable-sketch DAU rollup — the pattern that makes distinct counts
    * tractable at 100 TB: each day aggregates its users into a DataSketches
    * HLL binary ONCE (per-partition partials, merged associatively), the
    * sketches are STORED as data, and any coarser rollup (month here) is a
    * union of stored sketches — no re-scan of raw events, which is the
    * whole point when a month of raw events is petabytes but 30 sketches
    * are kilobytes. `approx_count_distinct` (q_dau_approx) can't do this:
    * its HLL++ buffer isn't exposed as a value. Emits both grains so the
    * spec can check day estimates AND that the month estimate came from the
    * union path. Spark-only (sketch binaries have no DuckDB twin);
    * HllSketchSpec pins estimates against exact distincts.
    *
    * DELIBERATELY kept on the repo gate's BOUNDED check (the one
    * remaining no_oracle row) rather than restructured into a
    * self-checking exact+boolean form like q_dau_approx: the operator's
    * entire reason to exist is that the month rollup unions STORED day
    * sketches without rescanning raw events — computing the exact month
    * distinct in-query to verify it would re-scan exactly what the
    * pattern avoids, distorting the production shape the bench measures.
    * The gate still hard-fails estimates outside 4σ of the DuckDB exact
    * answers (tools/check.py; planted both directions in
    * tools/test_check.py). */
  def dauSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val daySk = withDtHr(Tables.events(spark, dir))
      .groupBy("dt")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .cache() // reused by both grains; in production this frame is the
               // STORED per-day sketch table, written once per day
    val days = daySk.select(lit("day").as("grain"), col("dt").as("key"),
      hll_sketch_estimate(col("sk")).as("uniques"))
    val month = daySk
      .groupBy(substring(col("dt"), 1, 7).as("key"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("uniques"))
      .select(lit("month").as("grain"), col("key"), col("uniques"))
    days.unionByName(month).orderBy("grain", "key")
  }

  // ---------------------------------------------------------------- W1
  /** Ranked top-N per group — the analytic-window extension SURVEY §2.6
    * flags (the reference's serving layer fakes top-N with agg size caps):
    * top-3 parts by price within each brand via row_number. */
  def topPerBrand(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    Tables.part(spark, dir)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("p_brand"), col("rk").cast("long").as("rk"), col("p_partkey"), col("p_name"),
        col("p_retailprice"))
      .orderBy("p_brand", "rk")
  }

  // ---------------------------------------------------------------- W2
  /** A3 rewritten with lag(): the hourly curve with yesterday's value as
    * an analytic window over (hr PARTITION, day ORDER) — same result as
    * the self-join form, one shuffle fewer. */
  def dauDayOverDayWindow(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), date_format(col("ts"), "HH").as("hr"),
        col("user_id"))
      .groupBy("d", "hr")
      .agg(count_distinct(col("user_id")).as("dau"))
    val w = Window.partitionBy(col("hr")).orderBy(col("d"))
    hourly
      .withColumn("prev_d", lag(col("d"), 1).over(w))
      .withColumn("prev_dau", lag(col("dau"), 1).over(w))
      .select(date_format(col("d"), "yyyy-MM-dd").as("dt"), col("hr"), col("dau"),
        // only count yesterday if it is literally d-1 (gaps break the lag)
        when(col("prev_d") === date_sub(col("d"), 1), col("prev_dau")).as("dau_yd"))
      .orderBy("dt", "hr")
  }

  // ---------------------------------------------------------------- A6
  /** Hierarchical totals via ROLLUP — beyond-reference agg coverage with
    * exact decimal sums (grouping-set parity with DuckDB). */
  def salesRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  // ---------------------------------------------------------------- P8
  /** Record → JSON string — reference P8 (fastjson toJSONString at
    * DwdOrderInfoApp.scala:125): `to_json(struct(...))`. Long/string
    * fields only so the compact JSON text is byte-identical to DuckDB's
    * to_json(struct_pack(...)). */
  def beanToJson(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))).as("json"))
      .orderBy("o_orderkey")

  // ---------------------------------------------------------------- SQL surface
  /** The engine's ANSI SQL endpoint: same query text runs verbatim on
    * Spark (here) and DuckDB (oracle). */
  def sqlPricingSummary(spark: SparkSession, dir: String): DataFrame = {
    graft.Catalog.registerAll(spark, dir)
    spark.sql(graft.SqlQueries.PricingSummary)
  }

  def sqlShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    graft.Catalog.registerAll(spark, dir)
    spark.sql(graft.SqlQueries.ShippingPriority)
  }

  def sqlLocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    graft.Catalog.registerAll(spark, dir)
    spark.sql(graft.SqlQueries.LocalSupplierVolume)
  }

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    Entry("q_bean_to_json", beanToJson, Some(
      """SELECT o_orderkey,
                to_json(struct_pack(o_orderkey := o_orderkey,
                                    o_orderstatus := o_orderstatus,
                                    o_orderpriority := o_orderpriority)) AS json
         FROM orders ORDER BY o_orderkey""")),
    Entry("q_sql_pricing", sqlPricingSummary,
      Some(graft.SqlQueries.PricingSummary)),
    Entry("q_sql_shipping", sqlShippingPriority,
      Some(graft.SqlQueries.ShippingPriority)),
    Entry("q_sql_volume", sqlLocalSupplierVolume,
      Some(graft.SqlQueries.LocalSupplierVolume)),
    Entry("q_dau_info", dauInfo, Some(
      """WITH fs AS (
           SELECT strftime(ts, '%Y-%m-%d') AS dt, user_id,
                  event_type, strftime(ts, '%H') AS hr
           FROM events
           QUALIFY row_number() OVER (
             PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
             ORDER BY event_id) = 1)
         SELECT CAST(user_id AS VARCHAR) AS mid,
                CAST(user_id AS VARCHAR) AS uid,
                CAST(user_id AS VARCHAR) AS ar,
                event_type AS ch, 'v1.0' AS vc, dt, hr, '00' AS mi
         FROM fs ORDER BY dt, mid""")),
    Entry("q_top_per_brand", topPerBrand, Some(
      """SELECT p_brand, rk, p_partkey, p_name, p_retailprice FROM (
           SELECT p_brand, p_partkey, p_name, p_retailprice,
                  row_number() OVER (PARTITION BY p_brand
                    ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
           FROM part)
         WHERE rk <= 3 ORDER BY p_brand, rk""")),
    Entry("q_dau_dod_window", dauDayOverDayWindow, Some(
      """WITH h AS (
           SELECT CAST(ts AS DATE) AS d, strftime(ts, '%H') AS hr,
                  count(DISTINCT user_id) AS dau
           FROM events GROUP BY d, hr),
         lagged AS (
           SELECT d, hr, dau,
                  lag(d) OVER (PARTITION BY hr ORDER BY d) AS prev_d,
                  lag(dau) OVER (PARTITION BY hr ORDER BY d) AS prev_dau
           FROM h)
         SELECT strftime(d, '%Y-%m-%d') AS dt, hr, dau,
                CASE WHEN prev_d = d - 1 THEN prev_dau END AS dau_yd
         FROM lagged ORDER BY 1, 2""")),
    Entry("q_sales_rollup", salesRollup, Some(
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),
    Entry("q_dau_total", dauTotal, Some(
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, count(DISTINCT user_id) AS dau
         FROM events GROUP BY dt ORDER BY dt""")),
    // the sketch's exact twin + the in-bound boolean: DuckDB computes the
    // exact count and asserts TRUE — a Spark estimate outside the folded
    // 4σ bound flips hll_ok and hash-fails the gate
    Entry("q_dau_approx", dauApprox, Some(
      """SELECT strftime(ts, '%Y-%m-%d') AS dt,
                count(DISTINCT user_id) AS dau_exact, TRUE AS hll_ok
         FROM events GROUP BY dt ORDER BY dt""")),
    // estimate only: the q_ form adds the exact distinct shuffle that
    // checks the sketch, the work the production path exists to avoid
    Entry("x_dau_approx_est", dauApproxEstimate),
    Entry("q_dau_sketch_rollup", dauSketchRollup),
    Entry("q_dau_hourly", dauHourly, Some(
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, strftime(ts, '%H') AS hr,
                count(DISTINCT user_id) AS dau
         FROM events GROUP BY dt, hr ORDER BY dt, hr""")),
    Entry("q_dau_dod", dauDayOverDay, Some(
      """WITH h AS (
           SELECT CAST(ts AS DATE) AS d, strftime(ts, '%H') AS hr,
                  count(DISTINCT user_id) AS dau
           FROM events GROUP BY d, hr)
         SELECT strftime(t.d, '%Y-%m-%d') AS dt, t.hr AS hr, t.dau AS dau,
                y.dau AS dau_yd
         FROM h t LEFT JOIN h y ON y.d = t.d - 1 AND y.hr = t.hr
         ORDER BY 1, 2""")),
    Entry("q_first_seen", firstSeen, Some(
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, user_id,
                event_id AS first_event_id, event_type AS first_event_type,
                strftime(ts, '%H') AS first_hr
         FROM events
         QUALIFY row_number() OVER (
           PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
           ORDER BY event_id) = 1
         ORDER BY dt, user_id""")),
    Entry("q_cdc_route", cdcRoute, Some(
      """WITH m AS (
           SELECT event_id,
                  CASE event_type WHEN 'purchase' THEN 'order_info'
                                  WHEN 'view' THEN 'order_detail'
                                  WHEN 'click' THEN 'base_province'
                                  WHEN 'signup' THEN 'user_info'
                                  ELSE 'other_table' END AS table_name,
                  CASE CAST(json_extract_string(props, '$.k') AS INTEGER) % 4
                       WHEN 0 THEN 'insert' WHEN 1 THEN 'update'
                       WHEN 2 THEN 'delete' ELSE 'bootstrap-insert' END AS op
           FROM events)
         SELECT event_id, table_name, op,
                'ODS_MM_' || upper(table_name) AS topic
         FROM m
         WHERE op IS NOT NULL AND (
               (table_name = 'order_info' AND op = 'insert')
            OR (table_name = 'order_detail' AND op = 'insert')
            OR (table_name = 'base_province' AND (op = 'insert' OR op = 'update') OR op = 'bootstrap-insert')
            OR (table_name = 'user_info' AND (op = 'insert' OR op = 'update') OR op = 'bootstrap-insert'))
         ORDER BY event_id""")),
    Entry("q_order_enrich", orderEnrich, Some(
      """SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
                strftime(o.o_orderdate, '%Y-%m-%d') AS dt,
                c.c_name, c.c_mktsegment, n.n_name, r.r_name
         FROM orders o
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
         ORDER BY o.o_orderkey""")),
    Entry("q_snowflake", snowflake, Some(
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_quantity,
                l.l_extendedprice, p.p_name, p.p_brand, p.p_type,
                s.s_name, n.n_name, r.r_name
         FROM lineitem l
         LEFT JOIN part p ON l.l_partkey = p.p_partkey
         LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
         LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
         LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
         ORDER BY l.l_orderkey, l.l_linenumber""")),
    Entry("q_order_wide", orderWide, Some(
      """SELECT o.o_orderkey AS order_id, l.l_linenumber AS detail_id,
                o.o_custkey AS user_id, o.o_orderstatus AS order_status,
                o.o_totalprice AS final_total_amount,
                strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
                l.l_partkey AS sku_id, l.l_quantity AS sku_num,
                l.l_extendedprice AS order_price, l.l_discount AS discount
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         ORDER BY order_id, detail_id""")),
    Entry("q_semi_join", ordersWithReturns, Some(
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
         ORDER BY o_orderkey""")),
    Entry("q_anti_join", customersNoOrders, Some(
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""")),
    Entry("q_full_outer", dailyReconcile, Some(
      """WITH e AS (
           SELECT strftime(ts, '%Y-%m-%d') AS d, count(DISTINCT user_id) AS dau
           FROM events GROUP BY 1),
         o AS (
           SELECT strftime(o_orderdate, '%Y-%m-%d') AS d2, count(*) AS n_orders
           FROM orders GROUP BY 1)
         SELECT COALESCE(d, d2) AS day, dau, n_orders
         FROM e FULL OUTER JOIN o ON d = d2
         ORDER BY day""")),
    Entry("q_funnel", conversionFunnel, Some(
      """WITH s AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s_sec,
                  strftime(ts, '%Y-%m-%d') AS dt
           FROM events WHERE event_type = 'signup'),
         p AS (
           SELECT user_id AS p_user, CAST(floor(epoch(ts)) AS BIGINT) AS p_sec
           FROM events WHERE event_type = 'purchase')
         SELECT dt, count(DISTINCT user_id) AS n_signup_users,
                count(DISTINCT CASE WHEN p_user IS NOT NULL THEN user_id END) AS n_converted
         FROM s LEFT JOIN p
           ON s.user_id = p.p_user AND p.p_sec >= s.s_sec
          AND p.p_sec < s.s_sec + 604800
         GROUP BY dt ORDER BY dt""")),
    Entry("q_set_ops", userSetOps, Some(
      """SELECT user_id, 'purchase_and_click' AS cohort FROM (
           SELECT user_id FROM events WHERE event_type = 'purchase'
           INTERSECT
           SELECT user_id FROM events WHERE event_type = 'click')
         UNION ALL
         SELECT user_id, 'view_never_purchase' AS cohort FROM (
           SELECT user_id FROM events WHERE event_type = 'view'
           EXCEPT
           SELECT user_id FROM events WHERE event_type = 'purchase')
         ORDER BY cohort, user_id""")),
    Entry("q_latest_event", latestEventPerUser, Some(
      """SELECT user_id, arg_max(event_type, event_id) AS last_event_type,
                max(event_id) AS last_event_id, count(*) AS n_events
         FROM events GROUP BY user_id ORDER BY user_id""")),
    Entry("q_dau_pivot", dauPivot, Some(
      "SELECT strftime(ts, '%Y-%m-%d') AS dt, " +
        (0 until 24).map(h =>
          f"count(DISTINCT user_id) FILTER (WHERE strftime(ts, '%%H') = '$h%02d') AS " + "\"" + f"$h%02d" + "\"")
          .mkString(", ") +
        " FROM events GROUP BY dt ORDER BY dt")),
    Entry("q_event_profile", eventProfile, Some(
      """SELECT user_id, count(*) AS n_events,
                string_agg(event_type, ',' ORDER BY event_id) AS event_seq
         FROM events GROUP BY user_id ORDER BY user_id""")),
    // the melted matrix == dense (day × hour) grid of hourly DAU, 0-filled
    Entry("q_dau_unpivot", dauUnpivot, Some(
      """WITH days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS dt FROM events),
         hrs AS (SELECT printf('%02d', h) AS hr FROM generate_series(0, 23) t(h)),
         hourly AS (
           SELECT strftime(ts, '%Y-%m-%d') AS dt, strftime(ts, '%H') AS hr,
                  count(DISTINCT user_id) AS dau
           FROM events GROUP BY 1, 2)
         SELECT d.dt, h.hr, COALESCE(y.dau, 0) AS dau
         FROM days d CROSS JOIN hrs h
         LEFT JOIN hourly y ON y.dt = d.dt AND y.hr = h.hr
         ORDER BY d.dt, h.hr""")),
    Entry("q_tumbling_window", tumblingWindow, Some(
      """SELECT CAST(floor(floor(epoch(ts)) / 21600) * 21600 AS BIGINT) AS bucket_start_sec,
                count(*) AS n_events, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1""")),
    Entry("q_order_wide_full", orderWideFull, Some(
      """SELECT o.o_orderkey AS order_id, l.l_linenumber AS detail_id,
                o.o_custkey AS user_id, o.o_orderstatus AS order_status,
                o.o_totalprice AS final_total_amount,
                strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
                strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
                strftime(o.o_orderdate, '%H') AS create_hour,
                o.o_orderpriority AS order_priority,
                l.l_partkey AS sku_id, l.l_quantity AS sku_num,
                l.l_extendedprice AS order_price,
                l.l_discount AS discount, l.l_tax AS tax,
                l.l_returnflag AS return_flag, l.l_linestatus AS line_status,
                strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date,
                c.c_name AS user_name, c.c_mktsegment AS user_segment,
                c.c_acctbal AS user_acctbal,
                n.n_name AS province_name, r.r_name AS region_name,
                p.p_name AS sku_name, p.p_brand AS tm_name,
                p.p_type AS category3_name, p.p_size AS sku_size,
                p.p_retailprice AS sku_price
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
         LEFT JOIN part p ON l.l_partkey = p.p_partkey
         ORDER BY order_id, detail_id, sku_id""")),
    Entry("q_age_bucket", ageBucket, Some(
      """SELECT c_custkey, c_name,
                CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN '女' ELSE '男' END AS gender,
                CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN '永远18岁'
                     WHEN c_acctbal <= 1800 THEN '少年'
                     WHEN c_acctbal <= 4000 THEN '青年'
                     ELSE '老年' END AS age_group
         FROM customer ORDER BY c_custkey""")),
    Entry("q_brand_avg_topn", brandAvgTopN, Some(
      """SELECT p_brand,
                CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                  / count(*) AS avg_price,
                count(*) AS n_parts
         FROM part GROUP BY p_brand
         ORDER BY avg_price ASC, p_brand ASC LIMIT 10""")),
    Entry("q_search_filter", searchFilter, Some(
      """SELECT p_partkey, p_name, p_brand, p_retailprice
         FROM part
         WHERE p_retailprice BETWEEN 905 AND 915
           AND contains(p_name, 'red')
         ORDER BY p_partkey""")),
    Entry("q_pagination", pagination, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
         LIMIT 10 OFFSET 20""")),
    Entry("q_explode", explodeArray, Some(
      """SELECT l_orderkey, l_linenumber, unnest(generate_series(1, l_linenumber)) AS n
         FROM lineitem WHERE l_linenumber <= 7
         ORDER BY l_orderkey, l_linenumber, n""")),
  )
}
