package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Entry, Tables}

/** Scale patterns as reusable operators.
  *
  * AQE handles moderate skew automatically (split oversized partitions of
  * a shuffle join); `saltedJoin` is the explicit form for pathological
  * keys — the classic hot-key fix at 1000-executor scale, here as a
  * semantics-preserving rewrite.
  *
  * `overwriteByPartition` is the idempotent sink the reference got from
  * ES doc-id upserts (K1) and Phoenix keyed upserts (K4): replaying a
  * batch replaces exactly the partitions it touches, so at-least-once
  * delivery upstream still yields exactly-once table state.
  */
object ScaleOps {

  /** Inner equi-join with the left side's hot keys salted across
    * `saltFactor` sub-keys and the right side replicated per salt.
    * Produces exactly the rows of `left.join(right, leftKey === rightKey)`
    * — the salt only changes the partitioning of the shuffle. The salt is
    * derived deterministically from the whole left row so plans stay
    * reproducible. */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, saltFactor: Int): DataFrame = {
    require(!left.columns.contains("_salt") && !right.columns.contains("_salt"),
      "saltedJoin reserves the column name '_salt'; rename it on the inputs")
    val salted = left.withColumn("_salt",
      pmod(xxhash64(struct(left.columns.toIndexedSeq.map(col): _*)), lit(saltFactor)))
    val replicated = right
      .withColumn("_salt", explode(sequence(lit(0L), lit(saltFactor - 1L))))
    salted
      .join(replicated,
        salted(leftKey) === replicated(rightKey) &&
          salted("_salt") === replicated("_salt"),
        "inner")
      .drop("_salt")
  }

  /** Write `df` as a bucketed+sorted managed table: rows are hash-bucketed
    * by the join key at WRITE time, so every later equi-join or aggregation
    * on that key runs with zero shuffle (Catalyst sees the bucketing as a
    * satisfied distribution requirement). The 100 TB pattern for fact
    * tables that are joined on the same key every day. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Sort-on-write for scan-time row-group skipping: a global
    * repartitionByRange + sortWithinPartitions on the filter column
    * before the parquet write, so every row group's min/max stats span a
    * narrow, non-overlapping range. A later range predicate on that
    * column (e.g. the serving layer's one-day windows) then skips whole
    * row groups at the footer — the same PushedFilters that full-scan an
    * unsorted layout become actual IO elimination. The 100 TB layout
    * rule for any column the workload range-filters on; the range
    * repartition is one shuffle at write time, paid once, saved every
    * read. */
  def writeSorted(df: DataFrame, sortCol: String, path: String,
      partitions: Int = 0): Unit = {
    val ranged =
      if (partitions > 0) df.repartitionByRange(partitions, col(sortCol))
      else df.repartitionByRange(col(sortCol))
    ranged.sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)
  }

  /** Bits per dimension in [[zvalue]] — 16 bits each interleave into a
    * 32-bit z, leaving lots of ANSI-mode headroom in the long. */
  val ZBits = 16

  /** Morton (z-order) value of two dimensions: bit i of `x` lands at
    * position 2i, bit i of `y` at 2i+1, so the 1-D sort order visits the
    * (x, y) plane in a locality-preserving curve. Inputs are masked to
    * [[ZBits]] bits (callers bucket/rank real columns into that range
    * first). Pure integer shifts/masks — the DuckDB twin evaluates the
    * same 32 terms bit-identically, so z-order layout gets an
    * oracle-checked query, not just a spec.
    *
    * Why it matters at 100 TB: sort-on-write by ONE column (writeSorted)
    * gives row-group skipping on that column and nothing else — a query
    * filtering the OTHER dimension full-scans. Sorting by the z-value
    * gives BOTH dimensions bounded min/max ranges per row group (each row
    * group is a rectangle on the curve), so range predicates on either
    * column skip at the footer. The standard layout for fact tables with
    * two independent filter dimensions (user × time here). */
  def zvalue(x: Column, y: Column): Column = {
    val xm = x.bitwiseAND(lit((1L << ZBits) - 1))
    val ym = y.bitwiseAND(lit((1L << ZBits) - 1))
    (0 until ZBits).map { i =>
      shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _) // disjoint bit positions: sum == bitwise OR
  }

  /** Z-order-on-write: range-partition + sort by the interleaved z-value
    * of two filter dimensions, then write parquet. One write-time shuffle
    * (same cost as writeSorted) buys footer-level skipping on BOTH
    * columns. */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String, path: String,
      partitions: Int = 0): Unit = {
    require(!df.columns.contains("_z"),
      "writeZOrdered reserves the column name '_z'; rename it on the input")
    val z = df.withColumn("_z", zvalue(col(xCol), col(yCol)))
    val ranged =
      if (partitions > 0) z.repartitionByRange(partitions, col("_z"))
      else z.repartitionByRange(col("_z"))
    ranged.sortWithinPartitions("_z")
      .drop("_z") // the curve ordered the rows; the value itself is derivable
      .write.mode("overwrite").parquet(path)
  }

  /** Idempotent dt-partitioned parquet sink: dynamic partition overwrite
    * replaces only the partitions present in `df`. Replaying the same
    * batch is a no-op state-wise; other partitions are untouched. */
  def overwriteByPartition(df: DataFrame, partitionCol: String,
      path: String): Unit =
    // per-WRITE option, not the session conf: setting the conf would
    // silently turn every later overwrite in the session dynamic
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** The z-value computation as an oracle-checked query: Morton codes of
    * (user_id, epoch-second) over the events table — the ordering key
    * writeZOrdered sorts by. Dimensions are masked to [[ZBits]] bits, all
    * arithmetic is integer shifts/adds (bit-identical in any engine);
    * ZOrderSpec carries the layout claim (bounded per-row-group ranges in
    * BOTH dimensions), this query pins the curve math. */
  def zorderValues(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        zvalue(col("user_id"), expr("ts_ns DIV 1000000000")).as("zval"))
      .transform(ContractSort.exchanged(_, "event_id"))

  /** Join-key skew profile: the heaviest keys of a fact-side join column
    * and their share of the table — the diagnostic that decides between a
    * plain shuffle join, AQE skew splitting, and [[saltedJoin]] BEFORE the
    * job runs at 100 TB (a 5% key means one reducer gets 5% of the table).
    * One map-side-partial groupBy on the key; the total rides along as a
    * broadcast single-row frame (never a window-over-everything, which
    * would funnel all keys through one partition). Share is a pure
    * int-division double — bit-identical across engines. */
  def joinKeyProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val counts = li.groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("n"))
    val total = li.agg(count(lit(1)).as("t"))
    counts.crossJoin(broadcast(total))
      .select(col("key"), col("n"),
        (col("n").cast("double") / col("t")).as("share"))
      .orderBy(col("n").desc, col("key"))
      .limit(20)
  }

  /** MERGE INTO emulation for formats without a transactional merge
    * (plain parquet here; the reference's Phoenix/ES sinks merged by
    * primary key on write — K1/K4). `changes` carries full rows plus an
    * `_op` column: "U" upserts (update when the key matches, insert when
    * it doesn't), "D" deletes.
    *
    * Shape: result = (target ANTI-JOIN touched keys) ∪ upsert rows — one
    * left-anti hash join on the key plus a union, never a full-outer
    * row-compare. The anti join shuffles on the merge key exactly once
    * and the union is free (no dedup needed: a key is either kept-as-was
    * OR replaced). Combine with [[overwriteByPartition]] to write the
    * result back idempotently. */
  def mergeInto(target: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val touched = changes.select(col(key))
    target.join(touched, Seq(key), "left_anti")
      .unionByName(changes.where(col("_op") === "U").drop("_op"))
  }

  /** [[mergeInto]] as an oracle-checked query: a deterministic change
    * batch against `orders` (keys ≡3 mod 100 → status update to 'X',
    * ≡7 → delete, ≡11 → a NEW key at +10⁹ with that row's payload),
    * merged and fully emitted. The oracle replays the same anti-join ∪
    * upserts algebra in SQL. */
  def mergeOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val base = o.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    val updates = base.where(col("o_orderkey") % 100 === 3)
      .withColumn("o_orderstatus", lit("X")).withColumn("_op", lit("U"))
    val deletes = base.where(col("o_orderkey") % 100 === 7)
      .withColumn("_op", lit("D"))
    val inserts = base.where(col("o_orderkey") % 100 === 11)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
      .withColumn("_op", lit("U"))
    mergeInto(base, updates.unionByName(deletes).unionByName(inserts),
      "o_orderkey")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .orderBy("o_orderkey")
  }

  /** Snapshot diff (change-data-feed emulation): classify every key as
    * Insert / Update / Delete / unchanged between two table versions and
    * emit only the changes — what downstream incremental consumers need
    * when the source can't produce a CDC stream itself (the inverse of
    * [[mergeInto]]). One full-outer hash join on the key; the "new"
    * snapshot here is the same deterministic mutation as
    * [[mergeOrders]], so diff(old, merge(old)) must be exactly the
    * change batch — the spec asserts that round trip. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val n = mergeOrders(spark, dir).select(
      col("o_orderkey").as("n_key"), col("o_orderstatus").as("new_status"))
    o.join(n, col("o_orderkey") === col("n_key"), "full_outer")
      .withColumn("change",
        when(col("o_orderkey").isNull, "I")
          .when(col("n_key").isNull, "D")
          .when(col("o_orderstatus") =!= col("new_status"), "U"))
      .where(col("change").isNotNull)
      .select(coalesce(col("o_orderkey"), col("n_key")).as("key"),
        col("change"), col("o_orderstatus").as("old_status"), col("new_status"))
      .orderBy("key")
  }

  /** GENERATED from the same ZBits constant as [[zvalue]] so the 32 bit
    * terms can't drift from the Spark expression. */
  private val ZOrderSql: String = {
    val mask = (1L << ZBits) - 1
    val terms = (0 until ZBits).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString("\n                + ")
    s"""WITH b AS (
           SELECT event_id,
                  user_id & $mask AS x,
                  (epoch_ns(ts) // 1000000000) & $mask AS y
           FROM events)
         SELECT event_id,
                $terms AS zval
         FROM b ORDER BY event_id"""
  }

  /** The deterministic merge result as plain SQL — shared CTE prefix for
    * the merge and diff oracles. */
  private val MergedOrdersSql: String =
    """WITH base AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
         FROM orders),
       up AS (
         SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice, o_orderdate
         FROM base WHERE o_orderkey % 100 = 3),
       ins AS (
         SELECT o_orderkey + 1000000000 AS o_orderkey, o_orderstatus,
                o_totalprice, o_orderdate
         FROM base WHERE o_orderkey % 100 = 11),
       touched AS (
         SELECT o_orderkey FROM base WHERE o_orderkey % 100 IN (3, 7)
         UNION ALL
         SELECT o_orderkey + 1000000000 FROM base WHERE o_orderkey % 100 = 11),
       kept AS (
         SELECT * FROM base
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched)),
       merged AS (
         SELECT * FROM kept UNION ALL SELECT * FROM up
         UNION ALL SELECT * FROM ins)"""

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    Entry("q_merge_orders", mergeOrders, Some(
      s"""$MergedOrdersSql
         SELECT o_orderkey, o_orderstatus, o_totalprice,
                strftime(o_orderdate, '%Y-%m-%d') AS o_date
         FROM merged ORDER BY o_orderkey""")),
    Entry("q_snapshot_diff", snapshotDiff, Some(
      s"""$MergedOrdersSql,
         old AS (SELECT o_orderkey, o_orderstatus FROM orders),
         d AS (
           SELECT coalesce(old.o_orderkey, m.o_orderkey) AS key,
                  CASE WHEN old.o_orderkey IS NULL THEN 'I'
                       WHEN m.o_orderkey IS NULL THEN 'D'
                       WHEN old.o_orderstatus <> m.o_orderstatus THEN 'U'
                  END AS change,
                  old.o_orderstatus AS old_status,
                  m.o_orderstatus AS new_status
           FROM old FULL OUTER JOIN merged m
             ON old.o_orderkey = m.o_orderkey)
         SELECT key, change, old_status, new_status
         FROM d WHERE change IS NOT NULL ORDER BY key""")),
    Entry("q_zorder", zorderValues, Some(ZOrderSql)),
    Entry("q_skew_profile", joinKeyProfile, Some(
      """SELECT key, n, CAST(n AS DOUBLE) / t AS share
         FROM (SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1)
         CROSS JOIN (SELECT count(*) AS t FROM lineitem)
         ORDER BY n DESC, key LIMIT 20""")),
  )
}
