package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * One function per table; every operator takes `(SparkSession, sfDir)` and
  * loads through here so the scan is always a plain parquet read that
  * Catalyst can push filters/pruning into. Every table read in the
  * operators and the serving daemon goes through [[read]].
  *
  * The one thing cached here is each path's inferred SCHEMA. A plain
  * `spark.read.parquet(path)` infers it by running a one-task Spark job
  * that reads a footer — on every query construction and every dashboard
  * request, though the files have not changed. [[read]] remembers, per
  * session and path, the schema Spark inferred, keyed on what the
  * inference reads: the path's recursive file listing (each file's path,
  * length and mtime) and the session's SQL conf (nanosAsLong,
  * inferTimestampNTZ and the other inference settings). A later read with
  * the same key passes that schema to `spark.read.schema(...)`, which
  * runs no job; any other read is the plain read, whose schema replaces
  * the entry. A schema is thus served only for the exact files and
  * settings it was inferred from, and never a stale one. The scan itself,
  * its file index and its data are never cached.
  */
object Tables {
  /** A schema and the listing + conf it was inferred under. */
  private final case class Inferred(key: (Map[String, String], Seq[(String, Long, Long)]),
      schema: StructType)

  /** Per session (weak keys, so a finished session's entries go with it),
    * one entry per path. */
  private val inferred = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Inferred]]())

  /** The recursive leaf listing of `path` as (path, length, mtime), sorted;
    * None when it cannot be listed (a missing path, or a glob, which Hadoop
    * lists literally) — the plain read then raises what Spark raises. */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new Path(path)
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val b = Vector.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(b.result().sorted)
    } catch { case NonFatal(_) => None }

  /** The one parquet table read. A miss is the plain `spark.read.parquet`
    * (same errors, same frame); only a successful inference is memoised.
    * The key is taken BEFORE the inference, so files that change during it
    * can only make the entry miss later, never serve their old schema. The
    * inference runs outside any map's mapping function: Verify and
    * ServeMain read concurrently. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val memo = inferred.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Inferred]())
    val key = listing(spark, path).map(files => (spark.conf.getAll, files))
    Option(memo.get(path)).filter(e => key.contains(e.key)) match {
      case Some(e) => spark.read.schema(e.schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => memo.put(path, Inferred(k, df.schema)))
        df
    }
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  /** events.ts has shipped in two parquet flavors across driver rounds —
    * TIMESTAMP(NANOS) (readable only as epoch-nanos long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which GraftSession sets
    * for every session; harmless for the other flavors) and, since round
    * 6, TIMESTAMP(MICROS) NTZ. This reader normalizes every flavor to the
    * same surface:
    *
    *   - `ts`     — tz-aware TimestampType (UTC session pinned)
    *   - `ts_ns`  — epoch nanoseconds long (ordering/arithmetic column)
    *
    * Both columns are DERIVED in the non-long flavors, so a range filter
    * placed on them after this reader cannot reach the parquet scan. For
    * day/range scans use [[eventsInRange]], which applies the predicate
    * to the PHYSICAL column per flavor before normalizing. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw =
      try t(spark, dir, "events")
      catch {
        case e: Throwable if String.valueOf(e.getMessage).contains("NANOS") =>
          throw new IllegalStateException(
            "events.parquet uses TIMESTAMP(NANOS): set " +
              "spark.sql.legacy.parquet.nanosAsLong=true when BUILDING the " +
              "session (GraftSession.build does) — Tables.events no longer " +
              "sets it for you", e)
      }
    normalizeEvents(spark, raw)
  }

  /** The flavor normalization of [[events]], exposed for any frame with the
    * raw events schema (e.g. a streaming file source reading the same
    * parquet — batch/streaming consistency comes from sharing THIS code). */
  private[graft] def normalizeEvents(
      spark: SparkSession, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long testdata
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ micro parquet (round-6 testdata; DuckDB and most non-Spark
        // writers). The NTZ→TZ cast reinterprets wall-clock values in the
        // SESSION timezone — instant-preserving only under the engine's
        // pinned UTC, so fail loudly on a misconfigured session rather
        // than silently shifting every event.
        require(spark.conf.get("spark.sql.session.timeZone", "") == "UTC",
          "events.parquet has TIMESTAMP_NTZ ts: set " +
            "spark.sql.session.timeZone=UTC (GraftSession does) — a " +
            "non-UTC session would shift every event by the local offset")
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000)
      case org.apache.spark.sql.types.TimestampType =>
        // tz-aware micro-precision parquet (isAdjustedToUTC=true)
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000)
      case other =>
        // FLAVOR TRIPWIRE: the driver has already shipped two physical
        // flavors in 7 rounds (NANOS-as-long through round 5; MICROS NTZ
        // since round 6). A THIRD flavor must fail HERE with an
        // actionable message, not be silently mis-normalized by a
        // catch-all — every reader funnels through this function, so this
        // is the single choke point to extend when it fires.
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other — supported " +
            "flavors: LongType (TIMESTAMP(NANOS) under nanosAsLong), " +
            "TimestampNTZType (MICROS NTZ), TimestampType (MICROS " +
            "tz-aware). A new driver corpus flavor needs an explicit " +
            "branch in Tables.normalizeEvents AND Tables.eventsInRange.")
    }
  }

  /** [[events]] restricted to `[startEpochSec, endEpochSec)` with the range
    * predicate applied to the PHYSICAL ts column BEFORE normalization, per
    * flavor — the only formulation that reaches the parquet scan for
    * row-group min/max skipping in every flavor. (`ts_ns` is physical only
    * in the nanos-long flavor; in the NTZ flavor it is derived and a
    * predicate on it scans everything — the 100 TB serving-window mistake
    * this helper exists to prevent.) Output schema is identical to
    * [[events]]. */
  def eventsInRange(spark: SparkSession, dir: String,
      startEpochSec: Long, endEpochSec: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = t(spark, dir, "events")
    val pred = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") >= startEpochSec * 1000000000L &&
          col("ts") < endEpochSec * 1000000000L
      case org.apache.spark.sql.types.TimestampNTZType =>
        def ntz(sec: Long) = lit(java.time.LocalDateTime
          .ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC))
        col("ts") >= ntz(startEpochSec) && col("ts") < ntz(endEpochSec)
      case org.apache.spark.sql.types.TimestampType =>
        col("ts") >= timestamp_seconds(lit(startEpochSec)) &&
          col("ts") < timestamp_seconds(lit(endEpochSec))
      case other => // see the normalizeEvents tripwire — same contract
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other — extend " +
            "Tables.eventsInRange alongside Tables.normalizeEvents")
    }
    normalizeEvents(spark, raw.where(pred))
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
