package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** [[Tables.read]] infers a path's schema once per session and serves it
  * again only for the same files and the same SQL conf: repeat reads run
  * no Spark job, and every change to the files or the settings re-infers. */
class TableReadSpec extends SparkTestBase {

  /** Spark jobs started on this thread while `body` runs (the footer job
    * of a schema inference runs on the caller's thread, so a job group
    * tells it from any other suite's work). */
  private def jobsDuring[T](s: SparkSession)(body: => T): (T, Int) = {
    val group = s"table-read-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TableReadSpec")
    try {
      val out = body
      // the listener bus is asynchronous: wait until every event posted
      // so far has been delivered before reading the count
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
      (out, n.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def tmpDir(): String = Files.createTempDirectory("graft_read_").toString

  test("a second q_order_enrich construction starts no Spark job") {
    val q = SparkEntry.queries("q_order_enrich")
    val (first, jobs1) = jobsDuring(spark)(q(spark, sf0001))
    val (second, jobs2) = jobsDuring(spark)(q(spark, sf0001))
    assert(jobs2 == 0, s"second construction ran $jobs2 jobs (first ran $jobs1)")
    assert(second.schema == first.schema)
    assert(second.collect().toSeq == first.collect().toSeq)
  }

  test("a file added to a table dir between two reads is counted") {
    import spark.implicits._
    val p = s"${tmpDir()}/t.parquet"
    Seq(1L, 2L, 3L).toDF("x").write.parquet(p)
    assert(Tables.read(spark, p).count() == 3)
    val (_, hitJobs) = jobsDuring(spark)(Tables.read(spark, p))
    assert(hitJobs == 0, "an unchanged table must not re-infer")
    Seq(4L, 5L).toDF("x").write.mode("append").parquet(p)
    assert(Tables.read(spark, p).count() == 5)
  }

  test("a partitioned append re-infers and reads the new partition") {
    import spark.implicits._
    val p = s"${tmpDir()}/lists"
    Seq((1L, 0), (2L, 1)).toDF("id", "cl").write.partitionBy("cl").parquet(p)
    val before = Tables.read(spark, p)
    assert(jobsDuring(spark)(Tables.read(spark, p))._2 == 0)
    Seq((3L, 2)).toDF("id", "cl").write.mode("append").partitionBy("cl").parquet(p)
    val after = Tables.read(spark, p)
    val plain = spark.read.parquet(p)
    assert(after.schema == plain.schema && before.schema == plain.schema)
    assert(after.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq)
    assert(after.count() == 3)
    // a memoised read of a partitioned table is the inferred one
    val hit = Tables.read(spark, p)
    assert(hit.schema == plain.schema)
    assert(hit.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq)
  }

  test("a path overwritten with a different schema reads the new schema") {
    import spark.implicits._
    val p = s"${tmpDir()}/t.parquet"
    Seq(1, 2).toDF("a").write.parquet(p)
    assert(Tables.read(spark, p).columns.toSeq == Seq("a"))
    Seq(("x", 7L)).toDF("b", "c").write.mode("overwrite").parquet(p)
    val df = Tables.read(spark, p)
    assert(df.schema == spark.read.parquet(p).schema)
    assert(df.columns.toSeq == Seq("b", "c"))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("x", 7L)))
  }

  test("a missing path and an empty dir fail as a plain read does, then recover") {
    import spark.implicits._
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    val missing = s"${tmpDir()}/absent.parquet"
    val empty = Files.createDirectories(
      java.nio.file.Paths.get(tmpDir(), "empty.parquet")).toString
    for (p <- Seq(missing, empty); _ <- 1 to 2) // a failure is not memoised
      assert(condition(Tables.read(spark, p)) == condition(spark.read.parquet(p)))
    assert(condition(Tables.read(spark, missing)) == "PATH_NOT_FOUND")
    assert(condition(Tables.read(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
    Seq(1L, 2L).toDF("x").write.parquet(missing)
    Seq(3L).toDF("x").write.mode("overwrite").parquet(empty)
    assert(Tables.read(spark, missing).count() == 2)
    assert(Tables.read(spark, empty).count() == 1)
  }

  test("an inference setting changed at runtime re-infers") {
    // Spark-written files carry their Spark schema in the footer, which
    // inference prefers over settings like binaryAsString; the testdata
    // events file is not Spark-written, and its MICROS ts column infers as
    // TIMESTAMP_NTZ or TIMESTAMP by spark.sql.parquet.inferTimestampNTZ.enabled
    val s = spark.newSession() // its own conf: the shared session stays untouched
    val p = s"${tmpDir()}/events.parquet"
    Files.createDirectories(java.nio.file.Paths.get(p))
    Files.copy(java.nio.file.Paths.get(sf0001, "events.parquet"),
      java.nio.file.Paths.get(p, "part-0.parquet"))
    assert(Tables.read(s, p).schema("ts").dataType == TimestampNTZType)
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = Tables.read(s, p)
    val plain = s.read.parquet(p)
    assert(plain.schema("ts").dataType == TimestampType)
    assert(df.schema == plain.schema)
    assert(df.collect().toSeq == plain.collect().toSeq)
  }

  test("a new session infers on its own") {
    import spark.implicits._
    val p = s"${tmpDir()}/t.parquet"
    Seq(1L).toDF("x").write.parquet(p)
    Tables.read(spark, p)
    assert(jobsDuring(spark)(Tables.read(spark, p))._2 == 0)
    val s = spark.newSession()
    assert(jobsDuring(s)(Tables.read(s, p))._2 > 0, "a new session starts empty")
    assert(jobsDuring(s)(Tables.read(s, p))._2 == 0)
  }
}
