package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Budget-safe by construction: oracle_sql.json is written BEFORE the query
  * loop (it depends on nothing the loop computes), so an external kill at any
  * point leaves a *partial* correctness gate — every per-query parquet already
  * on disk still gets checked. Round 4 lost all 100+ finished results because
  * the oracle file was written last and the kill landed first.
  */
object Verify {
  /** Queries in flight at once; each retires its own caches when done. */
  private val Threads = 4

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Serializes result PUBLICATION (delete-old + atomic rename) against
    * the shutdown sweep: the hook flips [[closing]] under this lock, so
    * an in-flight publish completes before the sweep and no publish
    * starts after it — without it a TERM landing between a finished tmp
    * write and its rename let the sweep delete part-files out from
    * under the rename (publishing a TORN dir: the exact false-FAIL this
    * machinery exists to prevent), and a kill inside delete-then-move
    * could erase a previous good result. */
  private val publishLock = new Object
  @volatile private var closing = false

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // a TERM-kill mid-write must not leave .tmp_* dirs for the gate's
    // dir enumeration to trip over (SIGKILL can; check.py also skips
    // dot-prefixed names as defense in depth)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      publishLock.synchronized {
        closing = true
        Option(new java.io.File(outDir).listFiles()).foreach(_.foreach { f =>
          if (f.getName.startsWith(".tmp_")) deleteRecursively(f)
        })
      }))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", "graft-verify", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // startup sweep of STALE .tmp_* dirs from a previous run: a SIGKILL
    // (shutdown hook never runs) or a Spark write completing after the
    // TERM sweep can leave one behind; check.py skips dot-prefixed names
    // so the gate is safe, but the torn parquet data would persist on
    // disk until that query happens to overwrite it (ADVICE r10)
    Option(new java.io.File(outDir).listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith(".tmp_")) deleteRecursively(f)
    })
    // iteration aid, mirroring Bench's SPARK_GRAFT_BENCH_ONLY
    val only = SparkEntry.only("SPARK_GRAFT_VERIFY_ONLY", SparkEntry.queries.keySet)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // fast queries first, known-slow ones last (kill-cost minimization)
    val ordered = SparkEntry.runOrder(
      SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) })
    val pool = Executors.newFixedThreadPool(Threads)
    ordered.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val q0 = System.nanoTime()
          try {
            // write to a dot-prefixed temp dir, rename on success: an
            // external kill mid-write then leaves the query MISSING from
            // the partial gate rather than present-but-empty (a torn dir
            // reads as a FAILED query to check.py — the t=35 s kill drill
            // showed 2 such false fails). rename(2) on one filesystem is
            // atomic; check.py ignores dot-prefixed names.
            val tmp = s"$outDir/.tmp_$name"
            val df = fn(spark, sfDir)
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            publishLock.synchronized {
              if (!closing) {
                deleteRecursively(new java.io.File(s"$outDir/$name"))
                Files.move(Paths.get(tmp), Paths.get(s"$outDir/$name"),
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              }
            }
            // retire THIS query's caches now that its output is published
            // (a global clearCache would yank frames concurrent siblings
            // are mid-scan on), keeping the entries a sibling may share.
            // Best-effort and after the publish: a retire failure must
            // never drop a finished result.
            try org.apache.spark.sql.graftext.CacheRetire.retire(df, keepEntries = true)
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name cache retire failed: ${e.getMessage}")
            }
            // per-query wall time (under concurrency it includes slot
            // contention — a triage signal, not a benchmark; Bench owns
            // the real numbers)
            System.err.println(
              f"[verify] $name ok in ${(System.nanoTime() - q0) / 1e9}%.1fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(7, TimeUnit.DAYS)
    // storage watermark at end of run — with per-query retirement this
    // should be ~0 regardless of registry size (triage signal for cache
    // leaks as the registry grows; the driver ignores stderr)
    val storage = spark.sparkContext.getRDDStorageInfo
    System.err.println(
      f"[verify] cached RDDs at end: ${storage.length}%d, " +
        f"mem ${storage.map(_.memSize).sum / 1e6}%.1f MB, " +
        f"disk ${storage.map(_.diskSize).sum / 1e6}%.1f MB")
    spark.stop()
  }
}
