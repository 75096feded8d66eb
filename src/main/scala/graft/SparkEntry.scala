package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnalyticOps, CoreOps, DedupOps, GraphOps, MultimodalOps, PipelineOps, ScaleOps, ServingOps, SimilarityOps, TextOps}

/** One registered query (`q_` name) or bench-only alias (`x_` name): its
  * run function on (session, sf dir) and, when the query is
  * SQL-expressible, its DuckDB twin. Column names and aliases match
  * between the two: the oracle gate compares hashed values under sorted
  * column names. Each family object lists its own in `entries`. */
final case class Entry(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** The query registry — see SURVEY.md §7. Every map here is derived from
  * the families' [[Entry]] lists, which name each query once. */
object SparkEntry {
  type Run = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Hourly DAU: the reference's signature pipeline
    * (ingest → derive dt/hr → dedup → agg), SURVEY.md §7.2. */
  def entry(spark: SparkSession): DataFrame =
    CoreOps.dauHourly(spark, "/root/testdata/sf0.001")

  /** Every registered query and bench alias, family by family. */
  lazy val entries: Seq[Entry] =
    CoreOps.entries ++ TextOps.entries ++ DedupOps.entries ++
      SimilarityOps.entries ++ MultimodalOps.entries ++ ServingOps.entries ++
      PipelineOps.entries ++ AnalyticOps.entries ++ ScaleOps.entries ++
      GraphOps.entries

  /** `es` keyed by name; a duplicate name is an error (a `Map` built from
    * pairs would silently keep the last). */
  private[graft] def byName(es: Seq[Entry]): Map[String, Entry] = {
    val dups = es.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate entry names: ${dups.toSeq.sorted.mkString(", ")}")
    es.map(e => e.name -> e).toMap
  }

  private lazy val named = byName(entries)

  private def runs(prefix: String): Map[String, Run] =
    named.collect { case (n, e) if n.startsWith(prefix) => n -> e.run }

  /** The registry: every `q_` entry. Verify runs these, and the oracle
    * gate compares their results against [[oracleSql]]. */
  lazy val queries: Map[String, Run] = runs("q_")

  /** Bench-only aliases: every `x_` entry. These are production fast paths
    * (engine-native xxhash64, K=256 codebooks, 48-merge BPE, fixed
    * reference slices, estimate-only sketches) with no DuckDB twin, so
    * Bench times them and PlanLintSpec lints them, but Verify and the
    * oracle gate never see them. */
  lazy val benchExtras: Map[String, Run] = runs("x_")

  /** The DuckDB twin of every entry that has one, keyed by name. */
  lazy val oracleSql: Map[String, String] =
    named.collect { case (n, Entry(_, _, Some(sql))) => n -> sql }

  /** Queries measured slowest at sf0.01 (multi-action sketch/graph plans).
    * [[runOrder]] schedules these LAST so an external budget kill
    * costs the fewest measurements — the many fast queries all land before
    * the first slow one starts. This cross-family schedule is the one
    * place outside an entry that spells registered names. */
  val knownSlow: Seq[String] = Seq(
    // multi-action / cached multi-stage queries: cheap in a healthy window
    // but the first to balloon when the host degrades (sketch head-fetches,
    // shared cached frames) — run them after the single-plan majority
    "q_heavy_hitters_cms", "q_minhash_oracle", "q_dedup_report", "q_funnel",
    "q_copurchase_lift", "q_containment", "q_contamination_bloom",
    // the measured-slowest tail (iterative / trained / many-exchange)
    // q_simhash: 1.7 s standalone, but its md5 + 63-way bit-agg pipeline
    // took round 7's largest in-run inflation (9.4 s) — exactly the
    // multi-stage shape that balloons first when the host degrades
    "q_retention", "q_semdedup", "q_semdedup_scaled", "q_minhash_lsh",
    "q_lsh_recall", "q_lsh_tuning", "q_simhash", "q_simhash_clusters",
    "q_contrastive_pairs",
    // not intrinsically slow, but their in-run/standalone ratio exceeded
    // 3x twice across rounds (host-degradation magnets: many-exchange
    // broadcast-join pipelines) — run them in the slow tail so a sys-CPU
    // storm lands on one measurement, not the middle of the fast sweep
    "q_order_wide_full", "q_cdc_route",
    "q_snap_neardup", "q_ann_bruteforce",
    "q_pagerank", "q_bpe_train", "q_bpe_encode", "q_bpe_fertility",
    "q_ann_lsh", "q_dup_components",
    "q_curation", "q_ann_pq", "q_dup_canon", "q_ann_ivf", "q_ann_ivfpq",
    "q_ivf_stats", "q_ann_recall", "q_ivfpq_recall",
    // round-10 iterative / multi-stage additions: the PCA power loop,
    // the two-index drift audit, the shared-flags funnel, and the
    // 48-merge trainer (the biggest driver-loop host-degradation magnet)
    "q_embed_pca", "q_embed_project", "q_index_drift", "q_curation_funnel",
    // continuation-wave multi-stage additions: the minhash verified-chain
    // rollups and the 3-geometry trainer sweeps (3 trainings each — the
    // q_pq_tuning M=8 leg is the slowest new entry at 100x)
    "q_source_overlap", "q_split_leakage", "q_kmeans_tuning", "q_pq_tuning",
    "q_ivf_probe_tuning", "q_dedup_tau_sweep",
    // bench-only fast-path aliases: same multi-stage dedup shapes as their
    // q_ twins (Verify never sees these names; only Bench ordering does)
    "x_minhash_lsh_fast", "x_simhash_fast", "x_source_overlap_fast",
    "x_ann_pq256", "x_ann_ivfpq256", "x_bigram_lm_fixedref",
    "x_bpe_encode_big", "x_chunk_scrub_fast",
    "x_contamination_pairs_fixedeval")

  /** `runs` in run order: the fast entries first by name, then the
    * [[knownSlow]] tail in its order. Bench and Verify both schedule by
    * it. */
  def runOrder[A](runs: Map[String, A]): Seq[(String, A)] =
    runs.toSeq.sortBy { case (n, _) => (knownSlow.indexOf(n), n) }

  /** The comma-separated names in env var `knob` (an iteration aid), or
    * None when it is unset. An empty list or a name outside `known` is an
    * error, so a typo cannot silently shrink a run to nothing. */
  def only(knob: String, known: Set[String],
      env: Map[String, String] = sys.env): Option[Set[String]] =
    env.get(knob).map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty, s"$knob is set but empty: it would select nothing")
      val unknown = names -- known
      require(unknown.isEmpty,
        s"$knob names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }
}
