package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnalyticOps, CoreOps, DedupOps, GraphOps, MultimodalOps, PipelineOps, ScaleOps, ServingOps, SimilarityOps, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator registry (one entry per implemented
  * operator from SURVEY.md §2 + the training-data-pipeline extensions);
  * `oracleSql` carries the DuckDB-equivalent ANSI SQL for every
  * SQL-expressible query. Column names/aliases match between the two —
  * the driver's compare hashes values under sorted column names.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Hourly DAU: the reference's signature pipeline
    * (ingest → derive dt/hr → dedup → agg), SURVEY.md §7.2. */
  def entry(spark: SparkSession): DataFrame =
    CoreOps.dauHourly(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreOps.queries ++ TextOps.queries ++ DedupOps.queries ++
      SimilarityOps.queries ++ MultimodalOps.queries ++ ServingOps.queries ++
      PipelineOps.queries ++ AnalyticOps.queries ++ ScaleOps.queries ++
      GraphOps.queries

  /** Queries measured slowest at sf0.01 (multi-action sketch/graph plans).
    * Both gate harnesses schedule these LAST so an external budget kill
    * costs the fewest measurements — the many fast queries all land before
    * the first slow one starts. Shared here so Verify and Bench can't
    * drift apart. */
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

  /** BENCH-ONLY aliases: the xxhash64 production fast paths of the
    * near-dup operators. The registered `q_minhash_lsh` / `q_simhash`
    * run md5-portable hashes so DuckDB can replay them end-to-end (the
    * driver-oracle requirement); these variants swap in engine-native
    * hashing — the shape a 100 TB run would actually deploy — and have
    * no DuckDB twin by construction, so they live OUTSIDE `queries`:
    * Bench times them every round (the at-scale perf signal), Verify
    * and the driver oracle never see them, PlanLintSpec lints them,
    * DedupSpec pins their semantics on planted fixtures. Keys are
    * `x_`-prefixed so a registry/alias collision is impossible by
    * construction (RegistrySpec asserts disjointness anyway). */
  def benchExtras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_minhash_lsh_fast" -> ((s, d) => DedupOps.minhashLshFast(s, d)),
    "x_source_overlap_fast" -> ((s, d) => DedupOps.sourceOverlapFast(s, d)),
    "x_simhash_fast" -> ((s, d) => DedupOps.simhashPairsFast(s, d)),
    // x_semdedup_scaled RETIRED in round 10: the corpus-scaled shape is
    // now the REGISTERED q_semdedup_scaled (dynamic-K oracle), and at
    // bench scale (n=9600 > the TwoLevelK switch) the alias ran the
    // byte-identical two-level dataflow — timing the same heavy query
    // twice in the slow tail for zero extra signal.
    // production K=256 PQ codebook (registered q_ann_pq pins K=16 for its
    // unrolled DuckDB training CTE) — the NearestCode headroom, measured
    "x_ann_pq256" -> ((s, d) => SimilarityOps.annPqProduction(s, d)),
    // production K=256 residual codebook for the IVFADC index (registered
    // q_ann_ivfpq pins K=16 for the same unrolled-CTE reason)
    "x_ann_ivfpq256" -> ((s, d) => SimilarityOps.annIvfPqProduction(s, d)),
    // fixed-reference bigram LM: trains on the UNREPLICATED reference
    // slice — the production shape (fixed reference, growing corpus) the
    // registered query's N× slope can't show because make_scaled
    // replicates the reference too; row-identical to q_bigram_lm on any
    // unreplicated corpus (spec-pinned)
    "x_bigram_lm_fixedref" -> ((s, d) => TextOps.bigramLmFixedRef(s, d)),
    // production-depth tokenizer round-trip: 48 learned merges applied as
    // a codegen'd chained-replace encode (registered q_bpe_encode pins 3
    // merges for the unrolled DuckDB training CTE)
    "x_bpe_encode_big" -> ((s, d) => TextOps.bpeEncodeBig(s, d)),
    // xxhash64 chunk fingerprints for the substring-dedup apply step
    // (registered q_chunk_scrub keeps md5 for the DuckDB replay)
    "x_chunk_scrub_fast" -> ((s, d) => PipelineOps.chunkScrubFast(s, d)),
    // fixed-eval contamination attribution: eval = the unreplicated base
    // slice — the production shape (MB eval, growing train) that the
    // replicate-everything scaled corpora can't show on the q_ name
    "x_contamination_pairs_fixedeval" ->
      ((s, d) => DedupOps.contaminationPairsFixedEval(s, d)),
    // xxhash64 binary-asset dedup (registered q_mm_dedup keeps md5 for
    // the DuckDB replay); group structure spec-pinned identical
    "x_mm_dedup_fast" -> ((s, d) => MultimodalOps.assetDedupFast(s, d)),
    // xxhash64 token bucketing for the CLIP-filter alignment (registered
    // q_mm_align keeps the md5 chain for the DuckDB replay); pair-set +
    // asset-side quantization spec-pinned identical across the hash pair
    "x_mm_align_fast" -> ((s, d) => MultimodalOps.crossModalAlignFast(s, d)),
    // estimate-only sketch projections — the shapes a 100 TB run deploys.
    // Since r15 the REGISTERED q_ forms fold exact-answer verification
    // into their output (so the hash gate covers the sketches), which
    // adds exactly the work the production paths exist to avoid (an
    // exact distinct shuffle / exact token counts / a rank-check second
    // pass) — these aliases keep the undistorted timings on the record
    "x_dau_approx_est" -> ((s, d) => CoreOps.dauApproxEstimate(s, d)),
    "x_heavy_hitters_cms_est" ->
      ((s, d) => TextOps.heavyHittersCmsEstimate(s, d)),
    "x_len_quantiles_est" ->
      ((s, d) => PipelineOps.lengthQuantilesApproxValues(s, d)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreOps.oracleSql ++ TextOps.oracleSql ++ DedupOps.oracleSql ++
      SimilarityOps.oracleSql ++ MultimodalOps.oracleSql ++ ServingOps.oracleSql ++
      PipelineOps.oracleSql ++ AnalyticOps.oracleSql ++ ScaleOps.oracleSql ++
      GraphOps.oracleSql
}
