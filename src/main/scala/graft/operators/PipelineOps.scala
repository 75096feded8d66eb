package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Entry, Tables}

/** Training-data pipeline operators beyond dedup/similarity: event
  * sessionization, text scrubbing, corpus statistics, and deterministic
  * dataset splitting. All single-shuffle, oracle-checkable designs.
  */
object PipelineOps {

  /** Session gap threshold (seconds). */
  private val SessionGap = 1800L

  /** Sessionization: split each user's event stream into sessions at
    * >30-minute gaps — lag + running sum of boundary flags, the canonical
    * two-window formulation (one shuffle on user_id; both windows share
    * the same partitioning so Catalyst plans a single sort+exchange).
    * Timestamps are truncated to whole epoch seconds so nanosecond (DuckDB)
    * vs microsecond (Spark) precision cannot flip a boundary. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val flagged = ev
      .withColumn("prev_sec", lag(col("sec"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > SessionGap, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy("user_id", "session_idx")
      .agg(min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_idx")
  }

  /** Scrubbing: mask digit runs (the PII-redaction shape — phone numbers,
    * ids) in the raw event payload. Pure regexp_replace, fully map-side. */
  def scrubPayload(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "#").as("props_scrubbed"))
      .orderBy("event_id")

  /** Corpus length statistics per language: exact interpolated quantiles
    * (Spark `percentile` and DuckDB `quantile_cont` share the (n−1)p
    * linear-interpolation definition). */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")

  /** The capstone curation gate: every doc gets a keep/drop verdict with a
    * reason BITMASK composed from the individual filter operators —
    * bit 0 quality fail (TextOps.qualityScore criteria), bit 1 high
    * repetition (dup-3-gram fraction > 0.2), bit 2 boilerplate
    * (TextOps.boilerplate criteria), bit 3 eval-set contamination
    * (> 10% shingle overlap with src0), bit 4 exact duplicate (not the
    * lowest doc_id of its md5 group). keep = flags == 0.
    *
    * Scale shape: the quality/repetition flags are pure map-side staged
    * projections; boilerplate and contamination are the same
    * shingle-grain aggregations as their standalone operators (shuffles
    * on doc_id); the exact-dup flag is one window over the content hash.
    * Everything joins back on doc_id — at 100 TB this is a handful of
    * doc-grain hash joins, each input already doc-sized, not
    * shingle-sized. The flags compose in ONE pass over the corpus rather
    * than five separate filter jobs — the point of an engine, not a
    * script pile. */
  def curation(spark: SparkSession, dir: String): DataFrame =
    curationFlags(spark, dir)
      .withColumn("keep", col("flags") === 0L)
      .orderBy("doc_id")

  /** The per-doc (doc_id, source, flags) frame shared by [[curation]]
    * (which reports it) and [[curationFunnel]] (which waterfall-orders
    * it). */
  private def curationFlags(spark: SparkSession, dir: String): DataFrame = {
    // Since round 11 every TEXT-LEVEL flag computes once per DISTINCT
    // text and attaches to docs by fingerprint join (the near-dup
    // family's content-grain move): quality, repetition, and
    // boilerplate are pure functions of the text; contamination is a
    // function of the text given the src0 eval shingle set; and the
    // exact-dup bit IS the per-fingerprint min-doc_id — it falls out of
    // the fingerprint rollup instead of needing a corpus window. On a
    // replica-heavy corpus the gate's aggregation work shrinks from
    // corpus-sized to distinct-content-sized; output is unchanged (one
    // fp per doc, every doc flagged exactly once).
    val docs = Tables.documents(spark, dir)
    val fpd = docs.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .cache() // the doc-grain attach side of every flag join
    val grp = docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("text")).as("text"), min(col("doc_id")).as("min_id"),
        max(when(col("source") === "src0", 1).otherwise(0)).as("has_eval"),
        max(when(col("source") =!= "src0", 1).otherwise(0)).as("has_train"))
      .cache() // map flags + shingle explode + dup-min attach
    // map-side flags from TextOps' shared stats + criteria — ONE
    // definition each with q_text_quality / q_repetition, so the bits
    // can't drift from the standalone operators (the helper's doc_id
    // key column carries the fingerprint here; nothing computes on it)
    val mapFlags = TextOps.repetitionStats(
        grp.select(col("fp").as("doc_id"), col("text")))
      .select(col("doc_id").as("fp"),
        (!TextOps.qualityOk(col("n_tokens"), col("n_distinct_tokens"),
          col("n_stopwords"))).as("f_quality"),
        TextOps.isRepetitive(col("n_grams"), col("n_distinct_grams"))
          .as("f_repeat"))
    // ONE per-distinct-text shingle explode feeds both shingle-grain
    // flags: boilerplate needs multiplicity, contamination the distinct
    // set derived from it
    val shM = DedupOps.fpShinglesAll(grp, "fp")
      .cache()
    val boiler = TextOps.boilerplateStats(shM.select(col("fp").as("doc_id"),
        col("shingle")))
      .select(col("doc_id").as("b_fp"),
        TextOps.isBoilerplate(col("max_rep"), col("n_shingles")).as("f_boiler"))
    // contamination at fp grain: the eval shingle set is the distinct
    // shingles of fps carrying any src0 doc; train-side stats cover fps
    // carrying any non-src0 doc (a text published under both sources
    // self-contaminates — identical to the doc-grain behavior). The
    // flag applies only to non-src0 DOCS at attach time, exactly like
    // the doc-grain form that never scored eval docs.
    val shD = shM.distinct()
      .cache() // feeds the eval-set build AND the train-side overlap join
    val evalSh = shD.join(grp.where(col("has_eval") === 1).select("fp"), Seq("fp"))
      .select("shingle").distinct().withColumn("hit", lit(1))
    val contam = shD
      .join(grp.where(col("has_train") === 1).select("fp"), Seq("fp"))
      .join(broadcast(evalSh), Seq("shingle"), "left")
      .groupBy("fp")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
      .select(col("fp").as("c_fp"),
        (col("n_shared").cast("double") / col("n_shingles") > 0.1).as("f_contam"))
    val flags =
      when(col("f_quality"), 1L).otherwise(0L) +
      when(col("f_repeat"), 2L).otherwise(0L) +
      when(coalesce(col("f_boiler"), lit(false)), 4L).otherwise(0L) +
      when(col("source") =!= "src0" &&
        coalesce(col("f_contam"), lit(false)), 8L).otherwise(0L) +
      when(col("doc_id") =!= col("min_id"), 16L).otherwise(0L)
    fpd
      .join(mapFlags, Seq("fp"))
      .join(boiler, col("fp") === col("b_fp"), "left")
      .join(contam, col("fp") === col("c_fp"), "left")
      .join(grp.select(col("fp"), col("min_id")), Seq("fp"))
      .select(col("doc_id"), col("source"), flags.as("flags"))
  }

  /** CURATION FUNNEL — the "data removal rates" waterfall every dataset
    * paper publishes (RefinedWeb Fig. 2, Gopher Table A1, ...): the
    * [[curation]] gates applied in PIPELINE ORDER (exact dedup first —
    * cheapest and largest — then quality, repetition, boilerplate,
    * contamination), each stage reporting how many docs it saw, how many
    * it dropped (a doc charges the FIRST stage that fires on it, exactly
    * like a sequential pipeline), survivors, and the per-stage drop
    * rate. Same flag bits as q_curation — ONE definition, so the funnel
    * cannot disagree with the gate.
    *
    * Scale shape: all corpus-grain work is the shared flags frame; the
    * funnel itself is a first-firing-stage projection + a 5-key count
    * (map-side partials) + window arithmetic on the 5-row stage frame
    * (single-partition window on a BOUNDED literal frame — not a corpus
    * window). Total attaches as the 1-row broadcast scalar. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flagged = curationFlags(spark, dir)
    val first = when(col("flags").bitwiseAND(16L) =!= 0L, "1_exact_dup")
      .when(col("flags").bitwiseAND(1L) =!= 0L, "2_quality")
      .when(col("flags").bitwiseAND(2L) =!= 0L, "3_repetition")
      .when(col("flags").bitwiseAND(4L) =!= 0L, "4_boilerplate")
      .when(col("flags").bitwiseAND(8L) =!= 0L, "5_contamination")
    val drops = flagged.select(first.as("stage"))
      .where(col("stage").isNotNull)
      .groupBy("stage").agg(count(lit(1)).as("dropped"))
    val total = flagged.agg(count(lit(1)).as("n_total"))
    val stages = Seq("1_exact_dup", "2_quality", "3_repetition",
      "4_boilerplate", "5_contamination").toDF("stage")
    val w = org.apache.spark.sql.expressions.Window.orderBy("stage")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    stages.join(drops, Seq("stage"), "left")
      .select(col("stage"), coalesce(col("dropped"), lit(0L)).as("n_dropped"))
      .crossJoin(broadcast(total))
      .withColumn("n_in",
        col("n_total") - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .select(col("stage"), col("n_in"), col("n_dropped"),
        (col("n_in") - col("n_dropped")).as("n_out"),
        when(col("n_in") > 0L,
          col("n_dropped").cast("double") / col("n_in"))
          .otherwise(lit(0.0)).as("drop_frac"))
      .orderBy("stage")
  }

  /** The 100 TB form of lengthQuantiles: `percentile_approx` (KLL-style
    * mergeable sketch). Exact `percentile` buffers every value per group
    * on one reducer — fine at dashboard scale, fatal on a trillion rows;
    * the sketch is fixed-size per partition and merges map-side, so the
    * shuffle carries sketches, not data.
    *
    * REGISTERED FORM IS SELF-CHECKING: the returned quantile VALUES are
    * engine-specific (no DuckDB twin), but their RANKS are checkable
    * exactly — `pXX_ok` asserts the approx value's exact rank interval
    * [count(<v)+1, count(≤v)] overlaps (q ± 10ε)·n (ε = 1/accuracy =
    * 1e-4, the sketch's guarantee with 10× slack), computed by joining
    * the langs-sized approx frame back over the corpus (broadcast — one
    * extra scan, the price of verification). Every output column is
    * deterministic, so the driver's hash gate covers the sketch; a
    * rank-violating value flips the boolean and hash-fails. The
    * value-emitting production projection lives in
    * [[lengthQuantilesApproxValues]] (rank-error-bounded in ScalaTest). */
  def lengthQuantilesApprox(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("lang"), col("n_chars"))
    val appr = docs.groupBy("lang")
      .agg(
        expr("percentile_approx(n_chars, 0.5, 10000)").as("_p50"),
        expr("percentile_approx(n_chars, 0.9, 10000)").as("_p90"),
        count(lit(1)).as("n_docs"))
    val tol = 10 * 1.0e-4 // 10ε rank slack
    def ok(q: Double, le: Column, lt: Column): Column =
      le.cast("double") >= lit(q - tol) * col("n_docs") &&
        lt.cast("double") <= lit(q + tol) * col("n_docs")
    docs.join(broadcast(appr), Seq("lang"))
      .groupBy("lang")
      .agg(max(col("n_docs")).as("n_docs"),
        sum(when(col("n_chars") <= col("_p50"), 1L).otherwise(0L)).as("_le50"),
        sum(when(col("n_chars") < col("_p50"), 1L).otherwise(0L)).as("_lt50"),
        sum(when(col("n_chars") <= col("_p90"), 1L).otherwise(0L)).as("_le90"),
        sum(when(col("n_chars") < col("_p90"), 1L).otherwise(0L)).as("_lt90"))
      .select(col("lang"), col("n_docs"),
        ok(0.5, col("_le50"), col("_lt50")).as("p50_ok"),
        ok(0.9, col("_le90"), col("_lt90")).as("p90_ok"))
      .orderBy("lang")
  }

  /** The value-emitting production projection of [[lengthQuantilesApprox]]
    * — the per-lang approximate quantiles a 100 TB run would publish. */
  def lengthQuantilesApproxValues(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        expr("percentile_approx(n_chars, 0.5, 10000)").as("p50_approx"),
        expr("percentile_approx(n_chars, 0.9, 10000)").as("p90_approx"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")

  /** Sliding-window document chunking: split each doc into 50-token
    * chunks with 10-token overlap (40-token stride) — the
    * context-window preparation step for pretraining/RAG. Entirely
    * map-side: chunk starts come from a stride sequence over the token
    * array, each chunk is a slice, and only its fingerprint + counts are
    * emitted (chunk text re-derives from the source; shipping it would
    * multiply the corpus by the overlap factor). At 100 TB this is a
    * narrow explode whose output is ~n_tokens/stride rows per doc. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    docChunks(spark, dir)
      .transform(ContractSort.exchanged(_, "doc_id", "chunk_idx"))

  /** Chunk geometry shared by [[docChunks]], [[chunkScrub]] and the
    * chunk oracles. */
  private[operators] val ChunkTokens = 50
  private[operators] val ChunkStride = 40 // = ChunkTokens - 10 overlap

  /** [[chunkStarts]] as the DuckDB CTEs `s` (doc_id, t) and `st` (doc_id,
    * t, start_tok) every chunk oracle starts from. */
  private[operators] val chunkStartsSql: String =
    s"""s AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         st AS (
           SELECT doc_id, t, start_tok FROM (
             SELECT doc_id, t,
                    unnest(generate_series(1, len(t), $ChunkStride)) AS start_tok
             FROM s)
           WHERE start_tok = 1 OR start_tok + ${ChunkTokens - ChunkStride} <= len(t))"""

  /** The filtered (doc_id, t, start_tok) start frame every chunk view
    * derives from — one definition, so the fingerprint chain and the
    * scrub apply-step can't disagree on what a chunk is. */
  private def chunkStarts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")), lit(ChunkStride))).as("start_tok"))
      // a trailing start whose chunk would add <= overlap new tokens is
      // fully contained in the previous chunk — emitting it injects pure
      // duplicate content into the chunk stream, so drop it (the previous
      // chunk already covers through start+overlap-1 >= n)
      .where(col("start_tok") === 1 ||
        col("start_tok") + (ChunkTokens - ChunkStride) <= size(col("t")))

  /** The unordered chunk frame behind [[chunkDocs]] — also the input to
    * the cross-document repeated-chunk detection in [[DedupOps]]. */
  private[operators] def docChunks(spark: SparkSession, dir: String): DataFrame =
    chunkStarts(spark, dir)
      .select(col("doc_id"),
        ((col("start_tok") - 1) / ChunkStride).cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        slice(col("t"), col("start_tok"), lit(ChunkTokens)).as("c"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("c")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("c"))).as("chunk_fp"))

  /** SUBSTRING-DEDUP APPLY STEP — the action MassiveText/RefinedWeb take
    * after detection: rewrite each document with its repeated ≥50-token
    * spans REMOVED, keeping the globally-first occurrence ([[chunkDocs]]
    * detects; q_chunk_shared/q_chunk_dedup report; this one produces the
    * scrubbed corpus). An occurrence is a duplicate iff some occurrence
    * of the same chunk fingerprint exists at a strictly smaller
    * (doc_id, chunk_idx) — the same keep-first convention as every other
    * dedup apply in the engine (min-id canonicals), covering both the
    * cross-document case (doc B repeats doc A's passage) and the
    * intra-document case (a passage repeated later in the same doc).
    *
    * Reconstruction: overlapping chunks partition each document into
    * OWNED spans (a chunk owns its first stride's tokens; the last chunk
    * owns through end-of-doc — the trailing-start filter guarantees the
    * spans tile the token array exactly), so the scrubbed text is the
    * ordered concatenation of the kept chunks' owned spans. All native
    * exprs: array_sort(collect_list(struct))·getField·flatten — no
    * interpreted lambdas at corpus grain.
    *
    * Scale shape: canonical-per-fingerprint via groupBy-min (map-side
    * partial combine — a boilerplate chunk shared by 10⁶ docs is one
    * aggregate row, never a window partition), one fp-keyed join back
    * (1:1 row-preserving), one doc-grain aggregation to reassemble.
    * Output is corpus-sized by definition — it IS the scrubbed corpus. */
  def chunkScrub(spark: SparkSession, dir: String): DataFrame =
    chunkScrubWith(spark, dir, c => md5(c))

  /** PRODUCTION-HASH bench alias (`x_chunk_scrub_fast`): the same scrub
    * with xxhash64 chunk fingerprints — the engine-native hash a 100 TB
    * run deploys (the registered query keeps md5 so DuckDB can replay
    * the fingerprints; same trade as x_minhash_lsh_fast /
    * x_simhash_fast). Row-identical to [[chunkScrub]] on any
    * collision-free corpus (spec-pinned). */
  def chunkScrubFast(spark: SparkSession, dir: String): DataFrame =
    chunkScrubWith(spark, dir, c => xxhash64(c))

  private def chunkScrubWith(spark: SparkSession, dir: String,
      fp: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val chunks = chunkStarts(spark, dir)
      .select(col("doc_id"),
        ((col("start_tok") - 1) / ChunkStride).cast("long").as("chunk_idx"),
        fp(concat_ws(" ",
          slice(col("t"), col("start_tok"), lit(ChunkTokens)))).as("chunk_fp"),
        // owned span: my stride's tokens; as the last kept chunk (nothing
        // starts after me iff start+ChunkTokens > n), through end-of-doc
        slice(col("t"), col("start_tok"),
          when(col("start_tok") + ChunkTokens > size(col("t")),
            size(col("t")) - col("start_tok") + 1)
            .otherwise(lit(ChunkStride))).as("owned"))
    val canon = chunks.groupBy("chunk_fp")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("canon"))
    val marked = chunks.join(canon, Seq("chunk_fp"))
      .withColumn("is_dup",
        struct(col("doc_id"), col("chunk_idx")) =!= col("canon"))
    marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(size(col("owned")).cast("long")).as("n_tokens"),
        sum(when(!col("is_dup"), size(col("owned")).cast("long"))
          .otherwise(0L)).as("n_kept_tokens"),
        concat_ws(" ", flatten(
          array_sort(collect_list(when(!col("is_dup"),
            struct(col("chunk_idx"), col("owned")))))
            .getField("owned"))).as("scrub_text"))
      .orderBy("doc_id")
  }

  /** INTRA-document repetition dedup report — the within-doc half of the
    * substring-duplication story (q_chunk_shared is the cross-doc half):
    * per document, how many 50-token chunks repeat a chunk seen EARLIER
    * in the same document, and how many tokens that repetition covers —
    * the "remove repeated spans inside a document" step of substring
    * dedup (Lee et al. 2022 apply it within documents as well as
    * across). Keep-first semantics via a rank over (doc, fp): occurrence
    * 1 is the canonical, later ones are removable. One shuffle at the
    * (doc_id, chunk_fp) grain — chunk fingerprints never pair-join. The
    * driver corpus has few natural intra-doc repeats (dup columns are
    * honest zeros there); the semantics are carried by a planted
    * repeated-span spec. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "chunk_fp").orderBy("chunk_idx")
    docChunks(spark, dir)
      .withColumn("occ", row_number().over(w))
      .withColumn("is_dup", col("occ") > 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("is_dup"), col("n_chunk_tokens")).otherwise(0L))
          .as("dup_tokens"))
      .orderBy("doc_id")
  }

  /** Source-mixture rebalancing by sqrt temperature scaling — the
    * multilingual-corpus trick (keep probability ∝ sqrt(n_min/n_s)) that
    * upweights small sources without discarding most of the big ones.
    * Deterministic: the keep decision is a content-hash threshold
    * (floor(rate·10^6) per-mille-of-a-million buckets), so reruns and
    * engines agree doc-by-doc. sqrt and floor are IEEE-exact — no
    * transcendental drift against the oracle. Output is the per-source
    * audit (sizes, rate, kept count): the summary a curator checks
    * before materializing the resampled corpus; one doc-grain shuffle,
    * one source-grain aggregate. */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("n_min"))
    val rated = counts.crossJoin(broadcast(minN))
      .withColumn("rate", sqrt(col("n_min").cast("double") / col("n_docs")))
      .withColumn("threshold", floor(col("rate") * 1000000).cast("long"))
    docs
      .join(broadcast(rated.select("source", "rate", "threshold")), Seq("source"))
      .withColumn("kept", pmod(contentHash64, lit(1000000)) < col("threshold"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max(col("rate")).as("rate"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** 64-bit content hash (md5 first 8 hex chars): the ONE hash all
    * content-keyed assignments (split buckets, shards) derive from, so
    * they can never disagree on what "same content" means. */
  private def contentHash64: org.apache.spark.sql.Column =
    conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")

  /** Deterministic train/val/test split: content-hash bucket (mod 100) →
    * 80/10/10. Content-keyed so replicated documents always land in the
    * same split — the leakage-safe way to split a training corpus, and
    * fully reproducible across engines and runs. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = (contentHash64 % 100).as("bucket")
    Tables.documents(spark, dir)
      .select(col("doc_id"), bucket)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** Per-language mixture rates (per-mille) for stratified sampling — the
    * corpus-mixing knob of a training run (e.g. upsample zh, downsample
    * boilerplate-heavy strata). Values are arbitrary demo weights; the
    * MECHANISM is the operator. */
  private val StrataRates: Seq[(String, Int)] =
    Seq("en" -> 500, "zh" -> 800, "de" -> 250, "es" -> 250, "fr" -> 250)
  private val DefaultRate = 100

  /** Stratified (per-language) deterministic sampling: keep a doc iff its
    * content-hash residue mod 1000 falls under its stratum's per-mille
    * rate. Content-keyed like splitAssign, so the sample is reproducible
    * across engines/runs, replicas sample identically (no dup leakage),
    * and — critically at 100 TB — it is a pure map-side filter: no
    * shuffle, no sort, no per-stratum pass; the mixture materializes in
    * one scan regardless of how many strata exist. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = StrataRates.foldLeft(lit(DefaultRate)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("rate_pm", rate)
      .where(pmod(contentHash64, lit(1000)) < col("rate_pm"))
      .select(col("doc_id"), col("lang"), col("rate_pm").cast("long").as("rate_pm"))
      .orderBy("doc_id")
  }

  /** Importance (length-weighted) deterministic sampling: keep probability
    * proportional to min(n_chars, 500)/1000 — longer documents survive
    * more often, the standard quality-proxy importance sampler. Uses a
    * DIFFERENT md5 slice (hex chars 9-16) than splitAssign/stratified so
    * the keep decisions are independent of split/stratum assignment
    * (slicing one digest is free; a second full hash is not). Map-side
    * only, like stratifiedSample. */
  def importanceSample(spark: SparkSession, dir: String): DataFrame = {
    val h2 = conv(substring(md5(col("text")), 9, 8), 16, 10).cast("long")
    Tables.documents(spark, dir)
      .withColumn("w_pm", least(col("n_chars"), lit(500L)))
      .where(pmod(h2, lit(1000)) < col("w_pm"))
      .select(col("doc_id"), col("n_chars"), col("w_pm"))
      .orderBy("doc_id")
  }

  /** Tokens per pack for sequence packing. */
  private val PackBudget = 512L
  private val NumShards = 16

  private def contentShard: org.apache.spark.sql.Column =
    pmod(contentHash64, lit(NumShards))

  /** Training-output sharding: content-hash shard assignment + per-shard
    * doc/token totals — the stats a data-loader needs to validate balanced
    * shards. Stable across runs and engines (content-keyed). */
  def shardStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(contentShard.as("shard"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"))
      .orderBy("shard")

  /** Offset-bucketed sequence packing: within each shard, documents (in
    * doc_id order) are assigned pack_id = floor(tokens-before / budget).
    * This is the windowed APPROXIMATION of greedy bin packing: a pack may
    * overflow the budget by up to one document (a doc spanning a boundary
    * stays in the earlier pack) — the standard one-pass formulation;
    * exact greedy packing is inherently sequential per shard and would
    * need mapGroups. The window is PARTITIONED BY SHARD, so packing
    * parallelizes across shards at 100 TB (a global packing order would
    * serialize). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), contentShard.as("shard"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    docs
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("pack_id", expr(s"(cum - toks) div $PackBudget"))
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "pack_id")
  }

  /** Data-quality gate: one row per invariant with its violation count —
    * referential integrity, key uniqueness, null rates, derived-column
    * consistency, embedding dimensionality. The validation step that runs
    * before any training-data export; each check is a single aggregate,
    * all unioned into one small report. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val ev = Tables.events(spark, dir)
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    def check(name: String, violations: DataFrame): DataFrame =
      violations.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    val orphanLines = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
    val dupOrders = o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
      .where(col("c") > 1)
    val nullUsers = ev.where(col("user_id").isNull)
    val badNChars = docs.where(col("n_chars") =!= length(col("text")))
    val badDims = emb.where(size(col("embedding")) =!= 64)
    check("lineitem_orderkey_fk", orphanLines)
      .unionAll(check("orders_pk_unique", dupOrders))
      .unionAll(check("events_user_not_null", nullUsers))
      .unionAll(check("documents_nchars_consistent", badNChars))
      .unionAll(check("embeddings_dim_64", badDims))
      .orderBy("check_name")
  }

  /** Top-p (nucleus-style) per-source coverage curation: keep each
    * source's largest documents until they cover 80% of its total
    * character mass — the "head of the distribution" selection a mixture
    * designer uses to bound a source's long tail. The running total is an
    * integer window cumsum (n_chars desc, doc_id tiebreak — fully
    * deterministic), and the 80% test is `running*5 <= total*4`: pure
    * integer arithmetic, so no float threshold can disagree between
    * engines at the boundary.
    *
    * Scale shape: one window sort per source partition (the cumsum) +
    * a broadcast of the sources-sized totals frame. Per-source skew is
    * real at 100 TB (one giant source serializes its own window); the
    * mitigation is range-partitioning within source on the sort key,
    * which AQE does not do automatically — documented as the known cost
    * of EXACT nucleus selection. The approximate alternative (threshold
    * from percentile_approx, no global sort) is lengthQuantilesApprox's
    * pattern. */
  def topPCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = docs.groupBy("source").agg(sum(col("n_chars")).as("total"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("running", sum(col("n_chars")).over(w))
      .join(broadcast(totals), Seq("source"))
      .where(col("running") * 5 <= col("total") * 4)
      .select(col("doc_id"), col("source"), col("n_chars"), col("running"))
      .orderBy("doc_id")
  }

  /** PII redaction chain: emails → phones → long digit runs, in that order
    * (emails first, or the digit-run pass would destroy the address before
    * the email pattern can see it). The corpus tables carry no natural
    * PII, so the input is a contact string SYNTHESIZED identically in both
    * engines from customer fields — what's under test is the redaction
    * expression chain, which is the reusable operator (pure map-side
    * regexp_replace stack, codegen'd, no shuffle until the contract sort).
    * Patterns stay in the RE2 ∩ Java-regex common subset so Spark and
    * DuckDB agree byte-for-byte. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("c_name"), lit(" <user"),
      col("c_custkey").cast("string"), lit("@example.com> call 555-"),
      col("c_custkey").cast("string"), lit(" ref 1234567890"))
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "555-[0-9]+"
    val idRun = "[0-9]{6,}"
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
        regexp_replace(
          regexp_replace(
            regexp_replace(raw, email, "<EMAIL>"),
            phone, "<PHONE>"),
          idRun, "<ID>").as("redacted"))
      .transform(ContractSort.exchanged(_, "c_custkey"))
  }

  /** Column-level data profile of the orders fact: row count, null count
    * and distinct count per column — the pre-flight every ingestion run
    * logs before a DQ gate can have thresholds. ONE aggregation pass
    * computes all 2·N column stats (map-side partials; count_distinct
    * keeps per-column hash sets, the one genuinely stateful part), then a
    * tiny explode unpivots the single stats row to per-column rows — a
    * per-column loop of aggregates would scan the fact N times. */
  def nullProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        sum(col(c).isNull.cast("long")).as(s"null_$c"),
        count_distinct(col(c)).as(s"dist_$c")))
    Tables.orders(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(s"null_$c").as("n_null"),
          col(s"dist_$c").as("n_distinct"))): _*)).as("s"))
      .select(col("s.column").as("column"), col("n_rows"),
        col("s.n_null").as("n_null"), col("s.n_distinct").as("n_distinct"))
      .orderBy("column")
  }

  // ------------------------------------------------------------ dataset card
  /** DATASET CARD: the one-row corpus summary every released training set
    * ships with — sizes, diversity, and exact duplication rate. Two
    * aggregates total: a single full-scan multi-agg (count/token-sum/
    * distinct sources+langs) and the md5 dup profile (groupBy fp → docs in
    * >1-copy groups), attached via the 1-row broadcast cross join. All
    * integers except the final exact long/long division. */
  // ---------------------------------------------------------- token budgeting
  /** Total token budget for the mixture plan (interpolated into the
    * oracle) and the data-reuse ceiling past which a source is flagged
    * (≈4 epochs — the point diminishing returns from repeating data are
    * commonly drawn). */
  private[operators] val BudgetTokens = 10000000L
  private[operators] val BudgetMaxEpochs = 4.0
  /** 2^20 grid for the order-free temperature-weight normalization. */
  private val BudgetScale = 1048576.0

  /** MIXTURE TOKEN-BUDGET PLAN — the planning table every pretraining
    * run starts from: given the per-source token inventory and a total
    * budget, temperature-sampled mixture weights (τ = 1/2: w_s ∝
    * √tokens_s — the standard upweight-the-tail compromise between
    * proportional τ=1 and uniform τ=0, and the one temperature whose
    * exponent is IEEE-exact `sqrt`, no libm pow), each source's token
    * target, the epoch count that target implies, and the over-reuse
    * flag (> [[BudgetMaxEpochs]] epochs means the budget wants more of
    * the source than repeating it ~4× can healthily supply).
    *
    * Order-free parity: the normalizer Σ√n is a sum of DOUBLES over
    * sources — order-dependent even at 20 sources — so each √n
    * quantizes to the 2^20 grid first and the normalizer is one exact
    * long sum; every downstream number is long/long division or an
    * exact double product + floor. One corpus pass (source-keyed count/
    * sum with map-side partials), then source-bounded arithmetic. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("qs",
        round(sqrt(col("n_tokens").cast("double")) * lit(BudgetScale))
          .cast("long"))
    val tot = counts.agg(sum(col("n_tokens")).as("total_tokens"),
      sum(col("qs")).as("z"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share",
        col("n_tokens").cast("double") / col("total_tokens"))
      .withColumn("weight", col("qs").cast("double") / col("z"))
      .withColumn("target_tokens",
        floor(lit(BudgetTokens.toDouble) * col("weight")).cast("long"))
      .withColumn("epochs",
        col("target_tokens").cast("double") / col("n_tokens"))
      .withColumn("oversampled", col("epochs") > BudgetMaxEpochs)
      .select(col("source"), col("n_docs"), col("n_tokens"), col("share"),
        col("weight"), col("target_tokens"), col("epochs"),
        col("oversampled"))
      .orderBy("source")
  }

  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dups = docs.groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(when(col("n") > 1, col("n")).otherwise(0L)), lit(0L))
        .as("n_dup_docs"))
    docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(col("lang")).as("n_langs"))
      .crossJoin(broadcast(dups))
      .select(col("n_docs"), col("n_tokens"), col("n_sources"),
        col("n_langs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs")).as("dup_frac"))
  }

  // ------------------------------------------------------------ corpus shuffle
  /** DETERMINISTIC GLOBAL TRAINING-ORDER SHUFFLE: every epoch-0 data
    * loader needs the corpus in a pseudorandom but REPRODUCIBLE order,
    * sharded so loaders stream their shard sequentially. Shuffle key =
    * md5(doc_id): shard = first hex nibble (map-side, no shuffle),
    * position-in-shard = rank by the remaining digest (one window per
    * shard — NEVER a global single-partition row_number, which is the
    * 100 TB anti-pattern this formulation exists to avoid; the per-shard
    * sort is what a range-partitioned sort-within-partitions write does).
    * Keys are unique (md5 over distinct ids; doc_id tiebreak regardless),
    * so the order is total and cross-engine stable. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(col("doc_id").cast("string"))
    val w = Window.partitionBy("shard").orderBy(col("key"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), key.as("key"))
      .withColumn("shard",
        conv(substring(col("key"), 1, 1), 16, 10).cast("long"))
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos_in_shard")
      .orderBy("shard", "pos_in_shard")
  }

  // ------------------------------------------------------------ in-engine training
  /** Gradient iterations for [[perceptronTrain]] — the oracle SQL is
    * generated from the same constant so the unrolled chain can't drift. */
  private[operators] val PerceptronIters = 3

  /** IN-ENGINE MODEL TRAINING: a batch perceptron fit to the corpus quality
    * rule — the "train the quality-filter classifier on the cluster"
    * step of a curation pipeline, expressed as pure dataflow. Features are
    * the integer quality components (n_tokens, n_distinct, n_stopwords +
    * bias); the label is [[TextOps.qualityOk]] (so the run demonstrably
    * converges); the update is the BATCH rule w += Σ_misclassified y·x with
    * unit learning rate — all-integer arithmetic, so the whole training
    * trajectory is exact and cross-engine reproducible (same trick as
    * q_pagerank's integer mass and q_corr's integer moments; a float SGD
    * would be order-dependent and unverifiable).
    *
    * Scale shape: one cached feature pass over the corpus, then per
    * iteration ONE map-side partial-aggregated reduction (the gradient is a
    * sum — associative, so executors combine locally and the exchange
    * carries 32 partial rows, not the corpus). The weight vector rides as a
    * 1-ROW broadcast frame (`crossJoin(broadcast(w))`, the documented
    * scalar-attach pattern) — never a driver collect — so the unrolled
    * 3-iteration trajectory is a single declarative plan. Output: per-step
    * misclassification count + post-update weights. */
  def perceptronTrain(spark: SparkSession, dir: String): DataFrame =
    perceptronSteps(spark, dir)._1.reduce(_ union _).orderBy("step")

  /** Integer quality features + rule label — the trainer's input frame. */
  private def perceptronFeats(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(t).cast("long").as("x1"),
        size(array_distinct(t)).cast("long").as("x2"),
        TextOps.stopwordCount(t).cast("long").as("x3"))
      .withColumn("y",
        when(TextOps.qualityOk(col("x1"), col("x2"), col("x3")), 1L)
          .otherwise(-1L))
  }

  /** The unrolled training trajectory: per-step (step, n_mis, w0..w3)
    * frames plus the feature frame and the FINAL 1-row weight frame —
    * shared by [[perceptronTrain]] and [[thresholdSweep]]. */
  private def perceptronSteps(spark: SparkSession, dir: String)
      : (Seq[DataFrame], DataFrame, DataFrame) = {
    // reused PerceptronIters (+1 for the sweep) times; gates clear per query
    val feats = perceptronFeats(spark, dir).cache()
    var w = spark.range(1).select(
      lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"), lit(0L).as("w3"))
    val steps = (1 to PerceptronIters).map { i =>
      val j = feats.crossJoin(broadcast(w))
      val margin = col("y") *
        (col("w0") + col("w1") * col("x1") + col("w2") * col("x2") +
          col("w3") * col("x3"))
      def g(e: org.apache.spark.sql.Column) =
        coalesce(sum(when(margin <= 0, e).otherwise(0L)), lit(0L))
      val s = j.agg(
        // max() of a broadcast-constant column = the value itself; it rides
        // the same aggregation so the previous weights need no second join
        coalesce(max(col("w0")), lit(0L)).as("pw0"),
        coalesce(max(col("w1")), lit(0L)).as("pw1"),
        coalesce(max(col("w2")), lit(0L)).as("pw2"),
        coalesce(max(col("w3")), lit(0L)).as("pw3"),
        g(lit(1L)).as("n_mis"), g(col("y")).as("g0"),
        g(col("y") * col("x1")).as("g1"), g(col("y") * col("x2")).as("g2"),
        g(col("y") * col("x3")).as("g3"))
        .select(lit(i).as("step"), col("n_mis"),
          (col("pw0") + col("g0")).as("w0"), (col("pw1") + col("g1")).as("w1"),
          (col("pw2") + col("g2")).as("w2"), (col("pw3") + col("g3")).as("w3"))
      w = s.select(col("w0"), col("w1"), col("w2"), col("w3"))
      s
    }
    (steps, feats, w)
  }

  /** MODEL CALIBRATION SWEEP: precision/recall of the trained perceptron
    * at EVERY decision threshold — the curve a curator reads to pick the
    * operating point before a corpus-wide filter run. Scores are integer
    * w·x (exact), grouped to the DISTINCT-score grain before the
    * cumulative window, so the prefix sums run over the (bounded)
    * score-value domain, not the corpus; precision/recall are single
    * divisions of exact longs — bit-identical cross-engine. The
    * cumulative window is globally ordered like q_top_p's mass curve: at
    * 100 TB the distinct-score frame is KB-sized, so the single-partition
    * prefix scan is on a tiny aggregate, never the corpus. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (_, feats, finalW) = perceptronSteps(spark, dir)
    val scored = feats.crossJoin(broadcast(finalW))
      .select(col("doc_id"),
        (col("w0") + col("w1") * col("x1") + col("w2") * col("x2") +
          col("w3") * col("x3")).as("score"),
        col("y"))
    val byScore = scored.groupBy("score")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"))
    val wCum = Window.orderBy(col("score").desc)
    val tot = byScore.agg(sum(col("n_pos")).as("total_pos"))
    byScore
      .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .crossJoin(broadcast(tot))
      .select(col("score"), col("n_docs"), col("cum_docs"), col("cum_pos"),
        (col("cum_pos").cast("double") / col("cum_docs")).as("precision_at"),
        (col("cum_pos").cast("double") / col("total_pos")).as("recall_at"))
      .orderBy(col("score").desc)
  }

  // --------------------------------------------- hashed-feature classifier
  /** Hashed-feature dimensionality for [[qualityClfTrain]] — small enough
    * that the unrolled integer weight chain stays readable, large enough
    * that the bag-of-words signal separates the planted fixtures. */
  private[graft] val ClfDim = 6
  private[operators] val ClfIters = 3

  /** FASTTEXT-SHAPED QUALITY CLASSIFIER: the batch perceptron trained on
    * HASHING-TRICK bag-of-words features instead of hand-built rule
    * components — the CCNet/fastText production shape (Joulin et al.
    * 2016; Wenzek et al. 2020 train exactly this: a linear classifier
    * over hashed token bags scoring web text for LM pretraining). The
    * label is the corpus quality rule (the rule plays the "high-quality
    * reference corpus" role CCNet gives Wikipedia, so no human labels
    * enter the pipeline), the features are md5-bucket token counts (the
    * same portable hash `q_hash_embed` uses, [[ClfDim]] buckets + bias),
    * and the update is the exact integer batch rule w += Σ_mis y·x — the
    * whole trajectory is integer arithmetic, cross-engine exact.
    *
    * CONTENT GRAIN + WEIGHTED GRADIENT: the bucket histogram and the
    * label are functions of the text alone, so the tokenize/explode
    * aggregation runs once per DISTINCT text; each fp row carries its
    * replica count m and contributes m× to every gradient sum —
    * integer-identical to doc-grain training (the oracle replays at doc
    * grain, proving the equivalence) while a replica-heavy corpus never
    * re-tokenizes a copy. Per iteration: ONE map-side partial-aggregated
    * reduction (the exchange carries partial rows, not the corpus);
    * weights ride as 1-row broadcast frames (the documented scalar-
    * attach pattern). Output: per-step misclassification mass +
    * post-update weights. */
  def qualityClfTrain(spark: SparkSession, dir: String): DataFrame =
    qualityClfSteps(spark, dir).reduce(_ unionAll _).orderBy("step")

  /** fp-grain training frame: replica mass m, hashed bucket counts
    * x1..x[[ClfDim]], rule label y. */
  private def clfFeats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grp = DedupOps.fpGrain(docs, "fp", "m")
    val aggs = (0 until ClfDim).map(i =>
      sum(when(col("dim") === i, 1L).otherwise(0L)).as(s"x${i + 1}"))
    val buckets = grp
      .select(col("fp"), explode(split(col("text"), " ")).as("tok"))
      .select(col("fp"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % ClfDim).as("dim"))
      .groupBy("fp")
      .agg(aggs.head, aggs.tail: _*)
    val t = split(col("text"), " ")
    val lab = grp.select(col("fp"), col("m").cast("long").as("m"),
        size(t).cast("long").as("n1"),
        size(array_distinct(t)).cast("long").as("n2"),
        TextOps.stopwordCount(t).cast("long").as("n3"))
      .withColumn("y",
        when(TextOps.qualityOk(col("n1"), col("n2"), col("n3")), 1L)
          .otherwise(-1L))
      .select("fp", "m", "y")
    lab.join(buckets, Seq("fp"))
  }

  /** The unrolled trajectory: per-step (step, n_mis, w0..w[[ClfDim]]). */
  private def qualityClfSteps(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val feats = clfFeats(spark, dir).cache()
    val wCols = (0 to ClfDim).map(i => s"w$i")
    var w = spark.range(1).select(wCols.map(c => lit(0L).as(c)): _*)
    (1 to ClfIters).map { i =>
      val j = feats.crossJoin(broadcast(w))
      val margin = col("y") * (col("w0") +
        (1 to ClfDim).map(k => col(s"w$k") * col(s"x$k")).reduce(_ + _))
      def g(e: org.apache.spark.sql.Column) =
        coalesce(sum(when(margin <= 0, e * col("m")).otherwise(0L)), lit(0L))
      // max() of a broadcast-constant column = the value itself; it rides
      // the same aggregation so the previous weights need no second join
      val pw = wCols.map(c => coalesce(max(col(c)), lit(0L)).as(s"p$c"))
      val gs = g(lit(1L)).as("n_mis") +: g(col("y")).as("g0") +:
        (1 to ClfDim).map(k => g(col("y") * col(s"x$k")).as(s"g$k"))
      val all = pw ++ gs
      val s = j.agg(all.head, all.tail: _*)
        .select(lit(i).as("step") +: col("n_mis") +:
          (0 to ClfDim).map(k => (col(s"pw$k") + col(s"g$k")).as(s"w$k")): _*)
      w = s.select(wCols.map(col): _*)
      s
    }
  }

  /** DuckDB replay of [[qualityClfTrain]] at DOC grain — the grain
    * equivalence (fp rows × m == doc rows) is exactly what the hash
    * match proves. Generated from the same ClfDim/ClfIters constants. */
  private def qualityClfSql: String = {
    val dims = 0 until ClfDim
    def mis(w: String) =
      s"y*($w.w0 + " + dims.map(i => s"$w.w${i + 1}*x${i + 1}").mkString(" + ") + ") <= 0"
    def g(w: String, e: String) =
      s"coalesce(sum(CASE WHEN ${mis(w)} THEN $e ELSE 0 END), 0)"
    val bucketSums = dims.map(i =>
      s"CAST(sum(CASE WHEN dim = $i THEN 1 ELSE 0 END) AS BIGINT) AS x${i + 1}")
      .mkString(",\n                ")
    val steps = (1 to ClfIters).map { i =>
      val w = s"wt${i - 1}"
      val wUpd = (s"CAST(coalesce(max($w.w0), 0) + ${g(w, "y")} AS BIGINT) AS w0") +:
        dims.map(k =>
          s"CAST(coalesce(max($w.w${k + 1}), 0) + ${g(w, s"y*x${k + 1}")} AS BIGINT) AS w${k + 1}")
      s"""cs$i AS (
           SELECT CAST(${g(w, "1")} AS BIGINT) AS n_mis,
                  ${wUpd.mkString(",\n                  ")}
           FROM l CROSS JOIN wt${i - 1}),
         wt$i AS (SELECT ${(0 to ClfDim).map(k => s"w$k").mkString(", ")} FROM cs$i)"""
    }.mkString(",\n         ")
    val out = (1 to ClfIters).map(i =>
      s"SELECT $i AS step, n_mis, ${(0 to ClfDim).map(k => s"w$k").mkString(", ")} FROM cs$i")
      .mkString("\n         UNION ALL ")
    s"""WITH e AS (
           SELECT doc_id,
                  ('0x' || substr(md5(tok), 1, 8))::BIGINT % $ClfDim AS dim
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)),
         b AS (
           SELECT doc_id,
                $bucketSums
           FROM e GROUP BY doc_id),
         l0 AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n1,
                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n2,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the', 'a'))) AS BIGINT) AS n3
           FROM documents),
         l AS (
           SELECT b.doc_id, ${dims.map(i => s"x${i + 1}").mkString(", ")},
                  CASE WHEN n1 >= 10 AND CAST(n3 AS DOUBLE)/n1 < 0.3
                            AND CAST(n2 AS DOUBLE)/n1 > 0.2
                       THEN 1 ELSE -1 END AS y
           FROM b JOIN l0 USING (doc_id)),
         wt0 AS (SELECT ${(0 to ClfDim).map(k => s"CAST(0 AS BIGINT) AS w$k").mkString(", ")}),
         $steps
         $out
         ORDER BY step"""
  }

  /** Shared WITH-body for the perceptron oracles: features f, labels l,
    * and the unrolled wt0→wtN weight chain — generated from the same
    * PerceptronIters constant as the Scala loop. CASTs: DuckDB
    * sum(BIGINT) is HUGEINT, which the driver hashes differently from
    * int64. */
  private def perceptronChainCtes: String = {
    def mis(w: String) =
      s"y*($w.w0 + $w.w1*x1 + $w.w2*x2 + $w.w3*x3) <= 0"
    def g(w: String, e: String) =
      s"coalesce(sum(CASE WHEN ${mis(w)} THEN $e ELSE 0 END), 0)"
    val steps = (1 to PerceptronIters).map { i =>
      val w = s"wt${i - 1}"
      s"""s$i AS (
           SELECT CAST(${g(w, "1")} AS BIGINT) AS n_mis,
                  CAST(coalesce(max($w.w0), 0) + ${g(w, "y")} AS BIGINT) AS w0,
                  CAST(coalesce(max($w.w1), 0) + ${g(w, "y*x1")} AS BIGINT) AS w1,
                  CAST(coalesce(max($w.w2), 0) + ${g(w, "y*x2")} AS BIGINT) AS w2,
                  CAST(coalesce(max($w.w3), 0) + ${g(w, "y*x3")} AS BIGINT) AS w3
           FROM l CROSS JOIN wt${i - 1}),
         wt$i AS (SELECT w0, w1, w2, w3 FROM s$i)"""
    }.mkString(",\n         ")
    s"""f AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS x2,
                  CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the', 'a'))) AS BIGINT) AS x3
           FROM documents),
         l AS (
           SELECT doc_id, x1, x2, x3,
                  CASE WHEN x1 >= 10 AND CAST(x3 AS DOUBLE)/x1 < 0.3
                            AND CAST(x2 AS DOUBLE)/x1 > 0.2
                       THEN 1 ELSE -1 END AS y
           FROM f),
         wt0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                        CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
         $steps"""
  }

  /** DuckDB replay of [[perceptronTrain]]. */
  private def perceptronSql: String = {
    val out = (1 to PerceptronIters)
      .map(i => s"SELECT $i AS step, n_mis, w0, w1, w2, w3 FROM s$i")
      .mkString("\n         UNION ALL ")
    s"""WITH $perceptronChainCtes
         $out
         ORDER BY step"""
  }

  /** DuckDB replay of [[thresholdSweep]]: final weights from the shared
    * chain, integer scores, distinct-score cumulative sums. */
  private def thresholdSweepSql: String =
    s"""WITH $perceptronChainCtes,
         scored AS (
           SELECT l.doc_id,
                  CAST(w.w0 + w.w1*l.x1 + w.w2*l.x2 + w.w3*l.x3 AS BIGINT)
                    AS score,
                  l.y
           FROM l CROSS JOIN wt$PerceptronIters w),
         byscore AS (
           SELECT score, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_pos
           FROM scored GROUP BY score),
         tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS total_pos FROM byscore),
         cum AS (
           SELECT score, n_docs,
                  CAST(sum(n_docs) OVER (ORDER BY score DESC) AS BIGINT)
                    AS cum_docs,
                  CAST(sum(n_pos) OVER (ORDER BY score DESC) AS BIGINT)
                    AS cum_pos
           FROM byscore)
         SELECT score, n_docs, cum_docs, cum_pos,
                CAST(cum_pos AS DOUBLE) / cum_docs AS precision_at,
                CAST(cum_pos AS DOUBLE) / total_pos AS recall_at
         FROM cum CROSS JOIN tot
         ORDER BY score DESC"""

  /** Per-source document cap (RefinedWeb/C4-style domain frequency
    * capping: no single domain may dominate the mixture). */
  val SourceCapK = 20

  /** SOURCE FREQUENCY CAP: keep at most [[SourceCapK]] docs per source —
    * deterministic survivors (the K lowest doc_ids) — and emit the
    * per-doc keep decision. The scale design is the point: the naive
    * `row_number() OVER (PARTITION BY source ORDER BY doc_id) <= K`
    * shuffles and SORTS every row of a skewed partition onto one task
    * (the biggest domain IS the biggest skew at 100 TB); here the
    * survivor set is computed by the native partial top-k aggregate
    * (map-side K-element buffers, shuffle O(sources·K)) and the
    * decision is a join back — no sort, no skewed window. The join is
    * deliberately UNHINTED: with a catalog's worth of sources the
    * sources·K survivor set auto-broadcasts, but at web scale `source`
    * is millions of domains and the survivor set outgrows any
    * broadcast — AQE then picks the shuffled hash join on the same
    * plan, which is the correct shape there (both sides hash on the
    * same keys; still no sort anywhere).
    * Oracle replays the window form: identical answers. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftext.GraftFunctions.topk_by
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    // score = -doc_id keeps the LOWEST ids (doc_id < 2^53: exact as double)
    val kept = docs.groupBy(col("source").as("k_source"))
      .agg(topk_by(negate(col("doc_id").cast("double")),
        col("doc_id"), SourceCapK).as("top"))
      .select(col("k_source"), explode(col("top")).as("t"))
      .select(col("k_source"), col("t.id").as("kept_id"))
    // <=> (null-safe) on source: groupBy already produced a NULL-source
    // survivor group (matching the oracle window's NULL partition), and a
    // plain === would strand those survivors — every NULL-source doc
    // would come back kept=false. Same hash-join shape either way.
    docs.join(kept,
        docs("source") <=> kept("k_source") && docs("doc_id") === kept("kept_id"),
        "left")
      .select(col("doc_id"), col("source"),
        col("kept_id").isNotNull.as("kept"))
      .transform(ContractSort.exchanged(_, "doc_id"))
  }

  /** Shared CTE body replaying [[curationFlags]] — per-doc quality/
    * repetition/boilerplate/contamination/exact-dup flag bits; ends with
    * `fl(doc_id, source, flags)`. Used by the q_curation and
    * q_curation_funnel oracles. */
  private val curationChainCtes: String =
    """s AS (
           SELECT doc_id, source, text, string_split(text, ' ') AS t FROM documents),
         q AS (
           SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
                  len(list_filter(t, x -> x IN ('the', 'a'))) AS n_stop,
                  CASE WHEN len(t) >= 3 THEN
                    list_transform(generate_series(1, len(t) - 2),
                      i -> array_to_string(t[i:i+2], ' '))
                  END AS grams
           FROM s),
         qf AS (
           SELECT doc_id,
                  NOT (n_tokens >= 10
                       AND CAST(n_stop AS DOUBLE) / n_tokens < 0.3
                       AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.2) AS f_quality,
                  COALESCE(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                           / len(grams), 0.0) > 0.2 AS f_repeat
           FROM q),
         shm AS (
           SELECT doc_id, source, shingle FROM (
             SELECT doc_id, source,
                    unnest(list_transform(generate_series(1, len(t) - 2),
                      i -> array_to_string(t[i:i+2], ' '))) AS shingle
             FROM s WHERE len(t) >= 3)),
         bo AS (
           SELECT doc_id, max(c) AS max_rep, CAST(sum(c) AS BIGINT) AS n_sh FROM (
             SELECT doc_id, shingle, count(*) AS c FROM shm GROUP BY 1, 2)
           GROUP BY doc_id),
         bof AS (
           SELECT doc_id,
                  (CAST(max_rep AS DOUBLE) / n_sh > 0.2 AND max_rep >= 3) AS f_boiler
           FROM bo),
         shd AS (SELECT DISTINCT doc_id, source, shingle FROM shm),
         evs AS (SELECT DISTINCT shingle FROM shd WHERE source = 'src0'),
         tr AS (SELECT doc_id, shingle FROM shd WHERE source <> 'src0'),
         card AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
         hits AS (
           SELECT doc_id, count(*) AS n_shared
           FROM tr JOIN evs USING (shingle) GROUP BY doc_id),
         cf AS (
           SELECT c.doc_id,
                  CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / c.n_shingles > 0.1 AS f_contam
           FROM card c LEFT JOIN hits h ON c.doc_id = h.doc_id),
         dup AS (
           SELECT doc_id,
                  doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS f_dup
           FROM documents),
         fl AS (
           SELECT d.doc_id, d.source,
                  CAST(  (CASE WHEN qf.f_quality THEN 1 ELSE 0 END)
                       + (CASE WHEN qf.f_repeat THEN 2 ELSE 0 END)
                       + (CASE WHEN COALESCE(bof.f_boiler, FALSE) THEN 4 ELSE 0 END)
                       + (CASE WHEN COALESCE(cf.f_contam, FALSE) THEN 8 ELSE 0 END)
                       + (CASE WHEN dup.f_dup THEN 16 ELSE 0 END) AS BIGINT) AS flags
           FROM documents d
           JOIN qf ON qf.doc_id = d.doc_id
           LEFT JOIN bof ON bof.doc_id = d.doc_id
           LEFT JOIN cf ON cf.doc_id = d.doc_id
           JOIN dup ON dup.doc_id = d.doc_id)"""

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    // the window form the Spark side deliberately AVOIDS (skew-safe
    // partial top-k there) — same survivor set by construction
    Entry("q_source_cap", sourceCap, Some(
      s"""WITH r AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id)
                    AS rn
           FROM documents)
         SELECT doc_id, source, rn <= $SourceCapK AS kept
         FROM r ORDER BY doc_id""")),
    Entry("q_corpus_shuffle", corpusShuffle, Some(
      """SELECT doc_id, shard, pos_in_shard FROM (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::INT
                       AS BIGINT) AS shard,
                  CAST(row_number() OVER (
                    PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       AS BIGINT) AS pos_in_shard
           FROM documents)
         ORDER BY shard, pos_in_shard""")),
    Entry("q_perceptron", perceptronTrain, Some(perceptronSql)),
    Entry("q_quality_clf", qualityClfTrain, Some(qualityClfSql)),
    Entry("q_threshold_sweep", thresholdSweep, Some(thresholdSweepSql)),
    Entry("q_dataset_card", datasetCard, Some(
      """WITH s AS (
           SELECT count(*) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
                  count(DISTINCT source) AS n_sources,
                  count(DISTINCT lang) AS n_langs
           FROM documents),
         du AS (
           SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0)
                       AS BIGINT) AS n_dup_docs
           FROM (SELECT md5(text) AS fp, count(*) AS n
                 FROM documents GROUP BY 1))
         SELECT n_docs, n_tokens, n_sources, n_langs, n_dup_docs,
                CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_frac
         FROM s CROSS JOIN du""")),
    Entry("q_null_profile", nullProfile, Some(
      """WITH p AS (
           SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
                  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                  count(DISTINCT o_orderkey) AS n_distinct FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*),
                  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_custkey) FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*),
                  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_orderstatus) FROM orders
           UNION ALL
           SELECT 'o_totalprice', count(*),
                  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_totalprice) FROM orders
           UNION ALL
           SELECT 'o_orderdate', count(*),
                  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_orderdate) FROM orders
           UNION ALL
           SELECT 'o_orderpriority', count(*),
                  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT o_orderpriority) FROM orders)
         SELECT "column", n_rows, n_null, n_distinct FROM p ORDER BY "column"""")),
    Entry("q_pii_redact", piiRedact, Some(
      """SELECT c_custkey,
                regexp_replace(regexp_replace(regexp_replace(
                  c_name || ' <user' || CAST(c_custkey AS VARCHAR)
                         || '@example.com> call 555-'
                         || CAST(c_custkey AS VARCHAR) || ' ref 1234567890',
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '555-[0-9]+', '<PHONE>', 'g'),
                  '[0-9]{6,}', '<ID>', 'g') AS redacted
         FROM customer ORDER BY c_custkey""")),
    Entry("q_top_p", topPCoverage, Some(
      """WITH t AS (
           SELECT doc_id, source, n_chars,
                  CAST(sum(n_chars) OVER (PARTITION BY source
                         ORDER BY n_chars DESC, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS running
           FROM documents),
         tot AS (
           SELECT source, CAST(sum(n_chars) AS BIGINT) AS total
           FROM documents GROUP BY source)
         SELECT doc_id, t.source, n_chars, running
         FROM t JOIN tot USING (source)
         WHERE running * 5 <= total * 4
         ORDER BY doc_id""")),
    Entry("q_chunk_docs", chunkDocs, Some(
      s"""WITH $chunkStartsSql,
         c AS (
           SELECT doc_id,
                  CAST((start_tok - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
                  CAST(start_tok AS BIGINT) AS start_tok,
                  t[start_tok : start_tok + ${ChunkTokens - 1}] AS chunk
           FROM st)
         SELECT doc_id, chunk_idx, start_tok,
                len(chunk) AS n_chunk_tokens,
                md5(array_to_string(chunk, ' ')) AS chunk_fp
         FROM c ORDER BY doc_id, chunk_idx""")),
    // same chunk CTE, then keep-first rank per (doc, fp)
    Entry("q_chunk_dedup", chunkDedup, Some(
      s"""WITH $chunkStartsSql,
         c AS (
           SELECT doc_id,
                  CAST((start_tok - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
                  len(t[start_tok : start_tok + ${ChunkTokens - 1}]) AS n_chunk_tokens,
                  md5(array_to_string(t[start_tok : start_tok + ${ChunkTokens - 1}], ' '))
                    AS chunk_fp
           FROM st),
         d AS (
           SELECT doc_id, n_chunk_tokens,
                  row_number() OVER (
                    PARTITION BY doc_id, chunk_fp ORDER BY chunk_idx) AS occ
           FROM c)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_chunks,
                CAST(sum(CASE WHEN occ > 1 THEN n_chunk_tokens ELSE 0 END)
                     AS BIGINT) AS dup_tokens
         FROM d GROUP BY doc_id ORDER BY doc_id""")),
    // same chunk CTE; keep-first = rank 1 over (doc_id, chunk_idx) per fp
    // (identical to Spark's min-struct canonical — the order is total);
    // owned spans tile each doc, scrubbed text = ordered kept-span concat
    Entry("q_chunk_scrub", chunkScrub, Some(
      s"""WITH $chunkStartsSql,
         c AS (
           SELECT doc_id,
                  CAST((start_tok - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
                  md5(array_to_string(t[start_tok : start_tok + ${ChunkTokens - 1}], ' '))
                    AS chunk_fp,
                  CASE WHEN start_tok + $ChunkTokens > len(t)
                       THEN t[start_tok : len(t)]
                       ELSE t[start_tok : start_tok + ${ChunkStride - 1}] END AS owned
           FROM st),
         d AS (
           SELECT doc_id, chunk_idx, owned,
                  row_number() OVER (
                    PARTITION BY chunk_fp ORDER BY doc_id, chunk_idx) AS rn
           FROM c)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_chunks,
                CAST(sum(len(owned)) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN rn = 1 THEN len(owned) ELSE 0 END) AS BIGINT)
                  AS n_kept_tokens,
                COALESCE(string_agg(
                  CASE WHEN rn = 1 THEN array_to_string(owned, ' ') END,
                  ' ' ORDER BY chunk_idx), '') AS scrub_text
         FROM d GROUP BY doc_id ORDER BY doc_id""")),
    // xxhash64 chunk fingerprints (q_chunk_scrub keeps md5 for the DuckDB
    // replay)
    Entry("x_chunk_scrub_fast", chunkScrubFast),
    Entry("q_mixture_resample", mixtureResample, Some(
      """WITH counts AS (
           SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         mn AS (SELECT min(n_docs) AS n_min FROM counts),
         rated AS (
           SELECT source, n_docs,
                  sqrt(CAST(n_min AS DOUBLE) / n_docs) AS rate,
                  CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_docs) * 1000000) AS BIGINT)
                    AS threshold
           FROM counts CROSS JOIN mn),
         k AS (
           SELECT d.source,
                  (('0x' || substr(md5(d.text), 1, 8))::BIGINT % 1000000)
                    < r.threshold AS kept
           FROM documents d JOIN rated r ON d.source = r.source)
         SELECT r.source, r.n_docs, r.rate,
                CAST(sum(CASE WHEN k.kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM k JOIN rated r ON k.source = r.source
         GROUP BY r.source, r.n_docs, r.rate
         ORDER BY r.source""")),
    // τ=1/2 temperature weights: √n per source quantized to the 2^20
    // grid, ONE long-sum normalizer (a double Σ√n would be
    // order-dependent); every ratio long/long, budget product + floor
    Entry("q_token_budget", tokenBudget, Some(
      s"""WITH c AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         q AS (
           SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * $BudgetScale)
                          AS BIGINT) AS qs
           FROM c),
         t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                      CAST(sum(qs) AS BIGINT) AS z FROM q),
         w AS (
           SELECT source, n_docs, n_tokens,
                  CAST(n_tokens AS DOUBLE) / t.total_tokens AS share,
                  CAST(qs AS DOUBLE) / t.z AS weight,
                  CAST(floor(${BudgetTokens.toDouble}
                             * (CAST(qs AS DOUBLE) / t.z)) AS BIGINT)
                    AS target_tokens
           FROM q CROSS JOIN t)
         SELECT source, n_docs, n_tokens, share, weight, target_tokens,
                CAST(target_tokens AS DOUBLE) / n_tokens AS epochs,
                (CAST(target_tokens AS DOUBLE) / n_tokens) > $BudgetMaxEpochs
                  AS oversampled
         FROM w ORDER BY source""")),
    Entry("q_curation", curation, Some(
      s"""WITH $curationChainCtes
         SELECT doc_id, source, flags, flags = 0 AS keep
         FROM fl ORDER BY doc_id""")),
    // first-firing-stage waterfall off the same flags chain; the stage
    // list is literal so zero-drop stages still report
    Entry("q_curation_funnel", curationFunnel, Some(
      s"""WITH $curationChainCtes,
         fs AS (
           SELECT CASE WHEN flags & 16 <> 0 THEN '1_exact_dup'
                       WHEN flags & 1 <> 0 THEN '2_quality'
                       WHEN flags & 2 <> 0 THEN '3_repetition'
                       WHEN flags & 4 <> 0 THEN '4_boilerplate'
                       WHEN flags & 8 <> 0 THEN '5_contamination' END AS stage
           FROM fl),
         dr AS (
           SELECT stage, CAST(count(*) AS BIGINT) AS n_dropped
           FROM fs WHERE stage IS NOT NULL GROUP BY stage),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM fl),
         st AS (
           SELECT unnest(['1_exact_dup', '2_quality', '3_repetition',
                          '4_boilerplate', '5_contamination']) AS stage),
         j AS (
           SELECT s.stage, COALESCE(d.n_dropped, CAST(0 AS BIGINT))
                    AS n_dropped
           FROM st s LEFT JOIN dr d USING (stage)),
         c AS (
           SELECT stage, n_dropped,
                  t.n_total - CAST(COALESCE(sum(n_dropped) OVER (
                    ORDER BY stage
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_in
           FROM j CROSS JOIN tot t)
         SELECT stage, n_in, n_dropped, n_in - n_dropped AS n_out,
                CASE WHEN n_in > 0 THEN CAST(n_dropped AS DOUBLE) / n_in
                     ELSE 0.0 END AS drop_frac
         FROM c ORDER BY stage""")),
    Entry("q_sessionize", sessionize, Some(
      """WITH ev AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events),
         flagged AS (
           SELECT user_id, event_id, sec,
                  lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev_sec
           FROM ev),
         marked AS (
           SELECT user_id, event_id, sec,
                  CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM flagged),
         numbered AS (
           SELECT user_id, sec,
                  CAST(sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY sec, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
           FROM marked)
         SELECT user_id, session_idx, min(sec) AS start_sec,
                max(sec) AS end_sec, count(*) AS n_events
         FROM numbered GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""")),
    Entry("q_scrub", scrubPayload, Some(
      """SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS props_scrubbed
         FROM events ORDER BY event_id""")),
    Entry("q_len_quantiles", lengthQuantiles, Some(
      """SELECT lang, quantile_cont(n_chars, 0.5) AS p50,
                quantile_cont(n_chars, 0.9) AS p90, count(*) AS n_docs
         FROM documents GROUP BY lang ORDER BY lang""")),
    // the KLL sketch's exact twin: DuckDB computes the per-lang counts
    // and asserts TRUE — a Spark approx value whose exact rank leaves
    // the (q ± 10ε)·n window flips its boolean and hash-fails
    Entry("q_len_quantiles_approx", lengthQuantilesApprox, Some(
      """SELECT lang, count(*) AS n_docs,
                TRUE AS p50_ok, TRUE AS p90_ok
         FROM documents GROUP BY lang ORDER BY lang""")),
    // estimate only: the q_ form adds the rank-check second pass that the
    // production path exists to avoid
    Entry("x_len_quantiles_est", lengthQuantilesApproxValues),
    Entry("q_dq_checks", dqChecks, Some(
      """SELECT * FROM (
           SELECT 'lineitem_orderkey_fk' AS check_name, count(*) AS n_violations,
                  count(*) = 0 AS pass
           FROM lineitem l WHERE NOT EXISTS (
             SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
           UNION ALL
           SELECT 'orders_pk_unique', count(*), count(*) = 0 FROM (
             SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
           UNION ALL
           SELECT 'events_user_not_null', count(*), count(*) = 0
           FROM events WHERE user_id IS NULL
           UNION ALL
           SELECT 'documents_nchars_consistent', count(*), count(*) = 0
           FROM documents WHERE n_chars != length(text)
           UNION ALL
           SELECT 'embeddings_dim_64', count(*), count(*) = 0
           FROM embeddings WHERE len(embedding) != 64)
         ORDER BY check_name""")),
    Entry("q_shard_stats", shardStats, Some(
      s"""WITH d AS (
           SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT % $NumShards AS shard,
                  len(string_split(text, ' ')) AS toks
           FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS total_tokens
         FROM d GROUP BY shard ORDER BY shard""")),
    Entry("q_pack_sequences", packSequences, Some(
      s"""WITH d AS (
           SELECT doc_id,
                  ('0x' || substr(md5(text), 1, 8))::BIGINT % $NumShards AS shard,
                  len(string_split(text, ' ')) AS toks
           FROM documents),
         c AS (
           SELECT doc_id, shard, toks,
                  CAST(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM d)
         SELECT shard, (cum - toks) // $PackBudget AS pack_id, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS pack_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY shard, pack_id ORDER BY shard, pack_id""")),
    Entry("q_split_assign", splitAssign, Some(
      """SELECT doc_id,
                ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket,
                CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                     WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""")),
    Entry("q_stratified_sample", stratifiedSample, Some(
      """WITH r AS (
           SELECT doc_id, lang,
                  CASE lang WHEN 'fr' THEN 250 WHEN 'es' THEN 250
                            WHEN 'de' THEN 250 WHEN 'zh' THEN 800
                            WHEN 'en' THEN 500 ELSE 100 END AS rate_pm,
                  ('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 AS h
           FROM documents)
         SELECT doc_id, lang, CAST(rate_pm AS BIGINT) AS rate_pm
         FROM r WHERE h < rate_pm ORDER BY doc_id""")),
    Entry("q_importance_sample", importanceSample, Some(
      """WITH r AS (
           SELECT doc_id, n_chars, least(n_chars, 500) AS w_pm,
                  ('0x' || substr(md5(text), 9, 8))::BIGINT % 1000 AS h
           FROM documents)
         SELECT doc_id, n_chars, w_pm
         FROM r WHERE h < w_pm ORDER BY doc_id""")),
  )
}
