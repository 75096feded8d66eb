package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftFunctions

import graft.{Entry, Tables}

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All are single-pass narrow transforms (no shuffle except final sort) —
  * at 100 TB they run map-side over whatever partitioning the scan gives,
  * so throughput scales linearly with executors. Everything is built from
  * codegen'd `functions._` / higher-order array functions; no UDFs.
  */
object TextOps {

  private val Stopwords = Seq("the", "a")

  /** Marker vocabularies for the n-gram-heuristic language/dialect ID.
    * (The testdata vocabulary is synthetic English-ish tech words, so the
    * "languages" here are vocabulary clusters — the mechanism, marker-hit
    * counting + deterministic argmax, is the real language-ID algorithm.) */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "lang_compute" -> Seq("spark", "join", "filter", "agg", "hash", "merge"),
    "lang_storage" -> Seq("table", "row", "column", "scan", "vector"),
    "lang_stream"  -> Seq("batch", "stream", "window", "order", "key"),
  )

  private def tokens(c: Column): Column = split(c, " ")

  /** Count of tokens that appear in `words` (multiset count, not distinct). */
  private def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === lit(w)).reduce(_ || _)))

  // -------- shared criteria: ONE definition each for the standalone
  // operators AND the curation gate, so the bitmask can't drift from them
  private[graft] def stopwordCount(toks: Column): Column =
    markerCount(toks, Stopwords)
  private[operators] val QualityMinTokens = 10
  private[operators] val MaxStopwordRatio = 0.3
  private[operators] val MinTypeTokenRatio = 0.2
  /** The qualityScore keep criterion from integer component columns. */
  private[graft] def qualityOk(nTokens: Column, nDistinct: Column,
      nStopwords: Column): Column =
    nTokens >= QualityMinTokens &&
      nStopwords.cast("double") / nTokens < MaxStopwordRatio &&
      nDistinct.cast("double") / nTokens > MinTypeTokenRatio
  private[operators] val BoilerMaxShare = 0.2
  private[operators] val BoilerMinRep = 3
  private[operators] val RepeatMaxGramFrac = 0.2
  /** The repetition verdict from its integer component columns (null
    * gram counts — docs under 3 tokens — are not repetitive). */
  private[graft] def isRepetitive(nGrams: Column, nDistinctGrams: Column): Column =
    coalesce((nGrams - nDistinctGrams).cast("double") / nGrams, lit(0.0)) >
      RepeatMaxGramFrac
  /** Per-doc token/3-gram duplication counts, staged so each expensive
    * array (token split, gram build, distincts) materializes exactly once
    * — the ONE computation repetition() and the curation gate both use.
    * (A single-select formulation re-evaluates the gram transform per
    * derived column: ~5× the work, measured.) */
  private[operators] def repetitionStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct_tokens"),
        stopwordCount(col("t")).cast("long").as("n_stopwords"),
        // the when() keeps the short-doc NULL (word_ngrams alone would
        // give an empty array; the oracle's CASE WHEN mirrors the null)
        when(size(col("t")) >= 3,
          GraftFunctions.word_ngrams(col("t"), 3)).as("grams"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("n_stopwords"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct_grams"))
  /** The boilerplate verdict from its aggregate columns. */
  private[operators] def isBoilerplate(maxRep: Column, nShingles: Column): Column =
    maxRep.cast("double") / nShingles > BoilerMaxShare && maxRep >= BoilerMinRep
  /** Per-doc (max_rep, n_shingles) over a multiplicity shingle frame. */
  private[operators] def boilerplateStats(sh: org.apache.spark.sql.DataFrame): DataFrame =
    sh.groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("max_rep"), sum(col("c")).as("n_shingles"))

  // ---------------------------------------------------------------- token counting
  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (letter runs / digit runs / single non-alphanumeric). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("n_bpe_tokens"))
      .transform(ContractSort.exchanged(_, "doc_id"))

  // ---------------------------------------------------------------- language ID
  /** Language ID via marker-token counting with deterministic argmax
    * (ties broken by marker-list order). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(spark, dir)
      .withColumn("t", tokens(col("text")))
    val scored = Markers.foldLeft(df) { case (d, (name, words)) =>
      d.withColumn(s"s_$name", markerCount(col("t"), words).cast("long"))
    }
    val Seq(a, b, c) = Markers.map { case (n, _) => col(s"s_$n") }
    val predicted = when(a >= b && a >= c, Markers(0)._1)
      .when(b >= c, Markers(1)._1)
      .otherwise(Markers(2)._1)
    scored
      .select(col("doc_id"), a.as("s_compute"), b.as("s_storage"),
        c.as("s_stream"), predicted.as("predicted_lang"))
      .transform(ContractSort.exchanged(_, "doc_id"))
  }

  // ---------------------------------------------------------------- quality scoring
  /** Quality scoring: length, token counts, type-token ratio, stopword
    * ratio. All ratios are int/int double divisions — bit-identical across
    * engines (no float summation order involved). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        size(t).cast("long").as("n_tokens"),
        size(array_distinct(t)).cast("long").as("n_distinct"),
        stopwordCount(t).cast("long").as("n_stopwords"))
      .withColumn("type_token_ratio",
        col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("quality_ok",
        qualityOk(col("n_tokens"), col("n_distinct"), col("n_stopwords")))
      .transform(ContractSort.exchanged(_, "doc_id"))
  }

  // ------------------------------------------------------- Gopher rule audit
  /** The Gopher stop-word list (Rae et al. 2021, Appendix A) — the rule
    * is "contains at least [[GopherMinStops]] of these", counted as
    * DISTINCT list hits. */
  private[operators] val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private[operators] val GopherMinWords = 50L
  private[operators] val GopherMaxWords = 100000L
  private[operators] val GopherMinMeanLen = 3.0
  private[operators] val GopherMaxMeanLen = 10.0
  private[operators] val GopherMaxSymbolRatio = 0.1
  private[operators] val GopherMinAlphaFrac = 0.8
  private[operators] val GopherMinStops = 2L

  /** GOPHER QUALITY-RULE AUDIT — the word-level half of the MassiveText
    * filter stack (Rae et al. 2021 App. A; reused by many corpora since):
    * per document, each rule's STATISTIC, each rule's VERDICT, and the
    * conjunction keep — auditable per rule, which is the point (a
    * curation team tunes thresholds by seeing which rule fires, not just
    * that a doc died). The repetition/line-grain rules of the same
    * appendix live with q_repetition / q_boilerplate.
    *
    * Rules: word count in [50, 100k]; mean word length in [3, 10];
    * symbol-to-word ratio (`#` + `...`) < 0.1; >80% of words contain an
    * alphabetic character; ≥2 distinct hits on the 8-word stop list.
    *
    * Parity shape: every statistic is integer-derived — word lengths sum
    * as `length(replace(text,' ',''))` (one string op, no per-word
    * aggregate), symbol counts as replace-length deltas (`...` count is
    * the delta over the left-to-right non-overlapping replace both
    * engines implement, exactly divisible by 3), alphabetic words as the
    * native [[org.apache.spark.sql.graftext.AlphaTokenCount]] byte walk
    * (the filter()-HOF form is the banned interpreted corpus-grain
    * shape; the regexp_count form measured ~2× slower than even the HOF
    * — see the expression's scaladoc; the oracle replays it as
    * regexp_extract_all with a token-boundary-anchored pattern), stop
    * hits as a sum of 8 `array_contains` indicators — so every ratio is an exact
    * long/long double division. One map-side pass, zero shuffles (the
    * orderBy is presentation). */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val repl = (what: String) =>
      length(col("text")) -
        length(call_function("replace", col("text"), lit(what), lit("")))
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(t).cast("long").as("n_words"),
        length(call_function("replace", col("text"), lit(" "), lit("")))
          .cast("long").as("sum_len"),
        repl("#").cast("long").as("hash_n"),
        (repl("...").cast("long") / lit(3L)).cast("long").as("ell_n"),
        GraftFunctions.alpha_token_count(col("text")).as("n_alpha"),
        GopherStops.map(w => array_contains(t, w).cast("long"))
          .reduce(_ + _).as("n_stop_hits"))
    stats
      .select(col("doc_id"), col("n_words"),
        (col("sum_len").cast("double") / col("n_words")).as("mean_word_len"),
        ((col("hash_n") + col("ell_n")).cast("double") / col("n_words"))
          .as("symbol_ratio"),
        (col("n_alpha").cast("double") / col("n_words"))
          .as("frac_alpha_words"),
        col("n_stop_hits"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("frac_alpha_words"), col("n_stop_hits"),
        (col("n_words") >= GopherMinWords &&
          col("n_words") <= GopherMaxWords).as("ok_word_count"),
        (col("mean_word_len") >= GopherMinMeanLen &&
          col("mean_word_len") <= GopherMaxMeanLen).as("ok_word_len"),
        (col("symbol_ratio") < GopherMaxSymbolRatio).as("ok_symbol"),
        (col("frac_alpha_words") > GopherMinAlphaFrac).as("ok_alpha"),
        (col("n_stop_hits") >= GopherMinStops).as("ok_stop"))
      .withColumn("keep",
        col("ok_word_count") && col("ok_word_len") && col("ok_symbol") &&
          col("ok_alpha") && col("ok_stop"))
      .transform(ContractSort.exchanged(_, "doc_id"))
  }

  /** DuckDB replay of [[gopherRules]] — generated from the same
    * constants so thresholds can't drift. */
  private def gopherRulesSql: String = {
    val stopSum = GopherStops
      .map(w => s"(CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH s AS (
           SELECT doc_id, text, string_split(text, ' ') AS t,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  CAST(length(replace(text, ' ', '')) AS BIGINT) AS sum_len,
                  CAST(length(text) - length(replace(text, '#', ''))
                       AS BIGINT) AS hash_n,
                  CAST((length(text) - length(replace(text, '...', ''))) // 3
                       AS BIGINT) AS ell_n
           FROM documents),
         r AS (
           SELECT doc_id, n_words,
                  CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
                  CAST(hash_n + ell_n AS DOUBLE) / n_words AS symbol_ratio,
                  CAST(len(regexp_extract_all(text, '(?:^| )[^ ]*[a-zA-Z][^ ]*'))
                       AS DOUBLE) / n_words AS frac_alpha_words,
                  CAST($stopSum AS BIGINT) AS n_stop_hits
           FROM s),
         v AS (
           SELECT *,
                  (n_words >= $GopherMinWords AND n_words <= $GopherMaxWords)
                    AS ok_word_count,
                  (mean_word_len >= $GopherMinMeanLen
                   AND mean_word_len <= $GopherMaxMeanLen) AS ok_word_len,
                  (symbol_ratio < $GopherMaxSymbolRatio) AS ok_symbol,
                  (frac_alpha_words > $GopherMinAlphaFrac) AS ok_alpha,
                  (n_stop_hits >= $GopherMinStops) AS ok_stop
           FROM r)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                frac_alpha_words, n_stop_hits, ok_word_count, ok_word_len,
                ok_symbol, ok_alpha, ok_stop,
                (ok_word_count AND ok_word_len AND ok_symbol AND ok_alpha
                 AND ok_stop) AS keep
         FROM v ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- fingerprint
  /** Document fingerprinting: 31-base rolling polynomial hash over the
    * character codepoints, mod 1e9+7 — the classic Rabin-Karp-style
    * fingerprint. Runs as the native codegen'd `RollingHash31` expression:
    * the HOF formulation (split into a one-string-per-char array +
    * interpreted fold — kept in VectorExprSpec as the parity reference)
    * measured ~2× a pure map scan at the 25× corpus, all of it allocation
    * and lambda overhead on a byte-stream fold. Arithmetic unchanged, so
    * the DuckDB oracle replays it exactly. (For pure-Spark scale use,
    * `xxhash64(text)` is the even cheaper non-portable fingerprint.) */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        GraftFunctions.rolling_hash31(col("text"))
          .as("fp_rolling"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- boilerplate
  /** Boilerplate/repetition detection: ratio of the most-repeated word
    * 3-gram to all 3-gram occurrences per doc — the classic "spammy
    * template" signal for corpus filtering. Docs under 3 tokens have no
    * shingle and drop out (mirrored in the oracle). */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    // Shares DedupOps' shingle definition (with multiplicity) so "same
    // shingle" is one concept across dedup and boilerplate scoring.
    // Content grain since round 11: max_rep/n_shingles are functions of
    // the text, so the explode + two-level aggregation run once per
    // distinct text and docs attach by fingerprint join.
    val docs = Tables.documents(spark, dir)
    val fpd = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val shF = DedupOps.fpShinglesAll(DedupOps.fpGrain(docs, "fp", "m"), "fp")
      .withColumnRenamed("fp", "doc_id")
    val stats = boilerplateStats(shF).withColumnRenamed("doc_id", "fp")
    fpd.join(stats, Seq("fp"))
      .select(col("doc_id"), col("max_rep"), col("n_shingles"))
      .withColumn("rep_ratio", col("max_rep").cast("double") / col("n_shingles"))
      .withColumn("is_boilerplate",
        isBoilerplate(col("max_rep"), col("n_shingles")))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- source quality
  /** Source-level quality dashboard: per source, doc counts, token and
    * distinct-token totals, mean type-token ratio — the aggregation a
    * curator reads before keeping/dropping a source. Exact int-derived
    * doubles only. */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("source"), size(t).cast("long").as("toks"),
        size(array_distinct(t)).cast("long").as("dtoks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        (sum(col("dtoks")).cast("double") / sum(col("toks"))).as("mean_ttr"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- tf-idf
  /** Per-source top-5 terms by exact TF-IDF. The idf is the RAW ratio
    * N/df — not log(N/df) — so the score is (tf·N)/df computed from
    * integers: IEEE multiply/divide are exactly specified, so the doubles
    * hash-match DuckDB bit-for-bit (a log() would diverge in the last ulp
    * between libm implementations). Ranking is deterministic (score desc,
    * token asc).
    *
    * Scale shape: tf is one map-side-partial count shuffled on (source,
    * token); df is a distinct + count shuffled on token. Both sides of
    * the tf⋈df join are VOCABULARY-sized: fewer rows than the corpus,
    * but on a 100 TB web corpus distinct tokens run to hundreds of
    * millions — far past broadcast feasibility — so the join carries no
    * hint and AQE picks broadcast vs shuffle from the RUNTIME size (both
    * sides already hash-partition on `token` from their aggregations, so
    * the sort-merge fallback is exchange-free). The final top-5-per-source
    * window runs on the tf aggregate, which is already small. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    // Content grain since round 11: tf(source, token) is the
    // multiplicity-weighted sum of per-text token counts over the
    // (fp, source) doc multiplicities, and df(token) weights per-text
    // PRESENCE by the per-fp doc total — both exactly the doc-grain
    // counts, so the token explode and the (fp, token) aggregation run
    // once per distinct text.
    val docs = Tables.documents(spark, dir)
    val fpm = docs.groupBy(md5(col("text")).as("fp"), col("source"))
      .agg(count(lit(1)).as("m"), min(col("text")).as("text"))
      .cache() // tf weighting + fp-total rollup + the distinct-text side
    val tc = fpm.select(col("fp"), col("text")).distinct()
      .select(col("fp"), explode(tokens(col("text"))).as("token"))
      .groupBy("fp", "token").agg(count(lit(1)).as("c"))
      .cache() // tf join + df presence
    val nDocs = fpm.agg(sum(col("m")).as("n_docs"))
    val tf = tc.join(fpm.select("fp", "source", "m"), Seq("fp"))
      .groupBy("source", "token").agg(sum(col("c") * col("m")).as("tf"))
    val fpTotal = fpm.groupBy("fp").agg(sum(col("m")).as("mt"))
    val df = tc.select("fp", "token").join(fpTotal, Seq("fp"))
      .groupBy("token").agg(sum(col("mt")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("tf_idf").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tf_idf", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select("source", "token", "tf", "df", "tf_idf", "rank")
      .orderBy("source", "rank")
  }

  // ---------------------------------------------------------------- repetition
  /** Gopher-style repetition metrics: duplicate-token fraction and
    * duplicate-3-gram fraction per doc (Rae et al. 2021 quality filters).
    * Complements `boilerplate` (max single-shingle share): these measure
    * TOTAL mass in repeats. Entirely map-side — the n-gram set never
    * explodes into rows, it stays an array expression per doc, so the
    * operator is a narrow projection at any scale. Docs under 3 tokens
    * have no 3-gram: gram columns go null (mirrored in the oracle). */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        ((col("n_tokens") - col("n_distinct_tokens")).cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        col("n_grams"), col("n_distinct_grams"),
        ((col("n_grams") - col("n_distinct_grams")).cast("double") / col("n_grams"))
          .as("dup_gram_frac"))
      .transform(ContractSort.exchanged(_, "doc_id"))

  // ---------------------------------------------------------------- BPE
  /** The first byte-pair-encoding iteration: global counts of adjacent
    * symbol pairs within words — argmax is the next merge a BPE vocab
    * trainer would take. The whole iteration is one explode + one
    * count shuffle; iterating it (apply merge, recount) is the actual
    * training loop, each round this same shape. Top 20 pairs with
    * deterministic (count desc, pair asc) ranking. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    // native char-bigram build (word_ngrams with "" separator over the
    // char split) — the interpreted transform+slice form paid ~19M lambda
    // calls at the 25× corpus for what is a per-word char walk
    val pairs = GraftFunctions.word_ngrams(split(col("w"), ""), 2, "")
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(pairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  // ---------------------------------------------------------------- BPE training
  /** Merge iterations for [[bpeTrain]] — the oracle SQL is generated with
    * the same constant so the unrolled CTE chain can't drift. */
  private[operators] val BpeTrainSteps = 3

  /** ITERATIVE BPE vocabulary training: [[bpePairs]] is one iteration's
    * statistics; this runs the actual trainer loop — pick the most frequent
    * adjacent symbol pair (count desc, then lexicographic — the standard
    * deterministic tie-break), merge it greedily left-to-right across the
    * corpus, recount, repeat. Output: the merge table (step, pair, count),
    * i.e. the first [[BpeTrainSteps]] vocab entries a real tokenizer
    * trainer would emit.
    *
    * Same driver-loop shape as dupComponents/IVF: per-step control flow is
    * a SCALAR argmax fetch (one row), never a data collect; the corpus
    * stays distributed and each merge is a map-side `replace` over it.
    *
    * Symbol encoding: a word's symbols are joined with `//` and wrapped in
    * `/` (`hello` → `/h//e//l//l//o/`), so the merge of pair (a,b) is a
    * plain string replace of `/a//b/` with `/ab/` — and because the
    * replacement consumes the shared boundary, consecutive occurrences
    * merge greedily left-to-right non-overlapping, which is exactly BPE's
    * merge rule AND exactly what both engines' `replace` does (the DuckDB
    * twin replays the whole loop as an unrolled CTE chain). Words
    * containing '/' are excluded on both sides (they'd break the
    * encoding). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    learnBpeMerges(spark, dir)
      .toDF("step", "left_sym", "right_sym", "n")
      .orderBy("step")
  }

  /** The trainer loop shared by [[bpeTrain]] (which emits the merge table)
    * and [[bpeEncode]] (which applies it to the corpus). Returns the learned
    * (step, left, right, pair-count) merges in step order. */
  private[operators] def learnBpeMerges(
      spark: SparkSession, dir: String,
      steps: Int = BpeTrainSteps): Seq[(Int, String, String, Long)] = {
    // The one corpus-sized pass: collapse word OCCURRENCES to a WEIGHTED
    // VOCABULARY (distinct encoded word → occurrence count) — the standard
    // BPE-trainer representation. Zipf's law makes the vocab orders of
    // magnitude smaller than the corpus, so the merge iterations below
    // touch vocab-sized frames only; pair counts stay occurrence-exact
    // because every vocab row carries its weight.
    var vocab = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .where(length(col("w")) >= 2 && !col("w").contains("/"))
      .select(concat(lit("/"), array_join(split(col("w"), ""), "//"), lit("/"))
        .as("enc"))
      .groupBy("enc").agg(count(lit(1)).as("wn"))
      .localCheckpoint(false)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    // LAZY localCheckpoint per step, not cache(): an iterative trainer's
    // lineage must be TRUNCATED, not just memoized. With cache() each
    // step's logical plan still nests the whole previous plan, and once
    // cache substitution wraps every level in InMemoryRelation the plan
    // PRINTER recurses into each level's innerChildren — plan-string
    // work compounds per level, and at 48 merges AQE's routine
    // explainString logging OOM'd a 4 GiB heap (measured; 3 merges never
    // showed it). localCheckpoint rebases each step on a LogicalRDD
    // leaf: bounded plans at ANY merge depth — the same reason every
    // production iterative-ML loop on Spark checkpoints. Lazy (eager =
    // false) keeps the one-job-per-step schedule: the step's argmax job
    // is what materializes the fresh checkpoint, reading the parent's
    // already-materialized blocks.
    //
    // Block cleanup is EXPLICIT (the cache() era's parent-unpersist
    // discipline, kept): checkpoint blocks are invisible to
    // spark.catalog.clearCache(), so relying on the ContextCleaner
    // would leak ~steps vocab copies past the harness sweep into the
    // next query's measurement. The parent unpersists right after the
    // argmax that consumed it.
    var prevVocab: Option[org.apache.spark.sql.DataFrame] = None
    def retire(): Unit = {
      prevVocab.foreach(
        org.apache.spark.sql.graftext.CheckpointUtils.unpersistLocalCheckpoint)
      prevVocab = None
    }
    for (step <- 1 to steps if !exhausted) {
      val best = vocab
        .select(split(expr("substring(enc, 2, length(enc) - 2)"), "//").as("s"),
          col("wn"))
        .where(size(col("s")) >= 2) // sequence(1, 0) would DESCEND in Spark
        .selectExpr("""explode(transform(sequence(1, size(s) - 1),
            i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))) AS p""",
          "wn")
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).take(1)
      retire()
      if (best.isEmpty) exhausted = true // every word fully merged — the
      // oracle's empty b<i> CTE contributes no row either
      else {
        val (a, b, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, a, b, n))
        if (step < steps) {
          // merged words can collide with existing vocab entries — re-group
          val next = vocab
            .groupBy(call_function("replace", col("enc"),
              lit(s"/$a//$b/"), lit(s"/$a$b/")).as("enc"))
            .agg(sum(col("wn")).as("wn"))
            .localCheckpoint(false)
          prevVocab = Some(vocab)
          vocab = next
        }
      }
    }
    retire()
    // the final vocab is consumed by nothing after the last argmax
    org.apache.spark.sql.graftext.CheckpointUtils.unpersistLocalCheckpoint(vocab)
    merges.result()
  }

  /** TOKENIZER APPLICATION: encode the corpus with the merge table
    * [[learnBpeMerges]] learns — the other half of a tokenizer round-trip,
    * and the shape of the "tokenize the whole corpus" job every training
    * run fronts. Per doc: qualifying-word count, post-merge token count,
    * and how many of those tokens are merged (multi-char) symbols — the
    * compression the learned vocab actually buys.
    *
    * Scale shape: the merge table is DRIVER-SMALL by construction (one row
    * per learned merge — a real trainer caps it at vocab-size, ~50k) and is
    * folded into the plan as literal chained `replace`s, so encoding is a
    * pure MAP over words: no shuffle until the final per-doc groupBy. At
    * 100 TB the merge chain compiles into whole-stage codegen and streams;
    * only the (doc_id-keyed, uniform) aggregation exchanges data. Same
    * word-filter as the trainer (length >= 2, no '/'), so the oracle's
    * unrolled-CTE replay sees the identical corpus. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeWith(spark, dir, BpeTrainSteps)

  /** Merge count for the PRODUCTION-VOCAB bench alias. 48 is far past the
    * 3-step unrolled-CTE oracle but still trains in bounded driver loops
    * (one vocab-sized argmax job per merge — a real 50k-merge trainer runs
    * this identical shape, just longer); the point benched here is the
    * ENCODE: a 48-deep chained-`replace` column compiled into whole-stage
    * codegen, streaming the corpus map-side — the cost profile of
    * "tokenize the corpus with a learned vocabulary" at production depth. */
  private[operators] val BpeBigSteps = 48

  /** PRODUCTION-VOCAB bench alias (`x_bpe_encode_big`): the same
    * train-then-encode round-trip as [[bpeEncode]] with [[BpeBigSteps]]
    * merges instead of the 3 the unrolled DuckDB CTE pins (same pattern
    * as x_ann_pq256: the registered query keeps the oracle-replayable toy
    * size; the alias benches the shape that ships). No DuckDB twin by
    * construction; TextSpec pins monotonicity (more merges never increase
    * a doc's token count, never change its word count). */
  def bpeEncodeBig(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeWith(spark, dir, BpeBigSteps)

  private def bpeEncodeWith(spark: SparkSession, dir: String,
      steps: Int): DataFrame = {
    val merges = learnBpeMerges(spark, dir, steps)
    val enc0 = concat(lit("/"), array_join(split(col("w"), ""), "//"), lit("/"))
    // apply merges in learned order — BPE's merge precedence IS train
    // order. ONE native ChainReplace node, not a foldLeft of nested
    // `replace`s: nesting makes plan strings quadratic in vocab depth
    // (48 merges OOM'd the heap in AQE's plan logging; a production
    // vocabulary is thousands of merges). Per-step semantics are
    // UTF8String.replace — exactly what the nested form evaluated, so
    // the q_bpe_encode driver oracle pins the node every round.
    val encFinal = GraftFunctions.chain_replace(enc0,
      merges.sortBy(_._1).map { case (_, a, b, _) => (s"/$a//$b/", s"/$a$b/") })
    // WORD-GRAIN DICTIONARY since round 11 (the trainer's own move,
    // applied to the encode): a word's token/merged counts are functions
    // of the word, and Zipf's law makes distinct words orders of
    // magnitude fewer than occurrences — so the merge chain runs once
    // per DISTINCT word and the per-doc totals come from an occurrence
    // join against the vocabulary-sized dictionary (AQE broadcasts it).
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .where(length(col("w")) >= 2 && !col("w").contains("/"))
    val dict = occ.select("w").distinct()
      .select(col("w"), encFinal.as("enc"))
      .select(col("w"),
        split(expr("substring(enc, 2, length(enc) - 2)"), "//").as("s"))
      // vocabulary-sized frame: the filter() HOF runs per distinct word,
      // never per occurrence
      .select(col("w"), size(col("s")).cast("long").as("w_tokens"),
        size(filter(col("s"), x => length(x) > 1)).cast("long").as("w_merged"))
    occ.join(dict, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_tokens")).as("n_tokens"),
        sum(col("w_merged")).as("n_merged"))
      .orderBy("doc_id")
  }

  /** Shared WITH-body for the BPE oracles: the trainer loop unrolled into a
    * CTE chain (weighted vocab w0, then p_i pair-counts / b_i argmax / w_i
    * merged-vocab per step) — generated from the same BpeTrainSteps constant
    * so the SQL can't drift from the Scala loop. */
  private def bpeChainCtes: String = {
    def pairsCte(src: String, i: Int): String =
      s"""p$i AS (
           SELECT s[i] AS a, s[i+1] AS b, sum(wn) AS n
           FROM (SELECT string_split(substr(enc, 2, length(enc) - 2), '//') AS s,
                        wn
                 FROM $src) t,
                unnest(generate_series(1, len(s) - 1)) AS u(i)
           GROUP BY 1, 2),
         b$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1)"""
    val steps = (1 to BpeTrainSteps).map { i =>
      val merge =
        if (i == 1) ""
        else
          s"""w${i - 1} AS (
           SELECT replace(enc, '/'||a||'//'||b||'/', '/'||a||b||'/') AS enc,
                  sum(wn) AS wn
           FROM w${i - 2} CROSS JOIN b${i - 1} GROUP BY 1),
         """
      merge + pairsCte(s"w${i - 1}", i)
    }.mkString(",\n         ")
    s"""w0 AS (
           SELECT enc, count(*) AS wn FROM (
             SELECT '/' || array_to_string(string_split(w, ''), '//') || '/' AS enc
             FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             WHERE length(w) >= 2 AND w NOT LIKE '%/%')
           GROUP BY enc),
         $steps"""
  }

  /** DuckDB replay of [[bpeTrain]]. */
  private def bpeTrainSql: String = {
    // CAST: DuckDB sum(BIGINT) is HUGEINT; the driver hashes dtypes-included,
    // so an int128 12345 vs Spark's int64 12345 is a hash MISMATCH even though
    // the values print identically (and check.py's string-compare used to
    // pass — exactly how this slipped through the round-5 local gate).
    val out = (1 to BpeTrainSteps)
      .map(i => s"SELECT $i AS step, a AS left_sym, b AS right_sym, CAST(n AS BIGINT) AS n FROM b$i")
      .mkString("\n         UNION ALL ")
    s"""WITH $bpeChainCtes
         $out
         ORDER BY step"""
  }

  /** DuckDB replay of [[bpeEncode]]: the b_i merges from the shared chain,
    * applied per word (doc_id kept) in step order. Each step is TOTAL: a
    * corpus that exhausts merges before BpeTrainSteps leaves later b_i
    * empty, and the LEFT JOIN + CASE makes that step a no-op — exactly
    * like the Scala loop, which simply has no more merges to apply. (The
    * earlier CROSS JOIN form emptied the whole encode chain instead: a
    * silent 0-row oracle on a sparse corpus while Spark still encoded.) */
  private def bpeEncodeSql: String = {
    val encChain = (1 to BpeTrainSteps).map { i =>
      s"""e$i AS (
           SELECT doc_id,
                  CASE WHEN a IS NULL THEN enc
                       ELSE replace(enc, '/'||a||'//'||b||'/', '/'||a||b||'/')
                  END AS enc
           FROM e${i - 1} LEFT JOIN b$i ON TRUE)"""
    }.mkString(",\n         ")
    s"""WITH $bpeChainCtes,
         e0 AS (
           SELECT doc_id,
                  '/' || array_to_string(string_split(w, ''), '//') || '/' AS enc
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents)
           WHERE length(w) >= 2 AND w NOT LIKE '%/%'),
         $encChain,
         syms AS (
           SELECT doc_id,
                  string_split(substr(enc, 2, length(enc) - 2), '//') AS s
           FROM e$BpeTrainSteps)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(len(s)) AS BIGINT) AS n_tokens,
                CAST(sum(len(list_filter(s, x -> length(x) > 1))) AS BIGINT)
                  AS n_merged
         FROM syms GROUP BY doc_id ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- heavy hitters
  /** Exact corpus heavy hitters: the top-50 most frequent tokens — the
    * vocabulary head a curator inspects for boilerplate markers and a
    * tokenizer trainer seeds from. One map-side-partial groupBy on the
    * token (Zipfian keys, but partial aggregation collapses the hot head
    * BEFORE the shuffle — the reducer sees one partial row per partition
    * per token, not the raw stream); the top-k is a TakeOrdered, never a
    * global sort materialization. Total order (count desc, token) makes
    * the limit boundary deterministic. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(50)

  /** The 100 TB form of [[heavyHitters]]: a count-min sketch replaces the
    * exact per-token counts. At web scale the distinct-token universe
    * (typos, URLs, hashes) is itself huge — the exact groupBy's shuffle
    * carries every distinct token. The CMS is a FIXED-SIZE (w×d counters)
    * mergeable summary built as one aggregate (partial sketches per
    * partition, merged associatively — same pattern as the bloom/HLL ops),
    * and any candidate set can then be point-estimated against it
    * map-side. Candidates here are tokens with doc-frequency ≥ 2 docs — at
    * scale they'd come from a sample; estimates are one-sided
    * (est ≥ true, est ≤ true + ε·N at the sketch's confidence).
    *
    * REGISTERED FORM IS SELF-CHECKING: the exact count rides the same
    * token aggregation the candidates need anyway, and `cms_ok` folds
    * the one-sided bound (exact ≤ est ≤ exact + 2εN, N attached as a
    * 1-row broadcast total) into a boolean — every output column is
    * deterministic (ordered by exact count, not by estimate), so the
    * driver's hash gate covers the sketch end-to-end; an out-of-bound
    * estimate flips the boolean and hash-fails. The estimate-emitting
    * production projection lives in [[heavyHittersCmsEstimate]]
    * (error-bounded in SketchSpec). */
  /** The ONE token-stream + sketch build shared by the checked and the
    * estimate-only CMS projections — an eps/confidence/seed change can
    * never half-apply. `toks` is cached: the sketch-build action and the
    * candidate aggregation both consume the exploded token stream
    * (Verify/Bench clear caches per query). eps=1e-4 → width 27k
    * counters ≈ 1.5 MB at depth 7: fixed size no matter the corpus.
    * Driver fetch of ONE aggregated row (the sketch). */
  private def cmsTokensAndSketch(spark: SparkSession,
      dir: String): (DataFrame, Array[Byte]) = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .cache()
    val skBytes = toks
      .agg(count_min_sketch(xxhash64(col("tok")), lit(0.0001), lit(0.99), lit(42))
        .as("sk"))
      .head().getAs[Array[Byte]](0)
    (toks, skBytes)
  }

  def heavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    import GraftFunctions._
    val (toks, skBytes) = cmsTokensAndSketch(spark, dir)
    toks.groupBy("tok")
      .agg(count(lit(1)).as("n_exact"),
        count_distinct(col("doc_id")).as("df"))
      .where(col("df") >= 2)
      .crossJoin(broadcast(toks.agg(count(lit(1)).as("_n_total"))))
      .select(col("tok"), col("n_exact"),
        cms_estimate(skBytes, xxhash64(col("tok"))).as("_est"),
        ceil(col("_n_total").cast("double") * 0.0002).as("_over")) // 2·ε·N
      .select(col("tok"), col("n_exact"),
        (col("_est") >= col("n_exact") &&
          col("_est") <= col("n_exact") + col("_over")).as("cms_ok"))
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(50)
  }

  /** The estimate-emitting production projection of [[heavyHittersCms]]
    * — candidates point-estimated against the sketch, no exact counts
    * (what a 100 TB run emits); one-sided error bounded in SketchSpec;
    * bench-timed as `x_heavy_hitters_cms_est`. */
  def heavyHittersCmsEstimate(spark: SparkSession, dir: String): DataFrame = {
    import GraftFunctions._
    val (toks, skBytes) = cmsTokensAndSketch(spark, dir)
    toks.groupBy("tok").agg(count_distinct(col("doc_id")).as("df"))
      .where(col("df") >= 2)
      .select(col("tok"), cms_estimate(skBytes, xxhash64(col("tok"))).as("est_n"))
      .orderBy(col("est_n").desc, col("tok"))
      .limit(50)
  }

  // ---------------------------------------------------------------- outliers
  /** Per-source length outliers by z-score, from EXACT integer moments:
    * count/sum/sum-of-squares are long aggregates (order-independent),
    * and mean/variance/z are then a fixed dag of individually-rounded
    * IEEE double ops on integer-derived values — bit-identical in any
    * engine evaluating the same expression shape, unlike a naive
    * stddev_samp over doubles whose accumulation order differs per
    * engine/partitioning. Zero-variance sources are excluded BEFORE the
    * division: 0/0 would give NaN, which Spark's `>` rejects but DuckDB
    * sorts above everything — the guard keeps the engines agreeing.
    *
    * Scale shape: the moments are one map-side-partial groupBy over
    * #sources keys; the per-doc z is a broadcast join back (the stats
    * frame is sources-sized) — fully map-side over the corpus scan. */
  def lengthZscore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val stats = docs.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("n_chars")).as("s1"),
      sum(col("n_chars") * col("n_chars")).as("s2"))
    val mean = col("s1").cast("double") / col("n")
    val variance = col("s2").cast("double") / col("n") - mean * mean
    docs.join(broadcast(stats), Seq("source"))
      .where(variance > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        ((col("n_chars") - mean) / sqrt(variance)).as("z"))
      .where(abs(col("z")) > 2.0)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- histogram
  /** Per-source document-length histogram in fixed 100-char buckets —
    * the corpus-shape profile a curator reads next to the quantiles.
    * One map-side-partial groupBy on (source, bucket); integer DIV
    * bucketing (n_chars ≥ 0, so DIV == DuckDB's //). */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"), expr("n_chars DIV 100").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy("source", "bucket")

  // ---------------------------------------------------------------- surprisal
  /** Per-document mean token surprisal against the corpus unigram
    * distribution — the model-free "how rare is this document's
    * vocabulary" score used next to quality/repetition in curation
    * (rare-token-heavy docs ≈ novel or noisy; common-token docs ≈
    * boilerplate).
    *
    * Surprisal −log₂ p(tok) is quantized to INTEGER bits as
    * `floor(log₂ N) − floor(log₂ c)` (within ±1 bit of the real value) —
    * computed via binary-digit length (`length(bin(x))−1`), never a
    * floating log: libm rounding differs across engines, but the digit
    * length is exact integer arithmetic, so the oracle hash-matches and
    * the score is reproducible anywhere.
    *
    * Scale shape: one groupBy for the token frequencies, one shuffle
    * join of the exploded token stream with them (vocabulary-sized right
    * side — AQE broadcasts it when small, hash-joins when web-scale), one
    * per-doc aggregation. The token stream is cached: frequencies, the
    * total, and the join all consume it. */
  def surprisal(spark: SparkSession, dir: String): DataFrame = {
    // Content grain since round 11: the corpus token distribution is a
    // MULTIPLICITY-WEIGHTED sum over distinct texts (sum(m) == the
    // doc-grain count exactly), and a document's score is a function of
    // its text given that distribution — so the explode, the frequency
    // aggregation, and the scoring join all run once per distinct text,
    // with per-doc rows attached by fingerprint join at the end.
    val docs = Tables.documents(spark, dir)
    val fpd = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    // the ONE canonical fingerprint rollup (DedupOps.fpGrain) — a local
    // groupBy twin here would silently split the grain definition
    val grp = DedupOps.fpGrain(docs, "fp", "m")
    val toks = grp
      .select(col("fp"), col("m"), explode(tokens(col("text"))).as("tok"))
      .cache() // frequencies, the total, and the scoring join consume it
    val freq = toks.groupBy("tok").agg(sum(col("m")).as("c"))
    val total = toks.agg(sum(col("m")).as("n_total"))
    val bits = (length(bin(col("n_total"))) - 1) - (length(bin(col("c"))) - 1)
    val perFp = toks.join(freq, "tok")
      .crossJoin(broadcast(total))
      .select(col("fp"), bits.as("bits"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
    fpd.join(perFp, Seq("fp"))
      .select(col("doc_id"), col("n_tokens"), col("sum_bits"))
      .withColumn("mean_bits", col("sum_bits").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- feature hashing
  /** Hashed-vector dimensionality for [[hashEmbed]]. */
  private val HashDim = 64

  /** Feature-hashing document vectors (the hashing trick, Weinberger et
    * al. 2009): each token maps to a bucket by a portable content hash
    * and the document's vector is the bucket-count histogram — the
    * deterministic, vocabulary-free featurization that turns raw text
    * into the `embeddings`-style vectors the similarity family consumes
    * (no trained vocabulary to ship, collisions absorbed by dimension
    * count). Output is LONG-FORM (doc_id, dim, tf) — the sparse
    * representation a 100 TB pipeline stores (zero buckets carry no
    * rows), and the gate needs no array comparisons. One explode + one
    * (doc, dim)-grain aggregation; the md5-prefix bucket is the same
    * portable hash the split/shard assignments use, so DuckDB replays it
    * byte-for-byte. */
  def hashEmbed(spark: SparkSession, dir: String): DataFrame = {
    // Content grain since round 11: the bucket histogram is a function
    // of the text alone, so the explode + (fp, dim) aggregation run once
    // per distinct text; doc-grain rows come from the fingerprint join —
    // every emitted row is an output row.
    val docs = Tables.documents(spark, dir)
    val fpd = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    // DedupOps.fpGrain is the one rollup definition; the unused count
    // column is pruned by the optimizer
    val perFp = DedupOps.fpGrain(docs, "fp", "m_unused")
      .select(col("fp"), explode(tokens(col("text"))).as("tok"))
      .select(col("fp"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % HashDim).as("dim"))
      .groupBy("fp", "dim")
      .agg(count(lit(1)).as("tf"))
    fpd.join(perFp, Seq("fp"))
      .select(col("doc_id"), col("dim"), col("tf"))
      .orderBy("doc_id", "dim")
  }

  // ----------------------------------------------------------- BPE fertility
  /** Tokenizer-fertility audit: per (source, lang), how efficiently the
    * learned BPE vocabulary encodes that slice — words, characters,
    * emitted tokens, tokens-per-word (fertility) and chars-per-token
    * (compression). The number a tokenizer team watches per language:
    * high fertility on a language means its text pays more sequence
    * length per word than the training mix intended (the multilingual
    * fairness metric), and a source whose compression suddenly drops is
    * a data-quality signal (encoding junk, wrong language, markup).
    *
    * Same encode chain as [[bpeEncode]] (merge table folded into the
    * plan as literal chained replaces — map-side over words), aggregated
    * at the bounded (source, lang) grain instead of per-doc: one
    * corpus-grain scan, one bounded-key aggregation. The ratios are
    * single double divisions of exact longs — deterministic and
    * oracle-replayable. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val merges = learnBpeMerges(spark, dir)
    val enc0 = concat(lit("/"), array_join(split(col("w"), ""), "//"), lit("/"))
    val encFinal = merges.sortBy(_._1).foldLeft(enc0) { case (e, (_, a, b, _)) =>
      call_function("replace", e, lit(s"/$a//$b/"), lit(s"/$a$b/"))
    }
    // word-grain dictionary, same as [[bpeEncodeWith]]: encode each
    // distinct word once, weight by occurrence at the (source, lang) agg
    val occ = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), explode(tokens(col("text"))).as("w"))
      .where(length(col("w")) >= 2 && !col("w").contains("/"))
    val dict = occ.select("w").distinct()
      .select(col("w"), length(col("w")).cast("long").as("wc"),
        encFinal.as("enc"))
      .select(col("w"), col("wc"),
        size(split(expr("substring(enc, 2, length(enc) - 2)"), "//"))
          .cast("long").as("wt"))
    occ.join(dict, Seq("w"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("wc")).as("sum_chars"),
        sum(col("wt")).as("n_tokens"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words"))
      .withColumn("chars_per_token",
        col("sum_chars").cast("double") / col("n_tokens"))
      .orderBy("source", "lang")
  }

  /** DuckDB replay of [[bpeFertility]] — the shared trainer CTE chain,
    * an encode chain carrying (source, lang, word chars), and the same
    * exact-long aggregates + double divisions. */
  private def bpeFertilitySql: String = {
    val encChain = (1 to BpeTrainSteps).map { i =>
      s"""f$i AS (
           SELECT source, lang, wc,
                  CASE WHEN a IS NULL THEN enc
                       ELSE replace(enc, '/'||a||'//'||b||'/', '/'||a||b||'/')
                  END AS enc
           FROM f${i - 1} LEFT JOIN b$i ON TRUE)"""
    }.mkString(",\n         ")
    s"""WITH $bpeChainCtes,
         f0 AS (
           SELECT source, lang, length(w) AS wc,
                  '/' || array_to_string(string_split(w, ''), '//') || '/' AS enc
           FROM (SELECT source, lang, unnest(string_split(text, ' ')) AS w
                 FROM documents)
           WHERE length(w) >= 2 AND w NOT LIKE '%/%'),
         $encChain,
         fsyms AS (
           SELECT source, lang, wc,
                  string_split(substr(enc, 2, length(enc) - 2), '//') AS s
           FROM f$BpeTrainSteps),
         agg AS (
           SELECT source, lang,
                  CAST(count(*) AS BIGINT) AS n_words,
                  CAST(sum(wc) AS BIGINT) AS sum_chars,
                  CAST(sum(len(s)) AS BIGINT) AS n_tokens
           FROM fsyms GROUP BY source, lang)
         SELECT source, lang, n_words, sum_chars, n_tokens,
                CAST(n_tokens AS DOUBLE) / n_words AS fertility,
                CAST(sum_chars AS DOUBLE) / n_tokens AS chars_per_token
         FROM agg ORDER BY source, lang"""
  }

  // --------------------------------------------------------------- bigram LM
  /** The "clean reference" training partition for [[bigramLm]] — the role
    * Wikipedia plays in CCNet: the LM is trained on a trusted slice and
    * scores the whole corpus against it. Shared between the Spark query
    * and the generated oracle so the two can't drift. */
  private[operators] val LmRef = "src0"

  /** Reference-corpus bigram language-model scoring — the CCNet-style
    * perplexity quality filter (Wenzek et al. 2020): train a bigram model
    * on one clean reference partition (source = [[LmRef]]), then score
    * EVERY document by its mean conditional surprisal −log₂ p(w₂|w₁)
    * under that model. Low mean bits ≈ reference-like text (keep bucket);
    * high ≈ out-of-domain or noise (the head/tail split CCNet thresholds
    * on). Unlike [[surprisal]] (self-trained unigram novelty), this is a
    * CROSS-domain score: the model and the scored docs are different
    * partitions, so unseen bigrams exist and need smoothing.
    *
    * Add-one smoothing in EXACT integer arithmetic: p = (c+1)/(c_ctx+V)
    * with V = the reference vocabulary size, quantized to integer bits as
    * floor(log₂(c_ctx+V)) − floor(log₂(c+1)) via binary digit length —
    * never a floating log (libm rounding differs across engines; digit
    * length is exact, so the oracle hash-matches — the q_surprisal
    * recipe). Unseen context ⇒ c_ctx = c = 0 ⇒ the uniform-prior
    * floor(log₂ V) bits.
    *
    * Scale shape: bigrams come from the native [[WordNGrams]] builder
    * (corpus-grain — the interpreted transform+slice form is banned);
    * model counts are two aggregations over the REFERENCE slice only;
    * scoring is two joins of the exploded bigram stream against
    * vocabulary-sized count tables — deliberately UNHINTED (the q_tfidf
    * lesson: a reference-vocabulary frame broadcasts fine for a curated
    * reference, but AQE gets to decide from runtime sizes, not us); V is
    * the one genuine 1-row scalar attach. The bigram stream is cached:
    * both model aggregations and the scoring join consume it. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLmWith(spark, dir, col("source") === LmRef)

  /** Replica-key ceiling of the scaled corpora (tools/make_scaled.py
    * offsets copy i's keys by i·10^12): `doc_id < ReplicaOffset` selects
    * the ORIGINAL rows inside any replicated corpus, and everything at
    * an unreplicated SF. */
  private[operators] val ReplicaOffset = 1000000000000L

  /** BENCH-ONLY production shape of [[bigramLm]] (`x_bigram_lm_fixedref`):
    * train the model on the UNREPLICATED reference slice only. On a real
    * pipeline the reference corpus (the Wikipedia role) is fixed-size
    * while the scored corpus grows — the registered query's N× slope
    * conflates the two because make_scaled replicates the reference
    * along with everything else. Row-identical to [[bigramLm]] on any
    * unreplicated corpus (spec-pinned), so it needs no oracle of its
    * own; at N× it measures the shape production actually runs. */
  def bigramLmFixedRef(spark: SparkSession, dir: String): DataFrame =
    bigramLmWith(spark, dir,
      col("source") === LmRef && col("doc_id") < ReplicaOffset)

  /** `isRef` may reference only `source` and `doc_id` (the columns the
    * shared bigram frame carries). */
  private def bigramLmWith(spark: SparkSession, dir: String,
      isRef: Column): DataFrame = {
    import GraftFunctions.word_ngrams
    // Content grain since round 11: the model counts are MULTIPLICITY-
    // WEIGHTED sums over distinct texts — each text contributes its
    // bigram counts once per REFERENCE doc carrying it (m_ref, computed
    // in the fingerprint rollup since isRef reads only source/doc_id),
    // so sum(m_ref) == the doc-grain reference count exactly — and a
    // document's score is a function of its text given the model. The
    // bigram explode therefore runs once per distinct text for BOTH the
    // model side (filter m_ref > 0 on the shared cached frame, never a
    // join) and the scoring side, with per-doc rows attached by
    // fingerprint join at the end.
    val d = Tables.documents(spark, dir)
    val fpd = d.select(col("doc_id"), md5(col("text")).as("fp"))
    val grp = d.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("text")).as("text"),
        sum(when(isRef, 1L).otherwise(0L)).as("m_ref"))
      .cache() // bigram explode + the vocabulary scan
    val bg = grp.select(col("fp"), col("m_ref"),
        explode(word_ngrams(tokens(col("text")), 2)).as("bg"))
      .withColumn("ctx", element_at(split(col("bg"), " "), 1))
      .cache()
    val ref = bg.where(col("m_ref") > 0L)
    val bgc = ref.groupBy("bg").agg(sum(col("m_ref")).as("cb"))
    val cc = ref.groupBy("ctx").agg(sum(col("m_ref")).as("cctx"))
    val vocab = grp.where(col("m_ref") > 0L)
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    def fl2(c: Column): Column = length(bin(c)) - 1
    val perFp = bg.join(bgc, Seq("bg"), "left")
      .join(cc, Seq("ctx"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("fp"),
        (fl2(coalesce(col("cctx"), lit(0L)) + col("v"))
          - fl2(coalesce(col("cb"), lit(0L)) + lit(1L))).as("bits"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
    fpd.join(perFp, Seq("fp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"))
      .withColumn("mean_bits",
        col("sum_bits").cast("double") / col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[bigramLm]]: bigram strings built as
    * `t[i] || ' ' || t[i+1]` (byte-identical to WordNGrams' concat_ws —
    * tokens are space-split so they contain no separator), ctx taken
    * directly as t[i] (identical to the Spark side's re-split first
    * element for space-free tokens), same add-one integer-bits formula
    * via to_base digit length. */
  private def bigramLmSql: String =
    s"""WITH d AS (
           SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         bg AS (
           SELECT doc_id, source, t[i] AS ctx, t[i] || ' ' || t[i+1] AS bg
           FROM d, unnest(generate_series(1, len(t) - 1)) AS u(i)),
         bgc AS (
           SELECT bg, count(*) AS cb FROM bg
           WHERE source = '$LmRef' GROUP BY 1),
         cc AS (
           SELECT ctx, count(*) AS cctx FROM bg
           WHERE source = '$LmRef' GROUP BY 1),
         v AS (
           SELECT count(DISTINCT tok) AS v FROM (
             SELECT unnest(string_split(text, ' ')) AS tok
             FROM documents WHERE source = '$LmRef')),
         s AS (
           SELECT b.doc_id,
                  (length(to_base(COALESCE(c.cctx, 0) + v.v, 2)) - 1)
                    - (length(to_base(COALESCE(g.cb, 0) + 1, 2)) - 1) AS bits
           FROM bg b
           LEFT JOIN bgc g USING (bg)
           LEFT JOIN cc c USING (ctx)
           CROSS JOIN v)
         SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(bits) AS BIGINT) AS sum_bits,
                CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
         FROM s GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------------------------- PII
  /** PII pattern constants, shared verbatim between the Spark queries and
    * the generated DuckDB oracles so the two sides cannot drift. The
    * dialect-intersection rules: character classes + bounded repetition +
    * non-capturing groups + `\b` only — identical semantics in Java regex
    * (Spark) and RE2 (DuckDB); no lookaround, no backreferences (RE2 has
    * neither), no capture-group replacements. */
  private[operators] val EmailPat =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val PhonePat =
    "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  private[operators] val Ipv4Pat =
    "\\b(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)" +
      "(?:\\.(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}\\b"

  /** Per-doc PII profile: independent non-overlapping match counts per
    * category (counted on the ORIGINAL text — the categories are not
    * sequential). The detection/quantification side of the PII story —
    * the numbers a curation gate thresholds on; the redaction side is
    * `PipelineOps.piiRedact` (q_pii_redact). Pure map-side scan work —
    * the 100 TB shape is one narrow projection, linear in corpus bytes,
    * embarrassingly parallel. Counts cast to long on both sides (DuckDB
    * len() is BIGINT). The driver corpus is digit-free, so the oracle's
    * value check is trivially-zero there — TextMultimodalSpec plants
    * emails/phones/IPs (incl. the 999.x invalid-octet and dotted-phone
    * traps) and pins the per-category counts. */
  def piiProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailPat)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(PhonePat)).cast("long").as("n_phones"),
        regexp_count(col("text"), lit(Ipv4Pat)).cast("long").as("n_ipv4"))
      .withColumn("n_pii", col("n_emails") + col("n_phones") + col("n_ipv4"))
      .withColumn("has_pii", col("n_pii") > 0)
      .transform(ContractSort.exchanged(_, "doc_id"))

  /** The DuckDB fold of the polynomial rolling hash (base 31, mod
    * 1000000007) over a list of char codes: q_fingerprint's twin and the
    * substring-dedup window hashes in [[DedupOps]] fold through it. */
  private[operators] final val RollingHashFold =
    "(h, c) -> (h * 31 + c) % 1000000007"

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    // the CMS query's exact twin: DuckDB computes the exact candidate
    // counts and asserts TRUE — a Spark estimate outside the folded
    // one-sided bound flips cms_ok and hash-fails (the estimate ITSELF
    // has no DuckDB twin; the checked projection does)
    Entry("q_heavy_hitters_cms", heavyHittersCms, Some(
      """WITH tk AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         c AS (
           SELECT tok, count(*) AS n_exact, count(DISTINCT doc_id) AS df
           FROM tk GROUP BY tok)
         SELECT tok, n_exact, TRUE AS cms_ok FROM c WHERE df >= 2
         ORDER BY n_exact DESC, tok LIMIT 50""")),
    // estimate only: the q_ form adds exact token counts to check the
    // sketch, the work the production path exists to avoid
    Entry("x_heavy_hitters_cms_est", heavyHittersCmsEstimate),
    // floor-log2 via binary digit length (to_base == Spark's bin) — exact
    // integer bits, no libm
    Entry("q_surprisal", surprisal, Some(
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         n AS (SELECT count(*) AS n_total FROM toks),
         b AS (
           SELECT doc_id,
                  (length(to_base(n.n_total, 2)) - 1)
                    - (length(to_base(f.c, 2)) - 1) AS bits
           FROM toks JOIN freq f USING (tok) CROSS JOIN n)
         SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(bits) AS BIGINT) AS sum_bits,
                CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
         FROM b GROUP BY doc_id ORDER BY doc_id""")),
    Entry("q_heavy_hitters", heavyHitters, Some(
      """SELECT tok, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY tok ORDER BY n DESC, tok LIMIT 50""")),
    Entry("q_bpe_train", bpeTrain, Some(bpeTrainSql)),
    Entry("q_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    // production-depth encode, 48 learned merges (q_bpe_encode pins 3
    // merges for the unrolled DuckDB training CTE)
    Entry("x_bpe_encode_big", bpeEncodeBig),
    Entry("q_bigram_lm", bigramLm, Some(bigramLmSql)),
    // trains on the unreplicated reference slice: the production shape
    // (fixed reference, growing corpus) that make_scaled's replicated
    // reference hides; row-identical to q_bigram_lm on any unreplicated
    // corpus (spec-pinned)
    Entry("x_bigram_lm_fixedref", bigramLmFixedRef),
    Entry("q_bpe_fertility", bpeFertility, Some(bpeFertilitySql)),
    Entry("q_hash_embed", hashEmbed, Some(
      s"""SELECT doc_id,
                ('0x' || substr(md5(tok), 1, 8))::BIGINT % $HashDim AS dim,
                count(*) AS tf
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents)
         GROUP BY 1, 2 ORDER BY doc_id, dim""")),
    Entry("q_zscore", lengthZscore, Some(
      """WITH s AS (
           SELECT source, count(*) AS n, sum(n_chars) AS s1,
                  sum(n_chars * n_chars) AS s2
           FROM documents GROUP BY source)
         SELECT doc_id, source, n_chars, z FROM (
           SELECT d.doc_id, d.source, d.n_chars,
                  (d.n_chars - CAST(s1 AS DOUBLE)/n) /
                    sqrt(CAST(s2 AS DOUBLE)/n -
                         (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)) AS z
           FROM documents d JOIN s USING (source)
           WHERE CAST(s2 AS DOUBLE)/n -
                 (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n) > 0)
         WHERE abs(z) > 2
         ORDER BY doc_id""")),
    Entry("q_len_histo", lengthHistogram, Some(
      """SELECT source, n_chars // 100 AS bucket, count(*) AS n_docs,
                min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY source, n_chars // 100
         ORDER BY source, bucket""")),
    Entry("q_token_count", tokenCount, Some(
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
                len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""")),
    Entry("q_lang_id", langId, Some(
      """WITH s AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sc AS (
           SELECT doc_id,
             len(list_filter(t, x -> x IN ('spark','join','filter','agg','hash','merge'))) AS s_compute,
             len(list_filter(t, x -> x IN ('table','row','column','scan','vector'))) AS s_storage,
             len(list_filter(t, x -> x IN ('batch','stream','window','order','key'))) AS s_stream
           FROM s)
         SELECT doc_id, s_compute, s_storage, s_stream,
                CASE WHEN s_compute >= s_storage AND s_compute >= s_stream THEN 'lang_compute'
                     WHEN s_storage >= s_stream THEN 'lang_storage'
                     ELSE 'lang_stream' END AS predicted_lang
         FROM sc ORDER BY doc_id""")),
    Entry("q_text_quality", qualityScore, Some(
      """WITH s AS (
           SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
         m AS (
           SELECT doc_id, length(text) AS len_chars, len(t) AS n_tokens,
                  len(list_distinct(t)) AS n_distinct,
                  len(list_filter(t, x -> x IN ('the','a'))) AS n_stopwords
           FROM s)
         SELECT doc_id, len_chars, n_tokens, n_distinct, n_stopwords,
                CAST(n_distinct AS DOUBLE)/n_tokens AS type_token_ratio,
                CAST(n_stopwords AS DOUBLE)/n_tokens AS stopword_ratio,
                (n_tokens >= 10 AND CAST(n_stopwords AS DOUBLE)/n_tokens < 0.3
                 AND CAST(n_distinct AS DOUBLE)/n_tokens > 0.2) AS quality_ok
         FROM m ORDER BY doc_id""")),
    Entry("q_gopher_rules", gopherRules, Some(gopherRulesSql)),
    Entry("q_boilerplate", boilerplate, Some(
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         tok3 AS (SELECT * FROM toks WHERE len(t) >= 3),
         sh AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(t) - 2),
                    i -> array_to_string(t[i:i+2], ' '))) AS shingle
           FROM tok3),
         cnt AS (
           SELECT doc_id, shingle, count(*) AS c
           FROM sh GROUP BY doc_id, shingle)
         SELECT doc_id, CAST(max(c) AS BIGINT) AS max_rep,
                CAST(sum(c) AS BIGINT) AS n_shingles,
                CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS rep_ratio,
                (CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) > 0.2
                 AND max(c) >= 3) AS is_boilerplate
         FROM cnt GROUP BY doc_id ORDER BY doc_id""")),
    Entry("q_source_quality", sourceQuality, Some(
      """WITH d AS (
           SELECT source, len(string_split(text, ' ')) AS toks,
                  len(list_distinct(string_split(text, ' '))) AS dtoks
           FROM documents)
         SELECT source, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS total_tokens,
                CAST(sum(dtoks) AS DOUBLE) / CAST(sum(toks) AS BIGINT) AS mean_ttr
         FROM d GROUP BY source ORDER BY source""")),
    Entry("q_bpe_pairs", bpePairs, Some(
      """WITH w AS (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         w2 AS (SELECT w, string_split(w, '') AS c FROM w WHERE length(w) >= 2),
         p AS (
           SELECT unnest(list_transform(generate_series(1, len(c) - 1),
                    i -> c[i] || c[i + 1])) AS pair
           FROM w2)
         SELECT pair, count(*) AS n FROM p GROUP BY pair
         ORDER BY n DESC, pair LIMIT 20""")),
    Entry("q_tfidf", tfidf, Some(
      """WITH toks AS (
           SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
           FROM documents),
         n AS (SELECT count(*) AS n_docs FROM documents),
         tf AS (SELECT source, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         scored AS (
           SELECT tf.source, tf.token, tf.tf, df.df,
                  CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS tf_idf
           FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY tf_idf DESC, token) AS rank
           FROM scored)
         SELECT source, token, tf, df, tf_idf, rank
         FROM ranked WHERE rank <= 5 ORDER BY source, rank""")),
    Entry("q_repetition", repetition, Some(
      """WITH s AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         m AS (
           SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct_tokens,
                  CASE WHEN len(t) >= 3 THEN
                    list_transform(generate_series(1, len(t) - 2),
                      i -> array_to_string(t[i:i+2], ' '))
                  END AS grams
           FROM s)
         SELECT doc_id, n_tokens, n_distinct_tokens,
                CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens AS dup_token_frac,
                len(grams) AS n_grams,
                len(list_distinct(grams)) AS n_distinct_grams,
                CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
                  AS dup_gram_frac
         FROM m ORDER BY doc_id""")),
    Entry("q_fingerprint", fingerprint, Some(
      s"""SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                  $RollingHashFold) AS fp_rolling
         FROM documents ORDER BY doc_id""")),
    // The PII patterns interpolate from the SAME Scala constants the Spark
    // query uses (dialect-intersection regex: char classes, bounded reps,
    // non-capturing groups, \b — identical in Java regex and RE2);
    // len(regexp_extract_all) = Spark's regexp_count (both count
    // non-overlapping, leftmost-first matches).
    Entry("q_pii_profile", piiProfile, Some(
      s"""WITH c AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '$PhonePat')) AS BIGINT) AS n_phones,
             CAST(len(regexp_extract_all(text, '$Ipv4Pat')) AS BIGINT) AS n_ipv4
           FROM documents)
         SELECT doc_id, n_emails, n_phones, n_ipv4,
                n_emails + n_phones + n_ipv4 AS n_pii,
                (n_emails + n_phones + n_ipv4) > 0 AS has_pii
         FROM c ORDER BY doc_id""")),
  )
}
