package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftFunctions

import graft.{Entry, Tables}

/** Deduplication operators for a large-scale training-data pipeline.
  *
  * Scale design notes (100 TB / 1000 executors):
  *  - Exact dedup is a hash-groupBy on the content hash — one shuffle,
  *    map-side partial aggregation, no skew (hashes are uniform).
  *  - All near-dup candidate generation is BLOCKED (by `source` here,
  *    by LSH band-buckets for MinHash): the quadratic pair space is never
  *    materialized globally, only within buckets. This is the difference
  *    between O(n²) and O(n·bucket) at scale.
  *  - Shingle/feature explosion happens map-side off the document scan;
  *    the only shuffles are the bucket-key groupBys — candidate pairs are
  *    generated map-side from each bucket's collected doc list
  *    (pairCombos), never by re-exchanging the exploded grain through a
  *    self-join.
  *
  * CACHING CONTRACT: ngramJaccard/minhashLsh/simhashPairs/snapshotNearDup
  * and the substring family (substrDedup/substrIntra/substrScrub)
  * `.cache()` the shingle/signature/k-gram-position intermediates they
  * reuse within one query and never unpersist them (the handles are
  * internal; the query
  * returns a lazy frame, so there is no in-query point "after
  * materialization" to release at). A LONG-LIVED session running these
  * repeatedly should call `spark.catalog.clearCache()` between queries —
  * Bench does after every query, Verify in sequential mode; Verify's
  * PARALLEL mode deliberately relies on MEMORY_AND_DISK LRU eviction
  * instead (a global clear would unpersist frames an in-flight sibling is
  * mid-scan on — see the comment in Verify.main).
  */
object DedupOps {

  /** Word 3-gram shingle explosion WITH multiplicity — the one shared
    * tokenize+shingle definition (dedup ops and TextOps.boilerplate both
    * build on it, so "same shingle" always means the same thing).
    * Docs shorter than 3 tokens have no shingle and drop out — replicated
    * in the oracle SQL (`len(t) >= 3`) because Spark's `sequence(1, n)`
    * generates a DESCENDING sequence when n < 1 while DuckDB's
    * generate_series returns empty. */
  private[operators] def shingleExplode(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"), col("source"),
        // native gram builder (byte-level concat, one loop, one output
        // allocation) — the interpreted transform+slice form paid a
        // lambda call and an O(n) slice copy PER GRAM, a real tax on the
        // operator family that feeds every near-dup pipeline. Identical
        // strings (spec-pinned vs the HOF form in VectorExprSpec).
        explode(GraftFunctions.word_ngrams(col("t"), 3))
          .as("shingle"))

  /** Distinct shingle SET per doc (the Jaccard/MinHash input). */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    shingleExplode(docs).distinct()

  /** All pairs (a[i], a[j]) with i < j from an array column, generated
    * MAP-SIDE by the native PairCombos expression (one tight loop, one
    * allocation — the equivalent nested-transform/slice HOF pays O(n²)
    * interpreted slice copies). This is the groupBy-collect replacement
    * for a blocked self-join: one shuffle (the groupBy that built the
    * array) instead of two join exchanges + a join, and the a<b pair
    * convention falls out of the caller sorting the array. Output size is
    * C(n,2) per array either way — the caller bounds n (df cap / bucket
    * size), exactly as it had to bound the join's per-key fan-out. */
  private[operators] def pairCombos(arr: Column): Column =
    GraftFunctions.pair_combos(arr)

  /** Max document frequency a shingle may have (within its join block,
    * i.e. per source) and still participate in exact-Jaccard candidate
    * generation. Real text is Zipfian: ONE boilerplate shingle shared by
    * 10⁶ docs in a source would put 10¹² candidate pairs on a single
    * reducer key in the self-join. Shingles that common carry no near-dup
    * signal, so they are dropped from the shingle SETS — both candidate
    * generation and the Jaccard cardinalities, keeping Jaccard a true set
    * similarity over the kept-shingle universe. */
  private[operators] val MaxShingleDf = 100

  // ---------------------------------------------------------------- exact
  /** Exact dedup: group documents by content hash, keep the lowest doc_id.
    * One shuffle on md5(text); at 100 TB this is the canonical
    * hash-partitioned dedup with partial aggregation map-side. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  // ---------------------------------------------------------------- n-gram Jaccard
  /** Near-dup detection by word-3-gram Jaccard similarity, blocked by
    * `source` (pairs are only considered within a block — the standard
    * blocking strategy that keeps the candidate join linear at scale) AND
    * df-capped (shingles appearing in > MaxShingleDf docs of a source are
    * dropped before pair generation — so no single hot boilerplate
    * shingle can detonate a reducer at 100 TB).
    * Exact Jaccard = |A∩B| / (|A|+|B|−|A∩B|) from integer set cardinalities,
    * so the double division is bit-identical across engines. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val jac = col("n_common").cast("double") /
      (col("c_a") + col("c_b") - col("n_common"))
    shinglePairOverlap(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_common"), jac.as("jaccard"))
      .where(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Shared candidate-pair frame behind [[ngramJaccard]] and
    * [[containment]]: (doc_a, doc_b, n_common, c_a, c_b) over the
    * df-capped per-source shingle sets.
    *
    * Since round 11 the overlap arithmetic runs at CONTENT-FINGERPRINT
    * grain and doc pairs are produced by expansion joins afterwards —
    * the [[contaminationGroups]]/[[hammingPairsGrouped]] move. Identical
    * texts take identical shingle sets, so each distinct (source, text)
    * is shingled ONCE, shingle lists hold fingerprints with the document
    * multiplicity summed alongside (the df cap keeps its doc-count
    * meaning exactly), and:
    *
    *  - same-fingerprint pairs (full overlap: n_common = c_a = c_b = c)
    *    come from a per-fingerprint doc self-join — pure output;
    *  - cross-fingerprint overlaps aggregate once per fingerprint pair,
    *    then expand by the two doc lists — every doc-grain row produced
    *    is an output row.
    *
    * On a replica-heavy corpus the old doc-grain form paid C(df, 2)
    * combos per shingle list (replicas re-counted every shared shingle:
    * a 100-replica clique is ~5000 pair rows per shingle ACROSS every
    * shingle of the text) and a corpus-pair-sized aggregation; at fp
    * grain the clique contributes one list entry per shingle and the
    * expansion emits exactly the answer. Result set is unchanged: every
    * doc of a fingerprint shares its source block, shingle set, and
    * cardinality c, so the per-pair (n_common, c_a, c_b) are
    * fingerprint-pair constants — the oracle (doc-grain in DuckDB)
    * stays green by construction. */
  private def shinglePairOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the cached doc↔fp map is TEXT-FREE (in-round review finding: the
    // full corpus text was pinned in executor memory for one reader);
    // reps takes its own one-pass scan of the text column instead
    val fpDocs = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .cache() // doc↔fp map: both expansions + intra
    val reps = docs.groupBy(col("source"), md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("m"), min(col("text")).as("text"))
    // one representative text per (source, fp) ⇒ array_distinct IS the
    // per-doc distinct shingle set — no collect_set dedup needed
    val fpShingle = reps
      .select(col("source"), col("fp"), col("m"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 3)
      .select(col("source"), col("fp"), col("m"),
        explode(array_distinct(
          GraftFunctions.word_ngrams(col("t"), 3))).as("shingle"))
    // df = Σ m keeps the cap's DOC-count semantics under replication
    val lists = fpShingle.groupBy("source", "shingle")
      .agg(sort_array(collect_list(struct(col("fp"), col("m")))).as("fps"),
        sum(col("m")).as("df"))
      .where(col("df") <= MaxShingleDf)
      .cache() // feeds both the cardinalities and the pair generation
    val card = lists.select(col("source"), explode(col("fps")).as("f"))
      .groupBy(col("source"), col("f.fp").as("fp"))
      .agg(count(lit(1)).as("c"))
      .cache() // read 3× (both qual sides + intra): uncached, each
               // reference re-ran the explode+groupBy over the lists
    // fingerprint-pair overlaps, generated map-side from each kept list —
    // fan-out still bounded by C(MaxShingleDf, 2) via the df cap (each
    // fp counts ≥ 1 toward df)
    val inter = lists.where(size(col("fps")) >= 2)
      .select(col("source"), explode(pairCombos(col("fps"))).as("p"))
      .groupBy(col("source"), col("p.a.fp").as("fp_a"), col("p.b.fp").as("fp_b"))
      .agg(count(lit(1)).as("n_common"))
    val qual = inter
      .join(card.select(col("source"), col("fp").as("fp_a"), col("c").as("c_a")),
        Seq("source", "fp_a"))
      .join(card.select(col("source"), col("fp").as("fp_b"), col("c").as("c_b")),
        Seq("source", "fp_b"))
    val ids = fpDocs.select(col("source"), col("fp"), col("doc_id"))
    val cross = qual
      .join(ids.select(col("source"), col("fp").as("fp_a"),
        col("doc_id").as("da")), Seq("source", "fp_a"))
      .join(ids.select(col("source"), col("fp").as("fp_b"),
        col("doc_id").as("db")), Seq("source", "fp_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("n_common"),
        // cardinalities travel WITH their doc when least/greatest flips
        // the fp order (c_a must be doc_a's kept-shingle count)
        when(col("da") < col("db"), col("c_a")).otherwise(col("c_b")).as("c_a"),
        when(col("da") < col("db"), col("c_b")).otherwise(col("c_a")).as("c_b"))
    val intra = ids.as("x")
      .join(ids.as("y"), col("x.source") === col("y.source") &&
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .join(card.as("cc"), col("x.source") === col("cc.source") &&
        col("x.fp") === col("cc.fp"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("cc.c").as("n_common"), col("cc.c").as("c_a"), col("cc.c").as("c_b"))
    cross.unionByName(intra)
  }

  /** Containment near-dup: |A∩B| / min(|A|,|B|) ≥ 0.9 over the same
    * df-capped shingle sets — the asymmetric measure that catches a small
    * document embedded inside a much larger one, which Jaccard
    * structurally cannot (a 50-shingle doc fully contained in a
    * 5000-shingle doc has Jaccard ≈ 0.01 but containment 1.0). Same
    * one-shuffle map-side pair generation as [[ngramJaccard]]; the ratio
    * is one double division over integer cardinalities — bit-identical
    * across engines. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val cont = col("n_common").cast("double") / least(col("c_a"), col("c_b"))
    shinglePairOverlap(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("c_a"), col("c_b"), cont.as("containment"))
      .where(col("containment") >= 0.9)
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------- contrastive pairs
  /** CONTRASTIVE TRAINING-PAIR GENERATION: (anchor, hardest-positive,
    * pseudorandom-negative) triplets for contrastive embedding training —
    * the sampling step in front of an encoder fine-tune. Anchors are docs
    * with at least one near-dup partner; the positive is the MAX-Jaccard
    * partner (ties → min id) from the blocked [[ngramJaccard]] frame; the
    * negative is drawn deterministically from the anchor's source block by
    * the MD5-RING trick: order the block by md5(doc_id), take the next doc
    * (wrapping) — a pseudorandom same-block pick that costs ONE window
    * pass over the corpus instead of a per-anchor candidate scan (the
    * quadratic trap a naive "random negative per anchor" join falls into
    * at 100 TB). The rare ring-neighbor-is-also-a-partner case is FLAGGED
    * (`neg_is_dup`), not re-drawn — re-drawing needs unbounded iteration;
    * a production pipeline filters the flag and re-rings with a salt.
    *
    * Scale shape: positives ride the existing blocked+df-capped pair
    * frame (linear); the ring is one hash-ordered window per source; the
    * partner-flag join is on the (small) pair set. */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached at the doc-PAIR grain (tiny: only ≥0.5-Jaccard pairs): `sym`
    // reads p twice (both orientations) and is itself read twice (pos +
    // partnerFlag), so an uncached p would replay the whole blocked
    // pair-generation subtree 4× in one plan — 4× the dedup work for free
    // at 100 TB. The shingle doc-list cache inside shinglePairOverlap only
    // covered the frame BELOW the pair aggregation, not the aggregation
    // and cardinality joins themselves.
    val p = ngramJaccard(spark, dir).select("doc_a", "doc_b", "jaccard").cache()
    val sym = p.union(p.select(col("doc_b").as("doc_a"),
      col("doc_a").as("doc_b"), col("jaccard")))
    val wPos = Window.partitionBy("doc_a")
      .orderBy(col("jaccard").desc, col("doc_b"))
    val pos = sym.withColumn("rn", row_number().over(wPos))
      .where(col("rn") === 1)
      .select(col("doc_a").as("anchor_id"), col("doc_b").as("positive_id"),
        col("jaccard").as("pos_jaccard"))
    val ringW = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val fullFrame = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ring = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .withColumn("negative_id",
        coalesce(lead(col("doc_id"), 1).over(ringW),
          first(col("doc_id")).over(fullFrame)))
      .select(col("doc_id").as("anchor_id"), col("negative_id"))
    val partnerFlag = sym.select(col("doc_a").as("anchor_id"),
      col("doc_b").as("negative_id"), lit(true).as("neg_is_dup"))
    pos.join(ring, "anchor_id")
      .join(partnerFlag, Seq("anchor_id", "negative_id"), "left")
      .select(col("anchor_id"), col("positive_id"), col("pos_jaccard"),
        col("negative_id"),
        coalesce(col("neg_is_dup"), lit(false)).as("neg_is_dup"))
      .orderBy("anchor_id")
  }

  // ---------------------------------------------------------------- MinHash + LSH
  /** Number of minhash permutations / LSH bands (4 rows per band). */
  private val NumPerm = 32
  private val NumBands = 8
  private val RowsPerBand = NumPerm / NumBands
  /** 2^31−1: keeps a·h+b under 2^62 so ANSI-mode long arithmetic never
    * overflows (a,h < 2^31). */
  private val MersennePrime31 = (1L << 31) - 1

  /** Deterministic permutation parameters from a fixed LCG (no RNG at plan
    * time — plans must be reproducible across rounds/resume). */
  private[operators] val permParams: Seq[(Long, Long)] = {
    var s = 42L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s & Long.MaxValue }
    Seq.fill(NumPerm)((next() % (MersennePrime31 - 1) + 1, next() % MersennePrime31))
  }

  /** MinHash signatures per doc: shingle → base hash → per-permutation
    * (a·h+b) mod p, min-aggregated. One shuffle on doc_id with 32 codegen'd
    * min() partial aggregates — no per-row state, no UDAF. The base-hash
    * column is pluggable: xxhash64 for production (fastest), an
    * md5-derived hash for the oracle-checked variant (portable to DuckDB).
    * Either way it is reduced mod p BEFORE the permutation multiply so
    * a·h stays under 2^62 (ANSI-mode overflow headroom). */
  /** The md5-derived PORTABLE base hash of a shingle — first 8 hex chars
    * read as an integer, which DuckDB computes identically
    * (`('0x' || substr(md5(shingle), 1, 8))::BIGINT`). ONE definition for
    * every oracle-checked minhash pipeline (registered LSH, candidate
    * oracle, band audits, snapshot index, source rollup): the oracle CTEs
    * replay this exact hash, so a second hand-synced Scala copy could
    * silently split the shared candidate semantics. The production twins
    * swap in xxhash64 via the `base` parameters. */
  private[operators] def md5ShingleBase: Column =
    conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long")

  private[operators] def minhashSignaturesWith(sh: DataFrame, base: Column): DataFrame = {
    val hashed = sh.select(col("doc_id"), col("source"),
      pmod(base, lit(MersennePrime31)).as("h"))
    val mins = permParams.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(MersennePrime31))).as(s"m$i")
    }
    hashed.groupBy("doc_id", "source").agg(mins.head, mins.tail: _*)
  }

  private[graft] def minhashSignatures(sh: DataFrame): DataFrame =
    minhashSignaturesWith(sh, xxhash64(col("shingle")))

  /** MinHash+LSH near-dup pairs: signatures → band buckets → candidate
    * pairs within identical band buckets → exact Jaccard verify.
    * The band-bucket groupBy is the LSH trick: at 100 TB the candidate
    * join touches only band-colliding docs, never the full pair space.
    *
    * REGISTERED (driver-oracle-checked) form: the base hash is md5-derived
    * (first 8 hex chars as an integer — DuckDB computes the identical
    * value) and bucket keys are the raw 4-min tuples, so DuckDB replays
    * the ENTIRE pipeline — signatures, banding, candidate pairs AND the
    * exact set-intersection verify — and the driver hash-compares it.
    * [[minhashLshFast]] is the production variant (xxhash64 base hash +
    * hashed bucket keys — cheapest per-shingle work and narrowest shuffle
    * rows); identical pipeline shape, spec-verified on the same planted
    * fixtures. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshImpl(spark, dir, md5ShingleBase, hashedBuckets = false)

  /** Production fast path of [[minhashLsh]]: xxhash64 base hash (one
    * 8-byte hash per shingle instead of a 32-hex-char md5) and
    * hash-compressed bucket keys (band explode carries one int instead of
    * four longs). Engine-specific hashes → no DuckDB twin; DedupSpec pins
    * planted-pair recall and the jaccard-superset property. */
  def minhashLshFast(spark: SparkSession, dir: String): DataFrame =
    minhashLshImpl(spark, dir, xxhash64(col("shingle")), hashedBuckets = true)

  /** The shared verified end of the MinHash+LSH pipeline at
    * content-fingerprint grain: the doc↔fp map (with source — the
    * attribution rollup groups by it), the verified cross-fp pair frame
    * (exact Jaccard ≥ 0.5), and the intra-eligible fp set (identical
    * texts: ≥ 2 docs AND shingled — texts under 3 tokens shingle to
    * nothing and can pair with nothing). [[minhashLshImpl]] expands
    * these to doc pairs; [[sourceOverlap]] rolls them up by source pair
    * without ever materializing the doc-pair space. */
  private final case class MinhashVerified(
      fpDocs: DataFrame, qual: DataFrame, multiFp: DataFrame)

  private def minhashVerifiedFrames(spark: SparkSession, dir: String,
      base: Column, hashedBuckets: Boolean): MinhashVerified = {
    // Since round 11 the signature/banding/verify pipeline runs at
    // CONTENT-FINGERPRINT grain and doc pairs are produced by expansion
    // joins afterwards (the shinglePairOverlap move): the minhash
    // signature and shingle set are functions of the TEXT alone, so each
    // distinct text is hashed, banded, and verified ONCE; qualifying
    // fingerprint pairs expand by the doc lists, and same-fingerprint
    // pairs (identical texts: every band co-buckets, Jaccard exactly
    // 1.0) come from a per-fingerprint doc self-join — pure output. On
    // a replica corpus the old doc-grain form paid C(replicas·others, 2)
    // combos per band bucket and an array_intersect per expanded pair;
    // output is unchanged (one fp per doc — no duplicate pairs).
    val docs = Tables.documents(spark, dir)
    val fpDocs = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .cache() // intra self-join + both cross expansions
    val grp = fpGrain(docs, "fp", "m")
      .cache() // shingled once + re-read for the multi-doc intra gate
    val sh = fpShingles(grp, "fp")
    // ONE per-fp aggregation carries BOTH pipeline inputs: the 32 minhash
    // mins (signature pass) and the shingle set (exact-Jaccard verify)
    val hashed = sh.select(col("fp"), col("shingle"),
      pmod(base, lit(MersennePrime31)).as("h"))
    val mins = permParams.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(MersennePrime31))).as(s"m$i")
    }
    val combined = hashed.groupBy("fp")
      .agg(collect_set(col("shingle")).as("shset"), mins: _*)
      .cache() // feeds the band explode + both verification join sides
    // candidate pairs map-side from each band-bucket's doc list (one
    // groupBy exchange instead of two join exchanges); the per-bucket
    // fan-out is C(bucket,2) — identical to the join's per-key fan-out,
    // LSH bucket sizes bound both. Bucket key: the raw 4-min tuple is THE
    // bucket identity; hash(tuple) is a transport compression that can
    // only ADD collisions (harmless — the exact verify removes them).
    val (buckets, keyCols) =
      if (hashedBuckets) {
        val bandCols = (0 until NumBands).map { bnd =>
          val rows = (0 until RowsPerBand).map(r => col(s"m${bnd * RowsPerBand + r}"))
          struct(lit(bnd).as("band"), hash(rows: _*).as("sig"))
        }
        (combined
          .select(col("fp"), explode(array(bandCols: _*)).as("bk"))
          .select(col("fp"), col("bk.band").as("band"), col("bk.sig").as("bsig")),
          Seq("band", "bsig"))
      } else {
        val bandCols = (0 until NumBands).map { bnd =>
          val rows = (0 until RowsPerBand).zipWithIndex.map { case (r, j) =>
            col(s"m${bnd * RowsPerBand + r}").as(s"r$j")
          }
          struct(lit(bnd).as("band") +: rows: _*)
        }
        val rNames = (0 until RowsPerBand).map(j => s"r$j")
        (combined
          .select(col("fp"), explode(array(bandCols: _*)).as("bk"))
          .select(col("fp") +: (col("bk.band").as("band") +:
            rNames.map(n => col(s"bk.$n").as(n))): _*),
          "band" +: rNames)
      }
    val candidates = buckets.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_set(col("fp"))).as("ds"))
      .where(size(col("ds")) >= 2)
      .select(explode(pairCombos(col("ds"))).as("p"))
      .select(col("p.a").as("fp_a"), col("p.b").as("fp_b"))
      .distinct()
    // exact-Jaccard verification of candidates only — at fp grain, so
    // each distinct-text pair pays ONE array_intersect: the per-fp
    // shingle SETS come free off the combined aggregate, joined to the
    // pair list, the intersection computed in-place with array_intersect.
    // Cardinalities come free as size(set). Staged projections: n_common
    // referenced once per derived column would re-run array_intersect (no
    // CSE for non-cheap HOFs), so materialize it in its own select first.
    val fpSets = combined.select(col("fp"), col("shset"))
    val withSets = candidates
      .join(fpSets.select(col("fp").as("fp_a"), col("shset").as("set_a")),
        Seq("fp_a"))
      .join(fpSets.select(col("fp").as("fp_b"), col("shset").as("set_b")),
        Seq("fp_b"))
      .select(col("fp_a"), col("fp_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("n_common"),
        size(col("set_a")).as("c_a"), size(col("set_b")).as("c_b"))
    val qual = withSets
      .select(col("fp_a"), col("fp_b"),
        (col("n_common").cast("double") /
          (col("c_a") + col("c_b") - col("n_common"))).as("jaccard"))
      .where(col("jaccard") >= 0.5)
    // identical texts: every band co-buckets and Jaccard is exactly 1.0;
    // gate on membership in `combined` (texts under 3 tokens shingle to
    // nothing and can pair with nothing — same as the doc-grain form)
    val multiFp = grp.where(col("m") >= 2).select("fp")
      .join(combined.select("fp"), Seq("fp"))
      .cache() // fp-list-sized; dedupTauSweep reads it 4× (intra + 3 τ arms)
    MinhashVerified(fpDocs, qual, multiFp)
  }

  private def minhashLshImpl(spark: SparkSession, dir: String,
      base: Column, hashedBuckets: Boolean): DataFrame = {
    val f = minhashVerifiedFrames(spark, dir, base, hashedBuckets)
    val ids = f.fpDocs.select(col("fp"), col("doc_id"))
    val cross = f.qual
      .join(ids.select(col("fp").as("fp_a"), col("doc_id").as("da")), Seq("fp_a"))
      .join(ids.select(col("fp").as("fp_b"), col("doc_id").as("db")), Seq("fp_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val intra = ids.as("x")
      .join(ids.as("y"), col("x.fp") === col("y.fp") &&
        col("x.doc_id") < col("y.doc_id"))
      .join(f.multiFp.withColumnRenamed("fp", "mfp"), col("x.fp") === col("mfp"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra).orderBy("doc_a", "doc_b")
  }

  /** Cross-source duplication attribution: the verified near-dup pair
    * mass of [[minhashLsh]] rolled up by UNORDERED source pair — the
    * dataset-card question "which sources duplicate each other, and how
    * much". For each source pair: distinct near-dup CONTENT pairs
    * (fingerprint pairs, counting an identical-text clique as one),
    * total doc pairs, and the strongest similarity. Models the source-
    * attribution step of corpus curation (where cross-source contamination
    * concentrates), the way q_contamination_groups attributes train↔eval
    * leaks.
    *
    * Grain: verified fingerprint pairs × per-(fp, source) doc COUNTS —
    * the doc-pair space is never materialized. A replica clique
    * contributes one fp-pair row and integer count products
    * (cnt_a·cnt_b across sources; C(cnt,2) within), so the rollup stays
    * output-proportional at any duplication factor. Doc-pair counts use
    * long products with an exact shiftright halving (cnt·(cnt−1) is
    * even) — no double division anywhere in the integer columns. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapWith(spark, dir, md5ShingleBase, hashedBuckets = false)

  /** Production fast path of [[sourceOverlap]] — the [[minhashLshFast]]
    * hash family (xxhash64 base, hash-compressed bucket keys) feeding
    * the same fp-grain rollup. Engine-specific hashes → no DuckDB twin;
    * bench-only (`x_source_overlap_fast`), spec-pinned to a doc-grain
    * rollup of minhashLshFast's own output. */
  def sourceOverlapFast(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapWith(spark, dir, xxhash64(col("shingle")),
      hashedBuckets = true)

  private def sourceOverlapWith(spark: SparkSession, dir: String,
      base: Column, hashedBuckets: Boolean): DataFrame = {
    val f = minhashVerifiedFrames(spark, dir, base, hashedBuckets)
    val counts = f.fpDocs.groupBy(col("fp"), col("source").as("grp"))
      .agg(count(lit(1)).as("cnt"))
    pairMassRollup(f, counts, "source_a", "source_b")
  }

  /** NEAR-DUP pair mass rolled up by an UNORDERED pair of doc groups
    * (source, split, ...) at fingerprint grain — the shared arithmetic of
    * [[sourceOverlap]] and [[splitLeakage]]. `counts` assigns each
    * (fp, group) its doc count; the doc-pair space is never materialized:
    * cross-fp pairs contribute cnt·cnt products, intra-fp (identical
    * texts) C(cnt,2) within a group and cnt·cnt across.
    *
    * Cross-fp orientation: for groups (g1, g2) the doc-pair count from a
    * verified fp pair is cnt(fp_a,g1)·cnt(fp_b,g2) + cnt(fp_a,g2)·
    * cnt(fp_b,g1) — the two orientations arrive as two join rows with
    * the same (least, greatest) group key and sum() adds them. The
    * pairs>0 filter drops C(1,2)=0 intra rows so a group pair exists iff
    * it has at least one real doc pair (oracle parity). */
  private def pairMassRollup(f: MinhashVerified, counts: DataFrame,
      aName: String, bName: String): DataFrame = {
    val cx = f.qual
      .join(counts.select(col("fp").as("fp_a"), col("grp").as("g_a"),
        col("cnt").as("cnt_a")), Seq("fp_a"))
      .join(counts.select(col("fp").as("fp_b"), col("grp").as("g_b"),
        col("cnt").as("cnt_b")), Seq("fp_b"))
      .select(
        least(col("g_a"), col("g_b")).as(aName),
        greatest(col("g_a"), col("g_b")).as(bName),
        col("fp_a"), col("fp_b"),
        (col("cnt_a") * col("cnt_b")).as("pairs"), col("jaccard"))
    val ic = counts.as("x")
      .join(counts.as("y"), col("x.fp") === col("y.fp") &&
        col("x.grp") <= col("y.grp"))
      .join(f.multiFp.withColumnRenamed("fp", "mfp"), col("x.fp") === col("mfp"))
      .select(col("x.grp").as(aName), col("y.grp").as(bName),
        col("x.fp").as("fp_a"), col("x.fp").as("fp_b"),
        when(col("x.grp") === col("y.grp"),
          shiftright(col("x.cnt") * (col("x.cnt") - 1), 1))
          .otherwise(col("x.cnt") * col("y.cnt")).as("pairs"),
        lit(1.0).as("jaccard"))
      .where(col("pairs") > 0)
    cx.unionByName(ic)
      .groupBy(aName, bName)
      .agg(countDistinct(col("fp_a"), col("fp_b")).as("n_fp_pairs"),
        sum(col("pairs")).as("dup_pairs"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(aName, bName)
  }

  /** SPLIT-LEAKAGE AUDIT: the near-dup pair mass that straddles (or
    * stays within) the train/val/test boundaries of q_split_assign —
    * the eval-integrity question dedup-aware splitting exists to answer
    * (near-duplicate test↔train documents inflate benchmark scores;
    * Lee et al. 2022). Same columns as [[sourceOverlap]] with split
    * pairs: the cross-split rows ARE the leak, the within-split rows the
    * baseline.
    *
    * The split is CONTENT-KEYED (a function of md5(text) — exactly
    * q_split_assign's bucket rule), so it derives from the fingerprint
    * itself with zero extra scans, and identical texts can never leak by
    * construction: every intra-fp pair lands on a (s, s) row, which the
    * fp-grain arithmetic reflects for free. Only genuinely-near texts
    * (Jaccard ≥ 0.5, different fp) can cross — the residual risk this
    * audit counts. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val f = minhashVerifiedFrames(spark, dir, md5ShingleBase,
      hashedBuckets = false)
    val bucket = conv(substring(col("fp"), 1, 8), 16, 10).cast("long") % 100
    val counts = f.fpDocs.groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("grp",
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test"))
    pairMassRollup(f, counts, "split_a", "split_b")
  }

  /** The thresholds [[dedupTauSweep]] sweeps (the verified frame starts
    * at the registered 0.5 gate, so the sweep covers [0.5, 1.0]). */
  private val TuneTaus = Seq(0.5, 0.7, 0.9)

  /** Near-dup THRESHOLD sweep — the curation-aggressiveness knob: for
    * each Jaccard threshold τ, how many verified doc pairs qualify, how
    * many documents the keep-first rule drops (a doc is dropped iff some
    * partner has a smaller doc_id — q_neardup_keep's rule), and how many
    * survive. The retention-vs-cleanliness curve a curation team reads
    * before committing a dedup pass to a 100 TB corpus.
    *
    * Grain: fp. Per-doc drop decisions derive from two per-fp attributes
    * — the fp's own min doc_id (intra: identical texts, Jaccard exactly
    * 1.0, qualify at every τ, gated on shingled-and-multi like the pair
    * query) and the min doc_id over τ-qualifying neighbor fps — joined
    * back to the doc↔fp map: one linear pass per arm, the doc-pair
    * space never materializes. Pair counts are the [[pairMassRollup]]
    * products. */
  def dedupTauSweep(spark: SparkSession, dir: String): DataFrame = {
    val f = minhashVerifiedFrames(spark, dir, md5ShingleBase,
      hashedBuckets = false)
    val perFp = f.fpDocs.groupBy("fp")
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("mn"))
      .cache() // all three arms' pair products + neighbor mins + flags
    val qual = f.qual.cache() // filtered per τ
    // τ-independent: intra pairs (Jaccard exactly 1.0 ≥ every τ) and
    // the corpus total
    val intraPairs = f.multiFp.join(perFp, Seq("fp"))
      .agg(coalesce(sum(shiftright(col("cnt") * (col("cnt") - 1), 1)),
        lit(0L)).as("ip"))
    val totals = f.fpDocs.agg(count(lit(1)).as("n_docs"))
    val frames = TuneTaus.map { tau =>
      val q = qual.where(col("jaccard") >= tau)
      val crossPairs = q
        .join(perFp.select(col("fp").as("fp_a"), col("cnt").as("ca")),
          Seq("fp_a"))
        .join(perFp.select(col("fp").as("fp_b"), col("cnt").as("cb")),
          Seq("fp_b"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("cp"))
      val sym = q.select(col("fp_a").as("fp"), col("fp_b").as("nb"))
        .unionByName(q.select(col("fp_b").as("fp"), col("fp_a").as("nb")))
      val nbMin = sym
        .join(perFp.select(col("fp").as("nb"), col("mn").as("nmn")),
          Seq("nb"))
        .groupBy("fp").agg(min(col("nmn")).as("nbmin"))
      val dropped = f.fpDocs
        .join(perFp.select(col("fp"), col("mn")), Seq("fp"))
        .join(f.multiFp.select(col("fp"), lit(1).as("im")), Seq("fp"),
          "left")
        .join(nbMin, Seq("fp"), "left")
        .where((col("im").isNotNull && col("doc_id") > col("mn")) ||
          (col("nbmin").isNotNull && col("nbmin") < col("doc_id")))
        .agg(count(lit(1)).as("n_docs_dropped"))
      intraPairs.crossJoin(broadcast(crossPairs))
        .crossJoin(broadcast(dropped)).crossJoin(broadcast(totals))
        .select(lit(tau).as("tau"),
          (col("ip") + col("cp")).as("n_pairs"),
          col("n_docs_dropped"),
          (col("n_docs") - col("n_docs_dropped")).as("n_docs_kept"))
    }
    frames.reduce(_.unionByName(_)).orderBy("tau")
  }

  /** The ORACLE-CHECKED end of the MinHash pipeline: identical signature
    * arithmetic and banded candidate generation as minhashLsh, with two
    * engine-portable substitutions — the base hash is md5-derived (first
    * 8 hex chars as an integer; DuckDB computes the identical value)
    * instead of xxhash64, and band buckets are the raw 4-min tuples
    * instead of hash(tuple) (the tuple IS the bucket key; hashing it is
    * only a transport optimization and can only ADD collisions). Emits
    * every banded candidate pair with its estimated Jaccard
    * (matching mins / 32 — integer-derived double, bit-exact both
    * engines). DuckDB replays the whole pipeline: same 32 permutations,
    * bands as a union of 8 equi-joins. This pins the signature math and
    * the banding logic end-to-end at the CANDIDATE grain (every banded
    * pair with its estimate), complementing q_minhash_lsh's verified-pair
    * output; minhashLshFast then differs only in the (spec-verified) base
    * hash swap and bucket hashing. */
  def minhashOracle(spark: SparkSession, dir: String): DataFrame = {
    // Since round 11 this runs at CONTENT-FINGERPRINT grain like
    // minhashLshImpl: the signature is a function of the text alone, so
    // identical texts have identical band keys and identical mins —
    // hashing/banding/scoring once per DISTINCT text and expanding
    // qualifying fp pairs by the doc lists emits the exact same
    // candidate-pair set (same-fp docs co-bucket in every band with all
    // 32 mins matching, so intra-fp pairs carry n_matching = 32 by
    // construction). The doc-grain form paid C(clique·…, 2) bucket
    // combos and TWO 32-column signature joins at doc grain — 275 s at
    // the 100× replica corpus for what is distinct-content work.
    val docs = Tables.documents(spark, dir)
    val fpDocs = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .cache() // intra self-join + both cross expansions
    val grp = fpGrain(docs, "fp", "m")
      .cache() // shingled once + re-read for the multi-doc intra gate
    val base = md5ShingleBase
    val hashed = fpShingles(grp, "fp").select(col("fp"),
      pmod(base, lit(MersennePrime31)).as("h"))
    val mins = permParams.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(MersennePrime31))).as(s"m$i")
    }
    val sig = hashed.groupBy("fp").agg(mins.head, mins.tail: _*)
      .cache() // band explode + both scoring joins + the intra gate
    // same map-side pair generation from bucket fp lists as minhashLsh,
    // keyed on the RAW 4-min tuple (the bucket key itself)
    val candidates = bandedCandidates(sig, NumBands, RowsPerBand)
    val sigA = sig.select(col("fp").as("fp_a") +:
      (0 until NumPerm).map(i => col(s"m$i").as(s"a$i")): _*)
    val sigB = sig.select(col("fp").as("fp_b") +:
      (0 until NumPerm).map(i => col(s"m$i").as(s"b$i")): _*)
    val nMatch = (0 until NumPerm)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val scored = candidates
      .join(sigA, Seq("fp_a"))
      .join(sigB, Seq("fp_b"))
      .select(col("fp_a"), col("fp_b"), nMatch.as("n_matching"))
    val cross = scored
      .join(fpDocs.select(col("fp").as("fp_a"), col("doc_id").as("da")),
        Seq("fp_a"))
      .join(fpDocs.select(col("fp").as("fp_b"), col("doc_id").as("db")),
        Seq("fp_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("n_matching"))
    // identical texts: all 32 mins match by construction — gate on the
    // fp HAVING a signature (texts under 3 tokens shingle to nothing and
    // can pair with nothing, same as the doc-grain form)
    val multiFp = grp.where(col("m") >= 2).select("fp")
      .join(sig.select("fp"), Seq("fp"))
    val intra = fpDocs.as("x")
      .join(fpDocs.as("y"), col("x.fp") === col("y.fp") &&
        col("x.doc_id") < col("y.doc_id"))
      .join(multiFp.withColumnRenamed("fp", "mfp"), col("x.fp") === col("mfp"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(NumPerm.toLong).as("n_matching"))
    cross.unionByName(intra)
      .withColumn("est_jaccard", col("n_matching").cast("double") / NumPerm)
      .orderBy("doc_a", "doc_b")
  }

  /** Analytic banded-LSH detection probability 1 − (1 − j^r)^b at each
    * Jaccard decile midpoint, computed once in Scala with an explicit
    * IEEE multiplication chain and inlined as the SAME double constants
    * into both the Spark plan and the generated DuckDB twin — engine
    * libm pow() differences can never split the hash. */
  private val lshAnalyticMid: IndexedSeq[Double] = (0 until 10).map { b =>
    val jm = (b + 0.5) / 10.0
    val jm2 = jm * jm
    val jm4 = jm2 * jm2 // r = RowsPerBand = 4
    val x = 1.0 - jm4
    val x2 = x * x
    val x4 = x2 * x2
    val x8 = x4 * x4 // b = NumBands = 8
    1.0 - x8
  }

  /** Shared by [[lshRecall]] and [[lshTuning]]: the per-fp (cardinality,
    * 32 mins) aggregate and the exact-Jaccard ground truth over
    * shingle-sharing fp pairs (shingle-blocked intersection — the
    * ngramJaccard shape at fp grain). The shingle frame and the
    * signature aggregate are cached (the aggregate feeds every
    * geometry's band explode); `truth` is NOT — each caller consumes it
    * once (lshTuning caches its truth05 derivative instead), so a
    * future multi-consumer must add its own cache. */
  private def lshAuditFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val sh = fpShingles(fpGrain(docs, "fp", "m"), "fp")
      .cache() // hashed for signatures + self-joined for ground truth
    val base = md5ShingleBase
    val hashed = sh.select(col("fp"),
      pmod(base, lit(MersennePrime31)).as("h"))
    val mins = permParams.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(MersennePrime31))).as(s"m$i")
    }
    // ONE per-fp aggregate carries the shingle cardinality (truth side)
    // and the 32 mins (candidate side)
    val combined = hashed.groupBy("fp")
      .agg(count(lit(1)).as("c"), mins: _*)
      .cache() // band explode(s) + the two cardinality joins
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.fp") < col("b.fp"))
      .groupBy(col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .agg(count(lit(1)).as("n_common"))
    val cards = combined.select(col("fp"), col("c"))
    val truth = inter
      .join(cards.select(col("fp").as("fp_a"), col("c").as("ca")), Seq("fp_a"))
      .join(cards.select(col("fp").as("fp_b"), col("c").as("cb")), Seq("fp_b"))
      .select(col("fp_a"), col("fp_b"),
        (col("n_common").cast("double") /
          (col("ca") + col("cb") - col("n_common"))).as("jaccard"))
    (combined, truth)
  }

  /** One struct per band of a signature row's mins m0..: the band
    * number and that band's `rowsPerBand` mins as r0, r1, … — the raw
    * tuple that is the bucket key. */
  private def bandStructs(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { bnd =>
      val rows = (0 until rowsPerBand).map { j =>
        col(s"m${bnd * rowsPerBand + j}").as(s"r$j")
      }
      struct(lit(bnd).as("band") +: rows: _*)
    }

  /** Distinct banded candidate fp pairs of a (bands, rowsPerBand)
    * geometry over the shared 32-min signature aggregate — raw min
    * tuples as bucket keys (the oracle-portable bucket identity), pairs
    * map-side from each bucket's fp list. */
  private def bandedCandidates(combined: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val rNames = (0 until rowsPerBand).map(j => s"r$j")
    combined
      .select(col("fp"),
        explode(array(bandStructs(bands, rowsPerBand): _*)).as("bk"))
      .select(col("fp") +: (col("bk.band").as("band") +:
        rNames.map(n => col(s"bk.$n").as(n))): _*)
      .groupBy(col("band") +: rNames.map(col(_)): _*)
      .agg(sort_array(collect_set(col("fp"))).as("ds"))
      .where(size(col("ds")) >= 2)
      .select(explode(pairCombos(col("ds"))).as("p"))
      .select(col("p.a").as("fp_a"), col("p.b").as("fp_b"))
      .distinct()
  }

  /** LSH banding S-curve audit: per-Jaccard-decile RECALL of the 8-band ×
    * 4-row MinHash candidate generation against exact-Jaccard ground
    * truth, next to the analytic detection probability 1 − (1 − j⁴)⁸ at
    * the decile midpoint. Band/row geometry is THE MinHash tuning
    * question at scale (how much recall at which similarity, how many
    * spurious candidates below the 0.5 threshold); this measures it on
    * the corpus the way q_ann_recall measures IVF probes against the
    * brute-force baseline. Models the parameter-sweep step of production
    * fuzzy-dedup pipelines (Leskovec et al., MMDS ch. 3 S-curve).
    *
    * Grain: DISTINCT-text (fingerprint) pairs sharing ≥ 1 shingle.
    * Identical texts co-bucket in every band trivially and would only
    * inflate recall; conditioning on a shared shingle (jaccard > 0) is
    * what makes exact ground truth computable by shingle-blocked
    * intersection. Content grain also makes the audit replication-proof:
    * the truth self-join is over distinct texts, so replica corpora add
    * zero pair work.
    *
    * Scale: the truth side is the exact all-shared-pairs computation —
    * an AUDIT shape to run on a sample corpus (exactly like
    * q_ann_recall's brute-force baseline), while the candidate side is
    * the production banded generation. Every output number is
    * engine-exact: integer cardinalities, double divisions of integers,
    * and the pre-computed analytic constants. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val (combined, truth) = lshAuditFrames(spark, dir)
    val candidates = bandedCandidates(combined, NumBands, RowsPerBand)
      .withColumn("det", lit(1))
    val analyticCol = (0 until 10).foldLeft(lit(null).cast("double")) {
      case (acc, b) => when(col("bucket") === b, lit(lshAnalyticMid(b)))
        .otherwise(acc)
    }
    truth
      .join(candidates, Seq("fp_a", "fp_b"), "left")
      .select(least(floor(col("jaccard") * 10), lit(9L)).as("bucket"),
        col("det"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), count(col("det")).as("n_detected"))
      .select(col("bucket"),
        (col("bucket").cast("double") / 10.0).as("jac_lo"),
        col("n_pairs"), col("n_detected"),
        (col("n_detected").cast("double") / col("n_pairs")).as("recall"),
        analyticCol.as("analytic_mid"))
      .orderBy("bucket")
  }

  /** The candidate band/row geometries [[lshTuning]] sweeps — every
    * divisor split of the 32 mins from "many loose bands" to "few tight
    * bands". */
  private val TuneGeometries = Seq((16, 2), (8, 4), (4, 8))

  /** Analytic detection probability 1 − (1 − 0.5^r)^b at the j = 0.5
    * decision threshold, as an exact Scala double inlined into both
    * plans (0.5^r is an exact power of two; the complement power is a
    * deterministic sequential multiply). */
  private def tuneAnalytic05(b: Int, r: Int): Double = {
    val x = 1.0 - math.pow(0.5, r)
    var acc = 1.0
    var i = 0
    while (i < b) { acc *= x; i += 1 }
    1.0 - acc
  }

  /** LSH geometry sweep — the tuning table [[lshRecall]]'s S-curve audit
    * reads off: for each (bands, rows-per-band) split of the SAME 32
    * mins, the candidate-pair volume (the cost driver: every candidate
    * pays an exact verify), how many true ≥ 0.5-Jaccard pairs the
    * geometry surfaces, recall/precision at the 0.5 threshold, and the
    * analytic detection probability at j = 0.5. (16, 2) floods
    * candidates for near-perfect recall, (4, 8) starves them — the
    * sweep quantifies the middle on the actual corpus, which is how a
    * production MinHash deployment picks its banding before committing
    * to a 100 TB run. One signature aggregate and one ground-truth
    * frame feed all three geometries (cached in [[lshAuditFrames]]). */
  def lshTuning(spark: SparkSession, dir: String): DataFrame = {
    val (combined, truth) = lshAuditFrames(spark, dir)
    val truth05 = truth.where(col("jaccard") >= 0.5)
      .cache() // one geometry join per swept geometry + the total
    val total = truth05.agg(count(lit(1)).as("n_true_total"))
    val perGeom = TuneGeometries.map { case (b, r) =>
      bandedCandidates(combined, b, r)
        .join(truth05.select(col("fp_a"), col("fp_b"), lit(1).as("tr")),
          Seq("fp_a", "fp_b"), "left")
        .agg(count(lit(1)).as("n_candidates"), count(col("tr")).as("n_true_cand"))
        .select(lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_true_cand"),
          lit(tuneAnalytic05(b, r)).as("analytic_05"))
    }
    perGeom.reduce(_ unionByName _)
      .crossJoin(broadcast(total))
      .select(col("n_bands"), col("rows_per_band"),
        col("n_candidates"), col("n_true_cand"), col("n_true_total"),
        when(col("n_true_total") > 0,
          col("n_true_cand").cast("double") / col("n_true_total"))
          .as("recall_05"),
        when(col("n_candidates") > 0,
          col("n_true_cand").cast("double") / col("n_candidates"))
          .as("precision_05"),
        col("analytic_05"))
      .orderBy("rows_per_band")
  }

  // ----------------------------------------------------- incremental near-dup
  /** Minimum matching permutations for the incremental near-dup verdict
    * (= est_jaccard ≥ 0.5). */
  private val SnapMinMatch = NumPerm / 2

  /** INCREMENTAL NEAR-DUP: a new crawl batch (doc_id % 10 ≥ 8, the same
    * split as [[snapshotDedup]]) probed against the CORPUS MinHash index —
    * the continuous-ingestion companion to the batch near-dup ops. At
    * scale the corpus band buckets are a persisted index the batch joins;
    * here both sides derive in-query from the same signature frame. The
    * candidate join is strictly batch×corpus within a band bucket — the
    * corpus never pairs with itself, which is the whole point of
    * incremental dedup: per-batch cost is proportional to the BATCH, not
    * the corpus pair space. Signature math is the md5-based
    * engine-portable variant of [[minhashOracle]], so the entire pipeline
    * — signatures, banding, probe join, best-partner pick — has an exact
    * DuckDB twin. Output: each batch doc's best corpus partner at
    * est_jaccard ≥ 0.5 (max matches, min corpus id), i.e. the drop list
    * with provenance. */
  def snapshotNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(spark, dir))
    val base = md5ShingleBase
    val sig = minhashSignaturesWith(sh, base)
      .withColumn("is_batch", pmod(col("doc_id"), lit(10)) >= 8)
      .cache() // feeds buckets (both sides) + both scoring joins
    val rNames = (0 until RowsPerBand).map(j => s"r$j")
    val buckets = sig
      .select(col("doc_id"), col("is_batch"),
        explode(array(bandStructs(NumBands, RowsPerBand): _*)).as("bk"))
      .select(col("doc_id") +: col("is_batch") +: (col("bk.band").as("band") +:
        rNames.map(n => col(s"bk.$n").as(n))): _*)
    val probe = buckets.where(col("is_batch"))
      .select(col("doc_id").as("batch_id") +: col("band") +: rNames.map(col(_)): _*)
    val index = buckets.where(!col("is_batch"))
      .select(col("doc_id").as("corpus_id") +: col("band") +: rNames.map(col(_)): _*)
    val cand = probe.join(index, "band" +: rNames)
      .select("batch_id", "corpus_id").distinct()
    snapBestPartner(cand, sig, sig, "doc_id")
  }

  /** The incremental near-dup verdict over candidate (batch_id,
    * corpus_id) pairs: matching mins against the batch signatures `bsig`
    * (doc_id, m0..) and corpus signatures `csig` (`csigId`, m0..), pairs
    * at est_jaccard ≥ 0.5 only, each batch doc's best partner (max
    * matches, min corpus id). */
  private def snapBestPartner(cand: DataFrame, bsig: DataFrame,
      csig: DataFrame, csigId: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigA = bsig.select(col("doc_id").as("sa") +:
      (0 until NumPerm).map(i => col(s"m$i").as(s"a$i")): _*)
    val sigB = csig.select(col(csigId).as("sb") +:
      (0 until NumPerm).map(i => col(s"m$i").as(s"b$i")): _*)
    val nMatch = (0 until NumPerm)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val w = Window.partitionBy("batch_id")
      .orderBy(col("n_matching").desc, col("corpus_id"))
    cand
      .join(sigA, col("batch_id") === col("sa"))
      .join(sigB, col("corpus_id") === col("sb"))
      .select(col("batch_id"), col("corpus_id"), nMatch.as("n_matching"))
      .where(col("n_matching") >= SnapMinMatch)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("batch_id"), col("corpus_id"), col("n_matching"),
        (col("n_matching").cast("double") / NumPerm).as("est_jaccard"))
      .orderBy("batch_id")
  }

  /** The 8 LSH band keys of a signature row as ONE string column each
    * ('band/r0/r1/r2/r3' — components are non-negative longs, so string
    * equality IS tuple equality). A single key column is what a persisted
    * index bucketizes on; [[snapshotNearDup]]'s in-query form keeps the
    * raw tuple columns (same buckets either way). */
  private def bandKeyArray: Column = array((0 until NumBands).map { bnd =>
    concat_ws("/", lit(bnd) +:
      (0 until RowsPerBand).map(r => col(s"m${bnd * RowsPerBand + r}")): _*)
  }: _*)

  /** Materialize [[snapshotNearDup]]'s corpus side as PERSISTED index
    * tables — the "at scale the corpus band buckets are a persisted index"
    * claim as checked behavior rather than a comment:
    *
    *  - `indexTable` (bkey, corpus_id): the band-bucket membership list,
    *    BUCKETED BY bkey — a later probe join on bkey reads it with zero
    *    shuffle (the bucketing is its partitioning).
    *  - `sigTable` (corpus_id, m0..m31): one signature row per corpus doc,
    *    BUCKETED BY corpus_id — the verification join ships candidates to
    *    the signatures, never re-shuffles the (corpus-sized) signature
    *    table.
    *
    * At 100 TB these writes run once per corpus snapshot; every batch
    * probe then pays only batch-proportional work ([[snapshotNearDupProbe]],
    * plan-asserted shuffle-free on both persisted sides by
    * SnapIndexSpec). */
  def buildSnapNearDupIndex(spark: SparkSession, dir: String,
      indexTable: String, sigTable: String): Unit = {
    val corpus = Tables.documents(spark, dir)
      .where(pmod(col("doc_id"), lit(10)) < 8)
    val base = md5ShingleBase
    val sig = minhashSignaturesWith(shingles(corpus), base)
      .drop("source").cache() // feeds both writes below
    try {
      ScaleOps.writeBucketed(
        sig.select(explode(bandKeyArray).as("bkey"), col("doc_id").as("corpus_id")),
        indexTable, "bkey", 8)
      ScaleOps.writeBucketed(
        sig.withColumnRenamed("doc_id", "corpus_id"), sigTable, "corpus_id", 8)
    } finally sig.unpersist() // both writes are complete actions — a
    // corpus-sized signature frame must not stay pinned in a long-lived
    // caller that never runs the gate harnesses' clearCache loop
  }

  /** [[snapshotNearDup]] against the PERSISTED corpus index: batch
    * signatures derive in-query (batch docs only — per-batch cost is
    * proportional to the batch), candidates come from a bkey equi-join
    * into the bucketed `indexTable`, and scoring joins the bucketed
    * `sigTable`. Output is row-identical to [[snapshotNearDup]]
    * (spec-asserted): the probe join on the string band key matches
    * exactly the raw-tuple band equality. */
  def snapshotNearDupProbe(spark: SparkSession, dir: String,
      indexTable: String, sigTable: String): DataFrame =
    snapNearDupProbeOf(spark,
      Tables.documents(spark, dir).where(pmod(col("doc_id"), lit(10)) >= 8),
      indexTable, sigTable)

  /** [[snapshotNearDupProbe]] for an ARBITRARY batch frame (doc_id, text,
    * source) — the entry point the streaming intake probes through
    * (StreamingOps.nearDupIntakeStream): per-doc results depend only on
    * (doc, persisted index), so any partition of the batch stream probes
    * to exactly the rows the one-shot batch probe would produce. */
  def snapNearDupProbeOf(spark: SparkSession, batch: DataFrame,
      indexTable: String, sigTable: String): DataFrame =
    snapNearDupProbeFrames(spark, batch, indexTable, sigTable)._2

  /** [[snapNearDupProbeOf]] driven through a terminal `write`, with the
    * per-batch signature cache released once the write completes — the
    * entry point long-running STREAMING callers must use
    * (StreamingOps.nearDupIntakeStream): the batch/harness path is swept
    * by the harnesses' clearCache loop, but a stream invoking the probe
    * per micro-batch has no such sweep, so per-batch cached signature
    * frames would accumulate for the stream's lifetime. */
  def snapNearDupProbeWrite(spark: SparkSession, batch: DataFrame,
      indexTable: String, sigTable: String)(write: DataFrame => Unit): Unit = {
    val (bsig, out) = snapNearDupProbeFrames(spark, batch, indexTable, sigTable)
    try write(out) finally bsig.unpersist()
  }

  /** The probe dataflow plus the cached batch-signature frame backing it,
    * so callers can choose the cache lifecycle ([[snapNearDupProbeOf]]
    * leaves it to the harness sweep; [[snapNearDupProbeWrite]] unpersists
    * after its terminal write). */
  private def snapNearDupProbeFrames(spark: SparkSession, batch: DataFrame,
      indexTable: String, sigTable: String): (DataFrame, DataFrame) = {
    val base = md5ShingleBase
    val bsig = minhashSignaturesWith(shingles(batch), base)
      .drop("source").cache() // probe keys + the batch scoring side
    val probe = bsig.select(col("doc_id").as("batch_id"),
      explode(bandKeyArray).as("bkey"))
    val cand = probe.join(spark.table(indexTable), "bkey")
      .select("batch_id", "corpus_id").distinct()
    val out = snapBestPartner(cand, bsig, spark.table(sigTable), "corpus_id")
    (bsig, out)
  }

  /** DuckDB replay of [[snapshotNearDup]] — generated from the same
    * permParams / NumBands / SnapMinMatch constants. */
  private def snapNearDupSql: String = {
    val bandJoins = bandJoinsSql(NumBands, RowsPerBand)(eqs =>
      s"""SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id
             FROM bsig a JOIN csig b ON $eqs""")
    s"""WITH ${docShinglesCtes("doc_id, source", "sh")},
         ${minhashSigCtes("doc_id, source")},
         bsig AS (SELECT * FROM sig WHERE doc_id % 10 >= 8),
         csig AS (SELECT * FROM sig WHERE doc_id % 10 < 8),
         cand AS (
           SELECT DISTINCT batch_id, corpus_id FROM (
             $bandJoins)),
         scored AS (
           SELECT c.batch_id, c.corpus_id,
                  CAST($MatchSumSql AS BIGINT) AS n_matching
           FROM cand c
           JOIN sig a ON a.doc_id = c.batch_id
           JOIN sig b ON b.doc_id = c.corpus_id
           WHERE $MatchSumSql >= $SnapMinMatch)
         SELECT batch_id, corpus_id, n_matching,
                CAST(n_matching AS DOUBLE) / $NumPerm AS est_jaccard
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY batch_id
                 ORDER BY n_matching DESC, corpus_id) AS rn
               FROM scored)
         WHERE rn = 1
         ORDER BY batch_id"""
  }

  // ---------------------------------------------------------------- SimHash
  /** 64-bit SimHash per doc: token hashes vote per bit position; the sign
    * of each bit-sum forms the signature. Expressed as 64 codegen'd
    * conditional sums — one shuffle, no UDAF, no driver loops. */
  private[graft] def simhashSignatures(docs: DataFrame): DataFrame = {
    // xxhash64 twin of [[simhashPortableSig]]'s fp-grain vote pipeline:
    // one tokenize/hash/vote pass per DISTINCT text, attached to docs by
    // fingerprint join (the signature is a function of the text alone)
    val toks = fpGrain(docs, "fp", "m")
      .select(col("fp"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .select(col("fp"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val sig = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _) // disjoint bit positions: sum == bitwise OR
    val sigPerFp = toks.groupBy("fp").agg(bitSums.head, bitSums.tail: _*)
      .select(col("fp"), sig.as("simhash"))
    docs.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .join(sigPerFp, Seq("fp"))
      .select(col("doc_id"), col("source"), col("simhash"))
  }

  /** Doc-grain Hamming ≤ 3 pair emission VIA SIGNATURE GRAIN — the
    * output-proportional form the registered pair queries run since
    * round 11. Same pair set as running the blocked join at doc grain
    * (spec-pinned vs all-pairs on fixture + corpus), but the
    * Manku-blocked candidate join runs over DISTINCT signatures only and
    * doc pairs are produced by expansion joins afterwards:
    *
    *  - same-signature pairs (Hamming 0) come from a per-signature
    *    doc-list self-join — pure output, C(m, 2) rows per m-doc
    *    signature, no candidate generation at all;
    *  - near-signature pairs come from the distinct-signature pair frame
    *    joined back to the doc lists of each side.
    *
    * Why: on a replica-heavy corpus the doc-grain blocked join generates
    * every c-doc identical-signature clique 20× (once per Manku table) —
    * ~20·C(c, 2) candidate rows per clique that a corpus-pair-sized
    * `.distinct()` then has to collapse (the round-10 100× sweep's
    * ">700 s output-bound" reading was mostly THIS amplification, not the
    * answer itself). At signature grain a clique is ONE blocked row, the
    * distinct runs on the tiny signature-pair frame, and every doc-grain
    * row produced is an output row: total cost = detection over distinct
    * signatures + exactly |answer| expansion rows + the output sort.
    * Each doc carries ONE signature, so the expansion cannot duplicate a
    * pair and no doc-grain distinct is needed. */
  private[graft] def hammingPairsGrouped(sigDocs: DataFrame): DataFrame = {
    val sigG = sigDocs.select("simhash").distinct()
      .cache() // self-joined through the 20-table blocking
    val sp = hammingPairsScaledUnsorted(
      sigG.select(col("simhash").as("doc_id"), col("simhash")))
      .select(col("doc_a").as("sig_a"), col("doc_b").as("sig_b"),
        col("hamming"))
    val docs = sigDocs.select(col("simhash"), col("doc_id"))
    val intra = docs.as("x").join(docs.as("y"),
        col("x.simhash") === col("y.simhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    val cross = sp
      .join(docs.select(col("simhash").as("sig_a"), col("doc_id").as("da")),
        Seq("sig_a"))
      .join(docs.select(col("simhash").as("sig_b"), col("doc_id").as("db")),
        Seq("sig_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    intra.unionByName(cross).orderBy("doc_a", "doc_b")
  }

  /** The Manku-blocked candidate join itself, unsorted — the detection
    * core consumed at SIGNATURE grain by [[sigNeighbors]] and
    * [[hammingPairsGrouped]] (both aggregate or expand the pairs; a sort
    * exchange on this frame would be pure waste).
    *
    * The REGISTERED Hamming-pair pipeline since round 11 — the Manku et
    * al. 2007 (Google simhash dedup) table construction: 6 blocks of
    * 11/11/11/11/10/10 bits, candidate keys = every C(6,3)=20 THREE-BLOCK
    * combination (~32-bit keys). Any ≤3 flipped bits touch ≤3 blocks, so
    * ≥3 blocks stay intact and at least one 3-block combo matches —
    * recall for Hamming ≤ 3 is COMPLETE, exactly like an all-pairs
    * scan, so the verified pair set is IDENTICAL (spec-pinned),
    * and both DuckDB oracles (hamming: all-pairs bit_count(xor) ≤ 3;
    * simhash: vote/sign/pair replay) are blocking-agnostic — the
    * round-11 swap from a 4×16-bit pigeonhole could not change either
    * result set. What changed is the SCALE CEILING: the pigeonhole's
    * 16-bit chunk keys are a 65k key space — a bounded
    * blocking key, O(n²/65k) once the corpus outgrows it (the round-10
    * 100× sweep measured exactly that regime) — while ~32-bit combined
    * keys keep expected bucket size n/2³²: the candidate generation
    * costs a constant 20× explode instead of 4× and stays linear to
    * ~10⁹ documents. The classic blocking-key-must-scale-with-n trade,
    * paid in tables. */
  private[graft] def hammingPairsScaledUnsorted(sig: DataFrame): DataFrame = {
    val blocks = Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
    def block(i: Int): org.apache.spark.sql.Column = {
      val (off, w) = blocks(i)
      shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
    }
    val keys = blocks.indices.combinations(3).toSeq.zipWithIndex.map {
      case (c, t) =>
        // pack the 3 block values (each < 2^11) into one ≤33-bit key
        val k = c.map(block).reduce((a, b) => shiftleft(a, 11) + b)
        struct(lit(t).as("tbl"), k.as("v"))
    }
    val blocked = sig.select(col("doc_id"), col("simhash"),
      explode(array(keys: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.tbl").as("tbl"),
        col("bk.v").as("v"))
    val l = blocked.select(col("tbl"), col("v"), col("doc_id").as("doc_a"),
      col("simhash").as("sig_a"))
    val r = blocked.select(col("tbl").as("tbl_r"), col("v").as("v_r"),
      col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    l.join(r, l("tbl") === r("tbl_r") && l("v") === r("v_r") &&
        l("doc_a") < r("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  /** The deterministic 63-bit ARITHMETIC signature (over `doc_id`) shared
    * by [[hammingNearDup]] / [[simDegree]] / [[dupComponents]] and their
    * DuckDB oracles: 8 bytes derived from doc_id DIV 4 (each byte < 128
    * so the signed-long sum never overflows under ANSI mode), XOR one
    * noise bit at a doc-dependent position — docs sharing a DIV-4 group
    * differ by ≤ 2 bits, so planted near-pairs exist at every scale. */
  private[graft] def arithmeticSimhash: org.apache.spark.sql.Column = {
    val g = expr("doc_id DIV 4")
    val base = Seq((3, 17), (5, 29), (7, 43), (11, 59), (13, 71), (17, 89),
      (19, 101), (23, 113)).zipWithIndex.map { case ((a, b), j) =>
        shiftleft(pmod(g * a + b, lit(128)), 8 * j)
      }.reduce(_ + _)
    val noise = expr("shiftleft(CAST(1 AS BIGINT), CAST((doc_id * 7) % 56 AS INT))")
    base.bitwiseXOR(noise)
  }

  /** Production fast path of [[simhashPairs]]: xxhash64 token hashes (no
    * DuckDB twin) through the same Manku-blocked Hamming pipeline.
    * Spec-tested on planted fixtures; the blocking/verify pipeline itself
    * is hash-checked through hammingNearDup's oracle and the registered
    * portable form. */
  def simhashPairsFast(spark: SparkSession, dir: String): DataFrame =
    // cached: hammingPairsGrouped reads the signature frame five ways
    // (distinct + intra self-join + two expansions), so an uncached sig
    // would run the 64-sum aggregation repeatedly
    hammingPairsGrouped(simhashSignatures(Tables.documents(spark, dir)).cache())

  /** SimHash near-dup pairs with Hamming distance ≤ 3 over the Manku
    * 20-table blocking at signature grain ([[hammingPairsGrouped]]) —
    * the REGISTERED (driver-oracle-checked) form:
    * identical bit-vote signature construction as simhashSignatures, with
    * the base hash md5-derived (two 32-bit halves combined into a 63-bit
    * value — DuckDB errors on 1<<63, and 63 bits changes nothing about
    * the blocking-completeness property) so DuckDB can replay the votes,
    * the sign bits, and the final Hamming ≤ 3 filter exactly — the oracle
    * filters candidate-free ALL pairs, so it is blocking-agnostic and the
    * round-11 pigeonhole→Manku graduation could not change its result.
    * Together with q_hamming_neardup (which pins the blocked candidate
    * generation == all-pairs), this hash-checks everything about
    * [[simhashPairsFast]] except the xxhash64 swap. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = simhashPortableSig(spark, dir)
      .cache() // read five ways by hammingPairsGrouped; see simhashPairsFast
    hammingPairsGrouped(sig)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** The md5-portable 63-bit bit-vote signature per document (doc_id,
    * simhash) — the shared front-end of [[simhashPairs]] and
    * [[simhashClusters]]. See [[simhashPairs]] for the parity story. */
  private[graft] def simhashPortableSig(spark: SparkSession, dir: String): DataFrame = {
    // The 63-vote signature is a function of the TEXT alone — since
    // round 11 the tokenize/md5/vote pipeline runs once per DISTINCT
    // text and the result attaches to docs by fingerprint join, so a
    // replica corpus pays detection at distinct-content size
    val docs = Tables.documents(spark, dir)
    val hi = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
    val lo = conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long")
    val toks = fpGrain(docs, "fp", "m")
      .select(col("fp"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      // hi fills bits 31..62, lo>>1 fills bits 0..30 — disjoint ranges, so
      // every signature bit stays an unbiased md5 bit (a plain hi<<31 | lo
      // would OR two independent bits at position 31, biasing it to 3/4)
      .select(col("fp"), shiftleft(hi, 31).bitwiseOR(shiftright(lo, 1)).as("h"))
    val bitSums = (0 until 63).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val sigExpr = (0 until 63).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    val sigPerFp = toks.groupBy("fp").agg(bitSums.head, bitSums.tail: _*)
      .select(col("fp"), sigExpr.as("simhash"))
    docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(sigPerFp, Seq("fp"))
      .select(col("doc_id"), col("simhash"))
  }

  /** Signature-grain neighbor rollup shared by [[simhashClusters]] and
    * [[simDegree]]: for each DISTINCT signature, how many Hamming-1..3
    * NEIGHBOR signatures exist and how many documents those neighbors
    * carry. Input sigG = one row per distinct signature value with its
    * document multiplicity (simhash, n_docs). Candidates come from the
    * Manku blocking run over the DISTINCT-signature frame (the signature
    * value doubles as the pair id, so identical-signature cliques never
    * enter the join at all — the whole point), mirrored to both
    * directions for the per-signature aggregate. */
  private def sigNeighbors(sigG: DataFrame): DataFrame = {
    val pairs = hammingPairsScaledUnsorted(
      sigG.select(col("simhash").as("doc_id"), col("simhash")))
    val both = pairs.select(col("doc_a").as("simhash"), col("doc_b").as("nbr"))
      .unionByName(pairs.select(col("doc_b").as("simhash"), col("doc_a").as("nbr")))
    both
      .join(sigG.select(col("simhash").as("nbr"), col("n_docs").as("nbr_docs")),
        Seq("nbr"))
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_near_sigs"), sum(col("nbr_docs")).as("n_near_docs"))
  }

  /** BOUNDED-REPORT twin of [[simhashPairs]] — the cap-proof form for
    * adversarial replica cliques (round-10 100× sweep: every base doc
    * carried a 40-100-replica clique, so the pair LIST is C(replica, 2)
    * per base — genuine output, but unreportable at scale). Rolls the
    * near-dup graph up at SIGNATURE grain, the q_chunk_shared
    * per-fingerprint-summary pattern: identical texts take identical
    * bit-votes, so a c-replica clique collapses to ONE row (n_docs = c)
    * BEFORE any pair join, and the blocked join runs over DISTINCT
    * signatures only. Per distinct signature: its document count, the
    * canonical (minimum) doc_id, and the count of Hamming-1..3 neighbor
    * signatures / documents. Every per-doc quantity of the pair report
    * derives arithmetically: degree(doc with sig s) = (n_docs_s − 1) +
    * n_near_docs_s. Output is bounded by DISTINCT-signature count — a
    * replica corpus grows it not at all. */
  def simhashClusters(spark: SparkSession, dir: String): DataFrame = {
    val sigG = simhashPortableSig(spark, dir)
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canon_id"))
      .cache() // self-joined through the blocking + re-read for the report
    sigG.join(sigNeighbors(sigG), Seq("simhash"), "left")
      .select(col("simhash"), col("n_docs"), col("canon_id"),
        coalesce(col("n_near_sigs"), lit(0L)).as("n_near_sigs"),
        coalesce(col("n_near_docs"), lit(0L)).as("n_near_docs"))
      .orderBy("canon_id") // unique: a doc has ONE signature
  }

  /** Oracle twin for the Hamming blocking: a deterministic 63-bit ARITHMETIC
    * signature (expressible in ANSI SQL, unlike xxhash64) pushed through the
    * exact same hammingPairsGrouped pipeline. Signature = 8 bytes derived
    * from doc_id DIV 4 (each byte kept < 128 so the signed-long sum never
    * overflows under ANSI mode), XOR one noise bit at a doc-dependent
    * position — docs sharing a DIV-4 group differ by ≤ 2 bits, so planted
    * near-pairs exist at every scale. The DuckDB oracle computes the same
    * signatures and filters ALL pairs by bit_count(xor) ≤ 3: equality holds
    * because the Manku 20-table blocking is lossless at distance ≤ 3, which
    * is exactly the property being verified (and why the round-11
    * pigeonhole→Manku swap kept this oracle untouched). */
  def hammingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.documents(spark, dir)
      .select(col("doc_id"), arithmeticSimhash.as("simhash"))
      .cache() // read five ways by hammingPairsGrouped; avoids docs re-scans
    hammingPairsGrouped(sig)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Apply the near-dup verdicts: drop every document that appears as the
    * HIGHER id (doc_b) of a qualifying Jaccard pair. Under the a<b pair
    * convention this keeps exactly the lowest doc_id of each duplicate
    * group whenever similarity is transitive within the group (the
    * overwhelmingly common case for ≥0.5 Jaccard); a longer chain
    * a~b~c where a≁c still drops both b and c — the conservative
    * direction for training data. No broadcast() hint on the drop list:
    * at web scale the near-dup fraction is routinely 30%+ of the corpus,
    * so the list is NOT driver-sized by construction — AQE broadcasts it
    * when small and falls back to a shuffled anti-join when it isn't.
    *
    * KNOWN LIMIT, by design: clusters replicated more than MaxShingleDf
    * times per source have ALL their shared shingles df-capped away, so
    * the exact-Jaccard path emits no pairs for them and they are kept.
    * That regime belongs to minhashLsh (uncapped shingles, banded
    * buckets bound the pair fan-out) and dedupExact (byte-identical
    * copies) — the exact path must stay capped or a single hot shingle
    * detonates a reducer. */
  def nearDupKeep(spark: SparkSession, dir: String): DataFrame = {
    val drops = ngramJaccard(spark, dir).select(col("doc_b")).distinct()
    Tables.documents(spark, dir)
      .join(drops, col("doc_id") === col("doc_b"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- incremental
  /** Incremental-ingest dedup: a NEW batch of documents is deduplicated
    * against the EXISTING corpus snapshot (and within itself) by content
    * hash — the shape every recurring crawl/ingest pipeline runs, where
    * re-processing the whole corpus per batch would be absurd. Modeled on
    * the one documents table by doc_id % 10: digits 0-7 play the corpus,
    * 8-9 the incoming batch.
    *
    * Scale shape: the batch side collapses to one row per distinct
    * content hash first (map-side partial min/count), then a left-anti
    * join against the corpus hash set — both sides hash-partition on fp,
    * so the corpus (the 100 TB side) streams through its partitions once;
    * no broadcast is assumed anywhere (Spark cannot broadcast the right
    * side of a LEFT ANTI without reversing it, and the corpus side is
    * never driver-sized). */
  def snapshotDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpusFp = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      .select(md5(col("text")).as("fp")).distinct()
    val batchBest = docs.where(pmod(col("doc_id"), lit(10)) >= 8)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_batch_copies"))
    batchBest.join(corpusFp, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"), col("n_batch_copies"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- graph degree
  /** Near-dup graph node degrees: how many near-duplicate partners each
    * document has (over the deterministic arithmetic-signature pair
    * graph, so the whole operator — including the blocking — has an
    * exact DuckDB twin). Degree is the first thing a dedup audit reads:
    * hubs are boilerplate/template families, degree-1 nodes are honest
    * pair dups.
    *
    * Round 11 moved the computation to SIGNATURE grain — the cap-proof
    * shape: the pair frame is never materialized. Distinct signatures
    * (with document multiplicity m) go through the Manku-blocked
    * signature-pair join, and degree(doc with sig s) = (m_s − 1) +
    * Σ m_s′ over Hamming-1..3 neighbor signatures s′ — an identical
    * result to the old pair-grain rollup (the oracle still derives
    * degrees from ALL pairs), but a c-replica identical-signature clique
    * costs ONE aggregate row instead of C(c, 2) join rows. Docs with no
    * partner (degree 0) stay absent, matching the pair-derived form. */
  def simDegree(spark: SparkSession, dir: String): DataFrame = {
    val sigDocs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), arithmeticSimhash.as("simhash"))
      .cache() // re-read at doc grain for the final attribution join
    val sigG = sigDocs.groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"))
      .cache() // self-joined through the blocking inside sigNeighbors
    val degPerSig = sigG.join(sigNeighbors(sigG), Seq("simhash"), "left")
      .select(col("simhash"),
        (col("n_docs") - 1 + coalesce(col("n_near_docs"), lit(0L))).as("degree"))
      .where(col("degree") > 0)
    sigDocs.join(degPerSig, Seq("simhash"))
      .select(col("doc_id"), col("source"), col("degree"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- components
  /** Connected components over the near-dup pair graph — the transitive
    * closure step that turns pairwise verdicts into duplicate CLUSTERS
    * (nearDupKeep's pair-local drop rule is the conservative shortcut;
    * this is the exact form: chains a~b~c collapse into one component
    * labeled by its minimum doc_id, so "keep the canonical doc per
    * cluster" becomes a trivial filter on `doc_id = comp`).
    *
    * Implementation: iterative min-label propagation in DataFrames.
    * labels(v) ← min(labels(v), min over neighbors labels(u)) until a
    * fixpoint, which arrives in O(component diameter) rounds — for
    * near-dup graphs that is single digits (components are tiny; the
    * pair generation itself caps them). Each round is one shuffle of the
    * EDGE set — since round 11 the SIGNATURE-pair set (see the method
    * comment), bounded by distinct-content size, not the corpus — and
    * `localCheckpoint` truncates the plan so lineage doesn't grow with
    * rounds. The per-round convergence probe
    * is a scalar count (driver control flow, same pattern as the IVF
    * Lloyd step), not a data collect. For adversarial graphs with long
    * chains the standard escalation is large-star/small-star (Kiveris et
    * al.), which this loop structure accommodates without API change.
    *
    * Pairs come from the deterministic arithmetic Hamming signature
    * (hammingNearDup) so the whole operator — graph included — has an
    * exact DuckDB twin via a recursive CTE. */
  def dupComponents(spark: SparkSession, dir: String): DataFrame = {
    // Label propagation at SIGNATURE grain, expanded to docs (round 11):
    // docs sharing a signature are pairwise Hamming-0 duplicates, so the
    // doc pair graph is exactly the signature graph with every
    // signature's doc set fully connected internally — doc components =
    // signature components expanded by the doc lists. The propagation
    // loop's per-round joins therefore run over DISTINCT signatures
    // (a replica corpus grows the node count not at all) instead of a
    // corpus-pair edge list; multi-doc signatures enter as self-edges so
    // their docs form a component even with no near signature. Labels
    // and sizes re-derive at doc grain (comp = min doc_id, size = doc
    // count) — identical to propagating at doc grain.
    val sigDocs = Tables.documents(spark, dir)
      .select(col("doc_id"), arithmeticSimhash.as("simhash"))
      .cache() // re-read for the expansion + relabel joins
    val sigG = sigDocs.groupBy("simhash").agg(count(lit(1)).as("m"))
      .cache() // blocked self-join + the self-edge scan
    val sigPairs = hammingPairsScaledUnsorted(
      sigG.select(col("simhash").as("doc_id"), col("simhash")))
      .select(col("doc_a"), col("doc_b"))
    val selfEdges = sigG.where(col("m") >= 2)
      .select(col("simhash").as("doc_a"), col("simhash").as("doc_b"))
    val sigComp = componentsOfPairs(sigPairs.unionByName(selfEdges))
      .select(col("doc_id").as("simhash"), col("comp").as("sig_comp"))
    val docComp = sigDocs.join(sigComp, Seq("simhash"))
    val byComp = docComp.groupBy("sig_comp")
      .agg(min(col("doc_id")).as("comp"), count(lit(1)).as("comp_size"))
    docComp.join(byComp, Seq("sig_comp"))
      .select(col("doc_id"), col("comp"), col("comp_size"))
      .orderBy("doc_id")
  }

  /** The propagation loop itself, over an arbitrary undirected pair list
    * (doc_a, doc_b) — separated from the pair source so the multi-round
    * convergence path is directly testable on planted long-chain graphs
    * (a diameter-d path needs d rounds of min-label propagation; the
    * organic near-dup fixtures converge in 1-2). Returns one row per
    * node: (doc_id, comp, comp_size), unordered. */
  private[graft] def componentsOfPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    // EAGER checkpoints, deliberately: the lazy variant was A/B-measured
    // ~1.6x slower end-to-end here — deferring materialization into the
    // convergence count serializes block writes into the measured job and
    // loses the dedicated checkpoint job's full-parallel write
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    // Each round's localCheckpoint leaves its (pair-graph-sized, tiny)
    // blocks to the ContextCleaner — they are reclaimed when the
    // superseded frame is GC'd, not by catalog.clearCache(); bounded by
    // maxRounds × |nodes|, negligible next to any corpus.
    val maxRounds = 50
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("nid"))
        .agg(min(col("comp")).as("nbr_comp"))
      // the changed count rides the checkpoint materialization itself as
      // an observed metric — ONE job per round, not checkpoint + count.
      // (Per-job overhead dominates this sandbox under load; the count
      // job was half of every round's cost for zero information the
      // observe() can't deliver.)
      val obs = org.apache.spark.sql.Observation(s"cc_round_$rounds")
      val next = labels.join(nbrMin, col("id") === col("nid"), "left")
        .withColumn("ncomp",
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))))
        .withColumn("chg", col("ncomp") < col("comp"))
        .select(col("id"), col("ncomp").as("comp"), col("chg"))
        .observe(obs, coalesce(sum(col("chg").cast("long")), lit(0L)).as("n_chg"))
        .localCheckpoint()
      changed = obs.get("n_chg").asInstanceOf[Long]
      labels = next.drop("chg")
      rounds += 1
    }
    edges.unpersist()
    // Silently returning mid-propagation labels would split real clusters
    // (and the canonical-keep filter would keep several docs per cluster)
    // — fail loudly instead. Component diameter > maxRounds means the
    // graph needs the large-star/small-star variant, not more rounds.
    if (changed > 0)
      throw new IllegalStateException(
        s"dupComponents did not converge in $maxRounds rounds " +
          s"($changed labels still changing): component diameter exceeds " +
          "the round cap — switch to large-star/small-star propagation")
    val sizes = labels.groupBy(col("comp").as("scomp"))
      .agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, col("comp") === col("scomp"))
      .select(col("id").as("doc_id"), col("comp"), col("comp_size"))
  }

  /** Canonical-document selection per duplicate cluster: the apply step on
    * top of dupComponents — keep exactly ONE doc per component, the
    * longest (doc_id tiebreak), and report what the cluster cost. This is
    * the cluster-exact form of nearDupKeep's pair-local rule: chains
    * a~b~c collapse to one keeper even when a≁c directly.
    *
    * The rank-1 window runs on the component frame (pair-graph-sized,
    * ≪ corpus) joined to doc lengths. */
  def dupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val comp = dupComponents(spark, dir)
    val docs = Tables.documents(spark, dir).select("doc_id", "n_chars")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("comp").orderBy(col("n_chars").desc, col("doc_id"))
    comp.join(docs, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("comp"), col("doc_id").as("keep_id"),
        col("n_chars").as("keep_chars"), col("comp_size"),
        (col("comp_size") - 1).as("n_dropped"))
      .orderBy("comp")
  }

  // ---------------------------------------------------------------- contamination
  /** Eval-set decontamination check: for every training document (source
    * != src0), how many of its distinct shingles also occur anywhere in
    * the eval set (source = src0), and the contaminated fraction. The
    * standard pre-training hygiene op (n-gram overlap against benchmark
    * suites).
    *
    * Scale shape: the eval side is tiny next to the corpus (benchmarks
    * are MBs, training data is TBs), so its distinct-shingle set is
    * broadcast and the overlap count is a map-side join over the train
    * shingles — one aggregation shuffle on doc_id, no eval-side skew
    * possible. No df cap here, deliberately: a shingle shared with the
    * eval set is contamination regardless of how common it is. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    // Content grain since round 11: a train doc's (n_shingles, n_shared)
    // is a function of its text given the eval shingle set, and the eval
    // set is the union over distinct eval texts — so each side shingles
    // its DISTINCT texts only and train docs attach by fingerprint join
    // (a text published under both sources self-contaminates, exactly as
    // at doc grain: its shingles ARE in the eval set). The source filters
    // still push to the parquet scans, each side reading its own slice.
    //
    // SINGLE PASS over the train shingles: a left join against the
    // (distinct, marker-tagged) eval set keeps every train row exactly
    // once, so ONE fp aggregation yields both the cardinality and the
    // hit count.
    val docs = Tables.documents(spark, dir)
    val evalSh = fpShingles(
        fpGrain(docs.where(col("source") === "src0"), "efp", "em"), "efp")
      .select("shingle").distinct().withColumn("hit", lit(1))
    val stats = fpShingles(
        fpGrain(docs.where(col("source") =!= "src0"), "fp", "m"), "fp")
      .join(broadcast(evalSh), Seq("shingle"), "left")
      .groupBy("fp")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
    docs.where(col("source") =!= "src0")
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .join(stats, Seq("fp"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"))
      .withColumn("contam_frac",
        col("n_shared").cast("double") / col("n_shingles"))
      .orderBy("doc_id")
  }

  /** The 100 TB form of [[contamination]]: a BLOOM-FILTER prefilter in front
    * of the exact overlap join, producing the IDENTICAL result (same oracle
    * SQL — the exact verify join removes every bloom false positive).
    *
    * Why it matters at scale: the broadcast-join form ships the full eval
    * shingle SET (strings — hundreds of MB for a large benchmark suite) to
    * every executor and hash-probes every training shingle against it. Here
    * the eval side collapses to a serialized bloom filter (8 bits/item
    * ≈ 3% FP — MBs, not hundreds), built DISTRIBUTED as an aggregate
    * (partial blooms per partition, OR-merged), and the probe is a
    * codegen'd map-side predicate on the training-shingle scan. Only the
    * ~overlap+3% survivors reach the exact join, so the join's build side
    * is unchanged but its STREAM side shrinks by ~30× on typical corpora
    * (most training shingles match nothing) — and the exact join no longer
    * needs the broadcast assumption at all: a shuffled join over survivors
    * is cheap because the survivors are rare.
    *
    * The per-doc shingle cardinalities still come from the FULL training
    * stream (before the bloom), so `n_shingles`/`contam_frac` are exact. */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    import GraftFunctions._
    // no corpus-wide cache: eval/train slices are separate pushed-filter
    // scans (each branch reads only its own row groups); the eval side is
    // benchmark-sized, so its double consumption (bloom build + exact
    // verify join) is cheaper than materializing the full shingle frame
    // Content grain since round 11, same reasoning as [[contamination]]:
    // probe + stats per DISTINCT train text, train docs attach by
    // fingerprint join.
    val docs = Tables.documents(spark, dir)
    val evalSh = fpShingles(
        fpGrain(docs.where(col("source") === "src0"), "efp", "em"), "efp")
      .select("shingle").distinct()
    // driver control flow (like the IVF centroid fetch): one aggregated
    // row carrying the merged bloom — NOT a collect of data rows
    val bloomBytes = evalSh
      .agg(bloom_agg(col("shingle"), 1000 * 1000).as("bf"))
      .head().getAs[Array[Byte]](0)
    val trainSh = fpShingles(
        fpGrain(docs.where(col("source") =!= "src0"), "fp", "m"), "fp")
      .cache() // cardinality + the probed hit side
    val card = trainSh.groupBy("fp").agg(count(lit(1)).as("n_shingles"))
    // map-side bloom probe prunes the join's stream side; the exact join
    // over survivors removes false positives (no broadcast hint — the
    // survivor stream is small, AQE picks the strategy). An EMPTY eval set
    // aggregates to a null bloom — nothing can be contaminated.
    val probe =
      if (bloomBytes == null) lit(false)
      else bloom_might_contain(bloomBytes, col("shingle"))
    val hits = trainSh
      .where(probe)
      .join(evalSh, Seq("shingle"))
      .groupBy("fp").agg(count(lit(1)).as("n_shared"))
    val stats = card.join(hits, Seq("fp"), "left")
    docs.where(col("source") =!= "src0")
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .join(stats, Seq("fp"))
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contam_frac",
        col("n_shared").cast("double") / col("n_shingles"))
      .orderBy("doc_id")
  }

  /** Contamination ATTRIBUTION: which eval document leaked into which
    * training document — the pair-grain report a decontamination audit
    * needs ([[contamination]] only says "how much", this says "from
    * where", so the owning benchmark can be quarantined). Same broadcast
    * shape as the fraction query (eval side is benchmark-sized); the
    * output grain is true (train, eval) overlaps of ≥ 3 shingles —
    * bounded by real contamination, never a pair space. */
  def contaminationPairs(spark: SparkSession, dir: String): DataFrame =
    contaminationPairsWith(spark, dir, col("source") === "src0")

  /** FIXED-EVAL bench alias (`x_contamination_pairs_fixedeval`): the
    * eval side restricted to the UNREPLICATED base slice (doc_id <
    * [[TextOps.ReplicaOffset]] — make_scaled offsets replica keys by
    * 10¹²) — the production shape: eval benchmarks stay MB-sized while
    * the train side grows, which is the whole basis of the broadcast
    * design. The registered query's N× slope can't show it because
    * make_scaled replicates the eval suite too (the 100× sweep
    * cap-killed it on 100× the eval shingles × 100× the train side —
    * same story as x_bigram_lm_fixedref). Row-identical to the
    * registered query on any unreplicated corpus (spec-pinned). */
  def contaminationPairsFixedEval(spark: SparkSession, dir: String): DataFrame =
    contaminationPairsWith(spark, dir,
      col("source") === "src0" && col("doc_id") < TextOps.ReplicaOffset)

  private def contaminationPairsWith(spark: SparkSession, dir: String,
      isEval: org.apache.spark.sql.Column): DataFrame = {
    // Since round 11 the overlap arithmetic runs at CONTENT-FINGERPRINT
    // grain ([[contaminationGroups]]' frame) and the (train, eval) doc
    // pairs are produced by expansion joins afterwards: replicas share
    // text ⇒ share the distinct shingle set ⇒ n_shared is an fp-pair
    // constant, so each distinct text is shingled and joined ONCE and
    // every doc-grain row produced is an output row. On the replica
    // corpus the old doc-grain shingle join amplified every shared
    // shingle by r_train × r_eval before aggregating; output unchanged
    // (one fp per doc — the expansion cannot duplicate a pair).
    val docs = Tables.documents(spark, dir)
    val evSide = docs.where(isEval)
    val trSide = docs.where(col("source") =!= "src0")
    val overlaps = fpShingles(fpGrain(trSide, "train_fp", "n_tr"), "train_fp")
      .join(broadcast(
        fpShingles(fpGrain(evSide, "eval_fp", "n_ev"), "eval_fp")),
        Seq("shingle"))
      .groupBy("train_fp", "eval_fp")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
    overlaps
      .join(trSide.select(md5(col("text")).as("train_fp"),
        col("doc_id").as("train_id")), Seq("train_fp"))
      .join(broadcast(evSide.select(md5(col("text")).as("eval_fp"),
        col("doc_id").as("eval_id"))), Seq("eval_fp"))
      .select("train_id", "eval_id", "n_shared")
      .orderBy("train_id", "eval_id")
  }

  /** One row per distinct text of `side`: (fpCol, nCol = doc count,
    * text = the representative — min() is exact, every text in an fp
    * group is identical). Shared by [[contaminationGroups]] and the
    * fp-grain [[contaminationPairsWith]]. */
  private[operators] def fpGrain(side: DataFrame, fpCol: String, nCol: String): DataFrame =
    side.groupBy(md5(col("text")).as(fpCol))
      .agg(count(lit(1)).as(nCol), min(col("text")).as("text"))

  /** Distinct 3-gram shingles of each fp's representative text. One
    * representative per fp ⇒ array_distinct IS the distinct shingle
    * set — no distinct() shuffle needed.
    *
    * fpGrain/fpShingles/fpShinglesAll are `private[operators]`: the
    * tokenize+fingerprint definition ("same shingle": single-space
    * tokens, 3-token grams, <3-token texts shingle to nothing) must stay
    * ONE concept across dedup, boilerplate scoring, and the curation
    * gate — three drifting copies would silently split it. */
  private[operators] def fpShingles(grp: DataFrame, fpCol: String): DataFrame =
    grp.select(col(fpCol), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 3)
      .select(col(fpCol), explode(array_distinct(
        GraftFunctions.word_ngrams(col("t"), 3))).as("shingle"))

  /** [[fpShingles]] WITH multiplicity — boilerplate-style scoring needs
    * repeated-shingle counts within one text. */
  private[operators] def fpShinglesAll(grp: DataFrame, fpCol: String): DataFrame =
    grp.select(col(fpCol), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 3)
      .select(col(fpCol), explode(
        GraftFunctions.word_ngrams(col("t"), 3)).as("shingle"))

  /** BOUNDED-REPORT twin of [[contaminationPairs]] — the cap-proof form
    * for replica corpora (round-10 100× sweep: every doc replicated
    * 40-100×, so the (train, eval) pair grain is r_train × r_eval rows
    * per real leak — genuine output, but unreportable at scale). Rolls
    * the attribution up at CONTENT-FINGERPRINT grain: train and eval
    * docs collapse to one row per distinct md5(text) BEFORE any shingle
    * work (replicas share text, so each side shingles each distinct text
    * ONCE), and the report grain is (train_fp, eval_fp) overlaps of ≥ 3
    * shingles with the document multiplicities carried alongside — the
    * per-doc pair count recovers as n_train_docs × n_eval_docs. Output
    * is bounded by DISTINCT-content overlap; a replica corpus grows the
    * multiplicity columns, not the row count.
    *
    * Scale shape: the fp collapse is one hash-groupBy per side (the
    * dedupExact move); min(text) is exact because all texts in an fp
    * group are identical. The eval side stays benchmark-sized →
    * broadcast, same as the registered pair query. */
  def contaminationGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val evG = fpGrain(docs.where(col("source") === "src0"), "eval_fp", "n_eval_docs")
      .cache() // shingled AND re-joined for the multiplicity report
    val trG = fpGrain(docs.where(col("source") =!= "src0"), "train_fp", "n_train_docs")
      .cache()
    val overlaps = fpShingles(trG, "train_fp")
      .join(broadcast(fpShingles(evG, "eval_fp")), Seq("shingle"))
      .groupBy("train_fp", "eval_fp")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
    overlaps
      .join(trG.select("train_fp", "n_train_docs"), Seq("train_fp"))
      .join(broadcast(evG.select("eval_fp", "n_eval_docs")), Seq("eval_fp"))
      .select(col("train_fp"), col("eval_fp"), col("n_train_docs"),
        col("n_eval_docs"), col("n_shared"))
      .orderBy("train_fp", "eval_fp")
  }

  // ---------------------------------------------------------------- embedding near-dup
  /** Cosine threshold for the near-dup PAIR report (looser than
    * SemDeDup's 0.9 drop threshold — a report wants the gray zone). */
  private val EmbedNearDupTau = 0.4

  /** Embedding-cosine near-duplicate PAIRS: (a, b) with cosine >
    * [[EmbedNearDupTau]], blocked by the CORPUS-SCALED two-level
    * quantizer — the same trained blocking as q_semdedup_scaled, so
    * cluster population stays ~[[SimilarityOps.SemDedupOccupancy]] and
    * the within-block pair join is O(n·occupancy) at any corpus size.
    * (The round-10 100× sweep cap-killed the previous label-blocked
    * form: labels are a BOUNDED set, so label blocks grow linearly with
    * the corpus and the join is O(n²/L) — blocking keys must scale with
    * n, which is exactly what the dynamic-K quantizer provides. Blocked
    * near-dup semantics per Abbas et al. 2023: >τ pairs split across
    * clusters are accepted misses; exact replicas always share a
    * cluster.) Emits pairs where [[SimilarityOps.semDeDup]]-family ops
    * emit survivors — the attribution view. Dots in double precision in
    * array order — bit-identical to DuckDB's list_cosine_similarity;
    * the oracle replays the WHOLE dynamic-K quantizer chain. */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val assigned = SimilarityOps
      .assignTwoLevel(e, SimilarityOps.scaledSemDedupK(e))
      .withColumn("nrm", GraftFunctions.vec_norm(col("embedding")))
      .cache()
    // norms computed ONCE per vector before the join: each pair then costs
    // a single native dot instead of three array traversals
    val a = assigned.select(col("vec_id").as("vec_a"), col("cl"),
      col("embedding").as("emb_a"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("vec_b"), col("cl").as("cl_b"),
      col("embedding").as("emb_b"), col("nrm").as("nb"))
    val cos = VectorOps.cosinePrenorm(col("emb_a"), col("emb_b"), col("na"), col("nb"))
    a.join(b, a("cl") === b("cl_b") && a("vec_a") < b("vec_b"))
      .select(col("vec_a"), col("vec_b"), cos.as("cos_sim"))
      .where(col("cos_sim") > EmbedNearDupTau)
      .select("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }

  // ---------------------------------------------------------------- shared chunks
  /** Cross-document repeated chunks: 50-token sliding-window fingerprints
    * (the [[PipelineOps.docChunks]] grain) that appear in ≥ 2 distinct
    * documents — substring-level duplication that document-level exact
    * dedup can never see (two documents sharing one boilerplate passage
    * hash differently as wholes). This is the chunk-granular variant of
    * suffix-based substring dedup: the fingerprinted window stream makes
    * "repeated ≥ 50-token span" detectable with ONE groupBy on the
    * fingerprint.
    *
    * Emits a per-fingerprint summary (doc span + occurrence counts), not
    * the doc-pair expansion — a web-scale boilerplate chunk shared by 10⁶
    * docs stays one aggregate row here, where a pair attribution would
    * need the same df cap as the shingle join ([[MaxShingleDf]]). */
  def chunkShared(spark: SparkSession, dir: String): DataFrame =
    PipelineOps.docChunks(spark, dir)
      .groupBy("chunk_fp")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .where(col("n_docs") >= 2)
      .orderBy("chunk_fp")

  // ---------------------------------------------------------------- funnel report
  /** Dedup funnel report: corpus survival counts through the dedup
    * stages — raw → exact-canonical (one per md5 group) → exact AND not
    * near-dup-dropped (the q_neardup_keep rule applied to the exact
    * canonicals). The one-line health readout a curation run logs; each
    * stage reuses the SAME definitions as its standalone operator
    * (dedupExact's min-id groups, ngramJaccard's ≥0.5 pairs), so the
    * report can't drift from them. Three aggregates over already-bounded
    * frames; output is 3 rows. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exactKeep = docs.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id")).cache()
    val drops = ngramJaccard(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.agg(count(lit(1)).as("n_docs"))
      .select(lit("0_raw").as("stage"), col("n_docs"))
      .unionAll(exactKeep.agg(count(lit(1)).as("n_docs"))
        .select(lit("1_exact").as("stage"), col("n_docs")))
      .unionAll(exactKeep.join(drops, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs"))
        .select(lit("2_neardup").as("stage"), col("n_docs")))
      .orderBy("stage")
  }

  // ------------------------------------------------ exact substring dedup
  /** Window width (tokens) of the substring-dedup position fingerprints:
    * a shared span must contain at least one full window to be seen, so
    * this is the detection granularity — [[MinSpanTokens]] is the
    * reporting threshold on the MERGED span. */
  val SubstrK = 20
  /** Minimum shared-span length (tokens) worth reporting — the Lee et
    * al. 2022 "Deduplicating Training Data Makes Language Models Better"
    * operating point (50-token duplicated substrings). */
  val MinSpanTokens = 50L

  /** The ONE distinct-text k-gram position frame behind the substring
    * family (detector, scrub apply step, snapshot probe, persisted
    * index): per DISTINCT text — replicas collapse to an (canon_id,
    * n_docs) multiplicity, the round-11 content-grain discipline — one
    * row per k-token window position carrying the native [[KgramHashes]]
    * rolling fingerprint (one O(total-chars) prefix-hash pass per text,
    * never an O(n·k) re-join, never an interpreted HOF). Every family
    * member derives from THIS frame, so "same window hash" always means
    * the same thing — a k or hash-base change can never half-apply.
    *
    * No `x_` production-hash alias exists for this family (unlike
    * minhash/simhash): the per-position window hashes — the O(corpus)
    * work — are ALREADY the engine-native [[KgramHashes]] codegen
    * expression; the only md5 is the text-identity fingerprint, one
    * hash per DISTINCT text, amortized over every window of it. */
  private def substrPositions(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("canon_id"), count(lit(1)).as("n_docs"))
      .select(md5(col("text")).as("fp"), col("canon_id"), col("n_docs"),
        col("text"))
      .select(col("fp"), col("canon_id"), col("n_docs"),
        posexplode(GraftFunctions.kgram_hashes(
          split(col("text"), " "), SubstrK)))
      .select(col("fp"), col("canon_id"), col("n_docs"),
        (col("pos") + 1).cast("long").as("p"), col("col").as("h"))

  /** Maximal cross-text shared spans, PRE-threshold — the detector core:
    * inverted-index join of window positions on the hash across distinct
    * texts (candidate space is per-hash bucket, never all-pairs), then
    * islands of consecutive matches on the pa−pb diagonal (run grouping
    * by pa − row_number, one windowed pass partitioned by (pair,
    * diagonal)). Keeps the text fingerprints in the output so the scrub
    * apply step can attribute each span to its loser side. Takes the
    * position frame from the caller: the O(corpus) tokenize+hash pass
    * is the dominant cost, so callers CACHE one frame and share it
    * across the self-join sides (and, in the scrub, with the intra
    * builder) instead of re-deriving it per subtree. */
  private def substrSpansFrom(pos: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = pos.as("x").join(pos.as("y"),
        col("x.h") === col("y.h") && col("x.fp") < col("y.fp"))
      .select(col("x.fp").as("fpa"), col("y.fp").as("fpb"),
        col("x.canon_id").as("da"), col("y.canon_id").as("db"),
        col("x.n_docs").as("na"), col("y.n_docs").as("nb"),
        col("x.p").as("pa"), col("y.p").as("pb"))
    val w = Window.partitionBy("fpa", "fpb", "diag").orderBy("pa")
    m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("fpa", "fpb", "diag", "grp")
      .agg(min(col("da")).as("doc_a"), min(col("db")).as("doc_b"),
        min(col("na")).as("n_docs_a"), min(col("nb")).as("n_docs_b"),
        min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (count(lit(1)) + (SubstrK - 1)).as("span_tokens"))
  }

  /** Cap sweep values for [[substrStats]] — candidate "skip window
    * hashes occurring more than cap times" operating points, plus a
    * sentinel large cap whose row IS the uncapped total. */
  private val SubstrCapSweep = List(4L, 16L, 64L, 256L, 1000000L)

  /** SUBSTRING-INDEX PAIR-MASS AUDIT — the pre-flight check a 100 TB
    * substring-dedup run does BEFORE the position join (the same
    * pre-commit-evidence pattern as q_lsh_tuning / q_ivf_stats): the
    * matched-pair space of [[substrSpansFrom]]/[[substrIntraSpansFrom]] is
    * Σ C(t,2) over per-hash position counts t, which degenerates
    * quadratically on pathologically repetitive content (a uniform
    * 5k-token doc alone contributes ~12M matched positions). Per
    * candidate cap c ("skip hashes occurring > c times" — the window-
    * hash analog of the shingle join's [[MaxShingleDf]]): how many
    * distinct hashes and positions the cap drops, and the surviving
    * pair mass. The sentinel 1e6 row is the uncapped total. One
    * hash-grain aggregation over the shared position frame; the
    * registered detectors stay UNCAPPED (this corpus needs none) — the
    * audit is what tells an operator when that stops being true. */
  def substrStats(spark: SparkSession, dir: String): DataFrame =
    substrPositions(Tables.documents(spark, dir))
      .groupBy(col("h")).agg(count(lit(1)).as("t"))
      .select(col("t"), explode(typedlit(SubstrCapSweep)).as("cap"))
      .groupBy("cap")
      .agg(count(lit(1)).as("n_hashes"),
        sum(when(col("t") > col("cap"), 1L).otherwise(0L))
          .as("n_hashes_dropped"),
        sum(when(col("t") > col("cap"), col("t")).otherwise(0L))
          .as("positions_dropped"),
        // DIV, not `/`: Column./ is double division (exact only to 2^53,
        // and a DOUBLE column could never hash-match DuckDB's BIGINT)
        sum(when(col("t") <= col("cap"),
          expr("t * (t - 1) DIV 2")).otherwise(0L)).as("pair_mass"))
      .orderBy("cap")

  /** EXACT SUBSTRING DEDUP at ARBITRARY boundaries — the Lee et al. 2022
    * cross-document duplicated-span detector that fixed-window chunk
    * dedup (q_chunk_dedup / q_chunk_shared, 50-token aligned windows)
    * provably misses: two documents sharing a long span at UNALIGNED
    * offsets have no identical aligned chunk, but every interior k-gram
    * matches. Pipeline: tokenize → rolling-hash EVERY k-token window
    * position ([[substrPositions]]) → inverted-index join across
    * DISTINCT texts → merge consecutive matches into MAXIMAL shared
    * spans per text pair ([[substrSpansFrom]]) → report spans ≥
    * [[MinSpanTokens]] tokens.
    *
    * Scale shape: all k-gram work runs at DISTINCT-text grain (replicas
    * hash once and ride n_docs multiplicities, so the output is bounded
    * by distinct-content overlap, never by replica cliques). A 1e9+7
    * hash collision can forge a single matched position, but a REPORTED
    * span needs ≥ 31 consecutive forgeries — and the oracle replays the
    * identical hashes, so the gate is collision-exact either way. */
  def substrDedup(spark: SparkSession, dir: String): DataFrame =
    substrSpansFrom(
        substrPositions(Tables.documents(spark, dir)).cache())
      .where(col("span_tokens") >= MinSpanTokens)
      .select(col("doc_a"), col("doc_b"), col("n_docs_a"), col("n_docs_b"),
        col("a_start"), col("b_start"), col("span_tokens"))
      .orderBy("doc_a", "doc_b", "a_start", "b_start")

  /** Maximal WITHIN-text repeated spans (pre-threshold) — the intra half
    * of the Lee et al. pair space that [[substrSpansFrom]]' fpa < fpb join
    * excludes: positions of the SAME text matching at pa < pb, islands on
    * the pb−pa diagonal (the repeat distance). A periodic text yields one
    * island per period multiple; the interval union in the scrub merges
    * their overlap. Same distinct-text grain — an intra repeat costs one
    * analysis however many copies the doc has. Same caller-supplied
    * (cached) position frame contract as [[substrSpansFrom]]. */
  private def substrIntraSpansFrom(pos: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = pos.as("x").join(pos.as("y"),
        col("x.h") === col("y.h") && col("x.fp") === col("y.fp") &&
          col("x.p") < col("y.p"))
      .select(col("x.fp").as("fp"), col("x.canon_id").as("canon_id"),
        col("x.n_docs").as("n_docs"),
        col("x.p").as("pa"), col("y.p").as("pb"))
    val w = Window.partitionBy("fp", "diag").orderBy("pa")
    m.withColumn("diag", col("pb") - col("pa"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("fp", "diag", "grp")
      .agg(min(col("canon_id")).as("doc_id"), min(col("n_docs")).as("n_docs"),
        min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (count(lit(1)) + (SubstrK - 1)).as("span_tokens"))
  }

  /** WITHIN-DOCUMENT substring dedup at ARBITRARY boundaries — the intra
    * half of Lee et al. 2022 §4.1 ("including within-example
    * duplicates") that q_chunk_dedup's ALIGNED 50-token windows provably
    * miss: a chorus repeated at an offset that is not a multiple of the
    * chunk stride has no identical aligned chunk, but every interior
    * k-gram matches its earlier occurrence. Reports each maximal
    * repeated span ≥ [[MinSpanTokens]] as (first occurrence start,
    * repeat start, length) at distinct-text grain with doc
    * multiplicities — b_start − a_start is the repeat distance. The
    * apply step is [[substrScrub]], whose loser intervals include these
    * repeat-side occurrences. */
  def substrIntra(spark: SparkSession, dir: String): DataFrame =
    substrIntraSpansFrom(
        substrPositions(Tables.documents(spark, dir)).cache())
      .where(col("span_tokens") >= MinSpanTokens)
      .select(col("doc_id"), col("n_docs"), col("a_start"), col("b_start"),
        col("span_tokens"))
      .orderBy("doc_id", "a_start", "b_start")

  /** SUBSTRING-SCRUB APPLY STEP at ARBITRARY boundaries — the action Lee
    * et al. 2022 take after detection: rewrite each affected document
    * with every cross-document duplicated span REMOVED from the
    * NON-canonical copy. Keep-first is the engine-wide min-id
    * convention: for each detected span the side whose canonical doc_id
    * is SMALLER keeps its occurrence, the other side scrubs it
    * (q_chunk_scrub is the aligned-window predecessor; this one scrubs
    * the unaligned spans chunk windows provably miss). WITHIN-text
    * repeats scrub too — Lee et al. remove "all but the first
    * occurrence" INCLUDING within-example duplicates, so the loser
    * intervals are the union of cross-text losses ([[substrSpansFrom]],
    * larger canonical id drops) and intra-text repeat occurrences
    * ([[substrIntraSpansFrom]], the pa < pb side drops — the first
    * occurrence always survives).
    *
    * Pipeline: detector spans ≥ [[MinSpanTokens]] → loser-side token
    * intervals → per-text interval UNION (overlapping or ADJACENT spans
    * lost to different partners merge into one contiguous scrub region:
    * windowed running-max islands, new region iff s > max(previous e)+1)
    * → token-grain rewrite of AFFECTED texts only (posexplode → covered
    * iff inside a merged region — regions are disjoint and non-adjacent,
    * so the range join matches each token at most once → ordered
    * reassembly via array_sort∘collect_list∘getField, all native exprs,
    * no interpreted lambdas at corpus grain).
    *
    * Output is the REWRITE set at distinct-text grain (canon_id, n_docs
    * multiplicity, span/token accounting, the scrubbed text): unaffected
    * texts pass through a scrubbed corpus unchanged, so emitting them
    * would echo the input — this is the delta an incremental corpus
    * writer applies to every copy of each affected text. Scale shape:
    * span work is the detector's (distinct-text grain, per-hash-bucket
    * candidates); the token explode touches only texts that lost ≥ 1
    * span; the rewrite is one fp-grain aggregation. A fully-covered text
    * scrubs to the empty string (tokens_kept = 0) — the downstream
    * curation gate drops it, same as an all-silent audio clip. */
  def substrScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE cached position frame feeds the cross self-join (both sides)
    // AND the intra self-join — the O(corpus) tokenize+hash pass runs
    // once, not four times (see the object's CACHING CONTRACT)
    val pos = substrPositions(docs).cache()
    val spans = substrSpansFrom(pos)
      .where(col("span_tokens") >= MinSpanTokens)
    val loserStart =
      when(col("doc_a") < col("doc_b"), col("b_start")).otherwise(col("a_start"))
    val crossLosers = spans.select(
      when(col("doc_a") < col("doc_b"), col("fpb")).otherwise(col("fpa"))
        .as("fp"),
      loserStart.as("s"),
      (loserStart + col("span_tokens") - 1).as("e"))
    val intraLosers = substrIntraSpansFrom(pos)
      .where(col("span_tokens") >= MinSpanTokens)
      .select(col("fp"), col("b_start").as("s"),
        (col("b_start") + col("span_tokens") - 1).as("e"))
    scrubByIntervals(docs, crossLosers.unionAll(intraLosers).distinct())
  }

  /** Interval-union + token-grain rewrite core shared by [[substrScrub]]
    * (cross-corpus loser spans) and [[contaminationScrub]] (eval spans
    * inside training docs): `rawIv` rows (fp, s, e) over `docs`' texts
    * are UNIONed per text — overlapping or ADJACENT regions merge (new
    * region iff s > max(previous e) + 1, a windowed running-max island
    * pass) — then AFFECTED texts re-emit with every covered token
    * removed. Regions are disjoint and non-adjacent post-union, so the
    * range join matches each token at most once; reassembly is
    * array_sort∘collect_list∘getField — native exprs, no interpreted
    * lambdas at corpus grain. */
  private def scrubByIntervals(docs: DataFrame, rawIv: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy("fp").orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("fp").orderBy("s", "e")
      .rowsBetween(Window.unboundedPreceding, 0)
    val iv = rawIv
      .withColumn("prev_max", max(col("e")).over(wPrev))
      .withColumn("new_grp",
        when(col("prev_max").isNull || col("s") > col("prev_max") + 1, 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("new_grp")).over(wRun))
      .groupBy("fp", "grp")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val nSpans = iv.groupBy("fp").agg(count(lit(1)).as("n_spans"))
    val toks = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("canon_id"), count(lit(1)).as("n_docs"))
      .select(md5(col("text")).as("fp"), col("canon_id"), col("n_docs"),
        col("text"))
      .join(nSpans, "fp") // affected texts ONLY — the rest never explode
      .select(col("fp"), col("canon_id"), col("n_docs"), col("n_spans"),
        posexplode(split(col("text"), " ")))
      .select(col("fp"), col("canon_id"), col("n_docs"), col("n_spans"),
        (col("pos") + 1).cast("long").as("p"), col("col").as("tok"))
    toks.as("t").join(iv.as("i"),
        col("t.fp") === col("i.fp") &&
          col("t.p").between(col("i.s"), col("i.e")), "left")
      .select(col("t.fp").as("fp"), col("t.canon_id").as("canon_id"),
        col("t.n_docs").as("n_docs"), col("t.n_spans").as("n_spans"),
        col("t.p").as("p"), col("t.tok").as("tok"),
        col("i.s").isNotNull.as("covered"))
      .groupBy("fp", "canon_id", "n_docs", "n_spans")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("tokens_removed"),
        concat_ws(" ", array_sort(collect_list(when(!col("covered"),
          struct(col("p"), col("tok"))))).getField("tok")).as("scrub_text"))
      .select(col("canon_id"), col("n_docs"), col("n_spans"),
        col("n_tokens"), col("tokens_removed"),
        (col("n_tokens") - col("tokens_removed")).as("tokens_kept"),
        col("scrub_text"))
      .orderBy("canon_id")
  }

  // ------------------------------------- substring snapshot probe + index
  /** The substring snapshot-probe CORE shared by the in-query form
    * ([[substrSnap]]) and the persisted-index probe ([[substrProbeOf]]):
    * batch-side window positions (distinct-BATCH-text grain) join the
    * corpus position frame on the window hash, islands merge per (batch
    * text, corpus text, diagonal), and spans ≥ [[MinSpanTokens]] expand
    * back to batch doc ids. Per-doc rows depend only on (doc text,
    * corpus positions), so any micro-batch partitioning of a stream
    * probes to exactly the one-shot batch rows — the same property every
    * intake here leans on. `corpusPos` must expose (h, corpus_fp,
    * corpus_doc, n_corpus_docs, cp). */
  private def substrSnapFrom(batch: DataFrame, corpusPos: DataFrame)
      : DataFrame = {
    val fpmap = batch.select(col("doc_id").as("batch_id"),
      md5(col("text")).as("batch_fp"))
    substrSnapSpans(batch, corpusPos).join(fpmap, "batch_fp")
      .select(col("batch_id"), col("corpus_doc"), col("n_corpus_docs"),
        col("b_start"), col("c_start"), col("span_tokens"))
      .orderBy("batch_id", "corpus_doc", "b_start", "c_start")
  }

  /** The fp-grain span frame behind [[substrSnapFrom]] (batch-text ×
    * corpus-text islands, pre-doc-expansion) — also the interval source
    * for [[contaminationScrub]], which needs spans at the batch TEXT
    * grain rather than per arriving copy. */
  private def substrSnapSpans(batch: DataFrame, corpusPos: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bpos = substrPositions(batch)
      .select(col("h"), col("fp").as("batch_fp"), col("p").as("bp"))
    val w = Window.partitionBy("batch_fp", "corpus_fp", "diag").orderBy("bp")
    bpos.join(corpusPos, "h")
      .withColumn("diag", col("bp") - col("cp"))
      .withColumn("grp", col("bp") - row_number().over(w))
      .groupBy("batch_fp", "corpus_fp", "diag", "grp")
      .agg(min(col("corpus_doc")).as("corpus_doc"),
        min(col("n_corpus_docs")).as("n_corpus_docs"),
        min(col("bp")).as("b_start"), min(col("cp")).as("c_start"),
        (count(lit(1)) + (SubstrK - 1)).as("span_tokens"))
      .where(col("span_tokens") >= MinSpanTokens)
  }

  /** Corpus side of the substring snapshot in the persisted-index column
    * layout (h first — the bucket key). */
  private def substrCorpusPos(corpus: DataFrame): DataFrame =
    substrPositions(corpus).select(col("h"),
      col("fp").as("corpus_fp"), col("canon_id").as("corpus_doc"),
      col("n_docs").as("n_corpus_docs"), col("p").as("cp"))

  /** SUBSTRING SNAPSHOT PROBE — incoming batch docs (the snapshot
    * convention's doc_id%10 ≥ 8 slice) checked for duplicated spans
    * AGAINST the corpus snapshot (< 8), at arbitrary boundaries: the
    * intake-side question ("does this new doc plagiarize the corpus, and
    * exactly where?") that [[substrDedup]] answers corpus-internally.
    * Exact-replica arrivals surface naturally as a full-text span.
    * Output at batch-DOC grain (every arriving copy gets its row — the
    * per-doc routing decision an intake makes), corpus side at
    * distinct-text grain with multiplicity. */
  def substrSnap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    substrSnapFrom(docs.where(pmod(col("doc_id"), lit(10)) >= 8),
      substrCorpusPos(docs.where(pmod(col("doc_id"), lit(10)) < 8)))
  }

  /** Materialize the corpus k-gram position frame as a PERSISTED index
    * table BUCKETED BY the window hash — at 100 TB the corpus side of
    * substring dedup is written once per snapshot and every intake batch
    * then pays only batch-proportional probe work; the corpus-sized
    * position frame never re-shuffles (bucketing is its partitioning —
    * SubstrFamilySpec plan-asserts it, the same claim SnapIndexSpec pins
    * for the minhash band index). */
  def buildSubstrIndex(spark: SparkSession, dir: String,
      indexTable: String): Unit =
    ScaleOps.writeBucketed(
      substrCorpusPos(Tables.documents(spark, dir)
        .where(pmod(col("doc_id"), lit(10)) < 8)),
      indexTable, "h", 8)

  /** [[substrSnap]] against the PERSISTED index — row-identical to the
    * in-query form by construction (same [[substrSnapFrom]] dataflow,
    * corpus side read from the bucketed table; spec-asserted). */
  def substrProbe(spark: SparkSession, dir: String,
      indexTable: String): DataFrame =
    substrProbeOf(spark, Tables.documents(spark, dir)
      .where(pmod(col("doc_id"), lit(10)) >= 8), indexTable)

  /** [[substrProbe]] for an ARBITRARY batch frame (doc_id, text) — the
    * entry point the streaming intake probes through
    * (StreamingOps.substrIntakeStream). No per-batch cache to release
    * (unlike the minhash probe's signature frame): batch positions
    * stream straight into the index join. */
  def substrProbeOf(spark: SparkSession, batch: DataFrame,
      indexTable: String): DataFrame =
    substrSnapFrom(batch, spark.table(indexTable))

  // --------------------------------------- position-exact decontamination
  /** SPAN-EXACT EVAL CONTAMINATION — q_contamination gives the per-doc
    * shingle-overlap FRACTION (the drop/keep score); this gives the
    * GEOMETRY: every duplicated span ≥ [[MinSpanTokens]] tokens between a
    * training document (source ≠ 'src0' — the engine's eval-set
    * convention) and an eval document, at exact (train position, eval
    * position, length) — what Lee et al. 2022 §6 measure and what a
    * REDACTION pass (remove the leaked span, keep the doc) needs, where
    * the fraction only supports dropping whole docs. Same dataflow as the
    * snapshot probe with the eval set as the "corpus" side: train-side
    * k-gram positions at distinct-text grain join eval positions on the
    * window hash, islands merge per (train text, eval text, diagonal),
    * rows expand to train doc ids (eval side stays at distinct-text grain
    * with multiplicity). Scale: the eval side of a real run is tiny and
    * static — at 100 TB it is [[buildSubstrIndex]] over the eval corpus,
    * probed by training shards exactly like the intake. */
  def contaminationSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    substrSnapFrom(docs.where(col("source") =!= "src0"),
        substrCorpusPos(docs.where(col("source") === "src0")))
      .select(col("batch_id").as("doc_id"), col("corpus_doc").as("eval_doc"),
        col("n_corpus_docs").as("n_eval_docs"),
        col("b_start").as("doc_start"), col("c_start").as("eval_start"),
        col("span_tokens"))
      .orderBy("doc_id", "eval_doc", "doc_start", "eval_start")
  }

  /** DECONTAMINATION APPLY STEP — the redaction [[contaminationSpans]]
    * prices: every eval span is cut out of the affected TRAINING texts
    * (the train side always loses — eval is the protected set, so there
    * is no canonical-id contest), overlapping/adjacent leaks merge into
    * one region, and the rewrite delta emits at distinct-train-text grain
    * ([[scrubByIntervals]], the q_substr_scrub core — same columns, same
    * empty-string convention for a fully-leaked doc). Train-internal
    * duplication is q_substr_scrub's scope and deliberately NOT touched
    * here: decontamination must be runnable independently of dedup. */
  /** [[contaminationSpans]] against a PERSISTED eval index — the
    * scaladoc's 100 TB claim ("the eval side is [[buildSubstrIndex]]
    * over the eval corpus, probed by training shards") as checked
    * behavior: build the index over the eval slice, probe any training
    * batch through the SAME [[substrSnapFrom]] dataflow, get rows
    * identical to the in-query operator (spec-asserted, including the
    * no-shuffle-before-join plan property via the shared helper). */
  def contaminationProbeOf(spark: SparkSession, trainBatch: DataFrame,
      evalIndexTable: String): DataFrame =
    substrSnapFrom(trainBatch, spark.table(evalIndexTable))
      .select(col("batch_id").as("doc_id"), col("corpus_doc").as("eval_doc"),
        col("n_corpus_docs").as("n_eval_docs"),
        col("b_start").as("doc_start"), col("c_start").as("eval_start"),
        col("span_tokens"))
      .orderBy("doc_id", "eval_doc", "doc_start", "eval_start")

  /** [[buildSubstrIndex]] for the EVAL slice (source = 'src0') — the
    * persisted corpus side of [[contaminationProbeOf]]. */
  def buildEvalIndex(spark: SparkSession, dir: String,
      indexTable: String): Unit =
    ScaleOps.writeBucketed(
      substrCorpusPos(Tables.documents(spark, dir)
        .where(col("source") === "src0")),
      indexTable, "h", 8)

  def contaminationScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val train = docs.where(col("source") =!= "src0")
    val spans = substrSnapSpans(train,
      substrCorpusPos(docs.where(col("source") === "src0")))
    scrubByIntervals(train,
      spans.select(col("batch_fp").as("fp"), col("b_start").as("s"),
          (col("b_start") + col("span_tokens") - 1).as("e"))
        .distinct())
  }

  // ------------------------------------------------ shared oracle fragments
  // DuckDB text shared by the oracle twins below, one definition each.
  // Only oracle text builds on these (never a Spark-side builder, and they
  // build no Spark plan), so each twin stays an independent replay.

  /** Distinct word-trigram shingles of the token lists `t` in `from`,
    * keyed by `keys` — the DuckDB side of [[shingles]]; `from` carries
    * the `len(t) >= 3` guard replicating sequence()'s. */
  private def shingleSetSql(keys: String, from: String): String =
    s"""SELECT DISTINCT $keys, shingle FROM (
             SELECT $keys,
                    unnest(list_transform(generate_series(1, len(t) - 2),
                      i -> array_to_string(t[i:i+2], ' '))) AS shingle
             FROM $from)"""

  /** CTEs `toks` (token lists of `documents`), `tok3` (three or more
    * tokens) and `$sh` (their distinct shingles), all keyed by `keys`. */
  private def docShinglesCtes(keys: String, sh: String): String =
    s"""toks AS (
           SELECT $keys, string_split(text, ' ') AS t FROM documents),
         tok3 AS (SELECT * FROM toks WHERE len(t) >= 3),
         $sh AS (
           ${shingleSetSql(keys, "tok3")})"""

  /** CTEs `hsh` (md5-derived base hash `h` per shingle of `sh`) and `sig`
    * (the 32 permutation mins `m0..m31`, one per [[permParams]] pair),
    * keyed by `keys` — the DuckDB side of [[minhashSignatures]]. */
  private def minhashSigCtes(keys: String): String = {
    val p = MersennePrime31
    val mins = permParams.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n                  ")
    s"""hsh AS (
           SELECT $keys,
                  (('0x' || substr(md5(shingle), 1, 8))::BIGINT) % $p AS h
           FROM sh),
         sig AS (
           SELECT $keys,
                  $mins
           FROM hsh GROUP BY $keys)"""
  }

  /** The UNION-of-equi-joins replay of one banding geometry's candidate
    * set: one `arm(eqs)` per band, `eqs` equating that band's mins on the
    * join sides `a` and `b`. */
  private def bandJoinsSql(bands: Int, rowsPerBand: Int)(
      arm: String => String): String =
    (0 until bands).map { bnd =>
      arm((0 until rowsPerBand)
        .map(r => s"a.m${bnd * rowsPerBand + r} = b.m${bnd * rowsPerBand + r}")
        .mkString(" AND "))
    }.mkString("\n             UNION ALL\n             ")

  /** A band arm over the `sig` self-join, unordered pairs on `key`. */
  private def selfBandArm(key: String, outA: String, outB: String)(
      eqs: String): String =
    s"""SELECT a.$key AS $outA, b.$key AS $outB
             FROM sig a JOIN sig b ON $eqs AND a.$key < b.$key"""

  /** Number of the 32 mins equal on the join sides `a` and `b`. */
  private val MatchSumSql: String = (0 until NumPerm)
    .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** The df-capped shingle sets (`sh0` → `sh`), per-doc cardinalities
    * `card(doc_id, c)` and blocked same-source intersection counts
    * `inter(doc_a, doc_b, n_common)` that the Jaccard, contrastive and
    * containment twins share. */
  private val JaccardInterCtes: String =
    s"""${docShinglesCtes("doc_id, source", "sh0")},
         sh AS (
           SELECT doc_id, source, shingle FROM (
             SELECT *, count(*) OVER (PARTITION BY source, shingle) AS df
             FROM sh0)
           WHERE df <= $MaxShingleDf),
         card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
           FROM sh a JOIN sh b
             ON a.shingle = b.shingle AND a.source = b.source
            AND a.doc_id < b.doc_id
           GROUP BY 1, 2)"""

  /** Per-position SubstrK-token window hashes `h` over the token lists
    * `t` of `from`, position as `pos`, `cols` carried: the rolling fold
    * q_fingerprint replays, over the window's joined string (arithmetic
    * identical to the native prefix-hash pass). */
  private def windowHashSql(cols: String, pos: String, from: String): String =
    s"""SELECT $cols, CAST(u.p AS BIGINT) AS $pos,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      string_split(array_to_string(
                        t[u.p:u.p + ${SubstrK - 1}], ' '), ''),
                      c -> CAST(ascii(c) AS BIGINT))),
                    ${TextOps.RollingHashFold}) AS h
           FROM $from, unnest(generate_series(1, len(t) - ${SubstrK - 1})) AS u(p)
           WHERE len(t) >= $SubstrK"""

  /** The distinct-text grain [[windowHashSql]] reads: one row per text
    * of the `documents` rows matching `where` (all rows when empty), with
    * its md5 fingerprint `fp`, canonical (min) doc id `canon_id`, copy
    * count `n_docs` and token list `t`. */
  private def textGroupSql(where: String = ""): String = {
    val filter = if (where.isEmpty) "" else s" WHERE $where"
    s"""SELECT md5(text) AS fp, min(doc_id) AS canon_id,
                  count(*) AS n_docs, string_split(text, ' ') AS t
           FROM documents$filter GROUP BY text"""
  }

  /** [[textGroupSql]] without the canonical id and copy count: the side
    * whose doc-grain answers come back through an fp join instead. */
  private def textTokensSql(where: String): String =
    s"""SELECT md5(text) AS fp, string_split(text, ' ') AS t
           FROM documents WHERE $where GROUP BY text"""

  /** The island merge over the matched position pairs in `from`: pairs
    * on one `diag` (per `part`) whose `ord` positions run consecutively
    * share `grp`. */
  private def islandsSql(from: String, part: String, diag: String,
      ord: String): String =
    s"""SELECT *, $diag AS diag,
                  $ord - row_number() OVER (
                    PARTITION BY $part, $diag ORDER BY $ord) AS grp
           FROM $from"""

  /** CTEs `m` (cross-text matches of the window hashes in `pos`, each
    * unordered text pair once, `carry` columns kept) and `r` (their
    * islands). */
  private def crossIslandCtes(carry: Seq[String]): String = {
    val cols = Seq("x.fp AS fpa", "y.fp AS fpb", "x.canon_id AS da",
      "y.canon_id AS db") ++ carry ++ Seq("x.p AS pa", "y.p AS pb")
    s"""m AS (
           SELECT ${cols.mkString(", ")}
           FROM pos x JOIN pos y ON x.h = y.h AND x.fp < y.fp),
         r AS (
           ${islandsSql("m", "fpa, fpb", "pa - pb", "pa")})"""
  }

  /** CTEs `$m` (repeats of a window hash inside ONE text of `pos`, at
    * pa < pb, `carry` columns kept) and `$r` (their islands on the
    * repeat-distance diagonal). */
  private def intraIslandCtes(m: String, r: String, carry: Seq[String]): String = {
    val cols = Seq("x.fp") ++ carry ++ Seq("x.p AS pa", "y.p AS pb")
    s"""$m AS (
           SELECT ${cols.mkString(", ")}
           FROM pos x JOIN pos y
             ON x.h = y.h AND x.fp = y.fp AND x.p < y.p),
         $r AS (
           ${islandsSql(m, "fp", "pb - pa", "pa")})"""
  }

  /** The FROM/GROUP BY/HAVING tail rolling the islands of `from` up to
    * spans of at least MinSpanTokens tokens, per `keys` and island. */
  private def spanGroupSql(from: String, keys: String): String =
    s"""FROM $from GROUP BY $keys, diag, grp
           HAVING count(*) + ${SubstrK - 1} >= $MinSpanTokens"""

  /** The scrub apply step's tail over `losers(fp, s, e)` and the text
    * groups `fpg`: interval union (running-max islands; adjacent regions
    * merge), per-text span counts, and the token-grain rewrite replayed
    * via string_agg ORDER BY position (string_agg skips the CASE NULLs
    * exactly as collect_list skips Spark's). */
  private val ScrubTailSql: String =
    """lm AS (
           SELECT fp, s, e,
                  max(e) OVER (PARTITION BY fp ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
           FROM losers),
         lg AS (
           SELECT fp, s, e,
                  sum(CASE WHEN prev_max IS NULL OR s > prev_max + 1
                      THEN 1 ELSE 0 END)
                    OVER (PARTITION BY fp ORDER BY s, e
                      ROWS UNBOUNDED PRECEDING) AS grp
           FROM lm),
         iv AS (SELECT fp, grp, min(s) AS s, max(e) AS e
                FROM lg GROUP BY fp, grp),
         ns AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_spans
                FROM iv GROUP BY fp),
         toks AS (
           SELECT f.fp, f.canon_id, f.n_docs, ns.n_spans,
                  CAST(u.p AS BIGINT) AS p, f.t[u.p] AS tok
           FROM fpg f JOIN ns ON f.fp = ns.fp,
                unnest(generate_series(1, len(f.t))) AS u(p)),
         cov AS (
           SELECT tk.fp, tk.canon_id, tk.n_docs, tk.n_spans, tk.p, tk.tok,
                  (i.s IS NOT NULL) AS covered
           FROM toks tk LEFT JOIN iv i
             ON tk.fp = i.fp AND tk.p BETWEEN i.s AND i.e)
         SELECT canon_id, n_docs, n_spans,
                CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
                  AS tokens_removed,
                CAST(count(*) - sum(CASE WHEN covered THEN 1 ELSE 0 END)
                  AS BIGINT) AS tokens_kept,
                coalesce(string_agg(CASE WHEN NOT covered THEN tok END,
                  ' ' ORDER BY p), '') AS scrub_text
         FROM cov GROUP BY fp, canon_id, n_docs, n_spans
         ORDER BY canon_id"""

  /** DuckDB twin of ngramJaccard (shared: the pair query itself and the
    * nearDupKeep apply step's subquery). Mirrors the Spark pipeline stage
    * by stage: shingle sets (`len(t) >= 3` replicating the sequence()
    * guard), the df <= MaxShingleDf hot-shingle cap (interpolated), blocked intersection counts,
    * exact Jaccard from integer cardinalities. */
  private val NgramJaccardSql: String =
    s"""WITH $JaccardInterCtes
         SELECT doc_a, doc_b, n_common,
                CAST(n_common AS DOUBLE) / (ca.c + cb.c - n_common) AS jaccard
         FROM inter
         JOIN card ca ON doc_a = ca.doc_id
         JOIN card cb ON doc_b = cb.doc_id
         WHERE CAST(n_common AS DOUBLE) / (ca.c + cb.c - n_common) >= 0.5
         ORDER BY doc_a, doc_b"""

  /** All-pairs Hamming ≤ 3 over the deterministic arithmetic signatures
    * (hammingNearDup's oracle), without a final ORDER BY so it can embed
    * as a CTE (dup_components) or run standalone (with the sort added). */
  private val HammingPairSql: String =
    """WITH sig AS (
           SELECT doc_id,
                  xor(
                    ((doc_id // 4) * 3 + 17) % 128
                    + (((doc_id // 4) * 5 + 29) % 128) * 256
                    + (((doc_id // 4) * 7 + 43) % 128) * 65536
                    + (((doc_id // 4) * 11 + 59) % 128) * 16777216
                    + (((doc_id // 4) * 13 + 71) % 128) * 4294967296
                    + (((doc_id // 4) * 17 + 89) % 128) * 1099511627776
                    + (((doc_id // 4) * 19 + 101) % 128) * 281474976710656
                    + (((doc_id // 4) * 23 + 113) % 128) * 72057594037927936,
                    CAST(1 AS BIGINT) << CAST((doc_id * 7) % 56 AS INT)) AS simhash
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

  /** Shared recursive-CTE prefix: the exact transitive closure of the
    * arithmetic-signature pair graph, ending at `comp` (node → component
    * label) and `sizes` (component → size). Both dup_components and
    * dup_canon build on it. */
  private val DupComponentsCte: String =
    s"""WITH RECURSIVE pairs AS ($HammingPairSql),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT a AS id FROM edges),
         walk(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.r),
         comp AS (SELECT id, min(r) AS comp FROM walk GROUP BY id),
         sizes AS (SELECT comp, count(*) AS comp_size FROM comp GROUP BY comp)"""

  /** DuckDB replay of minhashOracle, GENERATED from the same permParams /
    * NumBands constants so the twin can never drift from the Spark math. */
  private val MinhashOracleSql: String =
    s"""WITH ${docShinglesCtes("doc_id, source", "sh")},
         ${minhashSigCtes("doc_id, source")},
         cand AS (
           SELECT DISTINCT doc_a, doc_b FROM (
             ${bandJoinsSql(NumBands, RowsPerBand)(
               selfBandArm("doc_id", "doc_a", "doc_b"))}))
         SELECT c.doc_a, c.doc_b,
                CAST($MatchSumSql AS BIGINT) AS n_matching,
                CAST($MatchSumSql AS DOUBLE) / $NumPerm AS est_jaccard
         FROM cand c
         JOIN sig a ON a.doc_id = c.doc_a
         JOIN sig b ON b.doc_id = c.doc_b
         ORDER BY doc_a, doc_b"""

  /** Shared CTE prefix for the LSH audit oracles — fp-grain shingles,
    * the 32-min signature, and exact-Jaccard ground truth; ends at
    * `truth(fp_a, fp_b, jaccard)`. GENERATED from the same permParams so
    * the signature math can't drift. */
  private val LshAuditCte: String =
    s"""g AS (
           SELECT md5(text) AS fp, min(text) AS text
           FROM documents GROUP BY 1),
         t3 AS (SELECT fp, string_split(text, ' ') AS t FROM g),
         t3f AS (SELECT * FROM t3 WHERE len(t) >= 3),
         sh AS (
           ${shingleSetSql("fp", "t3f")}),
         ${minhashSigCtes("fp")},
         card AS (SELECT fp, count(*) AS c FROM sh GROUP BY fp),
         inter AS (
           SELECT a.fp AS fp_a, b.fp AS fp_b, count(*) AS n_common
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.fp < b.fp
           GROUP BY 1, 2),
         truth AS (
           SELECT fp_a, fp_b,
                  CAST(n_common AS DOUBLE) / (ca.c + cb.c - n_common) AS jaccard
           FROM inter
           JOIN card ca ON fp_a = ca.fp
           JOIN card cb ON fp_b = cb.fp)"""

  /** DuckDB replay of [[lshRecall]] — GENERATED from the same permParams /
    * NumBands constants and the same pre-computed analytic doubles, so
    * neither the signature math nor the S-curve constants can drift. */
  private val LshRecallSql: String = {
    // CAST('<repr>' AS DOUBLE): a bare decimal literal parses as DECIMAL
    // in DuckDB (rounds the low bits); the string→double parse is
    // correctly rounded, so both engines hold the identical IEEE value
    val caseArms = (0 until 10)
      .map(b => s"WHEN bucket = $b THEN CAST('${lshAnalyticMid(b)}' AS DOUBLE)")
      .mkString("\n                  ")
    s"""WITH $LshAuditCte,
         cand AS (SELECT DISTINCT fp_a, fp_b FROM (
             ${bandJoinsSql(NumBands, RowsPerBand)(
               selfBandArm("fp", "fp_a", "fp_b"))})),
         bucketed AS (
           SELECT least(CAST(floor(t.jaccard * 10) AS BIGINT),
                        CAST(9 AS BIGINT)) AS bucket,
                  CASE WHEN c.fp_a IS NOT NULL THEN 1 END AS det
           FROM truth t LEFT JOIN cand c
             ON t.fp_a = c.fp_a AND t.fp_b = c.fp_b)
         SELECT bucket, CAST(bucket AS DOUBLE) / 10.0 AS jac_lo,
                count(*) AS n_pairs, count(det) AS n_detected,
                CAST(count(det) AS DOUBLE) / count(*) AS recall,
                CASE $caseArms END AS analytic_mid
         FROM bucketed
         GROUP BY bucket
         ORDER BY bucket"""
  }

  /** DuckDB replay of [[lshTuning]] — all three geometries' candidate
    * generation re-run over the same signature CTE, the analytic
    * constants inlined from the same Scala computation. */
  private val LshTuningSql: String = {
    val geomCtes = TuneGeometries.zipWithIndex.map { case ((b, r), i) =>
      s"""cand$i AS (SELECT DISTINCT fp_a, fp_b FROM (
             ${bandJoinsSql(b, r)(selfBandArm("fp", "fp_a", "fp_b"))})),
         geom$i AS (
           SELECT CAST($b AS BIGINT) AS n_bands,
                  CAST($r AS BIGINT) AS rows_per_band,
                  count(*) AS n_candidates,
                  count(t.fp_a) AS n_true_cand,
                  CAST('${tuneAnalytic05(b, r)}' AS DOUBLE) AS analytic_05
           FROM cand$i c LEFT JOIN truth05 t
             ON c.fp_a = t.fp_a AND c.fp_b = t.fp_b)"""
    }.mkString(",\n         ")
    val geomUnion = TuneGeometries.indices
      .map(i => s"SELECT * FROM geom$i").mkString(" UNION ALL ")
    s"""WITH $LshAuditCte,
         truth05 AS (SELECT fp_a, fp_b FROM truth WHERE jaccard >= 0.5),
         tt AS (SELECT count(*) AS n_true_total FROM truth05),
         $geomCtes
         SELECT g.n_bands, g.rows_per_band, g.n_candidates, g.n_true_cand,
                tt.n_true_total,
                CASE WHEN tt.n_true_total > 0
                     THEN CAST(g.n_true_cand AS DOUBLE) / tt.n_true_total
                END AS recall_05,
                CASE WHEN g.n_candidates > 0
                     THEN CAST(g.n_true_cand AS DOUBLE) / g.n_candidates
                END AS precision_05,
                g.analytic_05
         FROM ($geomUnion) g, tt
         ORDER BY rows_per_band"""
  }

  /** Shared CTE chain replaying [[simhashPortableSig]] — GENERATED so the
    * 63 vote columns and bit weights can't drift from the Spark
    * expressions; ends with `sig(doc_id, simhash)`. */
  private val SimhashSigCte: String = {
    val votes = (0 until 63)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n                  ")
    val sig = (0 until 63)
      .map(i => s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""toks AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents)),
         hsh AS (
           SELECT doc_id,
                  ((('0x' || substr(md5(tok), 1, 8))::BIGINT << 31)
                   | (('0x' || substr(md5(tok), 9, 8))::BIGINT >> 1)) AS h
           FROM toks),
         votes AS (
           SELECT doc_id,
                  $votes
           FROM hsh GROUP BY doc_id),
         sig AS (SELECT doc_id, $sig AS simhash FROM votes)"""
  }

  /** DuckDB replay of simhashPairs — vote chain + candidate-free ALL-pairs
    * Hamming ≤ 3 filter (blocking-agnostic by construction). */
  private val SimhashOracleSql: String =
    s"""WITH $SimhashSigCte
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY doc_a, doc_b"""

  /** DuckDB replay of simhashClusters: the same vote chain, rolled up at
    * signature grain, neighbors from an all-pairs Hamming 1..3 filter over
    * DISTINCT signatures (the oracle needs no blocking — it verifies the
    * Spark side's blocked candidate generation found every neighbor). */
  private val SimhashClustersSql: String =
    s"""WITH $SimhashSigCte,
         sigg AS (
           SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
                  min(doc_id) AS canon_id
           FROM sig GROUP BY 1),
         nbr AS (
           SELECT a.simhash,
                  CAST(count(*) AS BIGINT) AS n_near_sigs,
                  CAST(sum(b.n_docs) AS BIGINT) AS n_near_docs
           FROM sigg a JOIN sigg b
             ON a.simhash <> b.simhash
            AND bit_count(xor(a.simhash, b.simhash)) <= 3
           GROUP BY 1)
         SELECT s.simhash, s.n_docs, s.canon_id,
                coalesce(n.n_near_sigs, CAST(0 AS BIGINT)) AS n_near_sigs,
                coalesce(n.n_near_docs, CAST(0 AS BIGINT)) AS n_near_docs
         FROM sigg s LEFT JOIN nbr n ON s.simhash = n.simhash
         ORDER BY canon_id"""

  /** DuckDB replay of the FULL registered MinHash+LSH pipeline
    * (q_minhash_lsh): md5-derived base hash → 32 permutation mins → band
    * buckets as raw 4-min tuples (a union of 8 equi-joins) → exact
    * Jaccard verify of the candidates via a shingle-equality join.
    * GENERATED from the same permParams / NumBands constants as the Spark
    * code so the twin can never drift. Pairs whose banded candidacy comes
    * only from hash collisions fall out identically on both sides (the
    * ≥ 0.5 exact-Jaccard filter removes them). */
  private val MinhashLshCtes: String =
    s"""${docShinglesCtes("doc_id", "sh")},
         ${minhashSigCtes("doc_id")},
         cand AS (
           SELECT DISTINCT doc_a, doc_b FROM (
             ${bandJoinsSql(NumBands, RowsPerBand)(
               selfBandArm("doc_id", "doc_a", "doc_b"))})),
         card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         inter AS (
           SELECT c.doc_a, c.doc_b, count(*) AS n_common
           FROM cand c
           JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
           GROUP BY 1, 2)"""

  private val MinhashPairSelect: String =
    """SELECT i.doc_a, i.doc_b,
                CAST(i.n_common AS DOUBLE) / (ca.c + cb.c - i.n_common) AS jaccard
         FROM inter i
         JOIN card ca ON i.doc_a = ca.doc_id
         JOIN card cb ON i.doc_b = cb.doc_id
         WHERE CAST(i.n_common AS DOUBLE) / (ca.c + cb.c - i.n_common) >= 0.5"""

  private val MinhashLshSql: String =
    s"""WITH $MinhashLshCtes
         $MinhashPairSelect
         ORDER BY doc_a, doc_b"""

  /** The verified doc `pairs` rolled up by the unordered pair of their
    * `attr` values in `ds(doc_id, fp, attr)`: distinct fp pairs, doc
    * pairs and the max Jaccard per (attr_a, attr_b). */
  private def pairRollupSql(attr: String): String =
    s"""SELECT least(a.$attr, b.$attr) AS ${attr}_a,
                greatest(a.$attr, b.$attr) AS ${attr}_b,
                count(DISTINCT least(a.fp, b.fp) || ':' || greatest(a.fp, b.fp))
                  AS n_fp_pairs,
                count(*) AS dup_pairs,
                max(p.jaccard) AS max_jaccard
         FROM pairs p
         JOIN ds a ON p.doc_a = a.doc_id
         JOIN ds b ON p.doc_b = b.doc_id
         GROUP BY 1, 2
         ORDER BY ${attr}_a, ${attr}_b"""

  /** DuckDB replay of [[sourceOverlap]] — the identical verified-pair
    * chain as q_minhash_lsh, rolled up at DOC grain by unordered source
    * pair (the oracle is free to expand the doc-pair space the Spark
    * side deliberately avoids: at oracle SF it is small). Content pairs
    * count distinct normalized fp pairs so an identical-text clique is
    * one, exactly like the fp-grain side. */
  private val SourceOverlapSql: String =
    s"""WITH $MinhashLshCtes,
         pairs AS ($MinhashPairSelect),
         ds AS (SELECT doc_id, source, md5(text) AS fp FROM documents)
         ${pairRollupSql("source")}"""

  /** DuckDB replay of [[splitLeakage]] — the verified-pair chain rolled
    * up by the q_split_assign bucket rule (the same
    * `('0x' || substr(md5(text), 1, 8))::BIGINT % 100` expression that
    * oracle uses), doc-grain like [[SourceOverlapSql]]. */
  private val SplitLeakageSql: String = {
    val b = "('0x' || substr(md5(text), 1, 8))::BIGINT % 100"
    s"""WITH $MinhashLshCtes,
         pairs AS ($MinhashPairSelect),
         ds AS (SELECT doc_id, md5(text) AS fp,
                  CASE WHEN $b < 80 THEN 'train'
                       WHEN $b < 90 THEN 'val'
                       ELSE 'test' END AS split
                FROM documents)
         ${pairRollupSql("split")}"""
  }

  /** DuckDB replay of [[dedupTauSweep]] — the verified-pair chain, then
    * per τ arm the doc-grain pair count and distinct-doc_b drop count
    * (the greater-element rule at doc grain — exactly the keep-first
    * drop condition the fp-grain side derives from min-id attributes).
    * τ literals cast to DOUBLE so the column type and the comparison
    * promote identically in both engines. */
  private def armKey(tau: Double): String =
    tau.toString.replace(".", "_").replace("-", "m")

  private val DedupTauSweepSql: String = {
    val arms = TuneTaus.map { tau =>
      s"""arm_${armKey(tau)} AS (
           SELECT CAST($tau AS DOUBLE) AS tau,
                  (SELECT CAST(count(*) AS BIGINT) FROM pairs
                   WHERE jaccard >= CAST($tau AS DOUBLE)) AS n_pairs,
                  (SELECT CAST(count(DISTINCT doc_b) AS BIGINT) FROM pairs
                   WHERE jaccard >= CAST($tau AS DOUBLE)) AS n_docs_dropped)"""
    }.mkString(",\n         ")
    val union = TuneTaus.map(tau => s"SELECT * FROM arm_${armKey(tau)}")
      .mkString(" UNION ALL ")
    s"""WITH $MinhashLshCtes,
         pairs AS ($MinhashPairSelect),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         $arms
         SELECT a.tau, a.n_pairs, a.n_docs_dropped,
                nd.n_docs - a.n_docs_dropped AS n_docs_kept
         FROM ($union) a, nd
         ORDER BY a.tau"""
  }

  /** DuckDB twin of contamination — AND of contaminationBloom, which is
    * result-identical by construction (the exact verify join removes every
    * bloom false positive; the bloom can't produce false negatives). */
  private val ContaminationSql: String =
    s"""WITH ${docShinglesCtes("doc_id, source", "sh")},
         ev AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
         tr AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
         card AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
         hits AS (
           SELECT doc_id, count(*) AS n_shared
           FROM tr JOIN ev USING (shingle) GROUP BY doc_id)
         SELECT c.doc_id, c.n_shingles,
                COALESCE(h.n_shared, 0) AS n_shared,
                CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / c.n_shingles AS contam_frac
         FROM card c LEFT JOIN hits h ON c.doc_id = h.doc_id
         ORDER BY c.doc_id"""

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    // exact substring dedup: per-position window hashes, then the
    // identical inverted-index join + diagonal island merge
    Entry("q_substr_dedup", substrDedup, Some(
      s"""WITH fpg AS (
           ${textGroupSql()}),
         pos AS (
           ${windowHashSql("fp, canon_id, n_docs", "p", "fpg")}),
         ${crossIslandCtes(Seq("x.n_docs AS na", "y.n_docs AS nb"))},
         s AS (
           SELECT min(da) AS doc_a, min(db) AS doc_b,
                  CAST(min(na) AS BIGINT) AS n_docs_a,
                  CAST(min(nb) AS BIGINT) AS n_docs_b,
                  min(pa) AS a_start, min(pb) AS b_start,
                  CAST(count(*) + ${SubstrK - 1} AS BIGINT) AS span_tokens
           FROM r GROUP BY fpa, fpb, diag, grp)
         SELECT doc_a, doc_b, n_docs_a, n_docs_b, a_start, b_start,
                span_tokens
         FROM s WHERE span_tokens >= $MinSpanTokens
         ORDER BY doc_a, doc_b, a_start, b_start""")),
    // the pair-mass audit: per-hash occurrence counts off the same
    // position CTE, cross-joined with the cap sweep literals
    Entry("q_substr_stats", substrStats, Some(
      s"""WITH fpg AS (
           ${textGroupSql()}),
         pos AS (
           ${windowHashSql("fp", "p", "fpg")}),
         occ AS (SELECT h, CAST(count(*) AS BIGINT) AS t
                 FROM pos GROUP BY h),
         caps AS (SELECT unnest([${SubstrCapSweep.mkString(", ")}]) AS cap)
         SELECT CAST(cap AS BIGINT) AS cap,
                CAST(count(*) AS BIGINT) AS n_hashes,
                CAST(sum(CASE WHEN t > cap THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hashes_dropped,
                CAST(sum(CASE WHEN t > cap THEN t ELSE 0 END) AS BIGINT)
                  AS positions_dropped,
                CAST(sum(CASE WHEN t <= cap THEN (t * (t - 1)) // 2
                     ELSE 0 END) AS BIGINT) AS pair_mass
         FROM occ, caps GROUP BY cap ORDER BY cap""")),
    // the intra detector: same position CTE, self-join within the SAME
    // text at pa < pb, islands on the repeat-distance diagonal
    Entry("q_substr_intra", substrIntra, Some(
      s"""WITH fpg AS (
           ${textGroupSql()}),
         pos AS (
           ${windowHashSql("fp, canon_id, n_docs", "p", "fpg")}),
         ${intraIslandCtes("m", "r", Seq("x.canon_id", "x.n_docs"))}
         SELECT min(canon_id) AS doc_id,
                CAST(min(n_docs) AS BIGINT) AS n_docs,
                min(pa) AS a_start, min(pb) AS b_start,
                CAST(count(*) + ${SubstrK - 1} AS BIGINT) AS span_tokens
         ${spanGroupSql("r", "fp")}
         ORDER BY doc_id, a_start, b_start""")),
    // the scrub apply step: the detector CTEs (identical through the
    // island merge), then loser-side attribution (larger canonical id
    // drops the cross-text span; the pa < pb side drops the intra
    // repeat) and the shared interval-union + token-rewrite tail
    Entry("q_substr_scrub", substrScrub, Some(
      s"""WITH fpg AS (
           ${textGroupSql()}),
         pos AS (
           ${windowHashSql("fp, canon_id, n_docs", "p", "fpg")}),
         ${crossIslandCtes(Nil)},
         sp AS (
           SELECT fpa, fpb, min(da) AS da, min(db) AS db,
                  min(pa) AS a_start, min(pb) AS b_start,
                  count(*) + ${SubstrK - 1} AS span_tokens
           ${spanGroupSql("r", "fpa, fpb")}),
         ${intraIslandCtes("mi", "ri", Nil)},
         spi AS (
           SELECT fp, min(pb) AS b_start,
                  count(*) + ${SubstrK - 1} AS span_tokens
           ${spanGroupSql("ri", "fp")}),
         losers AS (
           SELECT DISTINCT
                  CASE WHEN da < db THEN fpb ELSE fpa END AS fp,
                  CASE WHEN da < db THEN b_start ELSE a_start END AS s,
                  CASE WHEN da < db THEN b_start ELSE a_start END
                    + span_tokens - 1 AS e
           FROM sp
           UNION
           SELECT fp, b_start AS s, b_start + span_tokens - 1 AS e
           FROM spi),
         $ScrubTailSql""")),
    // snapshot probe: batch-side positions (distinct-batch-text grain)
    // against corpus-side positions, islands per (batch text, corpus
    // text, diagonal), doc-grain expansion back to batch ids
    Entry("q_snap_substr", substrSnap, Some(
      s"""WITH corp AS (
           ${textGroupSql("doc_id % 10 < 8")}),
         bat AS (
           ${textTokensSql("doc_id % 10 >= 8")}),
         cpos AS (
           ${windowHashSql("fp AS corpus_fp, canon_id AS corpus_doc, " +
             "n_docs AS n_corpus_docs", "cp", "corp")}),
         bpos AS (
           ${windowHashSql("fp AS batch_fp", "bp", "bat")}),
         m AS (
           SELECT b.batch_fp, c.corpus_fp, c.corpus_doc, c.n_corpus_docs,
                  b.bp, c.cp
           FROM bpos b JOIN cpos c ON b.h = c.h),
         r AS (
           ${islandsSql("m", "batch_fp, corpus_fp", "bp - cp", "bp")}),
         sp AS (
           SELECT batch_fp, min(corpus_doc) AS corpus_doc,
                  CAST(min(n_corpus_docs) AS BIGINT) AS n_corpus_docs,
                  min(bp) AS b_start, min(cp) AS c_start,
                  CAST(count(*) + ${SubstrK - 1} AS BIGINT) AS span_tokens
           ${spanGroupSql("r", "batch_fp, corpus_fp")}),
         fpmap AS (
           SELECT doc_id AS batch_id, md5(text) AS batch_fp
           FROM documents WHERE doc_id % 10 >= 8)
         SELECT f.batch_id, s.corpus_doc, s.n_corpus_docs,
                s.b_start, s.c_start, s.span_tokens
         FROM sp s JOIN fpmap f ON s.batch_fp = f.batch_fp
         ORDER BY batch_id, corpus_doc, b_start, c_start""")),
    // span-exact contamination: the q_snap_substr CTEs with the eval set
    // (source = 'src0') as the corpus side and training docs as the
    // arriving side, renamed to the train/eval vocabulary
    Entry("q_contamination_spans", contaminationSpans, Some(
      s"""WITH ev AS (
           ${textGroupSql("source = 'src0'")}),
         tr AS (
           ${textTokensSql("source <> 'src0'")}),
         epos AS (
           ${windowHashSql("fp AS eval_fp, canon_id AS eval_doc, " +
             "n_docs AS n_eval_docs", "ep", "ev")}),
         tpos AS (
           ${windowHashSql("fp AS train_fp", "tp", "tr")}),
         m AS (
           SELECT t.train_fp, e.eval_fp, e.eval_doc, e.n_eval_docs,
                  t.tp, e.ep
           FROM tpos t JOIN epos e ON t.h = e.h),
         r AS (
           ${islandsSql("m", "train_fp, eval_fp", "tp - ep", "tp")}),
         sp AS (
           SELECT train_fp, min(eval_doc) AS eval_doc,
                  CAST(min(n_eval_docs) AS BIGINT) AS n_eval_docs,
                  min(tp) AS doc_start, min(ep) AS eval_start,
                  CAST(count(*) + ${SubstrK - 1} AS BIGINT) AS span_tokens
           ${spanGroupSql("r", "train_fp, eval_fp")}),
         fpmap AS (
           SELECT doc_id, md5(text) AS train_fp
           FROM documents WHERE source <> 'src0')
         SELECT f.doc_id, s.eval_doc, s.n_eval_docs,
                s.doc_start, s.eval_start, s.span_tokens
         FROM sp s JOIN fpmap f ON s.train_fp = f.train_fp
         ORDER BY doc_id, eval_doc, doc_start, eval_start""")),
    // the decontamination apply step: contamination-span CTEs → train-side
    // intervals (train always loses) → the q_substr_scrub union + rewrite
    // over TRAIN texts only
    Entry("q_contamination_scrub", contaminationScrub, Some(
      s"""WITH ev AS (
           ${textTokensSql("source = 'src0'")}),
         fpg AS (
           ${textGroupSql("source <> 'src0'")}),
         epos AS (
           ${windowHashSql("fp AS eval_fp", "ep", "ev")}),
         tpos AS (
           ${windowHashSql("fp AS train_fp", "tp", "fpg")}),
         m AS (
           SELECT t.train_fp, e.eval_fp, t.tp, e.ep
           FROM tpos t JOIN epos e ON t.h = e.h),
         r AS (
           ${islandsSql("m", "train_fp, eval_fp", "tp - ep", "tp")}),
         sp AS (
           SELECT train_fp, min(tp) AS b_start,
                  count(*) + ${SubstrK - 1} AS span_tokens
           ${spanGroupSql("r", "train_fp, eval_fp")}),
         losers AS (
           SELECT DISTINCT train_fp AS fp, b_start AS s,
                  b_start + span_tokens - 1 AS e
           FROM sp),
         $ScrubTailSql""")),
    // same chunking CTE as q_chunk_docs (PipelineOps), rolled up by fp
    Entry("q_chunk_shared", chunkShared, Some(
      s"""WITH ${PipelineOps.chunkStartsSql},
         c AS (
           SELECT doc_id,
                  md5(array_to_string(t[start_tok : start_tok + ${PipelineOps.ChunkTokens - 1}],
                    ' ')) AS chunk_fp
           FROM st)
         SELECT chunk_fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM c GROUP BY chunk_fp HAVING count(DISTINCT doc_id) >= 2
         ORDER BY chunk_fp""")),
    Entry("q_minhash_oracle", minhashOracle, Some(MinhashOracleSql)),
    Entry("q_minhash_lsh", minhashLsh, Some(MinhashLshSql)),
    // xxhash64 signatures, the engine-native hashing a production run
    // deploys (q_minhash_lsh keeps md5 so DuckDB can replay it)
    Entry("x_minhash_lsh_fast", minhashLshFast),
    Entry("q_source_overlap", sourceOverlap, Some(SourceOverlapSql)),
    // xxhash64 form of q_source_overlap, for the same reason
    Entry("x_source_overlap_fast", sourceOverlapFast),
    Entry("q_split_leakage", splitLeakage, Some(SplitLeakageSql)),
    Entry("q_dedup_tau_sweep", dedupTauSweep, Some(DedupTauSweepSql)),
    Entry("q_lsh_recall", lshRecall, Some(LshRecallSql)),
    Entry("q_lsh_tuning", lshTuning, Some(LshTuningSql)),
    Entry("q_snap_neardup", snapshotNearDup, Some(snapNearDupSql)),
    Entry("q_simhash", simhashPairs, Some(SimhashOracleSql)),
    // xxhash64 form of q_simhash, for the same reason
    Entry("x_simhash_fast", simhashPairsFast),
    Entry("q_simhash_clusters", simhashClusters, Some(SimhashClustersSql)),
    Entry("q_dedup_report", dedupReport, Some(
      s"""WITH ek AS (
           SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         drops AS (SELECT DISTINCT doc_b FROM ($NgramJaccardSql) j)
         SELECT '0_raw' AS stage, count(*) AS n_docs FROM documents
         UNION ALL SELECT '1_exact', count(*) FROM ek
         UNION ALL SELECT '2_neardup', count(*) FROM ek
           WHERE doc_id NOT IN (SELECT doc_b FROM drops)
         ORDER BY stage""")),
    Entry("q_dedup_exact", dedupExact, Some(
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_id""")),
    Entry("q_ngram_jaccard", ngramJaccard, Some(NgramJaccardSql)),
    // same shingle/df-cap/pair CTEs as the Jaccard oracle, then the
    // symmetric best-positive window and the md5-ring negative
    Entry("q_contrastive_pairs", contrastivePairs, Some(
      s"""WITH $JaccardInterCtes,
         pairs AS (
           SELECT doc_a, doc_b,
                  CAST(n_common AS DOUBLE) / (ca.c + cb.c - n_common) AS jaccard
           FROM inter
           JOIN card ca ON doc_a = ca.doc_id
           JOIN card cb ON doc_b = cb.doc_id
           WHERE CAST(n_common AS DOUBLE) / (ca.c + cb.c - n_common) >= 0.5),
         sym AS (
           SELECT doc_a, doc_b, jaccard FROM pairs
           UNION ALL
           SELECT doc_b AS doc_a, doc_a AS doc_b, jaccard FROM pairs),
         pos AS (
           SELECT doc_a AS anchor_id, doc_b AS positive_id,
                  jaccard AS pos_jaccard
           FROM (SELECT *, row_number() OVER (
                   PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) AS rn
                 FROM sym)
           WHERE rn = 1),
         ring AS (
           SELECT doc_id AS anchor_id,
                  coalesce(
                    lead(doc_id) OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id),
                    first_value(doc_id) OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)) AS negative_id
           FROM documents)
         SELECT p.anchor_id, p.positive_id, p.pos_jaccard, r.negative_id,
                coalesce(s.dup, FALSE) AS neg_is_dup
         FROM pos p
         JOIN ring r USING (anchor_id)
         LEFT JOIN (SELECT doc_a AS anchor_id, doc_b AS negative_id,
                           TRUE AS dup FROM sym) s
           USING (anchor_id, negative_id)
         ORDER BY anchor_id""")),
    // same shingle/df-cap/pair CTEs as the Jaccard oracle, asymmetric ratio
    Entry("q_containment", containment, Some(
      s"""WITH $JaccardInterCtes
         SELECT doc_a, doc_b, n_common, ca.c AS c_a, cb.c AS c_b,
                CAST(n_common AS DOUBLE) / least(ca.c, cb.c) AS containment
         FROM inter
         JOIN card ca ON doc_a = ca.doc_id
         JOIN card cb ON doc_b = cb.doc_id
         WHERE CAST(n_common AS DOUBLE) / least(ca.c, cb.c) >= 0.9
         ORDER BY doc_a, doc_b""")),
    // the apply step reuses the pair query verbatim as a subquery — the
    // keep set is definitionally "documents minus doc_b of those pairs"
    Entry("q_neardup_keep", nearDupKeep, Some(
      s"""SELECT d.doc_id, d.source, d.n_chars FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_b FROM ($NgramJaccardSql) j)
         ORDER BY d.doc_id""")),
    // the blocking pipeline's oracle: all-pairs bit_count(xor) <= 3 over
    // the same arithmetic signatures — equality proves the Manku
    // 20-table candidate generation is lossless at distance <= 3
    Entry("q_hamming_neardup", hammingNearDup,
      Some(s"$HammingPairSql\n         ORDER BY doc_a, doc_b")),
    // exact transitive closure of the same pair graph via recursive CTE:
    // walk(id, r) enumerates every node reachable from id (components are
    // tiny by construction, so the closure is small); comp = min reachable
    Entry("q_dup_components", dupComponents, Some(
      s"""$DupComponentsCte
         SELECT c.id AS doc_id, c.comp, s.comp_size
         FROM comp c JOIN sizes s USING (comp)
         ORDER BY doc_id""")),
    // canonical keeper per component: rank docs within each cluster by
    // (n_chars desc, doc_id) over the SAME closure
    Entry("q_dup_canon", dupCanonical, Some(
      s"""$DupComponentsCte,
         m AS (
           SELECT c.id AS doc_id, c.comp, s.comp_size
           FROM comp c JOIN sizes s USING (comp)),
         j AS (
           SELECT m.comp, m.doc_id, d.n_chars, m.comp_size,
                  row_number() OVER (PARTITION BY m.comp
                    ORDER BY d.n_chars DESC, m.doc_id) AS rn
           FROM m JOIN documents d USING (doc_id))
         SELECT comp, doc_id AS keep_id, n_chars AS keep_chars, comp_size,
                comp_size - 1 AS n_dropped
         FROM j WHERE rn = 1 ORDER BY comp""")),
    // distinct-shingle sets per doc (sh0, no df cap — a shingle shared
    // with the eval set is contamination no matter how common it is)
    Entry("q_contamination", contamination, Some(ContaminationSql)),
    // the bloom-prefilter form is result-identical by construction (the
    // exact verify join removes every false positive) — same oracle
    Entry("q_contamination_bloom", contaminationBloom, Some(ContaminationSql)),
    Entry("q_contamination_pairs", contaminationPairs, Some(
      s"""WITH ${docShinglesCtes("doc_id, source", "sh")},
         ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE source = 'src0'),
         tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE source <> 'src0')
         SELECT train_id, eval_id, count(*) AS n_shared
         FROM tr JOIN ev USING (shingle)
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY train_id, eval_id""")),
    // eval = the unreplicated base slice: the production shape (MB eval,
    // growing train) that the replicate-everything scaled corpora can't
    // show on the q_ name
    Entry("x_contamination_pairs_fixedeval", contaminationPairsFixedEval),
    // fp-grain rollup: one representative text per distinct md5(text)
    // on each side (min(text) is exact — all texts in a group are
    // identical), shingled once, overlaps reported with multiplicities
    Entry("q_contamination_groups", contaminationGroups, Some(
      s"""WITH tg AS (
           SELECT md5(text) AS train_fp, count(*) AS n_train_docs,
                  min(text) AS text
           FROM documents WHERE source <> 'src0' GROUP BY 1),
         eg AS (
           SELECT md5(text) AS eval_fp, count(*) AS n_eval_docs,
                  min(text) AS text
           FROM documents WHERE source = 'src0' GROUP BY 1),
         tt AS (SELECT train_fp, string_split(text, ' ') AS t FROM tg),
         tsh AS (
           ${shingleSetSql("train_fp", "tt WHERE len(t) >= 3")}),
         et AS (SELECT eval_fp, string_split(text, ' ') AS t FROM eg),
         esh AS (
           ${shingleSetSql("eval_fp", "et WHERE len(t) >= 3")}),
         inter AS (
           SELECT t.train_fp, e.eval_fp, count(*) AS n_shared
           FROM tsh t JOIN esh e USING (shingle)
           GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT i.train_fp, i.eval_fp, tg.n_train_docs, eg.n_eval_docs,
                i.n_shared
         FROM inter i
         JOIN tg ON i.train_fp = tg.train_fp
         JOIN eg ON i.eval_fp = eg.eval_fp
         ORDER BY 1, 2""")),
    Entry("q_snap_dedup", snapshotDedup, Some(
      """WITH corpus AS (
           SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 < 8),
         b AS (
           SELECT md5(text) AS fp, min(doc_id) AS doc_id,
                  count(*) AS n_batch_copies
           FROM documents WHERE doc_id % 10 >= 8 GROUP BY md5(text))
         SELECT doc_id, fp, n_batch_copies FROM b
         WHERE fp NOT IN (SELECT fp FROM corpus)
         ORDER BY doc_id""")),
    Entry("q_sim_degree", simDegree, Some(
      s"""WITH pairs AS ($HammingPairSql),
         deg AS (
           SELECT doc_id, count(*) AS degree FROM (
             SELECT doc_a AS doc_id FROM pairs
             UNION ALL SELECT doc_b FROM pairs)
           GROUP BY doc_id)
         SELECT deg.doc_id, d.source, deg.degree
         FROM deg JOIN documents d USING (doc_id)
         ORDER BY doc_id""")),
    // replays the SAME dynamic-K two-level quantizer chain as
    // q_semdedup_scaled (shared CTE body), then the within-cluster >τ
    // pair report
    Entry("q_embed_neardup", embedNearDup, Some(
      s"""WITH ${SimilarityOps.scaledQuantizerCtes}
         ${SimilarityOps.clusterPairsSql("la.vec_id AS vec_a, lb.vec_id AS vec_b",
           EmbedNearDupTau)}
         ORDER BY vec_a, vec_b""")),
  )
}
