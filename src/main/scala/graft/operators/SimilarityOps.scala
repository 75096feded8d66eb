package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftFunctions

import graft.{Entry, Tables}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding: array<float>[64], label).
  *
  * Two paths:
  *  - brute-force cosine top-k: the correctness baseline. The (small) query
  *    set is broadcast; the corpus streams through map-side — at 100 TB
  *    this is one scan, no corpus shuffle, and the per-query top-k is a
  *    window over query_id (k·|queries| rows post-filter).
  *  - random-hyperplane LSH: the scale path. Signatures bucket the corpus;
  *    candidates come only from matching buckets across L tables, so the
  *    per-query work is O(bucket) not O(corpus).
  */
object SimilarityOps {

  private val TopK = 5
  /** Queries = vec_id < 10 (deterministic, sf-independent). */
  private val NumQueries = 10

  // ---------------------------------------------------------------- brute force
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    bruteCosine(spark, dir)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Every (query, other vector) pair scored by cosine: (query_id,
    * neighbor_id, cos_sim), norms computed once per side. */
  private def bruteCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        GraftFunctions.vec_norm(col("embedding")).as("nq"))
    val corpus = e.select(col("vec_id"), col("embedding"),
      GraftFunctions.vec_norm(col("embedding")).as("ne"))
    val cos = VectorOps.cosinePrenorm(col("qe"), col("embedding"), col("nq"), col("ne"))
    corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), cos.as("cos_sim"))
  }

  // ---------------------------------------------------------------- topk aggregate
  /** Brute-force ANN through the single-pass TopKByScore aggregate instead
    * of a window: same rows as annBruteForce (same oracle), but the
    * shuffle carries one k-element buffer per (partition, query) instead
    * of every scored row — the 100 TB formulation of top-k. */
  def annTopKAgg(spark: SparkSession, dir: String): DataFrame = {
    import GraftFunctions.topk_by
    bruteCosine(spark, dir)
      .groupBy("query_id")
      .agg(topk_by(col("cos_sim"), col("neighbor_id"), TopK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- LSH
  /** L tables × B bits of random-hyperplane signatures. Plane components
    * are deterministic (fixed LCG → ~N(0,1) via sum of uniforms), embedded
    * as a literal — reproducible across sessions, no RNG at plan time. */
  private val NumTables = 4
  private val BitsPerTable = 8
  private val Dim = 64

  private[operators] val planes: Seq[Seq[Seq[Float]]] = {
    var s = 2025L
    def u(): Double = { s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) }
    def gauss(): Float = ((1 to 12).map(_ => u()).sum - 6.0).toFloat
    Seq.fill(NumTables)(Seq.fill(BitsPerTable)(Seq.fill(Dim)(gauss())))
  }

  /** signature for one table: pack sign(dot(emb, plane_b)) bits into an int. */
  private def tableSig(emb: org.apache.spark.sql.Column, t: Int) = {
    import org.apache.spark.sql.Column
    val bits: Seq[Column] = (0 until BitsPerTable).map { bI =>
      val plane = typedlit(planes(t)(bI))
      when(GraftFunctions.vec_dot(emb, plane) > 0.0, lit(1 << bI)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed ANN: same output shape as annBruteForce but neighbors are
    * drawn only from LSH-bucket collisions (any of the L tables).
    * Driver-oracle-checked end-to-end: the plane components are fixed
    * literals, the signature dots widen float→double in array order
    * (FloatVectorDot), and DuckDB replays the same dots from the DOUBLE
    * value of each plane component — see [[AnnLshSql]]. ScalaTest
    * additionally measures recall against annBruteForce. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val sigCols = (0 until NumTables).map(t =>
      struct(lit(t).as("tbl"), tableSig(col("embedding"), t).as("sig")))
    val bucketed = e
      .select(col("vec_id"), col("embedding"),
        GraftFunctions.vec_norm(col("embedding")).as("nrm"),
        explode(array(sigCols: _*)).as("bk"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("bk.tbl").as("tbl"), col("bk.sig").as("sig"))
    val qb = bucketed.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("nq"), col("tbl").as("q_tbl"), col("sig").as("q_sig"))
    val candidates = bucketed
      .join(broadcast(qb),
        col("tbl") === col("q_tbl") && col("sig") === col("q_sig") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qe"), col("nq"),
        col("vec_id").as("neighbor_id"), col("embedding"), col("nrm"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    candidates
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosinePrenorm(col("qe"), col("embedding"),
          col("nq"), col("nrm")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- IVF
  /** Cluster count / probed clusters for the IVF index. */
  private val IvfK = 16
  private val IvfProbes = 2

  /** IVF coarse quantizer, trained fully in DataFrames: deterministic init
    * (cluster = vec_id mod K) refined by one Lloyd iteration (assign to
    * nearest centroid, recompute elementwise means via posexplode +
    * groupBy(cluster, dim)). No driver-side math, no RNG — the "training"
    * is two aggregations that scale linearly with the corpus.
    *
    * ORDER-FREE means: each component quantizes to the 2^20 integer grid
    * FIRST (round(x·2^20) — exact; every float is a dyadic rational), the
    * cluster mean is then one LONG sum (associative/commutative — exact
    * map-side partials, independent of partitioning) divided once in
    * double and cast to float. Same trick as q_label_centroids — it makes
    * the trained centroids BIT-REPRODUCIBLE across partitionings AND
    * replayable in DuckDB (a float avg() would be an order-dependent
    * double sum no one could reproduce), which is what lets q_ann_ivf and
    * q_semdedup carry full driver oracles. */
  private[operators] def meansOf(assigned: DataFrame): DataFrame =
    assigned
      // ONE native quantize pass per row (codegen'd; neither an
      // interpreted transform() lambda nor a post-explode scalar round —
      // see graftext.FloatVectorQuantize), then explode longs
      .select(col("cl"),
        posexplode(GraftFunctions.vec_quantize(col("embedding"), CentroidScale))
          .as(Seq("pos", "qv")))
      .groupBy("cl", "pos")
      .agg(sum(col("qv")).as("s1"), count(lit(1)).as("n"))
      .groupBy("cl")
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("s1").cast("double") / col("n") / lit(CentroidScale)).as("m"))))
        .as("pm"))
      .select(col("cl"), expr("transform(pm, x -> cast(x.m as float))").as("centroid"))

  private[operators] def ivfCentroids(e: DataFrame): DataFrame =
    ivfCentroidsK(e, IvfK)

  private[operators] def ivfCentroidsK(e: DataFrame, k: Int): DataFrame = {
    val init = meansOf(e.select((col("vec_id") % k).cast("int").as("cl"),
      col("embedding")))
    // one Lloyd refinement: reassign by max cosine, recompute means
    val reassigned = assign(e, init)
      .select(col("cl"), col("embedding"))
    meansOf(reassigned)
  }

  /** Assign each vector to its nearest centroid (max cosine; ties to the
    * lowest cluster id) — SHUFFLE-FREE. The K centroids are collapsed into
    * ONE array-of-structs row and broadcast; the argmax over the K cosines
    * runs map-side while the corpus streams through. (The round-1 form
    * joined each corpus row against all K centroids and re-grouped by
    * vec_id — a ×K row blow-up plus a full-corpus Exchange, taken three
    * times per annIvf call; at 100 TB those were the dominant avoidable
    * shuffles.)
    *
    * The argmax itself is the native codegen'd [[NearestCentroid]]
    * expression — bit-identical to the previous
    * `array_min(transform(cents, c -> struct(-cosine, cl)))` formulation
    * (same double arithmetic, same NaN-last / ties-to-lowest-cl struct
    * ordering; equivalence spec-pinned in VectorExprSpec), but ~K× faster:
    * higher-order lambdas never enter codegen, which made K≈400
    * corpus-scaled quantizers spend ~6× the whole query's time
    * interpreting per-element closures. */
  private[operators] def assign(e: DataFrame, centroids: DataFrame): DataFrame = {
    val packed = centroids
      .agg(collect_list(struct(col("cl"), col("centroid"))).as("cents"))
    e.join(broadcast(packed))
      .select(col("vec_id"), col("embedding"),
        GraftFunctions.nearest_centroid(col("cents"), col("embedding")).as("cl"))
  }

  /** The probe-selection stage alone: each query's `nprobe` nearest
    * centroids (csim DESC, cl ASC window). Exposed so [[ivfProbeTuning]]
    * can sweep nprobe and price the probed lists without a second copy
    * of the ranking logic. */
  private def probeSelection(q: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cl").asc)
    q.join(broadcast(centroids))
      .select(col("query_id"), col("qe"), col("nq"), col("cl"),
        VectorOps.cosine(col("qe"), col("centroid")).as("csim"))
      .withColumn("prank", row_number().over(wq))
      .where(col("prank") <= nprobe)
      .select(col("query_id"), col("qe"), col("nq"), col("cl"))
  }

  /** THE IVF probe+rank tail — one definition for [[annIvf]],
    * [[annIndexProbe]], [[indexDrift]]'s probe audit and
    * [[ivfProbeTuning]]'s arms (they used to be near-identical copies; a
    * probe-semantics fix must hit all of them at once). Ranks centroids
    * per query ([[probeSelection]]), keeps the `nprobe` nearest lists,
    * scans them, ranks members by prenormed cosine.
    * `excludeSelf`: corpus-rows-as-queries mode (annIvf, the drift
    * audit) drops the query's own row; online probes keep exact matches
    * back (cos ≈ 1 IS the answer for an intake dedup probe).
    * `broadcastProbes`: the online path hints its micro-batch-sized
    * probe frame so the list join never shuffles the index.
    * `precomputedProbes`: the tuning sweep prices the same probe frame
    * it ranks with, so it passes the selection in rather than paying the
    * centroid join twice. Returns (query_id, neighbor_id, cos_sim, rank)
    * unranked-order. */
  private def ivfProbeTopK(q: DataFrame, centroids: DataFrame,
      lists: DataFrame, excludeSelf: Boolean,
      broadcastProbes: Boolean = false,
      nprobe: Int = IvfProbes,
      precomputedProbes: Option[DataFrame] = None): DataFrame = {
    val probes = precomputedProbes
      .getOrElse(probeSelection(q, centroids, nprobe))
    val probeSide = if (broadcastProbes) broadcast(probes) else probes
    val joined = probeSide.join(lists, Seq("cl"))
    val scoped =
      if (excludeSelf) joined.where(col("vec_id") =!= col("query_id"))
      else joined
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scoped
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorOps.cosinePrenorm(col("qe"), col("embedding"),
          col("nq"), col("nrm")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
  }

  /** IVF ANN: coarse-quantize the corpus into K inverted lists, probe the
    * `IvfProbes` nearest lists per query, exact-rank only the candidates.
    * At 100 TB the inverted lists are the partitioning: a query touches
    * nprobe/K of the corpus instead of all of it. Driver-oracle-checked
    * end-to-end ([[AnnIvfSql]] — the order-free integer-moment centroid
    * training makes the whole trained index replayable); ScalaTest
    * additionally checks planted-dup retrieval + recall vs brute force. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val centroids = ivfCentroids(e).cache()
    val lists = assign(e, centroids)
      .withColumn("nrm", GraftFunctions.vec_norm(col("embedding")))
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        GraftFunctions.vec_norm(col("embedding")).as("nq"))
    ivfProbeTopK(q, centroids, lists, excludeSelf = true)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- PQ
  /** Product-quantization geometry: M subspaces × K codes. 64 dims → four
    * 16-dim subvectors, each coded by one of 16 centroids → an 8-byte code
    * per vector (4 codes × 4 bits would be 2 bytes; ints here for
    * clarity). IVF partitions WHERE a query looks; PQ compresses WHAT it
    * scans — together they are the standard 100 TB ANN architecture. */
  private val PqM = 4
  private val PqK = 16
  /** Bits one PQ code occupies: ceil(log2 PqK) — code indices 0..K-1 need
    * ceil bits, so floor would under-report for any non-power-of-two K
    * (identically on both engines, keeping the gate green while the
    * reported compression rate is wrong). Derived, not hard-coded — the
    * tuning sweep's bits_per_vec column (m_subspaces × this) must track a
    * PqK change on BOTH the Spark and oracle sides. */
  private val PqCodeBits =
    (64 - java.lang.Long.numberOfLeadingZeros(PqK - 1L)).toInt
  private val SubDim = Dim / PqM

  /** (vec_id, m, sub, na2): the M per-subspace views of each vector, with
    * the squared norm precomputed so every later L2 distance is one native
    * dot (|a−c|² = |a|² − 2a·c + |c|²). */
  private def subvectors(e: DataFrame): DataFrame = subvectorsM(e, PqM)

  private def subvectorsM(e: DataFrame, mCount: Int): DataFrame = {
    val subDim = Dim / mCount
    val subs = (0 until mCount).map { m =>
      struct(lit(m).as("m"),
        slice(col("embedding"), m * subDim + 1, subDim).as("sub"))
    }
    // carry any non-embedding columns through (the IVF-PQ path keeps the
    // coarse list id `cl` alongside each subvector; plain PQ passes just
    // vec_id and is unchanged)
    val keep = e.columns.filterNot(_ == "embedding").map(col).toSeq
    e.select(keep :+ explode(array(subs: _*)).as("s"): _*)
      .select(keep ++ Seq(col("s.m").as("m"), col("s.sub").as("sub")): _*)
      .withColumn("na2", GraftFunctions.vec_dot(col("sub"), col("sub")))
  }

  /** Elementwise mean subvector per (m, code) — the codebook update step.
    * Same posexplode + two-groupBy shape as [[meansOf]], and the same
    * ORDER-FREE integer-moment trick (2^20 grid, long sums, one double
    * division, float cast): codebooks are bit-reproducible across
    * partitionings and DuckDB-replayable. */
  private def pqMeans(assigned: DataFrame): DataFrame =
    assigned
      // one native quantize pass per subvector, same reasoning as [[meansOf]]
      .select(col("m"), col("code"),
        posexplode(GraftFunctions.vec_quantize(col("sub"), CentroidScale))
          .as(Seq("pos", "qv")))
      .groupBy("m", "code", "pos")
      .agg(sum(col("qv")).as("s1"), count(lit(1)).as("n"))
      .groupBy("m", "code")
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("s1").cast("double") / col("n") / lit(CentroidScale)).as("mv"))))
        .as("pm"))
      .select(col("m"), col("code"),
        expr("transform(pm, x -> cast(x.mv as float))").as("cent"))
      .withColumn("nc2", GraftFunctions.vec_dot(col("cent"), col("cent")))

  /** Encode every subvector with its nearest code — SHUFFLE-FREE: the
    * codebook packs to one row PER SUBSPACE (M rows), broadcast-equi-joins
    * on m, and the argmin over that subspace's K codewords is the native
    * codegen'd [[NearestCode]] expression, map-side while the corpus
    * streams. Bit-identical to the previous interpreted
    * `filter(cb, c.m==m)` + `array_min(transform(...))` form (same
    * `na2 − 2a·c + |c|²` double arithmetic, same ties-to-lowest-code
    * ordering; equivalence spec-pinned in VectorExprSpec, and the
    * q_ann_pq driver oracle hash-checks the whole trained pipeline) —
    * but the per-row cost drops from M·K interpreted lambda calls to K
    * codegen'd loop iterations, which is what lets the toy K=16 grow to
    * the production K=256 without the encode becoming the bottleneck.
    * L2 in each subspace (the PQ standard). */
  private def pqAssign(subs: DataFrame, codebook: DataFrame): DataFrame = {
    val packed = codebook
      .groupBy(col("m"))
      .agg(collect_list(struct(col("code"), col("cent"), col("nc2"))).as("cb"))
    subs.join(broadcast(packed), Seq("m"))
      .select(subs.columns.map(col).toSeq :+
        GraftFunctions.nearest_code(col("cb"), col("sub"), col("na2")).as("code"): _*)
  }

  /** Per-subspace codebooks trained fully in DataFrames: deterministic
    * init (code = vec_id mod K) refined by one Lloyd iteration — identical
    * training recipe to the IVF coarse quantizer, run in each of the M
    * subspaces at once (m is just another grouping key). */
  private[operators] def pqCodebookK(e: DataFrame, k: Int): DataFrame =
    pqCodebookFor(subvectors(e), k)

  /** The ONE codebook trainer recipe over an already-sliced subvector
    * frame (mod-K init, one Lloyd step) — shared by [[pqCodebookK]] and
    * [[pqTuning]]'s M sweep so a recipe change can never leave the sweep
    * auditing a different trainer than the one the indexes deploy. */
  private def pqCodebookFor(subs: DataFrame, k: Int): DataFrame = {
    val init = pqMeans(subs.withColumn("code",
      (col("vec_id") % k).cast("int")))
    pqMeans(pqAssign(subs, init))
  }

  /** ADC shortlist size per query before the exact refinement pass. */
  private val PqShortlist = 10 * TopK

  /** PQ ANN with ADC (asymmetric distance computation) + exact
    * refinement — the production two-stage shape:
    *
    * Stage 1 (codes only): the corpus is scanned as CODES — at 100 TB a
    * 32× smaller scan than the float vectors — and each query's
    * approximate distance is a sum of M table lookups. The distance table
    * (query × m × code: exact L2 from the UNQUANTIZED query subvector to
    * each centroid) is queries·M·K rows and broadcasts; the only
    * corpus-grain work is the (m,code) lookup join and a
    * groupBy(query, vec) summing M terms. The ADC top-[[PqShortlist]]
    * per query survives.
    *
    * Stage 2 (full vectors, shortlist only): the shortlist — queries ×
    * 50 ids, NOT corpus-sized — joins back to the stored vectors for an
    * exact L2 re-rank to top-k. Quantization error costs recall only when
    * a true neighbor misses the 10×k shortlist, not whenever ADC locally
    * mis-orders two candidates. Driver-oracle-checked end-to-end
    * ([[AnnPqSql]] — order-free codebook training + fixed-order ADC sums
    * make the trained index replayable); SimilaritySpec additionally pins
    * planted-duplicate retrieval and recall vs exact-L2 brute force. */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqWith(Tables.embeddings(spark, dir), PqK)

  /** PRODUCTION-CODEBOOK bench alias (`x_ann_pq256`): the same trained
    * PQ+ADC+refine pipeline with the K=256 codes-per-subspace every real
    * PQ deployment uses (16 here is the oracle-replayable toy size — the
    * unrolled DuckDB training CTE grows with K, so the registered query
    * keeps K=16). Feasible precisely because the encode argmin is the
    * native [[NearestCode]] loop: at K=256 the interpreted HOF form
    * would pay 16× its K=16 lambda cost per subvector. The ADC table
    * stays broadcast-sized at any corpus (queries × M × K rows). */
  def annPqProduction(spark: SparkSession, dir: String): DataFrame =
    annPqWith(Tables.embeddings(spark, dir), 256)

  private def annPqWith(e: DataFrame, k: Int): DataFrame = {
    val codebook = pqCodebookK(e, k).cache()
    val codes = pqAssign(subvectors(e), codebook)
      .select(col("vec_id"), col("m"), col("code"))
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val qsubs = subvectors(e.where(col("vec_id") < NumQueries))
      .select(col("vec_id").as("query_id"), col("m").as("qm"),
        col("sub").as("qsub"), col("na2").as("nq2"))
    // ADC table: exact distance from each query subvector to each centroid
    val dtable = qsubs.join(codebook, col("qm") === codebook("m"))
      .select(col("query_id"), col("qm").as("m"), col("code"),
        (col("nq2") - lit(2.0) * GraftFunctions.vec_dot(col("qsub"), col("cent"))
          + col("nc2")).as("d2"))
    adcRerank(e, q, codes, dtable, Seq("m", "code"))
  }

  /** The ADC shortlist and exact-L2 re-rank shared by [[annPqWith]] and
    * [[annIvfPqWith]]: `codes` (vec_id, `keys`…) join the broadcast ADC
    * table `dtable` (query_id, `keys`…, d2) on `keys`; the PqShortlist
    * smallest ADC sums per query then re-rank by exact |x−q|² against
    * the full vectors of `e` and the query vectors `q` (query_id, qe).
    * The ADC sum runs in FIXED subspace order: sum(d2) over the M rows of
    * a group accumulates doubles in partition-dependent order — pivoting
    * to one conditional sum per subspace (each sees exactly ONE row, so
    * it is exact) and adding d0+..+d3 left-to-right makes the shortlist
    * deterministic and engine-replayable. */
  private def adcRerank(e: DataFrame, q: DataFrame, codes: DataFrame,
      dtable: DataFrame, keys: Seq[String]): DataFrame = {
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2").asc, col("neighbor_id").asc)
    val perM = (0 until PqM).map(m =>
      sum(when(col("m") === m, col("d2"))).as(s"d$m"))
    val adcSum = (0 until PqM).map(m => col(s"d$m")).reduce(_ + _)
    val shortlist = codes.join(broadcast(dtable), keys)
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(perM.head, perM.tail: _*)
      .select(col("query_id"), col("neighbor_id"), adcSum.as("approx_d2"))
      .withColumn("arank", row_number().over(wa))
      .where(col("arank") <= PqShortlist)
      .select(col("query_id"), col("neighbor_id"))
    // exact refinement over the shortlist: |x−q|² with full vectors
    val nbr = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"))
    val exact = GraftFunctions.vec_dot(col("ne"), col("ne")) -
      lit(2.0) * GraftFunctions.vec_dot(col("ne"), col("qe")) +
      GraftFunctions.vec_dot(col("qe"), col("qe"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_dist2").asc, col("neighbor_id").asc)
    shortlist
      .join(nbr, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), exact.as("l2_dist2"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("l2_dist2"))
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------------------ recall audit
  /** RECALL@k AUDIT of the LSH index against the exact baseline — the
    * per-build quality gate a production ANN deployment runs before
    * switching traffic to a new index: per query, how many of the true
    * top-k survive in the approximate top-k. Self-measuring (both sides
    * are this engine's own registered operators), deterministic (both
    * sides are), and the oracle replays BOTH chains — so the driver
    * hash-checks not just each index but the measurement itself. The
    * corpus-grain cost is one exact pass + one LSH pass; the join/agg
    * run at the queries×k grain. */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallPerQuery(annBruteForce(spark, dir)
      .select(col("query_id"), col("neighbor_id")), annLsh(spark, dir))

  /** Per-query recall@k of the approximate top-k `approx` against the
    * exact top-k `bf` (query_id, neighbor_id): the left-join hit count. */
  private def recallPerQuery(bf: DataFrame, approx: DataFrame): DataFrame =
    bf.join(approx.select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      .orderBy("query_id")

  /** RECALL@k AUDIT of the IVFADC index ([[annIvfPq]]) against the
    * exact-L2 baseline — same shape as [[annRecall]] but for the
    * production two-stage index, whose losses come from two separate
    * approximations (coarse pruning: a true neighbor in an unprobed
    * list; ADC: quantization error pushing it off the shortlist). The
    * oracle replays the exact baseline AND the whole trained IVFADC
    * chain, so the quality number for the flagship index is itself
    * driver-hash-checked. */
  def annIvfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val d2 = GraftFunctions.vec_dot(col("embedding"), col("embedding")) -
      lit(2.0) * GraftFunctions.vec_dot(col("embedding"), col("qe")) +
      GraftFunctions.vec_dot(col("qe"), col("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("neighbor_id").asc)
    val bf = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"))
    recallPerQuery(bf, annIvfPq(spark, dir))
  }

  // ------------------------------------------------------------- IVF health
  /** Quantization grid for the [[ivfStats]] cosine moments (2^20 ticks —
    * same grid as the centroid training; a raw double mean would be
    * partition-order-dependent and unverifiable). */
  private val CosScale = 1048576.0

  /** Quantized member→centroid cosine for the list-stat audits
    * (ivfStats, indexDrift). A zero-norm (poisoned) member has an
    * undefined cosine: Spark's clamp passes NaN through, and a bare
    * round(NaN).cast(long) silently reads 0 — mid-grid — while DuckDB's
    * list_cosine_similarity returns -1.0 for a zero-norm side (verified
    * against 1.4.x; its cast of a genuine NaN would ERROR, so the
    * engines could never agree without a pin). Pin BOTH engines to the
    * DuckDB reading: a poisoned member scores -1, the worst legitimate
    * grid point, so it drags its list's mean/min loudly into the audit
    * instead of hiding mid-scale. */
  private def quantizedMemberCos(na: Column, nb: Column): Column = {
    // the zero-norm guard must come BEFORE the division: under ANSI
    // mode 0/0 RAISES (DIVIDE_BY_ZERO) rather than yielding NaN, so an
    // unguarded audit would abort on the poisoned row. CaseWhen
    // evaluates only the taken branch, so the division never runs for
    // a zero-norm member. A NaN ELEMENT (dot = NaN with nonzero norms)
    // pins to -1 through the second guard — an ANSI cast of NaN to
    // long would also raise.
    // Norms arrive PRENORMED as projected columns (member nrm computed
    // once per row, centroid cnrm once per centroid before the
    // broadcast): Spark's subexpression elimination does not CSE into
    // CaseWhen branches, so inlining norm() here paid the O(d) loop
    // 2-3× per member row (in-round self-review finding). Same values —
    // sqrt(dot(a,a)) either way — so the oracles are untouched.
    val denom = na * nb
    val c = when(denom === 0.0, lit(-1.0))
      .otherwise(VectorOps.cosinePrenorm(col("embedding"), col("centroid"),
        na, nb).cast("double"))
    val safe = when(isnan(c), lit(-1.0)).otherwise(c)
    round(safe * lit(CosScale)).cast("long")
  }

  /** INDEX-HEALTH AUDIT of the trained IVF quantizer: per inverted list,
    * its occupancy and how well the centroid represents it (mean and
    * worst cosine of members to their centroid). The numbers an ANN
    * operations team monitors per index build: skewed occupancy means
    * probe cost varies wildly by query (hot lists), a low mean cosine
    * means the coarse quantizer under-fits (K too small / training
    * drifted), and the min flags outlier members whose residuals the PQ
    * codebook will quantize badly. Mean via EXACT integer moments
    * (cosines quantized to the 2^20 grid, long sums — order-free,
    * replayable); min is exact without accumulation. One assignment pass
    * (bounded centroid broadcast) + one bounded-key aggregation. */
  /** Per-list quantized-cosine member moments of a trained quantizer —
    * assign the corpus, score each member against its OWN centroid via
    * [[quantizedMemberCos]] (prenormed, poison-pinned), reduce to the
    * exact integer moments (n, long cosine sum, min). ONE definition for
    * [[ivfStats]] and [[kmeansTuning]]: a parity fix to the scoring
    * recipe (rounding, NaN pin, prenorm placement) must hit every audit
    * at once — two hand-synced copies predated this. (indexDrift's
    * listStats block scores PRE-ASSIGNED persisted lists against frozen
    * centroids, so it composes the same quantizedMemberCos from its own
    * join shape.) */
  private def memberCosMoments(e: DataFrame, centroids: DataFrame): DataFrame =
    assign(e, centroids)
      .withColumn("nrm", GraftFunctions.vec_norm(col("embedding")))
      .join(broadcast(centroids
        .withColumn("cnrm", GraftFunctions.vec_norm(col("centroid")))), Seq("cl"))
      .select(col("cl"), quantizedMemberCos(col("nrm"), col("cnrm")).as("qc"))
      .groupBy("cl")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("qc")).as("s1"),
        min(col("qc")).as("qmin"))

  def ivfStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val centroids = ivfCentroids(e).cache()
    memberCosMoments(e, centroids)
      .select(col("cl"), col("n_vecs"),
        (col("s1").cast("double") / col("n_vecs") / lit(CosScale))
          .as("mean_cos"),
        (col("qmin").cast("double") / lit(CosScale)).as("min_cos"))
      .orderBy("cl")
  }

  /** The K values [[kmeansTuning]] sweeps — bracketing the production
    * IvfK=16 the way TuneGeometries brackets the 8×4 banding. */
  private val TuneKs = Seq(4, 8, 16)

  /** K-SWEEP audit of the cosine coarse quantizer — the cluster-count
    * tuning question that precedes every IVF/semdedup build, the way
    * q_lsh_tuning's geometry sweep precedes the banded dedup: for each
    * K, train the same deterministic quantizer (vec_id-mod init + one
    * Lloyd refinement — [[ivfCentroidsK]], the exact trainer the
    * production ops use) and report occupancy balance (non-empty lists,
    * min/max list size — probe-cost variance) against fit tightness
    * (mean member→centroid cosine — the elbow curve's y-axis). Models
    * the K-selection step of Jégou et al.'s IVF recipe.
    *
    * Exactness: cosines quantize to the 2^20 grid and aggregate as LONG
    * sums (order-free, partition-independent), so the one double
    * division per row of output is replayable bit-exactly in DuckDB —
    * the whole 3-K sweep (3 trainings + 3 assignments) is inside the
    * oracle gate. Scale: per K the work is the linear trainer (two
    * bounded-key integer-moment aggregations) + one broadcast-argmax
    * assignment pass; output is 3 rows. */
  def kmeansTuning(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).cache()
    val frames = TuneKs.map { k =>
      val cents = ivfCentroidsK(e, k).cache() // assign broadcast + cosine join
      memberCosMoments(e, cents).agg(
        sum(col("n_vecs")).as("n_vectors"),
        count(lit(1)).as("n_lists_used"),
        min(col("n_vecs")).as("min_size"),
        max(col("n_vecs")).as("max_size"),
        (sum(col("s1")).cast("double") / sum(col("n_vecs")) / lit(CosScale))
          .as("mean_cos"))
        .select(lit(k).cast("bigint").as("k"), col("n_vectors"),
          col("n_lists_used"), col("min_size"), col("max_size"),
          col("mean_cos"))
    }
    frames.reduce(_.unionByName(_)).orderBy("k")
  }

  /** The probe counts [[ivfProbeTuning]] sweeps — bracketing the
    * production IvfProbes=2. */
  private val TuneProbes = Seq(1, 2, 4)

  /** IVF nprobe SWEEP — the QUERY-TIME knob the build-time sweeps leave
    * open (q_kmeans_tuning picks K, this picks how many of the K lists a
    * query pays to scan): for each nprobe, recall@5 of the probe chain
    * against the exact cosine baseline, next to the candidate rows
    * actually scanned and the fraction of the brute-force scan they
    * represent. The recall-vs-cost curve is how an ANN deployment
    * chooses its latency point (Jégou et al. 2011 §5).
    *
    * Exactness: recall counts are integers off the same
    * brute-force/probe frames q_ann_recall uses; scanned rows price the
    * probed lists from a bounded-key size join (sum of probed list
    * sizes minus the self rows the probe excludes) — no full rescan per
    * arm. The corpus size attaches via the PlanLint-whitelisted 1-row
    * broadcast. */
  def ivfProbeTuning(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val centroids = ivfCentroids(e).cache()
    val lists = assign(e, centroids)
      .withColumn("nrm", GraftFunctions.vec_norm(col("embedding")))
      .cache() // 3 probe arms + the size rollup
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        GraftFunctions.vec_norm(col("embedding")).as("nq"))
    val bf = annBruteForce(spark, dir)
      .select(col("query_id"), col("neighbor_id")).cache()
    val listSizes = lists.groupBy("cl").agg(count(lit(1)).as("lsz"))
    val ownList = lists.select(col("vec_id").as("query_id"), col("cl"))
    val nCorpus = e.agg(count(lit(1)).as("n_corpus"))
    val frames = TuneProbes.map { np =>
      // ONE probe selection per arm, shared by the rank tail and the
      // scan pricing (in-round review finding: the centroid join + rank
      // window subtree was planned twice per arm)
      val probes = probeSelection(q, centroids, np)
      val ap = ivfProbeTopK(q, centroids, lists, excludeSelf = true,
        nprobe = np, precomputedProbes = Some(probes))
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1L))
      val rec = bf.join(ap, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      // scanned candidates = Σ probed list sizes − the probe's own rows
      // (excludeSelf drops each query's own vector when its list is hit)
      val pr = probes.select("query_id", "cl")
      val scanned = pr.join(listSizes, Seq("cl"))
        .agg(sum(col("lsz")).as("rows_in_probed"))
      val own = pr.join(ownList, Seq("query_id", "cl"))
        .agg(count(lit(1)).as("n_own"))
      rec.crossJoin(broadcast(scanned)).crossJoin(broadcast(own))
        .crossJoin(broadcast(nCorpus))
        .select(lit(np).cast("bigint").as("nprobe"),
          col("n_true"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_true")).as("recall"),
          (col("rows_in_probed") - col("n_own")).as("n_candidates"),
          ((col("rows_in_probed") - col("n_own")).cast("double") /
            (lit(NumQueries.toLong) * (col("n_corpus") - 1)))
            .as("scan_frac"))
    }
    frames.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  /** The subspace counts [[pqTuning]] sweeps — bracketing the production
    * PqM=4 (Dim=64 → sub_dim 32/16/8, bits/vec 8/16/32 at K=16). */
  private val TunePqMs = Seq(2, 4, 8)

  /** PQ GEOMETRY sweep — the third leg of the tuning triad (q_lsh_tuning
    * picks the banding, q_kmeans_tuning the coarse K, this the product-
    * quantization subspace count): for each M, train the exact production
    * codebook recipe (mod-K init + one Lloyd step per subspace,
    * [[pqCodebookK]]'s chain) and report the compression-vs-fidelity
    * trade — bits per vector against mean squared reconstruction error
    * (Jégou et al. 2011's central design knob: more subspaces = more
    * bits = finer quantization = costlier ADC tables).
    *
    * Exactness: the per-subvector reconstruction error
    * ‖sub − cent‖² = na2 − 2·⟨sub,cent⟩ + nc2 is the same double
    * arithmetic the ADC distance uses (oracle-proven in q_ann_pq),
    * quantized to the 2^20 grid and LONG-summed — order-free,
    * partition-independent, bit-replayable. Scale: per M one linear
    * train + one encode pass; the error join broadcasts the M·K-row
    * codebook; output is |TunePqMs| rows. */
  def pqTuning(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).cache()
    val frames = TunePqMs.map { mCount =>
      val subDim = Dim / mCount
      val subs = subvectorsM(e, mCount)
      val cb = pqCodebookFor(subs, PqK).cache() // encode + error join
      val err = pqAssign(subs, cb)
        .join(broadcast(cb), Seq("m", "code"))
        .select(col("m"), col("code"),
          round((col("na2") -
            lit(2.0) * GraftFunctions.vec_dot(col("sub"), col("cent")) +
            col("nc2")) * lit(CosScale)).cast("long").as("qe"))
      err.agg(
        count(lit(1)).as("n_subvectors"),
        countDistinct(col("m"), col("code")).as("codes_used"),
        (sum(col("qe")).cast("double") / count(lit(1)) / lit(CosScale))
          .as("mean_sq_err"))
        .select(lit(mCount).cast("bigint").as("m_subspaces"),
          lit(subDim).cast("bigint").as("sub_dim"),
          lit(mCount * PqCodeBits).cast("bigint").as("bits_per_vec"),
          col("n_subvectors"), col("codes_used"), col("mean_sq_err"))
    }
    frames.reduce(_.unionByName(_)).orderBy("m_subspaces")
  }

  // ----------------------------------------------------- persisted IVF index
  /** Persist the trained IVF index for ONLINE probing: the K centroids
    * plus the inverted lists written PARTITIONED BY LIST (`cl`) — a probe
    * that joins on a handful of probed cl values scans only those
    * partitions' files (partition pruning), which is the persisted-index
    * analogue of q_snap_neardup's band index: index-build cost is paid
    * once, each query batch pays only its probed share of the corpus.
    * Mirrors buildSnapNearDupIndex's lifecycle (unpersist once both
    * writes complete — no reliance on the harnesses' clearCache loop). */
  def buildAnnIndex(spark: SparkSession, dir: String, indexDir: String): Unit = {
    val e = Tables.embeddings(spark, dir)
    val centroids = ivfCentroids(e).cache()
    try {
      centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$indexDir/centroids")
      assign(e, centroids)
        .withColumn("nrm", GraftFunctions.vec_norm(col("embedding")))
        .write.mode("overwrite").partitionBy("cl")
        .parquet(s"$indexDir/lists")
    } finally centroids.unpersist()
  }

  /** INCREMENTAL index maintenance: append a batch of new vectors to a
    * [[buildAnnIndex]] index WITHOUT retraining — assign them against the
    * PERSISTED centroids (the quantizer stays fixed between retrains,
    * the standard production pattern: new data joins existing lists;
    * retrain when [[ivfStats]] says the coarse fit drifted). Per batch
    * the work is batch-proportional: one map-side assignment against the
    * K-row persisted centroid frame, one partitioned append — the
    * corpus-sized lists are never read or rewritten, and dynamic
    * partition append only touches the lists the batch lands in.
    * `batch` must carry (vec_id, embedding).
    *
    * Replay caveat: a plain parquet append is NOT idempotent — a caller
    * that may retry a batch must wrap this in the same epoch discipline
    * the streaming sink uses (StreamingOps' checkpointed micro-batch
    * sink, or a per-batch subdirectory committed atomically). */
  def appendToAnnIndex(spark: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    val centroids = Tables.read(spark, s"$indexDir/centroids")
    assign(batch.select(col("vec_id"), col("embedding")), centroids)
      .withColumn("nrm", GraftFunctions.vec_norm(col("embedding")))
      .write.mode("append").partitionBy("cl")
      .parquet(s"$indexDir/lists")
  }

  /** Probe a [[buildAnnIndex]] index with an arbitrary query frame
    * (query_id, qe) — the SAME probe+rank tail as [[annIvf]], minus the
    * self-exclusion (online queries are not corpus rows; an intake that
    * probes with a corpus vector WANTS the exact match back, cos ≈ 1).
    * Batch-shaped on purpose: the streaming intake calls it per
    * micro-batch through its sink (StreamingOps.annIntakeStream), where
    * each batch is a plain DataFrame and the rank window is legal. */
  def annIndexProbe(spark: SparkSession, indexDir: String,
      queries: DataFrame): DataFrame = {
    val centroids = Tables.read(spark, s"$indexDir/centroids")
    val lists = Tables.read(spark, s"$indexDir/lists")
    val q = queries.select(col("query_id"), col("qe"),
      GraftFunctions.vec_norm(col("qe")).as("nq"))
    ivfProbeTopK(q, centroids, lists, excludeSelf = false,
        broadcastProbes = true)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
  }

  // ------------------------------------------------- index lifecycle audit
  /** INDEX-LIFECYCLE DRIFT AUDIT — the check an ANN operations team runs
    * after [[appendToAnnIndex]] grows a [[buildAnnIndex]] index WITHOUT
    * retraining: did the frozen coarse quantizer absorb the new data, or
    * has it drifted enough to warrant a rebuild? The audit replays the
    * whole lifecycle as one deterministic dataflow (base corpus =
    * vec_id%10<8, appended batch = the rest — the q_snap_dedup snapshot
    * convention): centroids train on the BASE only and stay FIXED across
    * the append (exactly what appendToAnnIndex does against the
    * persisted centroid frame), and the output reports, per inverted
    * list, occupancy before/after the append (hot-list skew growth —
    * probe cost variance) and the mean member cosine to the centroid
    * before/after (coarse-fit drift: falling means the quantizer
    * under-fits the grown corpus), plus two scalar columns: probe
    * recall@k against the exact baseline BEFORE and AFTER (did
    * unretrained growth actually hurt retrieval?). recall_after <<
    * recall_before is the retrain trigger.
    *
    * Scale shape: every corpus-grain step is one map-side pass — the
    * assignment argmax against the packed single-row centroid broadcast
    * ([[assign]]) and the exact baseline against the broadcast query set
    * (the stated O(n·q) audit cost, same as q_ann_recall); aggregations
    * key on cl (K-bounded) or query_id (query-bounded). The two recall
    * scalars attach via the whitelisted 1-row crossJoin(broadcast)
    * pattern. Mean cosines use the same 2^20 integer-moment grid as
    * [[ivfStats]] — order-free, partition-independent, DuckDB-replayable
    * (the oracle replays training, append, both indexes, both baselines,
    * and both recall measurements). */
  def indexDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val base = e.where(col("vec_id") % 10 < 8)
    val batch = e.where(col("vec_id") % 10 >= 8)
    val centroids = ivfCentroidsK(base, IvfK).cache()
    // both assignment frames feed ~4 consumers each (list stats, the
    // union, the exact baseline, the probe scan) — cache them or the
    // corpus-wide argmax recomputes per consumer (the clusterScopedDedup
    // convention; harness clearCache sweeps them)
    val before = assign(base, centroids)
      .withColumn("nrm", GraftFunctions.vec_norm(col("embedding")))
      .cache()
    val after = before.unionByName(
      assign(batch, centroids)
        .withColumn("nrm", GraftFunctions.vec_norm(col("embedding"))))
      .cache()
    val qc = quantizedMemberCos(col("nrm"), col("cnrm"))
    val centroidsN = centroids
      .withColumn("cnrm", GraftFunctions.vec_norm(col("centroid")))
    def listStats(lists: DataFrame, suffix: String): DataFrame =
      lists.join(broadcast(centroidsN), Seq("cl"))
        .select(col("cl"), qc.as("qc"))
        .groupBy("cl")
        .agg(count(lit(1)).as(s"n_$suffix"), sum(col("qc")).as("s1"))
        .select(col("cl"), col(s"n_$suffix"),
          (col("s1").cast("double") / col(s"n_$suffix") / lit(CosScale))
            .as(s"mean_cos_$suffix"))
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        GraftFunctions.vec_norm(col("embedding")).as("nq"))
    def bruteTopK(corpus: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          VectorOps.cosinePrenorm(col("qe"), col("embedding"),
            col("nq"), col("nrm")).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK)
        .select(col("query_id"), col("neighbor_id"))
    }
    def probeTopK(lists: DataFrame): DataFrame =
      ivfProbeTopK(q, centroids, lists, excludeSelf = true)
        .select(col("query_id"), col("neighbor_id"))
    def recallOf(bf: DataFrame, ap: DataFrame, name: String): DataFrame =
      bf.join(ap.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as(name))
    centroids.select(col("cl"))
      .join(listStats(before, "before"), Seq("cl"), "left")
      .join(listStats(after, "after"), Seq("cl"), "left")
      .select(col("cl"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (coalesce(col("n_after"), lit(0L)) -
          coalesce(col("n_before"), lit(0L))).as("n_appended"),
        col("mean_cos_before"), col("mean_cos_after"))
      .crossJoin(broadcast(recallOf(bruteTopK(before), probeTopK(before),
        "recall_before")))
      .crossJoin(broadcast(recallOf(bruteTopK(after), probeTopK(after),
        "recall_after")))
      .orderBy("cl")
  }

  // ------------------------------------------------------------ IVF-PQ (IVFADC)
  /** IVF-PQ residual index — the IVFADC architecture (Jégou et al. 2011;
    * FAISS `IVFx,PQy`) every at-scale ANN deployment actually runs: the
    * coarse IVF quantizer decides WHERE a query looks (nprobe of K
    * inverted lists), and PQ codebooks trained on the RESIDUALS r = x −
    * c[assign(x)] decide what the scan READS (M small codes per vector
    * instead of the float array). Training PQ on residuals instead of raw
    * vectors is the whole point of the combination: residuals concentrate
    * near 0 with far smaller spread than the raw corpus, so the same
    * codebook budget quantizes them with much less error.
    *
    * Composition of the two trained pipelines this engine already
    * verifies end-to-end: the coarse side IS [[ivfCentroids]]/[[assign]]
    * (cosine argmax, order-free integer-moment means — the q_ann_ivf
    * chain), the fine side IS [[pqCodebookK]]/[[pqAssign]] run on the
    * residual frame (L2, native NearestCode ADC — the q_ann_pq chain),
    * and the residual step itself is the native
    * [[GraftFunctions.vec_sub]] (one IEEE double subtraction + float
    * cast per element — corpus-grain, so the interpreted zip_with form
    * is banned; DuckDB replays it exactly, which is what lets the WHOLE
    * trained index carry a driver oracle).
    *
    * Scale shape: every corpus-grain step is map-side against a bounded
    * broadcast (K centroids for assignment/residuals, M packed codebooks
    * for the encode, the queries×nprobe×M×K ADC table for the scan); the
    * candidate scan reads CODES ONLY and touches nprobe/K of the corpus
    * (the dtable join keys on `cl` — a list no query probed contributes
    * zero rows); only the 10·k-row shortlist ever joins back to the full
    * vectors for the exact re-rank. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPqWith(Tables.embeddings(spark, dir), PqK)

  /** Deterministic training-subset modulus for the production codebook:
    * codebooks train on vec_id ≡ 0 (mod 4) — 1/4 of the corpus — and
    * encode EVERYTHING. This is how production PQ actually trains
    * (FAISS recommends ~10k-100k training points per codebook
    * regardless of corpus size: Lloyd iterations converge on a sample;
    * the full pass is only the encode). The modulus keeps the sample
    * deterministic and partition-independent — no RNG, replayable. */
  private val PqTrainSampleMod = 4

  /** PRODUCTION-CODEBOOK bench alias (`x_ann_ivfpq256`): K=256 codes per
    * subspace over the residuals (the registered q_ann_ivfpq pins K=16
    * because its unrolled DuckDB training CTE grows with K — same split
    * as q_ann_pq / x_ann_pq256), trained on the deterministic 1/4
    * subset ([[PqTrainSampleMod]]) — at corpus scale the K-proportional
    * training term is the index-build bottleneck and a sample-trained
    * codebook is the standard remedy. Exact duplicates still encode
    * identically (the encode is over the FULL corpus with one shared
    * codebook), so planted-dup retrieval is unaffected — spec-pinned. */
  def annIvfPqProduction(spark: SparkSession, dir: String): DataFrame =
    annIvfPqWith(Tables.embeddings(spark, dir), 256, PqTrainSampleMod)

  private def annIvfPqWith(e: DataFrame, k: Int,
      trainSampleMod: Int = 1): DataFrame = {
    val centroids = ivfCentroids(e).cache()
    // corpus residuals vs the OWN list's centroid — map-side (bounded
    // K-row centroid broadcast); cached: codebook training reads it
    // twice, the encode once
    val resid = assign(e, centroids)
      .join(broadcast(centroids), Seq("cl"))
      .select(col("vec_id"), col("cl"),
        GraftFunctions.vec_sub(col("embedding"), col("centroid")).as("embedding"))
      .cache()
    // codebooks train on the (possibly sampled) subset; the ENCODE below
    // always covers the full corpus with the one shared codebook. The
    // sampled ids are divided back down so the deterministic mod-K init
    // still seeds EVERY code (multiples of the modulus alone would only
    // ever init gcd(mod,K)-spaced codes).
    val trainSet =
      if (trainSampleMod <= 1) resid
      else resid.where(pmod(col("vec_id"), lit(trainSampleMod)) === 0)
        .withColumn("vec_id", (col("vec_id") / trainSampleMod).cast("long"))
    val codebook = pqCodebookK(trainSet.select("vec_id", "embedding"), k).cache()
    // (vec_id, cl, m, code): the stored index — codes partitioned by list
    val codes = pqAssign(subvectors(resid), codebook)
      .select(col("vec_id"), col("cl"), col("m"), col("code"))
    // queries probe the IvfProbes nearest coarse centroids (same cosine
    // ranking as annIvf), then quantize THEIR residual against each
    // probed centroid — ADC distances are residual-to-residual per list
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cl").asc)
    val probes = q.join(broadcast(centroids))
      .select(col("query_id"), col("qe"), col("cl"), col("centroid"),
        VectorOps.cosine(col("qe"), col("centroid")).as("csim"))
      .withColumn("prank", row_number().over(wq))
      .where(col("prank") <= IvfProbes)
      .select(col("query_id"), col("qe"), col("cl"), col("centroid"))
    val qsubs = subvectors(probes
        .select(col("query_id"), col("cl"),
          GraftFunctions.vec_sub(col("qe"), col("centroid")).as("embedding")))
      .select(col("query_id"), col("cl"), col("m"),
        col("sub").as("qsub"), col("na2").as("nq2"))
    // ADC table per probed list: queries × nprobe × M × K rows, broadcast
    val dtable = qsubs.join(codebook, Seq("m"))
      .select(col("query_id"), col("cl"), col("m"), col("code"),
        (col("nq2") - lit(2.0) * GraftFunctions.vec_dot(col("qsub"), col("cent"))
          + col("nc2")).as("d2"))
    // keying the ADC join on cl is the IVF pruning: unprobed lists
    // contribute zero rows
    adcRerank(e, q, codes, dtable, Seq("cl", "m", "code"))
  }

  // ---------------------------------------------------------------- quantize
  /** Per-vector int8 scalar quantization (scale = 127/max|x|) — the
    * storage/transport compression step an ANN index applies before
    * persisting vectors (4× smaller than float32, dot products stay
    * SIMD-able). Pure map-side: every output is a narrow per-row
    * transform, no shuffle at any SF. The quantized stats are integers,
    * so the oracle comparison is exact — both engines compute the same
    * double products before the identical half-away-from-zero round.
    * Zero vectors quantize to all-zero (scale 0) rather than NaN.
    *
    * The per-row scale (127/this row's max|x|) is why the
    * [[org.apache.spark.sql.graftext.FloatVectorQuantize]] literal-scale
    * expression doesn't apply here; the outputs being per-VECTOR
    * reductions is why an explode rewrite would turn a shuffle-FREE scan
    * into an n·d-row exchange. [[org.apache.spark.sql.graftext.FloatQuantizeStats]]
    * fuses the whole thing — max|x|, scale, quantize, sum/min/max — into
    * one native pass per row (replacing a 4-pass interpreted HOF chain
    * that measured 13 s at the 100× corpus for a map-side scan),
    * bit-parity-pinned against the HOF form in VectorExprSpec. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    import GraftFunctions.vec_quantize_stats
    val e = Tables.embeddings(spark, dir)
    e.select(col("vec_id"), col("embedding"),
        vec_quantize_stats(col("embedding")).as("st"))
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        col("st.max_abs_f").cast("double").as("max_abs"),
        col("st.scale").as("scale"),
        col("st.q_sum").as("q_sum"),
        col("st.q_min").as("q_min"),
        col("st.q_max").as("q_max"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------- per-class embedding QA
  /** Quantization grid for [[labelCentroids]]: 2^20 ticks per unit. */
  private val CentroidScale = 1048576.0

  // ------------------------------------------------------------------- PCA
  /** Power-iteration steps for [[embedPca]] — unrolled in the oracle. */
  private val PcaIters = 3

  /** TOP PRINCIPAL COMPONENT of the embedding corpus by deterministic
    * power iteration — the PCA/whitening front-end real embedding
    * pipelines run before dedup/ANN (SemDeDup whitens; mean-centering
    * alone routinely buys recall): per dimension the corpus mean and the
    * first principal direction, plus the Rayleigh-quotient eigenvalue
    * (the variance that component explains) as a scalar attach.
    *
    * Fully in DataFrames, fully order-free, so the whole trained chain
    * replays in DuckDB:
    *  - second moments Σ qᵢₚqᵢ_q from the 2^20-quantized components via
    *    the single-pass [[org.apache.spark.sql.graftext.GramMoments]]
    *    aggregate (q ≥ p upper triangle — Gram symmetry halves the
    *    moment work; 128-bit integer accumulation, d(d+1)/2 cells of
    *    state per partition): the corpus is read ONCE map-side and the
    *    only shuffle is one ~50 KB state buffer per partition — no pair
    *    explode, no self-join, no float accumulation; the strict-upper
    *    half mirrors after aggregation (exact integer sums ⇒
    *    bit-identical). The covariance then derives per (p,q) as
    *    s2/n/S² − μₚμ_q in exact double arithmetic.
    *  - each iteration's matrix-vector product quantizes its d per-term
    *    products to the grid and LONG-sums them (order-free; a double
    *    sum over even 64 terms would be partition-order-dependent), and
    *    normalizes by the IEEE-exact sqrt of the exact Σw̃². Bounds: |c| ≤
    *    max|x|² ≈ 4, so |w̃ₚ| ≤ d·4·2^20 < 2^29 and Σw̃² < 2^63 — no
    *    overflow, and both engines compute identical longs.
    *  - v₀ = e₀; [[PcaIters]] fixed iterations (the oracle unrolls them —
    *    the registered-toy-size convention of every trained chain here).
    *
    * Scale: the corpus-grain work is ONE map-side pass (quantize +
    * GramMoments partials); the shuffle moves one d²-cell state buffer
    * per partition and the iteration frames are d and d² rows —
    * driver-free, broadcast-joined. This is the fold-into-a-custom-
    * aggregate shape the round-10 audit predicted production would
    * need (it replaced the n·d²/2-row pair explode that previously
    * dominated — ~409M shuffled rows at the 100× corpus). */
  /** The trained chain shared by [[embedPca]] (which reports it) and
    * [[embedProject]] (which applies it): (mu(p,mu,n), cov(p,q,c),
    * pc(p,pc1)). */
  private def pcaMuCovPc(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // ONE corpus pass: quantize each vector at array grain (native
    // codegen'd FloatVectorQuantize), then fold counts, first moments and
    // the UPPER-TRIANGLE second-moment matrix into the GramMoments
    // aggregate — d(d+1)/2 cells of 128-bit integer state per partition
    // (~50 KB at d=64), merged once. This replaces the n·d²/2-row pair
    // explode that dominated the plan (~409M shuffled rows at the 100×
    // corpus); the only corpus shuffle left is one state buffer per
    // partition. Integer accumulation is order-free, so the emitted
    // n/s1/s2 are BIT-IDENTICAL to the explode+sum formulation at any
    // partitioning — the DuckDB oracle (HUGEINT sums over the same grid)
    // is untouched.
    import GraftFunctions.gram_moments
    // cached (r16 opt): this ONE-ROW aggregate is the corpus pass, and
    // every downstream frame (mu, cov, the power loop's v chain, the
    // Rayleigh quotient) carries it in its lineage — uncached, the
    // whole-corpus GramMoments scan re-ran once per reference (~7× per
    // query). The cached state is one row of d(d+1)/2 cells (~100 KB).
    val g = e
      .select(GraftFunctions.vec_quantize(col("embedding"), CentroidScale).as("qa"))
      .agg(gram_moments(col("qa")).as("g"))
      .cache()
    val mu = g
      .select(posexplode(arrays_zip(col("g.n").as("n"), col("g.s1").as("s1")))
        .as(Seq("p", "z")))
      .select(col("p"),
        (col("z.s1").cast("double") / col("z.n") / lit(CentroidScale)).as("mu"),
        col("z.n").as("n"))
      .cache() // d rows; read by cov (2×), the v seed, and the emit
    // Gram symmetry (ADVICE r10): the aggregate carries only q ≥ p; the
    // strict-upper half is mirrored (exact integer sums ⇒ the mirrored
    // value is bit-identical to what a full aggregation would produce).
    val m2u = g.select(explode(col("g.s2")).as("t"))
      .select(col("t.p").as("p"), col("t.q").as("q"), col("t.s2").as("s2"))
    val m2 = m2u.unionAll(m2u.where(col("p") < col("q"))
      .select(col("q").as("p"), col("p").as("q"), col("s2")))
    val cov = m2
      .join(mu.select(col("p"), col("mu").as("mup"), col("n")), Seq("p"))
      .join(mu.select(col("p").as("q"), col("mu").as("muq")), Seq("q"))
      .select(col("p"), col("q"),
        (col("s2").cast("double") / col("n")
          / lit(CentroidScale) / lit(CentroidScale)
          - col("mup") * col("muq")).as("c"))
      .cache() // d² rows; read once per power iteration + the quotient
    var v = mu.select(col("p").as("q"),
      when(col("p") === 0, lit(1.0)).otherwise(lit(0.0)).as("v"))
    for (_ <- 1 to PcaIters) {
      val w = cov.join(v, Seq("q"))
        .select(col("p"),
          round(col("c") * col("v") * lit(CentroidScale)).cast("long").as("t"))
        .groupBy("p").agg(sum(col("t")).as("wq"))
      val nrm = w.agg(sum(col("wq") * col("wq")).as("n2"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("p").as("q"),
          (col("wq").cast("double") / sqrt(col("n2").cast("double"))).as("v"))
    }
    (mu, cov, v.select(col("q").as("p"), col("v").as("pc1")))
  }

  def embedPca(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val (mu, cov, pc) = pcaMuCovPc(e)
    // Rayleigh quotient λ = vᵀCv (v is unit): quantized per-term products,
    // one order-free long sum over the d² terms
    val eig = cov
      .join(pc.select(col("p"), col("pc1").as("vp")), Seq("p"))
      .join(pc.select(col("p").as("q"), col("pc1").as("vq")), Seq("q"))
      .select(round(col("vp") * col("c") * col("vq")
        * lit(CentroidScale) * lit(CentroidScale)).cast("long").as("t"))
      .agg((sum(col("t")).cast("double")
        / lit(CentroidScale) / lit(CentroidScale)).as("eigval"))
    mu.select(col("p"), col("mu"))
      .join(pc, Seq("p"))
      .crossJoin(broadcast(eig))
      .select(col("p").cast("long").as("pos"), col("mu"), col("pc1"),
        col("eigval"))
      .orderBy("pos")
  }

  /** PCA APPLY step — project every vector on the [[embedPca]]-trained
    * first component: per vec_id the CENTERED projection ⟨x−μ, v⟩ and
    * the residual energy ‖x−μ‖² − proj² (what pc1 does NOT explain).
    * The two numbers an embedding-QA pass thresholds: |proj| outliers
    * are the dominant-axis extremes (often batch/source artifacts — the
    * axis SemDeDup-style pipelines remove), near-zero residual says the
    * corpus collapsed onto one direction (a broken encoder).
    *
    * Parity/scale shape: μ and v collapse to TWO single-row float-array
    * broadcasts (the packed-centroid pattern); every per-vector number
    * is then a composition of FIXED-ORDER array dots (FloatVectorDot:
    * double accumulation in array order — per-row, so no partition-order
    * dependence; `⟨x−μ,v⟩ = ⟨x,v⟩ − ⟨μ,v⟩`, `‖x−μ‖² = ⟨x,x⟩ − 2⟨x,μ⟩ +
    * ⟨μ,μ⟩`), map-side while the corpus streams. DuckDB replays the dots
    * as `list_dot_product` over DOUBLE casts — the proven pattern of
    * every ANN chain here. */
  def embedProject(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val (mu, _, pc) = pcaMuCovPc(e)
    def packed(df: DataFrame, valCol: String, out: String): DataFrame =
      df.agg(array_sort(collect_list(struct(col("p"), col(valCol))))
          .as("pm"))
        .select(expr(s"transform(pm, x -> cast(x.$valCol as float))")
          .as(out))
    val proj = GraftFunctions.vec_dot(col("embedding"), col("pc_arr")) -
      GraftFunctions.vec_dot(col("mu_arr"), col("pc_arr"))
    val cen2 = GraftFunctions.vec_dot(col("embedding"), col("embedding")) -
      lit(2.0) * GraftFunctions.vec_dot(col("embedding"), col("mu_arr")) +
      GraftFunctions.vec_dot(col("mu_arr"), col("mu_arr"))
    e.crossJoin(broadcast(packed(mu.select(col("p"), col("mu")), "mu", "mu_arr")))
      .crossJoin(broadcast(packed(pc, "pc1", "pc_arr")))
      .select(col("vec_id"), proj.as("proj"),
        (cen2 - proj * proj).as("resid2"))
      .orderBy("vec_id")
  }

  /** Shared CTE body replaying [[pcaMuCovPc]] — quantized moments,
    * covariance, [[PcaIters]] unrolled power iterations with
    * grid-quantized matrix-vector products; ends with `mu`, `cov`,
    * `pc`. */
  private def pcaChainCtes: String = {
    val sc = CentroidScale
    def iter(vIn: String, k: Int): String =
      s"""w$k AS (
           SELECT c.p,
                  CAST(sum(CAST(round(c.c * v.v * $sc) AS BIGINT)) AS BIGINT)
                    AS wq
           FROM cov c JOIN $vIn v USING (q) GROUP BY c.p),
         n$k AS (SELECT CAST(sum(wq * wq) AS BIGINT) AS n2 FROM w$k),
         v$k AS (
           SELECT w.p AS q,
                  CAST(w.wq AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) AS v
           FROM w$k w CROSS JOIN n$k n)"""
    val iters = (1 to PcaIters)
      .map(k => iter(if (k == 1) "v0" else s"v${k - 1}", k))
      .mkString(",\n         ")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
         q0 AS (
           SELECT vec_id, CAST(i - 1 AS INT) AS p,
                  CAST(round(CAST(embedding[i] AS DOUBLE) * $sc) AS BIGINT) AS qp
           FROM e, unnest(generate_series(1, len(embedding))) AS u(i)),
         mu AS (
           SELECT p, CAST(sum(qp) AS DOUBLE) / count(*) / $sc AS mu,
                  count(*) AS n
           FROM q0 GROUP BY p),
         m2u AS (
           -- DECIMAL(38,0) like the Spark side's 128-bit GramMoments sum:
           -- the n-term moment outgrows int64 past ~2^21 vectors (a
           -- BIGINT cast of DuckDB's HUGEINT sum would ERROR there while
           -- Spark keeps going) — same fix as labelCentroids' s2
           SELECT a.p, b.p AS q, CAST(sum(a.qp * b.qp) AS DECIMAL(38,0)) AS s2
           FROM q0 a JOIN q0 b ON a.vec_id = b.vec_id AND a.p <= b.p
           GROUP BY 1, 2),
         m2 AS (
           SELECT p, q, s2 FROM m2u
           UNION ALL
           SELECT q AS p, p AS q, s2 FROM m2u WHERE p < q),
         cov AS (
           SELECT m2.p, m2.q,
                  CAST(m2.s2 AS DOUBLE) / mp.n / $sc / $sc - mp.mu * mq.mu AS c
           FROM m2
           JOIN mu mp ON mp.p = m2.p
           JOIN mu mq ON mq.p = m2.q),
         v0 AS (
           SELECT p AS q, CASE WHEN p = 0 THEN 1.0 ELSE 0.0 END AS v
           FROM mu),
         $iters,
         pc AS (SELECT q AS p, v AS pc1 FROM v$PcaIters)"""
  }

  /** DuckDB replay of [[embedPca]] — the shared chain + the Rayleigh
    * eigenvalue. */
  private def embedPcaSql: String = {
    val sc = CentroidScale
    s"""WITH $pcaChainCtes,
         eig AS (
           SELECT CAST(sum(CAST(round(vp.pc1 * c.c * vq.pc1 * $sc * $sc)
                                AS BIGINT)) AS DOUBLE) / $sc / $sc AS eigval
           FROM cov c
           JOIN pc vp ON vp.p = c.p
           JOIN pc vq ON vq.p = c.q)
         SELECT CAST(mu.p AS BIGINT) AS pos, mu.mu, pc.pc1, eig.eigval
         FROM mu JOIN pc USING (p) CROSS JOIN eig
         ORDER BY pos"""
  }

  /** DuckDB replay of [[embedProject]] — the shared chain, μ/v packed to
    * float lists, per-vector fixed-order dots. */
  private def embedProjectSql: String =
    s"""WITH $pcaChainCtes,
         mua AS (SELECT list(CAST(mu AS FLOAT) ORDER BY p) AS mu_arr FROM mu),
         pca AS (SELECT list(CAST(pc1 AS FLOAT) ORDER BY p) AS pc_arr FROM pc),
         s AS (
           SELECT e.vec_id,
                  list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(p.pc_arr AS DOUBLE[]))
                  - list_dot_product(CAST(m.mu_arr AS DOUBLE[]),
                                     CAST(p.pc_arr AS DOUBLE[])) AS proj,
                  list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(e.embedding AS DOUBLE[]))
                  - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(m.mu_arr AS DOUBLE[]))
                  + list_dot_product(CAST(m.mu_arr AS DOUBLE[]),
                                     CAST(m.mu_arr AS DOUBLE[])) AS cen2
           FROM e CROSS JOIN mua m CROSS JOIN pca p)
         SELECT vec_id, proj, cen2 - proj * proj AS resid2
         FROM s ORDER BY vec_id"""

  /** PER-CLASS EMBEDDING STATISTICS: the centroid and spread of each
    * label's vectors, per dimension — the embedding-QA pass that catches
    * collapsed classes (near-zero variance), dead dimensions, and label
    * noise before vectors feed ANN/SemDeDup. The order-free trick: floats
    * quantize to a 2^20 integer grid FIRST (round(x·2^20) — exact, each
    * float is a dyadic rational), then all statistics are LONG sums —
    * associative/commutative, so map-side partial aggregation is exact
    * and the result is independent of partitioning (a naive float sum
    * would be order-dependent and unverifiable; same trick as q_corr's
    * integer moments). Output long-form (label, dim) so no array-compare
    * ambiguity exists in the gate. Mean/variance derive from the exact
    * integer moments in one double division each. One posexplode + one
    * groupBy: a single shuffle of (labels × dims) partial rows. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    // one native quantize pass per row, then explode longs (see
    // [[meansOf]] / graftext.FloatVectorQuantize)
    val q = Tables.embeddings(spark, dir)
      .select(col("label"),
        posexplode(GraftFunctions.vec_quantize(col("embedding"), CentroidScale))
          .as(Seq("pos", "qx")))
      .select(col("label"), col("pos").as("dim"), col("qx"))
    // s1 stays a LONG sum (|s1| ≤ n·2^21: safe past 10^12 vectors per
    // group); s2's VALUE itself outgrows int64 at ~2^21 vectors per
    // group (qx² ≤ 2^42), so it sums as DECIMAL(38,0): still exact
    // integer arithmetic (map-side partials, partition-order-free), with
    // headroom past any conceivable corpus. DuckDB mirrors with its
    // HUGEINT sum cast to the same decimal. The EMITTED s2 is the
    // canonical integer STRING of that decimal, not the decimal itself:
    // this was the registry's only decimal128 result column, and a
    // decimal column's pandas-level representation is engine-version-
    // dependent (DuckDB returned float64 for decimals in older releases,
    // object Decimal in newer ones) — the round-11 driver hash-fail
    // correlates exactly with this column's introduction, while every
    // value is < 2^53 so value-level drift is impossible. A plain
    // integer string has ONE representation everywhere; exactness is
    // unchanged (same integer, boring dtype).
    q.groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("qx")).as("s1"),
        sum((col("qx") * col("qx")).cast("decimal(38,0)")).as("s2"))
      .select(col("label"), col("dim"), col("n_vecs"),
        col("s1"), col("s2").cast("string").as("s2"),
        (col("s1").cast("double") / col("n_vecs") / CentroidScale)
          .as("mean_val"),
        ((col("s2").cast("double") / col("n_vecs")) -
          (col("s1").cast("double") / col("n_vecs")) *
          (col("s1").cast("double") / col("n_vecs"))).as("var_q"))
      .orderBy("label", "dim")
  }

  // ---------------------------------------------------------------- inference
  /** Deterministic linear-model weights on the exact 1/16 grid: every
    * value is a terminating binary fraction, so the float literal here,
    * its double widening, and the oracle's decimal SQL literal are all
    * the SAME number — the dot product is then bit-identical across
    * engines. */
  private[operators] val ScoreWeights: Seq[Float] =
    (0 until Dim).map(i => ((i * 37 + 11) % 33 - 16) / 16.0f)

  /** Batch model inference as a map-side expression — the "score every
    * document with a small quality/relevance model" step of a curation
    * pipeline. The weight vector rides the plan as a literal (the
    * broadcast-a-model pattern: at 100 TB the corpus streams through one
    * codegen'd projection; no shuffle, no per-row JVM calls beyond the
    * native dot). The squash is the RATIONAL z/(1+|z|) rather than a
    * sigmoid: same monotone S-shape, but exp() is transcendental and
    * diverges at the last bit across engines — div/abs are
    * IEEE-exact, so the oracle hash-matches. */
  def embedScore(spark: SparkSession, dir: String): DataFrame = {
    val z = GraftFunctions.vec_dot(col("embedding"), typedlit(ScoreWeights)) + lit(0.25)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"), z.as("logit"))
      .withColumn("score", col("logit") / (lit(1.0) + abs(col("logit"))))
      .orderBy("vec_id")
  }

  /** SemDeDup similarity floor: within-cluster pairs above it are
    * semantic duplicates; the higher-id side is dropped. */
  private val SemDedupTau = 0.9

  /** SemDeDup (semantic dedup): coarse-quantize the corpus with the SAME
    * DataFrame-trained quantizer the IVF index uses, then prune
    * near-identical vectors WITHIN each cluster — the
    * cluster-then-compare architecture that makes embedding-level dedup
    * tractable (all-pairs cosine never materializes; the cluster id is
    * the blocking key, exactly like `label` in q_embed_neardup or
    * `source` in the shingle dedups).
    *
    * Keep rule matches the engine's other dedup apply-steps
    * (q_neardup_keep): a vector is dropped iff some LOWER-id vector in
    * its cluster is > τ cosine-similar — so kept vectors are the min-id
    * canonicals and no kept within-cluster pair exceeds τ (spec-pinned).
    *
    * Scale: the within-cluster self-join is O(Σ cluster²) — production
    * scales K with the corpus (K ≈ n/target_cluster_size) so per-cluster
    * cost stays bounded; here K=16 over the test corpus.
    * Driver-oracle-checked ([[SemDedupSql]] shares the replayed quantizer
    * chain); planted-dup + canonical-property specs carry the semantic
    * claims. */
  def semDeDup(spark: SparkSession, dir: String): DataFrame =
    semDeDupWithK(Tables.embeddings(spark, dir), IvfK)

  private[operators] def semDeDupWithK(e: DataFrame, k: Int): DataFrame =
    clusterScopedDedup(assign(e, ivfCentroidsK(e, k)))

  /** The SemDeDup tail shared by every quantizer: within-cluster >τ pairs
    * drop the higher id; kept rows are the min-id canonicals. `clustered`
    * must carry (vec_id, embedding, cl). */
  private def clusterScopedDedup(assigned: DataFrame): DataFrame = {
    val clustered = assigned
      .withColumn("nrm", GraftFunctions.vec_norm(col("embedding")))
      .cache() // both join sides + the final anti-join read it
    val a = clustered.select(col("cl"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = clustered.select(col("cl"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val drops = a.join(b, Seq("cl"))
      .where(col("vec_a") < col("vec_b"))
      .where(VectorOps.cosinePrenorm(col("ea"), col("eb"),
        col("na"), col("nb")) > SemDedupTau)
      .select(col("vec_b").as("vec_id")).distinct()
    clustered.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cl"))
      .orderBy("vec_id")
  }

  /** TWO-LEVEL quantizer assignment for large K — the IMI/coarse-fine
    * shape every at-scale IVF system uses (FAISS IVF_HNSW, IMI): a flat
    * argmax over K = n/occupancy centroids is itself O(n·K) = O(n²/occ),
    * which merely moves the quadratic from the pair join into the
    * assignment. Instead: train √K coarse cells, assign each vector to
    * its cell (O(n·√K)), then train K/√K children WITHIN each cell
    * (composite id cl1·k2 + j — `meansOf` is reused unchanged on the
    * flat id) and argmax only over the OWN cell's children via an
    * equi-join on cl1 (O(n·√K) again). Total O(n·√K) = O(n^1.5/√occ)
    * vs the flat O(n²/occ); at a real 100 TB K (millions) the same
    * recursion nests once more.
    *
    * Identical vectors take identical argmax decisions at both levels,
    * so exact duplicates still land in one leaf cluster for ANY centroid
    * set — the recall property the dedup depends on (spec-pinned). */
  private[operators] def assignTwoLevel(e: DataFrame, k: Int): DataFrame = {
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val k2 = math.max(2, math.ceil(k.toDouble / k1).toInt)
    val coarse = assign(e, ivfCentroidsK(e, k1))
      .select(col("vec_id"), col("embedding"), col("cl").as("cl1"))
    // children per cell on the composite flat id; one Lloyd refinement
    // scoped to the cell (reassign against own children, re-mean)
    def cellAssign(cents: DataFrame, rows: DataFrame): DataFrame = {
      val packed = cents.withColumn("cl1", expr(s"cl div $k2").cast("int"))
        .groupBy("cl1")
        .agg(collect_list(struct(col("cl"), col("centroid"))).as("cents"))
      rows.join(broadcast(packed), Seq("cl1"))
        .select(col("vec_id"), col("embedding"), col("cl1"),
          GraftFunctions.nearest_centroid(col("cents"), col("embedding")).as("cl"))
    }
    val init = meansOf(coarse.select(
      (col("cl1") * k2 + pmod(col("vec_id"), lit(k2))).cast("int").as("cl"),
      col("embedding")))
    val refined = meansOf(cellAssign(init, coarse).select(col("cl"), col("embedding")))
    cellAssign(refined, coarse).select(col("vec_id"), col("embedding"), col("cl"))
  }

  /** Target mean cluster occupancy for the scale-path SemDeDup — the
    * knob that keeps the within-cluster self-join O(n·occupancy) instead
    * of O(n²/K) with a K that stops matching the corpus. */
  private[operators] val SemDedupOccupancy = 128

  /** The corpus-scaled cluster count every scale-path SemDeDup derives
    * from: K = max([[IvfK]], ⌈n / [[SemDedupOccupancy]]⌉). The count is
    * index-build-time sizing (one columnless scan), not a dataflow
    * collect — the same role AQE's runtime statistics play. */
  private[operators] def scaledSemDedupK(e: DataFrame): Int =
    math.max(IvfK, math.ceil(e.count() / SemDedupOccupancy.toDouble).toInt)

  /** REGISTERED production-scale SemDeDup (round-9 verdict item #1):
    * corpus-scaled K through the TWO-LEVEL quantizer, INSIDE the driver
    * oracle gate. Always the coarse-fine shape — the same algorithm at
    * every corpus size — so ONE oracle replays it everywhere: the
    * blocker that kept the scaled shape bench-only was thought to be
    * the data-dependent K, but only the LLOYD STEPS need static
    * unrolling; K itself is just arithmetic in the init assignment, so
    * DuckDB computes n, K, K1, K2 in scalar CTEs (count/ceil/sqrt are
    * IEEE-exact in both engines) and unrolls the same two training
    * chains (coarse at K1; K2 children within each cell, argmax scoped
    * to the own cell by integer division on the composite id).
    *
    * vs [[semDeDup]] (K=16 flat — kept registered as the
    * small-K reference shape): the within-cluster pair join here stays
    * O(n·occupancy) as the corpus grows, and the assignment stays
    * O(n·√K) — the measured 100× behavior in SCALING.md. Cluster-scoped
    * dedup at a coarser K splits some >τ pairs across clusters (Abbas
    * et al. 2023 accept exactly this); exact replicas are immune for
    * ANY centroid set (identical vectors take identical argmax
    * decisions at both levels — spec-pinned). */
  def semDeDupScaledChecked(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    clusterScopedDedup(assignTwoLevel(e, scaledSemDedupK(e)))
  }

  /** GENERATED from ScoreWeights so the literal can't drift. The weights
    * are exact binary fractions, so the decimal text parses to the same
    * doubles FloatVectorDot works with. */
  private val EmbedScoreSql: String = {
    val wlit = ScoreWeights.map(_.toString).mkString("[", ", ", "]")
    s"""SELECT vec_id, CAST(label AS BIGINT) AS label, logit,
                logit / (1.0 + abs(logit)) AS score
         FROM (
           SELECT vec_id, label,
                  list_dot_product(CAST(embedding AS DOUBLE[]),
                                   $wlit::DOUBLE[]) + 0.25 AS logit
           FROM embeddings)
         ORDER BY vec_id"""
  }

  /** The ONE cosine-quantizer SQL recipe — integer-moment means off the
    * `q0` quantized-component CTE, and the isnan-guarded argmax
    * assignment. Shared by [[IvfChainCtes]], [[scaledQuantizerCtes]] and
    * [[IndexDriftSql]]: three hand-synced copies predated this, and a
    * parity fix (rounding mode, NaN ordering) that missed one would have
    * produced an oracle-only divergence, so the recipe now exists once.
    * NaN ordering: the ASSIGN argmax in Spark is an array_min over
    * struct(negsim, cl), where a NaN negsim sorts LAST — replayed as
    * `isnan(csim) ASC` before `csim DESC`. */
  private object QuantizerSql {
    def means(assignCte: String, out: String): String =
      s"""${out}m AS (
           SELECT a.cl, q0.pos,
                  CAST(sum(q0.qv) AS DOUBLE) / count(*) / $CentroidScale AS m
           FROM q0 JOIN $assignCte a USING (vec_id) GROUP BY 1, 2),
         $out AS (
           SELECT cl, list(CAST(m AS FLOAT) ORDER BY pos) AS centroid
           FROM ${out}m GROUP BY cl)"""
    def argmax(out: String): String =
      s"""$out AS (
           SELECT vec_id, cl FROM (
             SELECT vec_id, cl, row_number() OVER (
               PARTITION BY vec_id
               ORDER BY isnan(csim) ASC, csim DESC, cl ASC) AS rn
             FROM ${out}s) WHERE rn = 1)"""
    def assignTo(corpus: String, centCte: String, out: String): String =
      s"""${out}s AS (
           SELECT e.vec_id, c.cl,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         CAST(c.centroid AS DOUBLE[])) AS csim
           FROM $corpus e, $centCte c),
         ${argmax(out)}"""
    /** The 2^20-grid quantized-component CTE `q0` over a corpus CTE —
      * the integer-moment input every [[means]] call joins. */
    def q0Over(corpus: String): String =
      s"""q0 AS (
           SELECT vec_id, CAST(i - 1 AS INT) AS pos,
                  CAST(round(CAST(embedding[i] AS DOUBLE) * $CentroidScale)
                       AS BIGINT) AS qv
           FROM $corpus, unnest(generate_series(1, len(embedding))) AS u(i))"""
    /** The FULL deterministic trainer chain (mod-K init, means, one Lloyd
      * reassignment, final means, final assignment) — the [[ivfCentroidsK]]
      * twin. `sfx` scopes the CTE names so several Ks can train over the
      * same q0 in one statement; `lists` names the final assignment. */
    def trainChain(corpus: String, k: Int, sfx: String,
        lists: String): String =
      s"""a0$sfx AS (SELECT vec_id, CAST(vec_id % $k AS INT) AS cl FROM $corpus),
         ${means(s"a0$sfx", s"c0$sfx")},
         ${assignTo(corpus, s"c0$sfx", s"a1$sfx")},
         ${means(s"a1$sfx", s"c1$sfx")},
         ${assignTo(corpus, s"c1$sfx", lists)}"""
    /** Quantized member→centroid cosines of an assigned-lists CTE — the
      * [[quantizedMemberCos]] replay shared by the stats audits
      * (IvfStatsSql, IndexDriftSql, KmeansTuningSql). */
    def memberCos(listsCte: String, centCte: String, out: String): String =
      s"""$out AS (
           SELECT l.cl,
                  CAST(round(list_cosine_similarity(
                         CAST(ee.embedding AS DOUBLE[]),
                         CAST(c.centroid AS DOUBLE[])) * $CosScale)
                       AS BIGINT) AS qc
           FROM $listsCte l
           JOIN e ee USING (vec_id)
           JOIN $centCte c USING (cl))"""
  }

  /** Shared CTE prefix replaying the DataFrame-trained IVF quantizer —
    * init assignment (vec_id mod K), order-free integer-moment means,
    * one Lloyd reassignment, final means, final assignment (`lists`).
    * Exact because [[meansOf]] quantizes to the 2^20 grid (long sums →
    * order-free) and every cosine is the driver-proven
    * list_cosine_similarity. (The PROBE windows elsewhere deliberately
    * have no isnan guard: Spark's plain `csim DESC` window treats NaN as
    * largest, same as DuckDB.) */
  private val IvfChainCtes: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
         ${QuantizerSql.q0Over("e")},
         ${QuantizerSql.trainChain("e", IvfK, "", "lists")}"""

  /** The ONE IVF probe-chain SQL recipe — qv/ps (query set × final
    * centroids), the nprobe window, the self-excluded candidate scan,
    * and the exact cosine re-rank. Shared by [[AnnIvfSql]] and
    * [[IvfProbeTuningSql]] (the QuantizerSql lesson: a parity fix —
    * NaN ordering, tie-break, cast — edited in one hand-synced copy is
    * an oracle-only divergence found late at the driver gate). Probe
    * windows are deliberately unguarded (plain csim DESC — see the NaN
    * note on [[IvfChainCtes]]). */
  private object IvfProbeSql {
    val QvPs: String =
      s"""qv AS (SELECT vec_id AS query_id, embedding AS qe
                FROM e WHERE vec_id < $NumQueries),
         ps AS (
           SELECT q.query_id, c.cl,
                  list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                         CAST(c.centroid AS DOUBLE[])) AS csim
           FROM qv q, c1 c)"""
    def probeCand(np: Int, sfx: String): String =
      s"""probes$sfx AS (
           SELECT query_id, cl FROM (
             SELECT query_id, cl, row_number() OVER (
               PARTITION BY query_id ORDER BY csim DESC, cl ASC) AS prank
             FROM ps) WHERE prank <= $np),
         cand$sfx AS (
           SELECT p.query_id, l.vec_id AS neighbor_id
           FROM probes$sfx p JOIN lists l USING (cl)
           WHERE l.vec_id != p.query_id)"""
    def rerank(sfx: String): String =
      s"""scored$sfx AS (
           SELECT c.query_id, c.neighbor_id,
                  list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                         CAST(ne.embedding AS DOUBLE[])) AS cos_sim
           FROM cand$sfx c
           JOIN qv q USING (query_id)
           JOIN e ne ON ne.vec_id = c.neighbor_id),
         ranked$sfx AS (
           SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
           FROM scored$sfx)"""
  }

  /** DuckDB replay of [[annIvf]] off the shared quantizer chain: the
    * [[IvfProbeSql]] probe chain at nprobe = IvfProbes. */
  private val AnnIvfSql: String =
    s"""WITH $IvfChainCtes,
         ${IvfProbeSql.QvPs},
         ${IvfProbeSql.probeCand(IvfProbes, "")},
         ${IvfProbeSql.rerank("")}
         SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
         WHERE rank <= $TopK ORDER BY query_id, rank"""

  /** DuckDB replay of [[ivfProbeTuning]] — the probe sweep off the
    * shared quantizer chain: for each nprobe arm the [[AnnIvfSql]] probe
    * window / candidate scan / cosine re-rank (plain windows, no isnan
    * guard — probe convention), the exact cosine baseline
    * ([[AnnBruteForceSql]] shape), the recall left-join, and the
    * scanned-rows pricing from the probed list sizes. GENERATED from the
    * same TuneProbes / NumQueries / TopK constants. */
  private lazy val IvfProbeTuningSql: String = {
    val perNp = TuneProbes.map { np =>
      val sfx = s"_$np"
      s"""${IvfProbeSql.probeCand(np, sfx)},
         ${IvfProbeSql.rerank(sfx)},
         ap$sfx AS (
           SELECT query_id, neighbor_id FROM ranked$sfx
           WHERE rank <= $TopK),
         rec$sfx AS (
           SELECT CAST(count(*) AS BIGINT) AS n_true,
                  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
           FROM bf b LEFT JOIN ap$sfx a
             ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
         scan$sfx AS (
           SELECT CAST(sum(z.lsz) AS BIGINT) AS rows_in_probed
           FROM probes$sfx p JOIN lsz z USING (cl)),
         own$sfx AS (
           SELECT CAST(count(*) AS BIGINT) AS n_own
           FROM probes$sfx p JOIN lists l
             ON l.vec_id = p.query_id AND l.cl = p.cl),
         stat$sfx AS (
           SELECT CAST($np AS BIGINT) AS nprobe, r.n_true, r.n_hit,
                  CAST(r.n_hit AS DOUBLE) / r.n_true AS recall,
                  s.rows_in_probed - o.n_own AS n_candidates,
                  CAST(s.rows_in_probed - o.n_own AS DOUBLE)
                    / ($NumQueries * (nc.n_corpus - 1)) AS scan_frac
           FROM rec$sfx r, scan$sfx s, own$sfx o, nc)"""
    }.mkString(",\n         ")
    val union = TuneProbes.map(np => s"SELECT * FROM stat_$np")
      .mkString(" UNION ALL ")
    s"""WITH $IvfChainCtes,
         ${IvfProbeSql.QvPs},
         bf AS (SELECT query_id, neighbor_id FROM ($AnnBruteForceSql)),
         lsz AS (SELECT cl, count(*) AS lsz FROM lists GROUP BY cl),
         nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM e),
         $perNp
         SELECT * FROM ($union) ORDER BY nprobe"""
  }

  /** Within-cluster pairs of a quantizer chain's `lists(vec_id, cl)` over
    * `e` (la.vec_id < lb.vec_id) whose cosine exceeds `tau`, `cols`
    * selected: the SemDeDup drop rule, also replayed by
    * [[DedupOps.embedNearDup]]'s oracle. */
  private[operators] def clusterPairsSql(cols: String, tau: Double): String =
    s"""SELECT $cols
           FROM lists la
           JOIN lists lb ON la.cl = lb.cl AND la.vec_id < lb.vec_id
           JOIN e a ON a.vec_id = la.vec_id
           JOIN e b ON b.vec_id = lb.vec_id
           WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))
                   > $tau"""

  /** The SemDeDup tail over a quantizer chain: within-cluster a<b pairs
    * above τ mark the higher id dropped; survivors emit (vec_id, cl). */
  private val SemDedupTailSql: String =
    s"""drops AS (
           ${clusterPairsSql("DISTINCT lb.vec_id", SemDedupTau)})
         SELECT l.vec_id, l.cl FROM lists l
         WHERE l.vec_id NOT IN (SELECT vec_id FROM drops)
         ORDER BY vec_id"""

  /** DuckDB replay of [[semDeDup]] off the shared quantizer chain: the
    * final assignment IS the clustering. */
  private val SemDedupSql: String =
    s"""WITH $IvfChainCtes,
         $SemDedupTailSql"""

  /** DuckDB replay of [[semDeDupScaledChecked]] — the WHOLE two-level
    * corpus-scaled quantizer, with n/K/K1/K2 computed by the oracle
    * itself (scalar `kq` CTE; count/ceil/sqrt are engine-exact): the
    * coarse chain trains K1 centroids exactly like [[IvfChainCtes]],
    * children init on the composite id cl1·K2 + vec_id mod K2, and the
    * cell-scoped argmax restricts candidates to the own cell's children
    * via integer division (`c.cl // k2 = r.cl1` — DuckDB `//` == Spark
    * `div` on the non-negative ids). Means are the order-free
    * integer-moment replay; argmax NaN/tie order mirrors the native
    * NearestCentroid (isnan ASC, csim DESC, cl ASC). Tail = the same
    * within-cluster >τ drop as [[SemDedupSql]]. */
  private def semDedupScaledSql: String =
    s"""WITH $scaledQuantizerCtes,
         $SemDedupTailSql"""

  /** Shared CTE body for the dynamic-K two-level quantizer (ends with
    * `lists(vec_id, cl)` over `e`) — the chain behind
    * [[semDeDupScaledChecked]] and the cluster-blocked
    * [[DedupOps.embedNearDup]] oracle. */
  private[operators] def scaledQuantizerCtes: String = {
    val sc = CentroidScale
    def means(assignCte: String, out: String): String =
      QuantizerSql.means(assignCte, out)
    def assignTo(centCte: String, out: String): String =
      QuantizerSql.assignTo("e", centCte, out)
    def cellAssign(centCte: String, out: String): String =
      s"""${out}s AS (
           SELECT r.vec_id, c.cl,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         CAST(c.centroid AS DOUBLE[])) AS csim
           FROM coarse r
           CROSS JOIN kq
           JOIN e ON e.vec_id = r.vec_id
           JOIN $centCte c ON c.cl // kq.k2 = r.cl1),
         ${QuantizerSql.argmax(out)}"""
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
         kq AS (
           SELECT k, k1,
                  GREATEST(2, CAST(ceil(CAST(k AS DOUBLE) / k1) AS INT)) AS k2
           FROM (
             SELECT k,
                    GREATEST(2, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS INT)) AS k1
             FROM (
               SELECT GREATEST($IvfK,
                        CAST(ceil(CAST(count(*) AS DOUBLE)
                                  / $SemDedupOccupancy) AS INT)) AS k
               FROM e))),
         q0 AS (
           SELECT vec_id, CAST(i - 1 AS INT) AS pos,
                  CAST(round(CAST(embedding[i] AS DOUBLE) * $sc) AS BIGINT) AS qv
           FROM e, unnest(generate_series(1, len(embedding))) AS u(i)),
         a0 AS (SELECT vec_id, CAST(vec_id % kq.k1 AS INT) AS cl FROM e, kq),
         ${means("a0", "c0")},
         ${assignTo("c0", "a1")},
         ${means("a1", "c1")},
         ${assignTo("c1", "a2")},
         coarse AS (SELECT vec_id, cl AS cl1 FROM a2),
         ci AS (
           SELECT vec_id,
                  CAST(cl1 * kq.k2 + (vec_id % kq.k2) AS INT) AS cl
           FROM coarse, kq),
         ${means("ci", "cm0")},
         ${cellAssign("cm0", "ca1")},
         ${means("ca1", "cm1")},
         ${cellAssign("cm1", "lists")}"""
  }

  /** DuckDB replay of [[annPq]] — the full trained pipeline: subvector
    * views, order-free integer-moment codebook training (init mod-K, one
    * Lloyd step), final code assignment, the ADC distance table, the
    * fixed-order pivoted ADC shortlist, and the exact-L2 refinement.
    * NaN ordering mirrors the Spark forms exactly: the ASSIGN argmin is
    * an array_min (NaN last → `isnan ASC` guard); the shortlist/refine
    * windows are plain ASC sorts (NaN last in BOTH engines → no guard,
    * same as the Spark windows). */
  /** The ONE product-quantizer codebook SQL recipe — per-subspace
    * integer-moment codeword means (+ the nc2 self-dot) and the
    * isnan-guarded nearest-code assignment — shared by [[AnnPqSql]]
    * (raw subvectors: sq/subs) and [[AnnIvfPqSql]] (residual
    * subvectors: rsq/rsubs); they were two hand-synced copies differing
    * only in those CTE names. */
  private object PqSql {
    def means(momentCte: String, assignJoin: String, out: String): String =
      s"""${out}m AS (
           SELECT s.m, a.code, s.pos,
                  CAST(sum(s.qv) AS DOUBLE) / count(*) / $CentroidScale AS mv
           FROM $momentCte s JOIN $assignJoin GROUP BY 1, 2, 3),
         ${out}l AS (
           SELECT m, code, list(CAST(mv AS FLOAT) ORDER BY pos) AS cent
           FROM ${out}m GROUP BY m, code),
         $out AS (
           SELECT m, code, cent,
                  list_dot_product(CAST(cent AS DOUBLE[]),
                                   CAST(cent AS DOUBLE[])) AS nc2
           FROM ${out}l)"""
    def assignTo(subsCte: String, cb: String, out: String): String =
      s"""${out}s AS (
           SELECT s.vec_id, s.m, c.code,
                  s.na2 - 2.0 * list_dot_product(CAST(s.sub AS DOUBLE[]),
                                                 CAST(c.cent AS DOUBLE[]))
                    + c.nc2 AS d2
           FROM $subsCte s JOIN $cb c ON c.m = s.m),
         $out AS (
           SELECT vec_id, m, code FROM (
             SELECT vec_id, m, code, row_number() OVER (
               PARTITION BY vec_id, m
               ORDER BY isnan(d2) ASC, d2 ASC, code ASC) AS rn
             FROM ${out}s) WHERE rn = 1)"""
    /** The ADC shortlist and exact-L2 re-rank tail: per (query, stored
      * vector) the ADC distance summed in FIXED subspace order over
      * `$codes k JOIN dtable d` on the `keys` columns, the PqShortlist
      * nearest per query, then exact |x−q|² against the full vectors of
      * `e` and the query vectors `queries(query_id, qe)`, top-k. */
    def adcRerank(codes: String, keys: Seq[String], queries: String): String = {
      val adcPivot = (0 until PqM)
        .map(m => s"sum(CASE WHEN d.m = $m THEN d.d2 END) AS d$m")
        .mkString(",\n                  ")
      val adcSum = (0 until PqM).map(m => s"d$m").mkString(" + ")
      s"""adc AS (
           SELECT d.query_id, k.vec_id AS neighbor_id,
                  $adcPivot
           FROM $codes k
           JOIN dtable d ON ${keys.map(c => s"d.$c = k.$c").mkString(" AND ")}
           WHERE k.vec_id != d.query_id
           GROUP BY 1, 2),
         short AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER (
               PARTITION BY query_id
               ORDER BY ($adcSum) ASC, neighbor_id ASC) AS arank
             FROM adc) WHERE arank <= $PqShortlist),
         ex AS (
           SELECT s.query_id, s.neighbor_id,
                  list_dot_product(CAST(ne.embedding AS DOUBLE[]),
                                   CAST(ne.embedding AS DOUBLE[]))
                  - 2.0 * list_dot_product(CAST(ne.embedding AS DOUBLE[]),
                                           CAST(q.qe AS DOUBLE[]))
                  + list_dot_product(CAST(q.qe AS DOUBLE[]),
                                     CAST(q.qe AS DOUBLE[])) AS l2_dist2
           FROM short s
           JOIN e ne ON ne.vec_id = s.neighbor_id
           JOIN $queries q USING (query_id))
         SELECT query_id, rank, neighbor_id, l2_dist2 FROM (
           SELECT *, row_number() OVER (
             PARTITION BY query_id
             ORDER BY l2_dist2 ASC, neighbor_id ASC) AS rank
           FROM ex)
         WHERE rank <= $TopK ORDER BY query_id, rank"""
    }
  }

  /** DuckDB replay of [[pqTuning]] — the full 3-M sweep: per subspace
    * count the same slicing, quantization, trainer chain and encode as
    * [[AnnPqSql]] (the shared [[PqSql]] builders, CTEs scoped by _M),
    * then the quantized reconstruction-error rollup. GENERATED from the
    * same TunePqMs / Dim / PqK / CosScale constants as the Spark side. */
  private val PqTuningSql: String = {
    val sc = CentroidScale
    val perM = TunePqMs.map { mc =>
      val sd = Dim / mc
      val ms = (0 until mc).mkString("[", ", ", "]")
      s"""sub0_$mc AS (
           SELECT vec_id, m,
                  embedding[m*$sd+1 : m*$sd+$sd] AS sub
           FROM e, unnest($ms) AS mm$mc(m)),
         subs_$mc AS (
           SELECT vec_id, m, sub,
                  list_dot_product(CAST(sub AS DOUBLE[]),
                                   CAST(sub AS DOUBLE[])) AS na2
           FROM sub0_$mc),
         sq_$mc AS (
           SELECT vec_id, m, CAST(i - 1 AS INT) AS pos,
                  CAST(round(CAST(sub[i] AS DOUBLE) * $sc) AS BIGINT) AS qv
           FROM sub0_$mc, unnest(generate_series(1, len(sub))) AS u(i)),
         ${PqSql.means(s"sq_$mc", "a0 a USING (vec_id)", s"cb0_$mc")},
         ${PqSql.assignTo(s"subs_$mc", s"cb0_$mc", s"a1_$mc")},
         ${PqSql.means(s"sq_$mc",
        s"a1_$mc a ON a.vec_id = s.vec_id AND a.m = s.m", s"cb1_$mc")},
         ${PqSql.assignTo(s"subs_$mc", s"cb1_$mc", s"codes_$mc")},
         err_$mc AS (
           SELECT k.m, k.code,
                  CAST(round((s.na2
                    - 2.0 * list_dot_product(CAST(s.sub AS DOUBLE[]),
                                             CAST(c.cent AS DOUBLE[]))
                    + c.nc2) * $CosScale) AS BIGINT) AS qe
           FROM codes_$mc k
           JOIN subs_$mc s ON s.vec_id = k.vec_id AND s.m = k.m
           JOIN cb1_$mc c ON c.m = k.m AND c.code = k.code),
         stat_$mc AS (
           SELECT CAST($mc AS BIGINT) AS m_subspaces,
                  CAST($sd AS BIGINT) AS sub_dim,
                  CAST(${mc * PqCodeBits} AS BIGINT) AS bits_per_vec,
                  CAST(count(*) AS BIGINT) AS n_subvectors,
                  count(DISTINCT m || ':' || code) AS codes_used,
                  CAST(sum(qe) AS DOUBLE) / count(*) / $CosScale AS mean_sq_err
           FROM err_$mc)"""
    }.mkString(",\n         ")
    val union = TunePqMs.map(mc => s"SELECT * FROM stat_$mc")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         a0 AS (SELECT vec_id, CAST(vec_id % $PqK AS INT) AS code FROM e),
         $perM
         SELECT * FROM ($union) ORDER BY m_subspaces"""
  }

  private val AnnPqSql: String = {
    val sc = CentroidScale
    val ms = (0 until PqM).mkString("[", ", ", "]")
    def means(assignJoin: String, out: String): String =
      PqSql.means("sq", assignJoin, out)
    def assignTo(cb: String, out: String): String =
      PqSql.assignTo("subs", cb, out)
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         sub0 AS (
           SELECT vec_id, m,
                  embedding[m*$SubDim+1 : m*$SubDim+$SubDim] AS sub
           FROM e, unnest($ms) AS mm(m)),
         subs AS (
           SELECT vec_id, m, sub,
                  list_dot_product(CAST(sub AS DOUBLE[]),
                                   CAST(sub AS DOUBLE[])) AS na2
           FROM sub0),
         sq AS (
           SELECT vec_id, m, CAST(i - 1 AS INT) AS pos,
                  CAST(round(CAST(sub[i] AS DOUBLE) * $sc) AS BIGINT) AS qv
           FROM sub0, unnest(generate_series(1, len(sub))) AS u(i)),
         a0 AS (SELECT vec_id, CAST(vec_id % $PqK AS INT) AS code FROM e),
         ${means("a0 a USING (vec_id)", "cb0")},
         ${assignTo("cb0", "a1")},
         ${means("a1 a ON a.vec_id = s.vec_id AND a.m = s.m", "cb1")},
         ${assignTo("cb1", "codes")},
         qids AS (SELECT vec_id AS query_id, embedding AS qe
                  FROM e WHERE vec_id < $NumQueries),
         qsubs AS (SELECT vec_id AS query_id, m, sub, na2 AS nq2
                   FROM subs WHERE vec_id < $NumQueries),
         dtable AS (
           SELECT q.query_id, c.m, c.code,
                  q.nq2 - 2.0 * list_dot_product(CAST(q.sub AS DOUBLE[]),
                                                 CAST(c.cent AS DOUBLE[]))
                    + c.nc2 AS d2
           FROM qsubs q JOIN cb1 c ON c.m = q.m),
         ${PqSql.adcRerank("codes", Seq("m", "code"), "qids")}"""
  }

  /** DuckDB replay of [[ivfStats]] off the shared quantizer chain:
    * members' cosines to their OWN final centroid, quantized to the same
    * 2^20 grid, long-summed (order-free), one division shape-identical
    * to the Spark side. */
  private val IvfStatsSql: String =
    s"""WITH $IvfChainCtes,
         ${QuantizerSql.memberCos("lists", "c1", "mc")}
         SELECT cl, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(sum(qc) AS DOUBLE) / count(*) / $CosScale AS mean_cos,
                CAST(min(qc) AS DOUBLE) / $CosScale AS min_cos
         FROM mc GROUP BY cl ORDER BY cl"""

  /** DuckDB replay of [[kmeansTuning]] — the full 3-K sweep: for each K
    * the same trainer chain as [[IvfChainCtes]] (init mod-K assignment,
    * integer-moment means, one Lloyd reassignment, final means, final
    * assignment) scoped by a _K suffix over the SHARED e/q0 CTEs, then
    * the [[IvfStatsSql]] quantized-cosine recipe rolled up to one row
    * per K. GENERATED from the same TuneKs / CentroidScale / CosScale
    * constants as the Spark side so the sweep can't drift. */
  private val KmeansTuningSql: String = {
    val perK = TuneKs.map { k =>
      s"""${QuantizerSql.trainChain("e", k, s"_$k", s"lists_$k")},
         ${QuantizerSql.memberCos(s"lists_$k", s"c1_$k", s"mc_$k")},
         pc_$k AS (
           SELECT cl, count(*) AS n, sum(qc) AS s1 FROM mc_$k GROUP BY cl),
         stat_$k AS (
           SELECT CAST($k AS BIGINT) AS k,
                  CAST(sum(n) AS BIGINT) AS n_vectors,
                  CAST(count(*) AS BIGINT) AS n_lists_used,
                  CAST(min(n) AS BIGINT) AS min_size,
                  CAST(max(n) AS BIGINT) AS max_size,
                  CAST(sum(s1) AS DOUBLE) / sum(n) / $CosScale AS mean_cos
           FROM pc_$k)"""
    }.mkString(",\n         ")
    val union = TuneKs.map(k => s"SELECT * FROM stat_$k")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         ${QuantizerSql.q0Over("e")},
         $perK
         SELECT * FROM ($union) ORDER BY k"""
  }

  /** DuckDB replay of [[indexDrift]] — the whole lifecycle: centroids
    * train on the base split only (same integer-moment chain as
    * [[IvfChainCtes]] but with every training CTE scoped to `b`), the
    * batch assigns against the FROZEN final centroids (the append), and
    * the audit replays both per-list stats blocks (the [[IvfStatsSql]]
    * quantized-cosine recipe) and both recall measurements (brute-force
    * exact baseline vs the probe chain of [[AnnIvfSql]], over the
    * before- and after-append corpora). NaN ordering as elsewhere:
    * isnan guard on ASSIGN argmaxes only; plain windows on
    * probe/rank. */
  private val IndexDriftSql: String = {
    def stats(listsCte: String, suffix: String): String =
      s"""${QuantizerSql.memberCos(listsCte, "c1", s"mc_$suffix")},
         st_$suffix AS (
           SELECT cl, CAST(count(*) AS BIGINT) AS n_$suffix,
                  CAST(sum(qc) AS DOUBLE) / count(*) / $CosScale
                    AS mean_cos_$suffix
           FROM mc_$suffix GROUP BY cl)"""
    def bruteTopK(corpusCte: String, out: String): String =
      s"""$out AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.query_id, l.vec_id AS neighbor_id,
                    row_number() OVER (
                      PARTITION BY q.query_id
                      ORDER BY list_cosine_similarity(
                                 CAST(q.qe AS DOUBLE[]),
                                 CAST(l.embedding AS DOUBLE[])) DESC,
                               l.vec_id ASC) AS rank
             FROM qv q JOIN $corpusCte l ON l.vec_id != q.query_id)
           WHERE rank <= $TopK)"""
    def probeTopK(corpusCte: String, out: String): String =
      s"""$out AS (
           SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, l.vec_id AS neighbor_id,
                    row_number() OVER (
                      PARTITION BY p.query_id
                      ORDER BY list_cosine_similarity(
                                 CAST(q.qe AS DOUBLE[]),
                                 CAST(l.embedding AS DOUBLE[])) DESC,
                               l.vec_id ASC) AS rank
             FROM probes p
             JOIN $corpusCte l USING (cl)
             JOIN qv q USING (query_id)
             WHERE l.vec_id != p.query_id)
           WHERE rank <= $TopK)"""
    def recall(bfCte: String, apCte: String, name: String,
        out: String): String =
      s"""$out AS (
           SELECT CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                                THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS $name
           FROM $bfCte b
           LEFT JOIN $apCte a
             ON a.query_id = b.query_id
            AND a.neighbor_id = b.neighbor_id)"""
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         b AS (SELECT * FROM e WHERE vec_id % 10 < 8),
         nb AS (SELECT * FROM e WHERE vec_id % 10 >= 8),
         ${QuantizerSql.q0Over("b")},
         ${QuantizerSql.trainChain("b", IvfK, "", "lb")},
         ${QuantizerSql.assignTo("nb", "c1", "ab")},
         la AS (SELECT * FROM lb UNION ALL SELECT * FROM ab),
         bc AS (SELECT l.vec_id, l.cl, ee.embedding
                FROM lb l JOIN e ee USING (vec_id)),
         ac AS (SELECT l.vec_id, l.cl, ee.embedding
                FROM la l JOIN e ee USING (vec_id)),
         ${stats("lb", "before")},
         ${stats("la", "after")},
         qv AS (SELECT vec_id AS query_id, embedding AS qe
                FROM e WHERE vec_id < $NumQueries),
         ps AS (
           SELECT q.query_id, c.cl,
                  list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                         CAST(c.centroid AS DOUBLE[])) AS csim
           FROM qv q, c1 c),
         probes AS (
           SELECT query_id, cl FROM (
             SELECT query_id, cl, row_number() OVER (
               PARTITION BY query_id ORDER BY csim DESC, cl ASC) AS prank
             FROM ps) WHERE prank <= $IvfProbes),
         ${bruteTopK("bc", "bfb")},
         ${bruteTopK("ac", "bfa")},
         ${probeTopK("bc", "apb")},
         ${probeTopK("ac", "apa")},
         ${recall("bfb", "apb", "recall_before", "rb")},
         ${recall("bfa", "apa", "recall_after", "ra")}
         SELECT c1.cl,
                COALESCE(sb.n_before, CAST(0 AS BIGINT)) AS n_before,
                COALESCE(sa.n_after, CAST(0 AS BIGINT)) AS n_after,
                COALESCE(sa.n_after, CAST(0 AS BIGINT))
                  - COALESCE(sb.n_before, CAST(0 AS BIGINT)) AS n_appended,
                sb.mean_cos_before, sa.mean_cos_after,
                rb.recall_before, ra.recall_after
         FROM c1
         LEFT JOIN st_before sb USING (cl)
         LEFT JOIN st_after sa USING (cl)
         CROSS JOIN rb CROSS JOIN ra
         ORDER BY cl"""
  }

  /** DuckDB replay of [[annIvfPq]] — the full trained IVFADC pipeline:
    * the shared coarse-quantizer chain ([[IvfChainCtes]]: integer-moment
    * centroids, cosine-argmax assignment), the residual step (IEEE
    * double subtraction + float cast, exactly FloatVectorSub's
    * arithmetic), the order-free residual codebook training (the
    * [[AnnPqSql]] recipe over `resid`), per-probe query residuals, the
    * list-scoped fixed-order pivoted ADC shortlist, and the exact-L2
    * refinement. NaN ordering mirrors AnnIvfSql/AnnPqSql: `isnan ASC`
    * guards only on the array_min-backed ASSIGN argmins; plain sorts on
    * the probe/shortlist/refine windows. */
  private val AnnIvfPqSql: String = {
    val sc = CentroidScale
    val ms = (0 until PqM).mkString("[", ", ", "]")
    def means(assignJoin: String, out: String): String =
      PqSql.means("rsq", assignJoin, out)
    def assignTo(cb: String, out: String): String =
      PqSql.assignTo("rsubs", cb, out)
    s"""WITH $IvfChainCtes,
         resid0 AS (
           SELECT l.vec_id, l.cl, u.i,
                  CAST(CAST(ee.embedding[u.i] AS DOUBLE)
                       - CAST(c.centroid[u.i] AS DOUBLE) AS FLOAT) AS rv
           FROM lists l
           JOIN e ee USING (vec_id)
           JOIN c1 c USING (cl),
                unnest(generate_series(1, len(ee.embedding))) AS u(i)),
         resid AS (
           SELECT vec_id, cl, list(rv ORDER BY i) AS rvec
           FROM resid0 GROUP BY 1, 2),
         rsub0 AS (
           SELECT vec_id, m,
                  rvec[m*$SubDim+1 : m*$SubDim+$SubDim] AS sub
           FROM resid, unnest($ms) AS mm(m)),
         rsubs AS (
           SELECT vec_id, m, sub,
                  list_dot_product(CAST(sub AS DOUBLE[]),
                                   CAST(sub AS DOUBLE[])) AS na2
           FROM rsub0),
         rsq AS (
           SELECT vec_id, m, CAST(i - 1 AS INT) AS pos,
                  CAST(round(CAST(sub[i] AS DOUBLE) * $sc) AS BIGINT) AS qv
           FROM rsub0, unnest(generate_series(1, len(sub))) AS u(i)),
         ra0 AS (SELECT vec_id, CAST(vec_id % $PqK AS INT) AS code FROM resid),
         ${means("ra0 a USING (vec_id)", "rcb0")},
         ${assignTo("rcb0", "ra1")},
         ${means("ra1 a ON a.vec_id = s.vec_id AND a.m = s.m", "rcb1")},
         ${assignTo("rcb1", "rcodes")},
         codesl AS (
           SELECT rc.vec_id, r.cl, rc.m, rc.code
           FROM rcodes rc JOIN resid r USING (vec_id)),
         qv2 AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM e WHERE vec_id < $NumQueries),
         ps2 AS (
           SELECT q.query_id, q.qe, c.cl, c.centroid,
                  list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                         CAST(c.centroid AS DOUBLE[])) AS csim
           FROM qv2 q, c1 c),
         probes AS (
           SELECT query_id, qe, cl, centroid FROM (
             SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY csim DESC, cl ASC) AS prank
             FROM ps2) WHERE prank <= $IvfProbes),
         qres0 AS (
           SELECT p.query_id, p.cl, u.i,
                  CAST(CAST(p.qe[u.i] AS DOUBLE)
                       - CAST(p.centroid[u.i] AS DOUBLE) AS FLOAT) AS rv
           FROM probes p,
                unnest(generate_series(1, len(p.qe))) AS u(i)),
         qres AS (
           SELECT query_id, cl, list(rv ORDER BY i) AS rvec
           FROM qres0 GROUP BY 1, 2),
         qsub0 AS (
           SELECT query_id, cl, m,
                  rvec[m*$SubDim+1 : m*$SubDim+$SubDim] AS qsub
           FROM qres, unnest($ms) AS mm(m)),
         qsubs AS (
           SELECT query_id, cl, m, qsub,
                  list_dot_product(CAST(qsub AS DOUBLE[]),
                                   CAST(qsub AS DOUBLE[])) AS nq2
           FROM qsub0),
         dtable AS (
           SELECT q.query_id, q.cl, c.m, c.code,
                  q.nq2 - 2.0 * list_dot_product(CAST(q.qsub AS DOUBLE[]),
                                                 CAST(c.cent AS DOUBLE[]))
                    + c.nc2 AS d2
           FROM qsubs q JOIN rcb1 c ON c.m = q.m),
         ${PqSql.adcRerank("codesl", Seq("cl", "m", "code"), "qv2")}"""
  }

  /** DuckDB replay of [[annLsh]] — GENERATED from the same `planes`
    * constants. Each plane component is emitted as the DOUBLE value of the
    * Float (`toDouble.toString` is the shortest decimal that round-trips
    * to that exact double), matching FloatVectorDot's float→double
    * widening; `list_dot_product` over DOUBLE[] accumulates in array order
    * exactly like FloatVectorDot (parity already driver-proven by
    * q_embed_score), so the sign of every signature bit — and therefore
    * the candidate set — is identical across engines. The final cosine
    * re-rank is the same `list_cosine_similarity` form as the
    * q_ann_bruteforce oracle. */
  private val AnnLshSql: String = {
    def sigExpr(t: Int): String = (0 until BitsPerTable).map { b =>
      val wlit = planes(t)(b).map(_.toDouble.toString).mkString("[", ", ", "]")
      s"""(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                   $wlit::DOUBLE[]) > 0 THEN ${1 << b} ELSE 0 END)"""
    }.mkString("\n                + ")
    val sigCols = (0 until NumTables)
      .map(t => s"${sigExpr(t)} AS sig$t")
      .mkString(",\n              ")
    val unpivot = (0 until NumTables)
      .map(t => s"SELECT vec_id, $t AS tbl, sig$t AS sig FROM sigs")
      .mkString("\n           UNION ALL ")
    s"""WITH sigs AS (
           SELECT vec_id,
              $sigCols
           FROM embeddings),
         b AS (
           $unpivot),
         cand AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM b q JOIN b c ON q.tbl = c.tbl AND q.sig = c.sig
           WHERE q.vec_id < $NumQueries AND c.vec_id != q.vec_id),
         s AS (
           SELECT cand.query_id, cand.neighbor_id,
                  list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                         CAST(ne.embedding AS DOUBLE[])) AS cos_sim
           FROM cand
           JOIN embeddings qe ON qe.vec_id = cand.query_id
           JOIN embeddings ne ON ne.vec_id = cand.neighbor_id)
         SELECT query_id, rank, neighbor_id, cos_sim FROM (
           SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
           FROM s)
         WHERE rank <= $TopK ORDER BY query_id, rank"""
  }

  /** Shared by q_ann_bruteforce, q_ann_topk_agg (same rows by design)
    * and the q_ann_recall reference side. */
  private val AnnBruteForceSql: String =
    s"""WITH q AS (
           SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < $NumQueries),
         s AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                         CAST(e.embedding AS DOUBLE[])) AS cos_sim
           FROM q, embeddings e WHERE e.vec_id != q.query_id)
         SELECT query_id, rank, neighbor_id, cos_sim FROM (
           SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
           FROM s)
         WHERE rank <= $TopK ORDER BY query_id, rank"""

  /** Per-query recall of the approximate top-k CTE `approx` (alias `a`)
    * against the exact top-k CTE `bf`: the left-join hit count. */
  private def recallSql(approx: String, a: String): String =
    s"""SELECT b.query_id,
                CAST(count(*) AS BIGINT) AS n_true,
                CAST(sum(CASE WHEN $a.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                CAST(sum(CASE WHEN $a.neighbor_id IS NOT NULL
                              THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
                  AS recall
         FROM bf b
         LEFT JOIN $approx $a
           ON $a.query_id = b.query_id AND $a.neighbor_id = b.neighbor_id
         GROUP BY b.query_id ORDER BY b.query_id"""

  /** DuckDB replay of [[annRecall]]: both chains as CTEs (a CTE body may
    * carry its own WITH), then the same left-join hit count. */
  private val AnnRecallSql: String =
    s"""WITH bf AS ($AnnBruteForceSql),
         lsh AS ($AnnLshSql)
         ${recallSql("lsh", "l")}"""

  /** DuckDB replay of [[annIvfPqRecall]]: the exact-L2 top-k baseline
    * and the ENTIRE trained IVFADC chain as CTEs, then the left-join hit
    * count. */
  private val AnnIvfPqRecallSql: String =
    s"""WITH bf AS (
           WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                      FROM embeddings WHERE vec_id < $NumQueries),
             s AS (
               SELECT q.query_id, e.vec_id AS neighbor_id,
                      list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))
                      - 2.0 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                               CAST(q.qe AS DOUBLE[]))
                      + list_dot_product(CAST(q.qe AS DOUBLE[]),
                                         CAST(q.qe AS DOUBLE[])) AS d2
               FROM q, embeddings e WHERE e.vec_id != q.query_id)
           SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rank
             FROM s)
           WHERE rank <= $TopK),
         ap AS ($AnnIvfPqSql)
         ${recallSql("ap", "a")}"""

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    Entry("q_ann_lsh", annLsh, Some(AnnLshSql)),
    Entry("q_ann_recall", annRecall, Some(AnnRecallSql)),
    Entry("q_ivfpq_recall", annIvfPqRecall, Some(AnnIvfPqRecallSql)),
    Entry("q_ann_ivf", annIvf, Some(AnnIvfSql)),
    Entry("q_ann_pq", annPq, Some(AnnPqSql)),
    // production K=256 PQ codebook (q_ann_pq pins K=16 for its unrolled
    // DuckDB training CTE)
    Entry("x_ann_pq256", annPqProduction),
    Entry("q_ann_ivfpq", annIvfPq, Some(AnnIvfPqSql)),
    // production K=256 residual codebook (q_ann_ivfpq pins K=16 for the
    // same reason)
    Entry("x_ann_ivfpq256", annIvfPqProduction),
    Entry("q_ivf_stats", ivfStats, Some(IvfStatsSql)),
    Entry("q_kmeans_tuning", kmeansTuning, Some(KmeansTuningSql)),
    Entry("q_pq_tuning", pqTuning, Some(PqTuningSql)),
    Entry("q_ivf_probe_tuning", ivfProbeTuning, Some(IvfProbeTuningSql)),
    Entry("q_index_drift", indexDrift, Some(IndexDriftSql)),
    Entry("q_embed_pca", embedPca, Some(embedPcaSql)),
    Entry("q_embed_project", embedProject, Some(embedProjectSql)),
    Entry("q_semdedup", semDeDup, Some(SemDedupSql)),
    Entry("q_semdedup_scaled", semDeDupScaledChecked, Some(semDedupScaledSql)),
    // division shapes mirror the Spark expressions exactly (s1/n/scale,
    // s2/n - (s1/n)^2) so the doubles are bit-identical
    Entry("q_label_centroids", labelCentroids, Some(
      """WITH q AS (
           SELECT label, CAST(i - 1 AS INT) AS dim,
                  CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576.0)
                       AS BIGINT) AS qx
           FROM embeddings,
                unnest(generate_series(1, len(embedding))) AS u(i)),
         m AS (
           SELECT label, dim, count(*) AS n_vecs,
                  CAST(sum(qx) AS BIGINT) AS s1,
                  CAST(sum(qx * qx) AS DECIMAL(38,0)) AS s2
           FROM q GROUP BY label, dim)
         SELECT label, dim, n_vecs, s1, CAST(s2 AS VARCHAR) AS s2,
                CAST(s1 AS DOUBLE) / n_vecs / 1048576.0 AS mean_val,
                (CAST(s2 AS DOUBLE) / n_vecs)
                  - (CAST(s1 AS DOUBLE) / n_vecs)
                    * (CAST(s1 AS DOUBLE) / n_vecs) AS var_q
         FROM m ORDER BY label, dim""")),
    Entry("q_embed_score", embedScore, Some(EmbedScoreSql)),
    Entry("q_embed_quantize", embedQuantize, Some(
      """WITH b AS (
           SELECT vec_id, embedding,
                  list_aggregate(list_transform(embedding, x -> abs(x)),
                                 'max') AS max_abs_f
           FROM embeddings),
         s AS (
           SELECT vec_id, embedding,
                  CAST(max_abs_f AS DOUBLE) AS max_abs,
                  CASE WHEN max_abs_f > 0
                       THEN 127.0 / CAST(max_abs_f AS DOUBLE)
                       ELSE 0.0 END AS scale
           FROM b),
         q AS (
           SELECT vec_id, max_abs, scale,
                  CAST(len(embedding) AS BIGINT) AS n_dims,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT)) AS qs
           FROM s)
         SELECT vec_id, n_dims, max_abs, scale,
                CAST(list_aggregate(qs, 'sum') AS BIGINT) AS q_sum,
                CAST(list_aggregate(qs, 'min') AS BIGINT) AS q_min,
                CAST(list_aggregate(qs, 'max') AS BIGINT) AS q_max
         FROM q ORDER BY vec_id""")),
    Entry("q_ann_bruteforce", annBruteForce, Some(AnnBruteForceSql)),
    // the aggregate formulation must produce exactly the window
    // formulation's rows — same oracle text
    Entry("q_ann_topk_agg", annTopKAgg, Some(AnnBruteForceSql)),
  )
}
