package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftFunctions.vec_dot
import graft.operators.{SimilarityOps, VectorOps}

class SimilaritySpec extends SparkTestBase {

  test("label centroids: exact quantized moments, hand-computed mean and variance") {
    // label 1: (1,2) and (3,4) — dim 0 mean 2.0, dim 1 mean 3.0, and in
    // 2^20-quantized units both dims have variance exactly (2^20)^2 = 2^40
    // ((q1²+q2²)/2 − mean² with q separated by 2·2^20). label 2: a single
    // vector — variance exactly 0, means exact.
    val dir = embeddingsFixture(Seq(
      (0L, Seq(1.0f, 2.0f), 1), (1L, Seq(3.0f, 4.0f), 1),
      (2L, Seq(5.0f, 6.0f), 2)))
    val got = graft.operators.SimilarityOps.labelCentroids(spark, dir)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getDouble(5), r.getDouble(6)))).toMap
    val s2_40 = math.pow(2, 40)
    assert(got((1, 0)) == ((2L, 2.0, s2_40)), s"got ${got((1, 0))}")
    assert(got((1, 1)) == ((2L, 3.0, s2_40)))
    assert(got((2, 0)) == ((1L, 5.0, 0.0)))
    assert(got((2, 1)) == ((1L, 6.0, 0.0)))
  }

  test("brute-force ANN: exactly top-5 per query, correctly ordered") {
    val df = SimilarityOps.annBruteForce(spark, sf0001).cache()
    val perQuery = df.groupBy("query_id").count().collect()
    assert(perQuery.length == 10)
    assert(perQuery.forall(_.getLong(1) == 5L))
    // ranks are 1..5 and cos_sim is non-increasing within a query
    val rows = df.orderBy("query_id", "rank").collect()
    rows.grouped(5).foreach { g =>
      assert(g.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val sims = g.map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH ANN: results are a subset of the corpus with correct cosines; planted dup found") {
    val v = (0 until 64).map(i => math.sin(i * 0.37).toFloat)
    val v2 = v.updated(1, v(1) + 1e-4f)
    val others = (2L until 40L).map { j =>
      (j, (0 until 64).map(i => math.sin(i * 0.11 + j * 2.7).toFloat), 0)
    }
    val dir = embeddingsFixture(Seq((0L, v, 0), (1L, v2, 0)) ++ others)
    val got = SimilarityOps.annLsh(spark, dir).cache()
    // a near-identical vector collides in every hyperplane table → must be
    // query 0's and query 1's top-1
    val top1 = got.where(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1.get(0L).contains(1L), s"query 0 top-1 should be 1, got $top1")
    assert(top1.get(1L).contains(0L))
  }

  test("TopKByScore aggregate: identical rows to the window formulation, with map-side partial agg") {
    val win = SimilarityOps.annBruteForce(spark, sf0001)
    val agg = SimilarityOps.annTopKAgg(spark, sf0001)
    assert(agg.count() == win.count())
    assert(agg.except(win).count() == 0)
    assert(win.except(agg).count() == 0)
    // the whole point: partial aggregation before the shuffle
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topkbyscore"),
      s"expected partial TopKByScore agg in plan:\n${plan.take(2000)}")
  }

  test("IVF ANN: planted duplicate lands in the same list and is retrieved top-1") {
    val v = (0 until 64).map(i => math.sin(i * 0.37).toFloat)
    val v2 = v.updated(2, v(2) + 1e-4f)
    val others = (2L until 50L).map { j =>
      (j, (0 until 64).map(i => math.sin(i * 0.11 + j * 2.7).toFloat), 0)
    }
    val dir = embeddingsFixture(Seq((0L, v, 0), (1L, v2, 0)) ++ others)
    val top1 = SimilarityOps.annIvf(spark, dir)
      .where(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1.get(0L).contains(1L), s"query 0 top-1 should be 1, got $top1")
    assert(top1.get(1L).contains(0L))
  }

  test("semdedup: planted near-identical vector is dropped, canonical kept") {
    val v = (0 until 64).map(i => math.sin(i * 0.37).toFloat)
    val v2 = v.updated(2, v(2) + 1e-4f) // cosine ~1 → same cluster, > tau
    val others = (2L until 50L).map { j =>
      (j, (0 until 64).map(i => math.sin(i * 0.11 + j * 2.7).toFloat), 0)
    }
    val dir = embeddingsFixture(Seq((0L, v, 0), (1L, v2, 0)) ++ others)
    val kept = SimilarityOps.semDeDup(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L) && !kept.contains(1L),
      "min-id canonical kept, its semantic duplicate dropped")
  }

  test("semdedup: kept set is exactly the min-id canonicals (sf0.001)") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf0001)
    val kept = SimilarityOps.semDeDup(spark, sf0001).cache()
    // no kept within-cluster pair exceeds tau: joining kept to itself on
    // the cluster id and checking cosines must find nothing above 0.9
    val ke = kept.join(e, "vec_id")
    val a = ke.select(col("cl"), col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = ke.select(col("cl"), col("vec_id").as("ib"), col("embedding").as("eb"))
    val over = a.join(b, Seq("cl")).where(col("ia") < col("ib"))
      .where(graft.operators.VectorOps.cosine(col("ea"), col("eb")) > 0.9)
      .count()
    assert(over == 0, s"$over kept within-cluster pairs above tau")
    assert(kept.count() > 0)
  }

  test("scaled semdedup: corpus-scaled K still drops every exact replica") {
    // The scale path grows K with n (k=ceil(2400/128)=19 here, past the
    // fixed 16). Exact duplicates share every cosine, so the argmax
    // assignment lands all copies in ONE cluster for ANY centroid set —
    // replica recall must not depend on K. 24 pseudo-random bases
    // (pairwise cosine ~N(0,1/64), far from tau) × 100 offset-id copies:
    // kept must be exactly the 24 min-id canonicals. The registered
    // oracle-gated form runs the coarse-fine quantizer even when k=IvfK
    // (one algorithm at every corpus size = one dynamic-K oracle), so this
    // one corpus pins replica recall and the keep rule for it too.
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 1
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val rows = for (j <- 0L until 24L; c <- 0 until 100)
      yield (j + 1000L * c, vec(j.toInt), 0)
    val dir = embeddingsFixture(rows)
    val kept = SimilarityOps.semDeDupScaledChecked(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 24L).toSet,
      s"expected the 24 min-id canonicals, got ${kept.size}: " +
        s"${kept.toSeq.sorted.take(30)}")
  }

  test("index drift audit: occupancy conserved across the append; recall scalars bounded") {
    // 200 vectors → base = 160 (vec_id%10<8), batch = 40. The audit must
    // conserve mass (per-cl n_after = n_before + appended; totals = split
    // sizes), report a K-row frame (one per surviving trained centroid),
    // and attach recall scalars in [0,1] constant across rows.
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 7
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val rows = (0L until 200L).map(i => (i, vec(i.toInt), 0))
    val dir = embeddingsFixture(rows)
    val got = SimilarityOps.indexDrift(spark, dir).collect()
    assert(got.nonEmpty && got.length <= 16)
    assert(got.map(_.getLong(1)).sum == 160L, "sum n_before = |base|")
    assert(got.map(_.getLong(2)).sum == 200L, "sum n_after = |corpus|")
    got.foreach { r =>
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1), "delta consistent")
      assert(r.getLong(3) >= 0L, "append never shrinks a list")
    }
    val rb = got.map(_.getDouble(6)).distinct
    val ra = got.map(_.getDouble(7)).distinct
    assert(rb.length == 1 && ra.length == 1, "recall scalars constant")
    assert(rb.head >= 0.0 && rb.head <= 1.0 && ra.head >= 0.0 && ra.head <= 1.0)
  }

  test("embed pca: power iteration finds a planted dominant axis; eigenvalue positive") {
    // vectors = a·e5 + tiny deterministic jitter elsewhere, a spread wide
    // → the top principal direction must concentrate on pos 5 and the
    // Rayleigh eigenvalue must be positive (≈ Var(a))
    val rows = (0L until 200L).map { i =>
      val a = ((i % 21).toInt - 10) * 0.15f              // [-1.5, 1.5]
      val v = Array.fill(64)(0.0f)
      v(5) = a
      v(((i * 7) % 64).toInt) += 0.01f * ((i % 3).toInt - 1)
      (i, v.toSeq, 0)
    }
    val dir = embeddingsFixture(rows)
    val got = SimilarityOps.embedPca(spark, dir).collect()
    assert(got.length == 64)
    val loadings = got.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val top = loadings.maxBy { case (_, l) => math.abs(l) }
    assert(top._1 == 5L, s"dominant axis should be pos 5, got $top")
    assert(math.abs(top._2) > 0.99, s"loading should concentrate, got $top")
    val eig = got.head.getDouble(3)
    assert(eig > 0.5 && eig < 1.2, s"eigenvalue ~Var(a)≈0.825, got $eig")
    assert(got.forall(_.getDouble(3) == eig), "eigval is a scalar attach")
  }

  test("embed project: planted-axis corpus projects to the axis coordinates, tiny residual") {
    // same planted corpus as the pca spec: x = a·e5 + 0.01 jitter. The
    // centered projection must span the a-range (max−min ≈ 3.0) and the
    // residual energy must be only the jitter (≪ the axis variance).
    val rows = (0L until 200L).map { i =>
      val a = ((i % 21).toInt - 10) * 0.15f
      val v = Array.fill(64)(0.0f)
      v(5) = a
      v(((i * 7) % 64).toInt) += 0.01f * ((i % 3).toInt - 1)
      (i, v.toSeq, 0)
    }
    val dir = embeddingsFixture(rows)
    val got = SimilarityOps.embedProject(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 200)
    val projs = got.map(_._2)
    assert(math.abs((projs.max - projs.min) - 3.0) < 0.05,
      s"proj span should be the a-range, got ${projs.max - projs.min}")
    got.foreach { case (id, _, r2) =>
      assert(r2 > -1e-9 && r2 < 0.001, s"vec $id residual $r2")
    }
  }

  test("scaled semdedup: the two-level quantizer path keeps replica recall") {
    // n=9600 → k=75: a wider coarse-fine split than at n=2400. Identical
    // vectors take identical argmax decisions at BOTH levels, so every
    // replica group still collapses to one leaf cluster — the recall
    // property must not depend on which quantizer shape ran.
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 1
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val rows = for (j <- 0L until 24L; c <- 0 until 400)
      yield (j + 1000L * c, vec(j.toInt), 0)
    val dir = embeddingsFixture(rows)
    val kept = SimilarityOps.semDeDupScaledChecked(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 24L).toSet,
      s"expected the 24 min-id canonicals, got ${kept.size}: " +
        s"${kept.toSeq.sorted.take(30)}")
  }

  test("IVF ANN recall vs brute force on real data") {
    val bf = SimilarityOps.annBruteForce(spark, sf0001)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.annIvf(spark, sf0001)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    // nprobe/K = 2/16 of the corpus is scanned; on near-random embeddings
    // expected recall is modest — require clearly-better-than-floor
    assert(recall >= 0.1, s"recall was $recall")
    assert(ivf.map(_._1).size == 10, "every query must return results")
  }

  test("PQ ANN: planted duplicate gets identical codes and is retrieved top-1") {
    // 64-dim fixture: vec 20 duplicates query vec 0 exactly → same code in
    // every subspace → ADC distance equals the query's own reconstruction
    // error, strictly below any distinct vector's → must rank first.
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 1
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val rows = (0L until 40L).map(i =>
      (i, if (i == 20L) vec(0) else vec(i.toInt), (i % 3).toInt))
    val dir = embeddingsFixture(rows)
    val got = SimilarityOps.annPq(spark, dir)
      .where(col("query_id") === 0L && col("rank") === 1L)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(20L), s"planted dup must be top-1, got ${got.toSeq}")
  }

  test("PQ ANN production K=256 codebook: planted duplicate still top-1") {
    // the bench-only x_ann_pq256 path: identical subvectors take the same
    // argmin in every subspace for ANY codebook size, so the exact
    // duplicate retrieves top-1 at K=256 just as at the toy K=16
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 1
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val rows = (0L until 40L).map(i =>
      (i, if (i == 20L) vec(0) else vec(i.toInt), (i % 3).toInt))
    val dir = embeddingsFixture(rows)
    val got = SimilarityOps.annPqProduction(spark, dir)
      .where(col("query_id") === 0L && col("rank") === 1L)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(20L), s"planted dup must be top-1, got ${got.toSeq}")
  }

  test("IVF-PQ ANN: planted duplicate shares list and codes, retrieved top-1") {
    // identical vectors take the same coarse argmax (same cl), hence the
    // SAME residual, hence identical codes in every subspace — the
    // planted dup's ADC distance is the query residual's own
    // reconstruction error and its exact refine distance is 0, so it
    // must rank first. This is the recall property residual quantization
    // must not break.
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 1
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val rows = (0L until 40L).map(i =>
      (i, if (i == 20L) vec(0) else vec(i.toInt), (i % 3).toInt))
    val dir = embeddingsFixture(rows)
    val got = SimilarityOps.annIvfPq(spark, dir)
      .where(col("query_id") === 0L && col("rank") === 1L)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(20L), s"planted dup must be top-1, got ${got.toSeq}")
  }

  test("IVF-PQ production K=256 residual codebook: planted duplicate still top-1") {
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 1
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val rows = (0L until 40L).map(i =>
      (i, if (i == 20L) vec(0) else vec(i.toInt), (i % 3).toInt))
    val dir = embeddingsFixture(rows)
    val got = SimilarityOps.annIvfPqProduction(spark, dir)
      .where(col("query_id") === 0L && col("rank") === 1L)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(20L), s"planted dup must be top-1, got ${got.toSeq}")
  }

  test("PQ ANN recall vs exact-L2 brute force on real data") {
    // PQ ranks by L2 in the original space (the PQ standard), so the
    // reference is exact-L2 top-5, not the cosine brute force.
    val e = Tables.embeddings(spark, sf0001)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val d2 = vec_dot(col("embedding"), col("embedding")) -
      lit(2.0) * vec_dot(col("embedding"), col("qe")) +
      vec_dot(col("qe"), col("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
    val bf = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SimilarityOps.annPq(spark, sf0001)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect pq).size.toDouble / bf.size
    assert(recall >= 0.2, s"recall was $recall")
    assert(pq.map(_._1).size == 10, "every query must return results")
  }

  test("incremental ANN index append: new vectors join the right lists and are retrieved") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 1
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_annappend_").toString
    val dir = embeddingsFixture((0L until 30L).map(i => (i, vec(i.toInt), 0)))
    SimilarityOps.buildAnnIndex(spark, dir, s"$tmp/index")
    // append a batch WITHOUT retraining; 105 is an exact dup of corpus vec 3
    val batch = (100L until 110L)
      .map(i => (i, if (i == 105L) vec(3) else vec(i.toInt)))
      .toDF("vec_id", "embedding")
    SimilarityOps.appendToAnnIndex(spark, s"$tmp/index", batch)
    // identical vectors argmax to the same persisted centroid → same list
    val lists = spark.read.parquet(s"$tmp/index/lists")
      .select("vec_id", "cl").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lists.size == 40, "append must extend, not rewrite, the lists")
    assert(lists(105L) == lists(3L), "dup must land in its twin's list")
    // a probe with the duplicated vector retrieves BOTH copies at cos ≈ 1
    val got = SimilarityOps
      .annIndexProbe(spark, s"$tmp/index", Seq((9003L, vec(3))).toDF("query_id", "qe"))
      .where(col("rank") <= 2).collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSet == Set(3L, 105L),
      s"top-2 must be the twin pair, got ${got.mkString(",")}")
    assert(got.forall(_.getAs[Double]("cos_sim") > 0.999999))
  }

  test("IVF-PQ recall vs exact-L2 brute force on real data") {
    // two-stage approximation (nprobe=2 of 16 lists, then residual-PQ
    // codes): recall is bounded by how many true L2 top-5 neighbors live
    // in the two probed lists — near-random embeddings make coarse
    // pruning aggressive, so require clearly-better-than-floor, not high
    val e = Tables.embeddings(spark, sf0001)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val d2 = vec_dot(col("embedding"), col("embedding")) -
      lit(2.0) * vec_dot(col("embedding"), col("qe")) +
      vec_dot(col("qe"), col("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
    val bf = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SimilarityOps.annIvfPq(spark, sf0001)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ivfpq).size.toDouble / bf.size
    assert(recall >= 0.05, s"recall was $recall")
    assert(ivfpq.map(_._1).size == 10, "every query must return results")
  }

  test("LSH ANN recall vs brute force is meaningful on real data") {
    val bf = SimilarityOps.annBruteForce(spark, sf0001)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.annLsh(spark, sf0001)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    // embeddings in the corpus are near-random (max cos ~0.5), so LSH
    // bucket collisions are rare — just require a nonzero overlap and
    // that LSH returned something for most queries
    assert(recall > 0.0, s"recall was $recall")
    assert(lsh.map(_._1).size >= 5)
  }

  test("ivf stats: a zero-norm (poisoned) member scores -1, not a silent mid-grid 0") {
    // a zero vector has an undefined cosine to its centroid: Spark's
    // clamp yields NaN, and before the guard a bare round(NaN).cast(long)
    // silently read 0 (mid-grid) while DuckDB reads -1.0 for a zero-norm
    // side — the engines could diverge on exactly the poisoned data an
    // audit exists to surface. The pin: poisoned member = -1 (worst fit).
    val base = (0 until 32).map { i =>
      val v = Seq.tabulate(8)(j => if (j == i % 8) 1.0f else 0.1f)
      (i.toLong, v, i % 2)
    }
    val dir = embeddingsFixture(base :+ ((99L, Seq.fill(8)(0.0f), 0)))
    val stats = SimilarityOps.ivfStats(spark, dir).collect()
    assert(stats.nonEmpty)
    // no NaN anywhere, and SOME list carries the poisoned member's -1.0
    // floor (min_cos is exact: -2^20 / 2^20)
    assert(stats.forall(r => !r.getDouble(2).isNaN && !r.getDouble(3).isNaN))
    assert(stats.exists(r => r.getDouble(3) == -1.0),
      stats.map(_.getDouble(3)).mkString(","))
  }

  test("kmeans tuning: K=16 row agrees with q_ivf_stats' own per-list output") {
    val dir = sf0001
    val sweep = SimilarityOps.kmeansTuning(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toMap
    assert(sweep.keySet == Set(4L, 8L, 16L))
    val n = sweep(4L)._1
    assert(sweep.values.forall(_._1 == n), "every K assigns every vector")
    assert(sweep.forall { case (k, v) => v._2 <= k && v._3 >= 1 && v._3 <= v._4 })
    assert(sweep.values.forall(v => v._5 >= -1.0 && v._5 <= 1.0))
    // cross-pin: K=16 is the production quantizer — the sweep's summary
    // row must agree with q_ivf_stats' per-list frame (same trainer,
    // same quantized-cosine recipe) on every integer field and on the
    // occupancy-weighted mean within one double rounding
    val stats = SimilarityOps.ivfStats(spark, dir).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val (n16, used16, min16, max16, mean16) = sweep(16L)
    assert(n16 == stats.map(_._1).sum)
    assert(used16 == stats.length.toLong)
    assert(min16 == stats.map(_._1).min && max16 == stats.map(_._1).max)
    val weighted = stats.map(s => s._2 * s._1).sum / n16
    assert(math.abs(mean16 - weighted) < 1e-9, s"$mean16 vs $weighted")
  }

  test("pq tuning: error falls as subspaces grow; aligned replicas reconstruct exactly") {
    val sweep = SimilarityOps.pqTuning(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(sweep.map(_._1).toSeq == Seq(2L, 4L, 8L))
    assert(sweep.forall { case (m, sd, bits, _, used, _) =>
      sd == 64 / m && bits == 4 * m && used <= 16 * m })
    val n = sweep.head._4 / 2
    assert(sweep.forall(s => s._4 == s._1 * n), "n_subvectors = M * n_vectors")
    val errs = sweep.map(_._6)
    assert(errs(0) > errs(1) && errs(1) > errs(2),
      s"reconstruction error must fall as bits grow: ${errs.mkString(",")}")
    // planted: 16 distinct vectors, replicas aligned to init cells
    // (vec_id ≡ original mod 16) → every init cell holds copies of ONE
    // vector, the codebook reproduces it to the 2^20 grid, and the
    // quantized reconstruction error is EXACTLY zero at every M
    val base = (0 until 16).map { i =>
      Seq.tabulate(64)(j => (i + 1) * 0.1f + j * 0.01f)
    }
    val dir = embeddingsFixture((0 until 48).map { k =>
      (k.toLong, base(k % 16), k % 3)
    })
    val planted = SimilarityOps.pqTuning(spark, dir).collect()
    assert(planted.forall(_.getDouble(5) == 0.0),
      planted.map(_.getDouble(5)).mkString(","))
    assert(planted.forall(r => r.getLong(4) == r.getLong(0) * 16),
      "each subspace must use all 16 codes (one per distinct subvector)")
  }

  test("ivf probe tuning: recall and cost grow with nprobe; nprobe=2 equals q_ann_ivf") {
    val dir = sf0001
    val sweep = SimilarityOps.ivfProbeTuning(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    assert(sweep.map(_._1).toSeq == Seq(1L, 2L, 4L))
    // a true top-5 neighbor present among the candidates always makes the
    // candidate top-5 (only higher-cos true neighbors outrank it), so
    // hits are monotone in the probed-candidate superset
    assert(sweep.toSeq.sliding(2).forall { case Seq(a, b) =>
      b._3 >= a._3 && b._5 >= a._5 })
    assert(sweep.forall(s => s._6 > 0.0 && s._6 <= 1.0))
    // cross-pin: the nprobe=2 arm must equal a direct recall computation
    // off the registered q_ann_ivf (the same probe chain) vs brute force
    val bf = SimilarityOps.annBruteForce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SimilarityOps.annIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val two = sweep.find(_._1 == 2L).get
    assert(two._2 == bf.size.toLong)
    assert(two._3 == (bf & ivf).size.toLong,
      s"sweep n_hit ${two._3} != |bf ∩ annIvf| ${(bf & ivf).size}")
  }
}
