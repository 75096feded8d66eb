package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupOps

class DedupSpec extends SparkTestBase {

  private val base = "spark join filter agg hash merge table row column scan " +
    "vector batch stream window order key query data value line"

  private def fixtureDir: String = documentsFixture(Seq(
    (0L, base, "en", "src0"),                       // original
    (1L, base, "en", "src0"),                       // exact duplicate
    (2L, base + " extra", "en", "src1"),            // near-dup (one token appended)
    (3L, "totally different words here now", "en", "src0"),
    (4L, base.replace("spark", "flink"), "en", "src2"), // near-dup (one token changed)
    (5L, "tiny", "en", "src0"),                     // < 3 tokens: no shingles
  ))

  test("exact dedup groups identical texts, keeps lowest doc_id") {
    val got = DedupOps.dedupExact(spark, fixtureDir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(got(0L) == 2L, "docs 0 and 1 are identical → one group of 2, keeper 0")
    assert(got(2L) == 1L)
    assert(!got.contains(1L), "doc 1 must be absorbed into doc 0's group")
  }

  test("containment catches a small doc embedded in a large one that jaccard misses") {
    // doc 11 = the full 18-shingle run of doc 10's prefix; doc 10 continues
    // with 60 more distinct tokens → Jaccard ≈ 18/78 < 0.5 (not a pair),
    // containment = 18/18 = 1.0 (a pair)
    val small = (1 to 20).map(i => s"w$i").mkString(" ")
    val big = small + " " + (1 to 60).map(i => s"x$i").mkString(" ")
    val dir = documentsFixture(Seq(
      (10L, big, "en", "src0"),
      (11L, small, "en", "src0"),
      (12L, "unrelated content entirely different", "en", "src0")))
    val cont = DedupOps.containment(spark, dir).collect()
    assert(cont.length == 1)
    assert(cont.head.getLong(0) == 10L && cont.head.getLong(1) == 11L)
    assert(cont.head.getAs[Double]("containment") == 1.0)
    val jac = DedupOps.ngramJaccard(spark, dir).collect()
    assert(jac.isEmpty, "jaccard at 0.5 must NOT pair the embedded doc")
  }

  test("minhash+lsh finds planted near-dups, including cross-source ones jaccard blocking misses") {
    val dir = fixtureDir
    val pairs = DedupOps.minhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact duplicate pair must be found")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      "near-dup with appended token must be found (cross-source)")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
    // same-source subset must cover everything source-blocked jaccard finds
    val jac = DedupOps.ngramJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.subsetOf(pairs),
      s"jaccard pairs $jac must be a subset of lsh pairs $pairs")
  }

  test("source overlap equals a doc-grain rollup of the minhash pair output") {
    // cross-source exact-dup clique {0,1,2} + near-dups in two more
    // sources: exercises every contribution kind (same-source C(cnt,2),
    // cross-source intra-fp cnt·cnt, cross-fp products)
    val dir = documentsFixture(Seq(
      (0L, base, "en", "src0"),
      (1L, base, "en", "src0"),                        // same-source exact dup
      (2L, base, "en", "src1"),                        // CROSS-source exact dup
      (3L, base + " extra", "en", "src1"),             // near-dup of the clique
      (4L, "totally different words here now", "en", "src2"),
      (5L, base.replace("spark", "flink"), "en", "src2"))) // near-dup, 3rd source
    val got = DedupOps.sourceOverlap(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getAs[Double]("max_jaccard")))).toMap
    // brute force: expand the registered pair query's own doc-grain
    // output and roll it up — the fp-grain rollup must agree exactly
    val meta = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val pairs = DedupOps.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val brute = docGrainRollup(pairs, meta(_)._1, meta(_)._2)
    assert(got == brute, s"fp-grain rollup $got != doc-grain rollup $brute")
    assert(got(("src0", "src0")) == ((1L, 1L, 1.0)),
      "one same-source exact-dup pair, one content pair, jaccard 1.0")
    assert(got(("src0", "src1"))._2 >= 2L,
      "cross-source group must carry the 2 exact-dup doc pairs plus near-dups")
    // the xxhash64 production path must satisfy the same identity against
    // ITS OWN pair output (hash family changes candidates, never the
    // rollup arithmetic)
    val gotFast = DedupOps.sourceOverlapFast(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getAs[Double]("max_jaccard")))).toMap
    val bruteFast = docGrainRollup(
      DedupOps.minhashLshFast(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
      meta(_)._1, meta(_)._2)
    assert(gotFast == bruteFast,
      s"fast rollup $gotFast != fast doc-grain rollup $bruteFast")
  }

  test("split leakage equals a doc-grain rollup over splitAssign; exact dups never cross") {
    // a 5-replica clique + near-dup satellites: the identical-text mass
    // must land entirely on a within-split row (content-keyed split),
    // while near-dups may cross
    val dir = documentsFixture(
      (0L until 5L).map(i => (i, base, "en", s"src$i")) ++ Seq(
        (10L, base + " extra", "en", "srcA"),
        (11L, base.replace("spark", "flink"), "en", "srcB"),
        (12L, "totally different words here now", "en", "srcC")))
    val got = DedupOps.splitLeakage(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getAs[Double]("max_jaccard")))).toMap
    // doc-grain brute force off the registered pair query and the
    // registered split assignment — cross-pins the fp-derived split rule
    // against q_split_assign's own output
    val split = graft.operators.PipelineOps.splitAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val fps = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = DedupOps.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val brute = docGrainRollup(pairs, split(_), fps(_))
    assert(got == brute, s"fp-grain $got != doc-grain $brute")
    // the clique's 10 identical-text pairs are same-split by construction
    val cliqueSplit = split(0L)
    assert((0L until 5L).forall(i => split(i) == cliqueSplit),
      "identical texts must share a split (content-keyed rule)")
    assert(got((cliqueSplit, cliqueSplit))._2 >= 10L,
      "the C(5,2) clique pairs must all land within one split")
  }

  test("dedup tau sweep equals doc-grain thresholds of the pair output") {
    // three near-dup pairs engineered into distinct jaccard bands
    // (22-token texts sharing an 18/20/21-token prefix → 0.667 / 0.818 /
    // 0.905) + an exact-dup pair (1.0 via the intra path) + an unrelated
    // doc; vocabularies disjoint across pairs so no cross-pair jaccard
    def text(v: String, shared: Int, tag: String) =
      ((0 until shared).map(j => s"$v$j") ++
        (shared until 22).map(j => s"$v$tag$j")).mkString(" ")
    val dir = documentsFixture(Seq(
      (0L, text("a", 18, "x"), "en", "s0"), (1L, text("a", 18, "y"), "en", "s0"),
      (2L, text("b", 20, "x"), "en", "s0"), (3L, text("b", 20, "y"), "en", "s0"),
      (4L, text("c", 21, "x"), "en", "s0"), (5L, text("c", 21, "y"), "en", "s0"),
      (6L, text("d", 22, ""), "en", "s0"), (7L, text("d", 22, ""), "en", "s0"),
      (8L, "totally unrelated words entirely different here", "en", "s0")))
    val sweep = DedupOps.dedupTauSweep(spark, dir).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(sweep.keySet == Set(0.5, 0.7, 0.9))
    // doc-grain brute force off the registered pair query: per τ the pair
    // count, the greater-element drop count, and the survivors
    val pairs = DedupOps.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    sweep.foreach { case (tau, (np, nd, nk)) =>
      val qp = pairs.filter(_._3 >= tau)
      assert(np == qp.length.toLong, s"tau=$tau pairs")
      assert(nd == qp.map(_._2).distinct.length.toLong, s"tau=$tau drops")
      assert(nk == 9L - nd, s"tau=$tau kept")
    }
    // the exact-dup pair qualifies at every τ; aggressiveness is monotone
    assert(sweep(0.9)._1 >= 1L && sweep(0.9)._2 >= 1L)
    assert(sweep(0.5)._1 >= sweep(0.7)._1 && sweep(0.7)._1 >= sweep(0.9)._1)
    assert(sweep(0.5)._2 >= sweep(0.7)._2 && sweep(0.7)._2 >= sweep(0.9)._2)
  }

  test("hot boilerplate shingle is df-capped out of the jaccard candidate join") {
    // 300 otherwise-unrelated docs all share ONE boilerplate shingle
    // ("click here now"): uncapped, the self-join would put 300²/2 ≈ 45k
    // candidate pairs on that single shingle key — the Zipfian detonation
    // at 100 TB. The df cap must drop it BEFORE the join.
    val hot = " click here now"
    val docs = (0L until 300L).map { i =>
      (i, s"unique$i alpha$i beta$i gamma$i delta$i" + hot, "en", "srcA")
    } ++ Seq(
      // a genuine near-dup pair whose shared shingles are all rare
      (1000L, "the quick brown fox jumps over dogs", "en", "srcA"),
      (1001L, "the quick brown fox jumps over cats", "en", "srcA"))
    val dir = documentsFixture(docs)
    val pairs = DedupOps.ngramJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000L, 1001L)), "true near-dup must still be found")
    assert(!pairs.exists(p => p._1 < 300L),
      s"boilerplate-only overlap must produce no pairs, got ${pairs.take(5)}")
  }

  test("jaccard pairs: replica clique expands to exact intra + cross pairs with fp-grain constants") {
    // round 11 moved shinglePairOverlap to content-fingerprint grain;
    // pin the expansion: 3 exact replicas + 1 near-dup + 1 unrelated.
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val near = ((1 to 11).map(i => s"w$i") :+ "zz").mkString(" ")
    val dir = documentsFixture(Seq(
      (0L, base, "en", "srcA"), (1L, base, "en", "srcA"),
      (2L, base, "en", "srcA"),                       // 3-replica clique
      (5L, near, "en", "srcA"),                       // near-dup of the clique
      (9L, "totally different other words here now", "en", "srcA")))
    val got = DedupOps.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // intra: C(3,2) pairs at jaccard exactly 1.0, n_common = 10 (12
    // tokens → 10 3-grams, all shared)
    for (p <- Seq((0L, 1L), (0L, 2L), (1L, 2L)))
      assert(got(p) == ((10L, 1.0)), s"$p → ${got.get(p)}")
    // cross: every replica pairs with the near doc at the same
    // fp-grain-constant overlap (9 shared of 10+10 grams → 9/11)
    for (p <- Seq((0L, 5L), (1L, 5L), (2L, 5L)))
      assert(got(p)._1 == 9L && math.abs(got(p)._2 - 9.0 / 11) < 1e-15,
        s"$p → ${got.get(p)}")
    assert(got.size == 6, s"unrelated doc must pair with nothing: $got")
  }

  test("containment: c_a/c_b stay with their doc through the fp-grain expansion") {
    // asymmetric cardinalities in BOTH id orders: whichever way the fp
    // pair sorts, c_a must be doc_a's own kept-shingle count (the
    // least/greatest flip in the round-11 expansion must swap the c's)
    val small1 = (1 to 10).map(i => s"s$i").mkString(" ")            // 8 grams
    val big1 = small1 + " " + (1 to 8).map(i => s"x$i").mkString(" ") // 16 grams
    val small2 = (1 to 10).map(i => s"t$i").mkString(" ")
    val big2 = small2 + " " + (1 to 8).map(i => s"y$i").mkString(" ")
    val dir = documentsFixture(Seq(
      (10L, small1, "en", "srcA"), (11L, big1, "en", "srcA"),
      (20L, big2, "en", "srcA"), (21L, small2, "en", "srcA")))
    val got = DedupOps.containment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // 10-token small doc → 8 3-grams, all inside the big doc (16 grams)
    assert(got((10L, 11L)) == ((8L, 8L, 16L)), s"got ${got.get((10L, 11L))}")
    assert(got((20L, 21L)) == ((8L, 16L, 8L)), s"got ${got.get((20L, 21L))}")
  }

  test("contrastive pairs: hardest positive per anchor, same-block ring negative, honest dup flag") {
    // two planted near-dup pairs + one unrelated doc, one source block.
    // 12-token texts differing in ONE token → 3-gram jaccard well over 0.5.
    val base1 = (1 to 12).map(i => s"a$i").mkString(" ")
    val dup1 = ((1 to 11).map(i => s"a$i") :+ "zz").mkString(" ")
    val base2 = (1 to 12).map(i => s"b$i").mkString(" ")
    val dup2 = ((1 to 11).map(i => s"b$i") :+ "yy").mkString(" ")
    val lone = (1 to 12).map(i => s"c$i").mkString(" ")
    val dir = documentsFixture(Seq(
      (0L, base1, "en", "s"), (1L, dup1, "en", "s"),
      (2L, lone, "en", "s"),
      (3L, base2, "en", "s"), (4L, dup2, "en", "s")))
    val got = DedupOps.contrastivePairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))
    // anchors are exactly the docs with a near-dup partner; each anchor's
    // positive is its (only, hence hardest) partner
    assert(got.map(t => t._1 -> t._2).toMap ==
      Map(0L -> 1L, 1L -> 0L, 3L -> 4L, 4L -> 3L), s"got ${got.toSeq}")
    // the partner set recomputed independently drives the neg_is_dup flag
    val partners = DedupOps.ngramJaccard(spark, dir).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .toSet
    got.foreach { case (a, _, neg, flag) =>
      assert(neg != a, s"anchor $a drew itself as negative")
      assert(flag == partners((a, neg)),
        s"anchor $a negative $neg: flag $flag vs partner set")
    }
  }

  test("incremental near-dup: batch probes the corpus index, best partner wins") {
    // ids pick their role via doc_id % 10: 0-7 corpus, 8-9 batch.
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val near = ((1 to 19).map(i => s"w$i") :+ "zz").mkString(" ")
    val unrelated = (1 to 20).map(i => s"u$i").mkString(" ")
    val dir = documentsFixture(Seq(
      (0L, base, "en", "s"),        // corpus original
      (1L, unrelated, "en", "s"),   // corpus, unrelated
      (8L, near, "en", "s"),        // batch near-dup of doc 0
      (9L, base, "en", "s"),        // batch EXACT copy of doc 0
      (18L, (1 to 20).map(i => s"q$i").mkString(" "), "en", "s"))) // batch novel
    val got = DedupOps.snapshotNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val byBatch = got.map(t => t._1 -> (t._2, t._3)).toMap
    // the exact copy matches its corpus twin on every permutation
    assert(byBatch(9L) == (0L, 32L), s"got $got")
    // the near-dup finds doc 0 with most (but not necessarily all) mins equal
    assert(byBatch.get(8L).exists { case (c, n) => c == 0L && n >= 16L && n < 32L },
      s"got $got")
    // the novel batch doc and the corpus docs never appear as batch_id
    assert(!byBatch.contains(18L) && !byBatch.contains(0L) && !byBatch.contains(1L))
  }

  test("simhash: identical docs at hamming 0; near-identical within 3 bits") {
    val pairs = DedupOps.simhashPairs(spark, fixtureDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.get((0L, 1L)).contains(0L), "identical docs → hamming 0")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash fast path (xxhash64) finds the same planted structure") {
    val pairs = DedupOps.simhashPairsFast(spark, fixtureDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((0L, 1L)).contains(0), "identical docs → hamming 0")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash fast path (xxhash64 + hashed buckets) keeps planted recall and the jaccard floor") {
    val dir = fixtureDir
    val pairs = DedupOps.minhashLshFast(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact duplicate pair must be found")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      "near-dup with appended token must be found (cross-source)")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // the exact-Jaccard verify is shared: every emitted pair clears 0.5
    val df = DedupOps.minhashLshFast(spark, sf0001)
    assert(df.where(col("jaccard") < 0.5).count() == 0)
  }

  test("arithmetic hamming twin: DIV-4 groups pair within 2 bits, nothing else") {
    // doc_ids 0-5 → groups {0,1,2,3} and {4,5}; noise bits at distinct
    // positions 7·id % 56, so every within-group pair is exactly hamming 2
    val pairs = DedupOps.hammingNearDup(spark, fixtureDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val expected = (for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)).toSet + ((4L, 5L))
    assert(pairs.keySet == expected, s"got ${pairs.keySet}")
    assert(pairs.values.forall(_ == 2L), s"got $pairs")
  }

  test("minhash signature similarity approximates jaccard on sf0.001") {
    // over the real corpus: every LSH-verified pair has true jaccard >= 0.5
    // by construction; spot-check the pipeline end-to-end runs and pairs
    // are ordered (a < b) and distinct
    val df = DedupOps.minhashLsh(spark, sf0001).cache()
    val n = df.count()
    assert(df.where(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.select("doc_a", "doc_b").distinct().count() == n)
    assert(df.where(col("jaccard") < 0.5).count() == 0)
  }

  test("snapshot dedup drops batch docs against corpus and within-batch copies") {
    // corpus = doc_id % 10 < 8 (ids 0, 1); batch = ids 8, 9, 18, 19
    val dir = documentsFixture(Seq(
      (0L, "alpha beta gamma", "en", "s"),
      (1L, "unrelated corpus doc", "en", "s"),
      (8L, "alpha beta gamma", "en", "s"),   // dup of corpus doc 0 → dropped
      (9L, "brand new content", "en", "s"),  // genuinely new → kept
      (18L, "brand new content", "en", "s"), // in-batch dup of 9 → absorbed
      (19L, "another new one", "en", "s")))  // new, unique → kept
    val got = DedupOps.snapshotDedup(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSet == Set(9L, 19L))
    val copies = got.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(copies(9L) == 2L, "in-batch duplicate must be counted on the keeper")
    assert(copies(19L) == 1L)
  }

  test("sim degree counts per-node pair memberships of the hamming graph") {
    // fixtureDir ids 0-5 → DIV-4 groups {0,1,2,3} (all 6 pairs) and {4,5}
    val got = DedupOps.simDegree(spark, fixtureDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 1L, 5L -> 1L),
      s"got $got")
  }

  test("registered Manku-blocked hamming near-dup emits the all-pairs bit_count(xor) <= 3 pair set") {
    // the Manku blocking is COMPLETE for hamming<=3 and verifies every
    // candidate exactly, so its output must equal an unblocked scan of
    // every doc pair over the same signatures — on the planted fixture
    // AND the real corpus (500 docs: 124 750 pairs)
    for (d <- Seq(fixtureDir, sf0001)) {
      val a = DedupOps.hammingNearDup(spark, d).collect().map(_.toSeq).toSeq
      val sig = Tables.documents(spark, d)
        .select(col("doc_id"), DedupOps.arithmeticSimhash.as("simhash"))
      val b = sig.as("x").crossJoin(sig.as("y"))
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
            .cast("long").as("hamming"))
        .where(col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
        .collect().map(_.toSeq).toSeq
      assert(a == b && a.nonEmpty, s"mismatch at $d")
    }
  }

  test("simhash clusters: exact-copy clique collapses to one row; pair count derives exactly") {
    // fixture: docs 0 and 1 share text → identical bit-vote signature →
    // ONE cluster row with n_docs = 2, canonical id 0
    val rows = DedupOps.simhashClusters(spark, fixtureDir).collect()
    val byCanon = rows.map(r => r.getLong(2) ->
      (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    assert(byCanon(0L)._1 == 2L, s"docs 0+1 must share a cluster; got $byCanon")
    assert(!byCanon.contains(1L), "doc 1 must be absorbed into doc 0's cluster")
    // exact identity vs the pair report, on the fixture AND the real
    // corpus: total pairs = Σ C(n_docs,2) (within-sig) + ½ Σ n_docs ·
    // n_near_docs (cross-sig, each unordered pair counted from both ends)
    for (d <- Seq(fixtureDir, sf0001)) {
      val cl = DedupOps.simhashClusters(spark, d).collect()
      val within = cl.map(r => { val m = r.getLong(1); m * (m - 1) / 2 }).sum
      val cross2 = cl.map(r => r.getLong(1) * r.getLong(4)).sum
      assert(cross2 % 2 == 0)
      val expected = within + cross2 / 2
      val pairs = DedupOps.simhashPairs(spark, d).count()
      assert(pairs == expected, s"$d: pairs $pairs != derived $expected")
    }
  }

  test("contamination groups: replica docs collapse to fp grain; pair grain derives exactly") {
    val e = "alpha beta gamma delta epsilon zeta"
    val dir = documentsFixture(Seq(
      (0L, e, "en", "src0"),                         // eval
      (100L, e, "en", "src0"),                       // eval replica
      (1L, "intro " + e + " outro", "en", "src1"),   // contaminated train
      (2L, "intro " + e + " outro", "en", "src1"),   // exact replica of it
      (3L, "clean training text with different tokens", "en", "src1")))
    val g = DedupOps.contaminationGroups(spark, dir).collect()
    assert(g.length == 1, s"got ${g.toSeq}")
    val r = g.head
    assert(r.getAs[Long]("n_train_docs") == 2L &&
      r.getAs[Long]("n_eval_docs") == 2L && r.getAs[Long]("n_shared") == 4L)
    // the pair grain is exactly the multiplicity product of the fp grain
    for (d <- Seq(dir, sf0001)) {
      val groups = DedupOps.contaminationGroups(spark, d).collect()
      val derived = groups.map(x =>
        x.getAs[Long]("n_train_docs") * x.getAs[Long]("n_eval_docs")).sum
      val pairs = DedupOps.contaminationPairs(spark, d).count()
      assert(pairs == derived, s"$d: pairs $pairs != derived $derived")
    }
  }

  test("fixed-eval contamination pairs equal the registered form on an unreplicated corpus") {
    // sf0.001 ids are all < the make_scaled replica offset, so the
    // fixed-eval filter is a no-op there — any divergence means the
    // alias drifted from the registered semantics
    val a = DedupOps.contaminationPairs(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = DedupOps.contaminationPairsFixedEval(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("embedding near-dup: quantizer-blocked pairs catch every replica clique, labels irrelevant") {
    // round 10 re-blocked this op on the corpus-scaled quantizer (label
    // blocks grow linearly with the corpus — the 100× sweep cap-killed
    // the old form). Exact replicas take identical argmax decisions at
    // both quantizer levels, so EVERY within-clique pair must appear —
    // across different labels (labels no longer block). Low-cosine pairs
    // never appear regardless of clustering (the τ=0.4 filter).
    def vec(seed: Int): Seq[Float] = {
      // SIGNED components — an all-positive generator gives any two
      // random vectors cos ≈ 0.75 > τ, which is real similarity, not a
      // filter bug (first draft of this spec tripped exactly that)
      var s = seed.toLong * 2654435761L + 11
      Seq.fill(64) { s = s * 6364136223846793005L + 1442695040888963407L
        (((s >>> 40).toInt % 1000) - 500) / 500.0f }
    }
    val rows = for (j <- 0 until 8; c <- 0 until 5)
      yield (j + 100L * c, vec(j), c % 3) // 8 bases × 5 replicas, mixed labels
    val dir = embeddingsFixture(rows)
    val pairs = DedupOps.embedNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cliquePairs = for {
      j <- 0 until 8
      a <- 0 until 5; b <- (a + 1) until 5
    } yield (j + 100L * a, j + 100L * b)
    cliquePairs.foreach(p => assert(pairs.contains(p), s"missing replica pair $p"))
    // distinct pseudo-random bases have pairwise |cos| ~ N(0, 1/64) ≪ 0.4:
    // any cross-base pair in the output would mean the τ filter broke
    val sameBase = (p: (Long, Long)) => p._1 % 100 == p._2 % 100
    assert(pairs.forall(sameBase), s"cross-base pair leaked: ${pairs.filterNot(sameBase)}")
  }

  test("lsh recall audit: high-jaccard pair detected, one-shared-shingle pair counted but rejected") {
    // planted geometry (token-level, so shingle arithmetic is exact):
    //  - docs 0/1: 20 tokens, last token differs → 17 of 18+18 shingles
    //    shared, jaccard 17/19 ≈ 0.89 → bucket 8; near-identical
    //    signatures ⇒ the banding must detect it (deterministic md5 math)
    //  - docs 2/3 both open on the shared prefix (w1 w2 w3) and nothing
    //    else → every remaining fp pair shares exactly ONE shingle
    //    (jaccard ≤ 1/13 → bucket 0, 5 such pairs); one matching min in
    //    ~13 makes a 4-min band collision astronomically unlikely for
    //    THIS fixed corpus
    //  - doc 4 replicates doc 0: identical texts collapse to one fp —
    //    the pair must NOT appear anywhere (fp grain, not doc grain)
    val w = (1 to 20).map(i => s"w$i")
    val dir = documentsFixture(Seq(
      (0L, w.mkString(" "), "en", "src0"),
      (1L, (w.init :+ "zz").mkString(" "), "en", "src0"),
      (2L, (Seq("w1", "w2", "w3") ++ (1 to 10).map(i => s"c$i")).mkString(" "), "en", "src1"),
      (3L, (Seq("e1", "e2") ++ Seq("w1", "w2", "w3")).mkString(" "), "en", "src1"),
      (4L, w.mkString(" "), "en", "src2"),
    ))
    val rows = DedupOps.lshRecall(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // bucket 8: the near-dup pair, detected (recall 1), analytic ≈ 0.997
    val (n8, d8, r8, a8) = rows(8L)
    assert(n8 == 1L && d8 == 1L && r8 == 1.0)
    assert(math.abs(a8 - 0.9972749294876767) < 1e-15)
    // bucket 0: the five single-shared-shingle pairs, in truth, none banded
    val (n0, d0, r0, _) = rows(0L)
    assert(n0 == 5L && d0 == 0L && r0 == 0.0)
    // docs 0/4 are the same text: no other bucket may exist (fp grain)
    assert(rows.keySet == Set(0L, 8L), rows.toString)

    // the geometry sweep on the same fixture: exactly ONE true ≥ 0.5 pair
    // (the bucket-8 near-dup); the registered (8, 4) geometry must
    // surface it (same banding q_lsh_recall just detected), and every
    // geometry's candidate count bounds its true-candidate count
    val tune = DedupOps.lshTuning(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(7))).toMap
    assert(tune.keySet == Set((16L, 2L), (8L, 4L), (4L, 8L)))
    val (nc84, nt84, tot84, an84) = tune((8L, 4L))
    assert(tot84 == 1L && nt84 == 1L && nc84 >= 1L)
    // analytic 1-(1-0.5^4)^8 for the registered geometry, exact constant
    assert(math.abs(an84 - (1.0 - math.pow(1.0 - 0.0625, 8))) < 1e-15)
    assert(tune.forall { case (_, (nc, nt, tot, _)) => nt <= nc && nt <= tot })
  }
}
