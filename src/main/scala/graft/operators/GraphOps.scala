package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Entry, Tables}
import org.apache.spark.sql.graftext.GraftFunctions.pair_combos

/** Graph / market-basket analytics over the order→part bipartite data —
  * the co-occurrence mining a recommendation or data-curation pipeline
  * runs next to the warehouse queries (reference scope ends at star-join
  * aggregation; SURVEY.md §2.6 flags the analytic gap these fill).
  *
  * Scale notes:
  *   - Basket pair expansion is MAP-SIDE off one groupBy-collect
  *     (native `PairCombos`, same pattern as the dedup blocking in
  *     [[DedupOps]]): one shuffle on the order key, C(n,2) output bounded
  *     by per-order basket size (TPC-H-ish max ≈ a dozen) — never an
  *     all-pairs self-join of the lineitem fact.
  *   - Triangle enumeration orients each edge from its (degree, id)-
  *     smaller endpoint before the wedge join, so per-join-key fan-out is
  *     bounded by sqrt-degeneracy instead of max degree — the standard
  *     distributed triangle pattern; a hub node never becomes one
  *     reducer's cross product.
  */
object GraphOps {

  /** Pair support floor: co-occurrences seen once carry no signal and
    * would blow the output up to every pair ever co-ordered. */
  private val MinPairSupport = 2

  /** Per-order distinct sorted part baskets: ONE shuffle on the order
    * key; collect_set dedups at the partial-aggregate stage. The sorted
    * array makes the map-side pair expansion emit a < b pairs. */
  private def baskets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))

  /** (part_a, part_b) → number of orders containing both, support ≥
    * [[MinPairSupport]]. Input must be the baskets frame (possibly
    * cached by the caller). */
  private def pairSupports(bk: DataFrame): DataFrame =
    bk.select(explode(pair_combos(col("parts"))).as("pr"))
      .groupBy(col("pr.a").as("part_a"), col("pr.b").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= MinPairSupport)

  // ------------------------------------------------------- market basket
  /** Co-purchase lift: for every part pair co-ordered ≥ 2 times, the
    * ratio of observed to independence-expected co-occurrence,
    * lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b).
    *
    * The lift is ONE double division over exact integer counts (the
    * numerator product stays in long arithmetic) — bit-identical across
    * engines, no float accumulation order involved. Part frequencies are
    * part-proportional (they grow with SF), so the enrichment joins carry
    * NO broadcast hint — AQE broadcasts them at test scale and falls back
    * to shuffle joins when they outgrow the threshold; the total-order
    * count is a single aggregated row cross-joined in (a literal would
    * need a driver-side collect). */
  def copurchaseLift(spark: SparkSession, dir: String): DataFrame = {
    val bk = baskets(spark, dir).cache() // feeds pairs + freqs + total
    val nOrders = bk.agg(count(lit(1)).as("n_orders"))
    val freq = bk.select(explode(col("parts")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("n_p"))
    pairSupports(bk)
      .join(freq.select(col("p").as("part_a"), col("n_p").as("n_a")), "part_a")
      .join(freq.select(col("p").as("part_b"), col("n_p").as("n_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab") * col("n_orders")).cast("double") / (col("n_a") * col("n_b")))
          .as("lift"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
  }

  // ----------------------------------------------------------- triangles
  /** Triangle enumeration on the co-purchase graph (edges = part pairs
    * with support ≥ 2): every set of three parts that pairwise co-occur.
    * The closed-wedge structure is the community/clustering signal
    * downstream graph metrics build on.
    *
    * Each edge is oriented from its (degree, id)-smaller endpoint, wedges
    * are built by self-joining oriented edges on the source, and a wedge
    * closes iff its two far endpoints are an edge. Orientation bounds
    * every join key's fan-out by the graph degeneracy (max out-degree
    * after orientation ~ sqrt(|E|)) — an unoriented wedge join explodes
    * quadratically on hub nodes. Emitted triples are canonicalized to
    * part_x < part_y < part_z, so the result is identical to the naive
    * id-ordered triple join the oracle runs. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = pairSupports(baskets(spark, dir))
      .select(col("part_a").as("a"), col("part_b").as("b"))
      .cache() // feeds degrees + orientation + wedge-closing join
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // nodes are parts — SF-proportional, so no forced broadcast: AQE
    // broadcasts the degree lookups while they fit and shuffles at scale
    val withDeg = edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    // cached (r16 opt): both sides of the wedge self-join below read
    // this frame — uncached, each side re-ran the two degree joins
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache()
    val x = oriented.alias("x")
    val y = oriented.alias("y")
    // wedge far endpoints ordered by id, matching the a < b edge storage
    val wedges = x.join(y,
      col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("u"), col("x.dst").as("v"), col("y.dst").as("w"))
    val tri = wedges.join(edges, col("v") === col("a") && col("w") === col("b"))
    val lo = least(col("u"), col("v"), col("w"))
    val hi = greatest(col("u"), col("v"), col("w"))
    tri.select(lo.as("part_x"), (col("u") + col("v") + col("w") - lo - hi).as("part_y"),
        hi.as("part_z"))
      .orderBy("part_x", "part_y", "part_z")
  }

  // ------------------------------------------------------------ pagerank
  /** PageRank (3 unrolled power iterations, damping 0.85) over the
    * undirected co-purchase graph — the iterative
    * propagate-along-edges-then-aggregate pattern every distributed graph
    * metric reduces to, expressed as plain join + groupBy rounds.
    *
    * All arithmetic is INTEGER mass: each node starts with 1 000 000
    * units, a round sends `(mass·85) DIV (100·deg)` units down every
    * incident edge and restarts with 150 000 base units. Truncating
    * integer division drops remainder mass deterministically — the ranks
    * are exact longs, reproducible in any engine, where a floating-point
    * PageRank's per-node sums would be accumulation-order-dependent and
    * could never hash-match the oracle.
    *
    * Scale shape: per round ONE equi-join of the edge list with the
    * node-sized mass frame (both hash-partitioned on the source key —
    * co-partitioned round over round) + ONE groupBy on the destination.
    * The loop unrolls into a single linear plan; nothing driver-side but
    * plan construction. Undirected edges mean every node has in-edges, so
    * no dangling-mass correction is needed. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val edges = pairSupports(baskets(spark, dir))
      .select(col("part_a").as("a"), col("part_b").as("b"))
    // the ONE cache point: everything downstream (degrees, per-round
    // propagation) re-derives from this support-filtered edge list, so
    // the expensive basket build + pair expansion runs exactly once
    val directed = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    // deg is node(=part)-proportional: no forced broadcast, AQE decides
    val deg = directed.groupBy("src").agg(count(lit(1)).as("deg"))
    // cached too (r16 opt): every unrolled round's lineage contains this
    // degree-join subtree, so an uncached withDeg re-ran the degree
    // aggregation + join 3× per run — the cache makes round N a single
    // co-partitioned join + groupBy over an in-memory edge frame
    val withDeg = directed.join(deg, "src").cache()
    var mass = deg.select(col("src").as("v"), lit(1000000L).as("mass"))
    for (_ <- 1 to 3) {
      mass = withDeg.join(mass, col("src") === col("v"))
        .select(col("dst"), expr("(mass * 85) DIV (100 * deg)").as("contrib"))
        .groupBy("dst").agg((lit(150000L) + sum(col("contrib"))).as("mass"))
        .select(col("dst").as("v"), col("mass"))
    }
    mass.select(col("v").as("part"), col("mass"))
      .orderBy(col("mass").desc, col("part"))
  }

  // ------------------------------------------------------------ registry
  lazy val entries: Seq[Entry] = Seq(
    Entry("q_copurchase_lift", copurchaseLift, Some(
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
         f AS (SELECT l_partkey, count(*) AS n_p FROM op GROUP BY 1),
         pr AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
           FROM op a JOIN op b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT pr.pa AS part_a, pr.pb AS part_b, pr.n_ab,
                fa.n_p AS n_a, fb.n_p AS n_b,
                CAST(pr.n_ab * n.n_orders AS DOUBLE) / (fa.n_p * fb.n_p) AS lift
         FROM pr
           JOIN f fa ON pr.pa = fa.l_partkey
           JOIN f fb ON pr.pb = fb.l_partkey
           CROSS JOIN n
         ORDER BY pr.n_ab DESC, part_a, part_b""")),
    // the three power iterations unrolled as CTEs; all integer arithmetic
    // (// is truncating BIGINT division, matching Spark's DIV)
    Entry("q_pagerank", pagerank, Some(
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM op a JOIN op b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (
           SELECT pa AS src, pb AS dst FROM e
           UNION ALL SELECT pb AS src, pa AS dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM d GROUP BY 1),
         m0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS mass FROM deg),
         m1 AS (
           SELECT d.dst AS v,
                  150000 + CAST(sum((m.mass * 85) // (100 * deg.deg)) AS BIGINT) AS mass
           FROM d JOIN deg USING (src) JOIN m0 m ON m.v = d.src
           GROUP BY d.dst),
         m2 AS (
           SELECT d.dst AS v,
                  150000 + CAST(sum((m.mass * 85) // (100 * deg.deg)) AS BIGINT) AS mass
           FROM d JOIN deg USING (src) JOIN m1 m ON m.v = d.src
           GROUP BY d.dst),
         m3 AS (
           SELECT d.dst AS v,
                  150000 + CAST(sum((m.mass * 85) // (100 * deg.deg)) AS BIGINT) AS mass
           FROM d JOIN deg USING (src) JOIN m2 m ON m.v = d.src
           GROUP BY d.dst)
         SELECT v AS part, mass FROM m3 ORDER BY mass DESC, part""")),
    // ground truth: naive id-ordered triple join — with a < b edges,
    // e1=(a,b), e2=(a,c), e3=(b,c) enumerates each triangle exactly once
    Entry("q_triangles", triangles, Some(
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM op a JOIN op b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT e1.pa AS part_x, e1.pb AS part_y, e2.pb AS part_z
         FROM e e1
           JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
           JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
         ORDER BY part_x, part_y, part_z""")),
  )
}
