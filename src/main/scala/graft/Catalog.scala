package graft

import org.apache.spark.sql.SparkSession

/** SQL surface: registers every testdata table as a temp view so users can
  * query the engine with `spark.sql(...)` — the reference's publisher-API
  * consumers get an ANSI SQL endpoint instead of REST.
  *
  * `SqlQueries` holds queries written in the dialect-common subset that
  * runs VERBATIM on both Spark and DuckDB — the same text is the Spark
  * implementation and the oracle, making the correctness contract
  * self-evident.
  */
object Catalog {
  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  def registerAll(spark: SparkSession, dir: String): Unit =
    TableNames.foreach { n =>
      val df = n match {
        case "events" => Tables.events(spark, dir)
        case other    => Tables.read(spark, s"$dir/$other.parquet")
      }
      df.createOrReplaceTempView(n)
    }
}

object SqlQueries {
  /** TPC-H-Q1-style pricing summary. Exact decimal arithmetic inside the
    * sums (cast before multiply) so the doubles are bit-identical across
    * engines; `l_shipdate` predicate pushes to the scan in both. */
  val PricingSummary: String =
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS sum_disc_price,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** TPC-H-Q3-style shipping priority: 3-way join, filtered both sides,
    * grouped revenue, top-10. The fact-side predicates (`o_orderdate`,
    * `l_shipdate`) push to both scans; the revenue sum is exact decimal
    * then one cast (ties broken by orderkey, so the LIMIT edge is
    * deterministic). */
  val ShippingPriority: String =
    """SELECT l_orderkey,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
              o_orderdate, o_orderpriority
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, o_orderdate, l_orderkey
       LIMIT 10"""

  /** TPC-H-Q5-style local-supplier volume: the 6-way snowflake with a
    * same-nation customer⇄supplier residual — the join-order stress test
    * (region/nation prune first, the two fact joins shuffle on their
    * keys, every dim broadcasts). */
  val LocalSupplierVolume: String =
    """SELECT r_name, n_name,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue
       FROM customer
       JOIN orders ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY r_name, n_name
       ORDER BY r_name, revenue DESC, n_name"""
}
