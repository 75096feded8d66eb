package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one owner of the pre-sort exchange in front of a trailing contract
  * `orderBy`.
  *
  * Why: a global `orderBy` plans as a range exchange whose partitioner
  * samples its child with a separate job, so everything between the sort
  * and the nearest materialised exchange runs twice. A hash repartition
  * on the leading sort key puts an exchange there: under AQE it becomes
  * shuffle files that both the sampling job and the range-shuffle job
  * read, and the child runs once.
  *
  * When: the sort's input holds a typed decode (mapPartitions over the
  * assets), a regex scan, or a join chain, with no exchange below it.
  * The recompute then costs more than one extra narrow-row shuffle.
  * Trivial projections, exploded grains and post-shuffle slices keep a
  * plain `orderBy`: measured at 100× and reverted for q_embed_project
  * (+128%), q_explode (+88%), q_snowflake (+64%), q_order_enrich,
  * q_bean_to_json, q_fingerprint, q_merge_orders and q_mm_windows
  * (SCALING.md, "Round 17").
  *
  * An aggregating consumer must take the unsorted frame: the optimizer
  * drops a sort under an aggregate, but not the exchange. */
object ContractSort {

  /** `df` hash-repartitioned on `first`, then globally sorted by `first`
    * and `rest`. */
  def exchanged(df: DataFrame, first: String, rest: String*): DataFrame =
    df.repartition(col(first)).orderBy(first, rest: _*)
}
