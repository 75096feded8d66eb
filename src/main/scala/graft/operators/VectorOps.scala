package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftext.GraftFunctions.{vec_dot, vec_norm}

/** Cosine over `array<float>` embedding columns, built on the native
  * `vec_dot`/`vec_norm` (graftext.GraftFunctions) — a tight primitive
  * loop inside whole-stage codegen. The higher-order-function forms are
  * kept as `dotHof`/`quantizeHof` for equivalence testing: both dots
  * accumulate in double precision in array order, so they are
  * bit-identical to each other and to DuckDB's list_cosine_similarity on
  * the same floats.
  */
object VectorOps {

  /** dot/(|a|·|b|) can exceed 1.0 by an ulp for IDENTICAL vectors
    * (sqrt(n)² rounds below n, the division rounds past 1) — exactly the
    * duplicate pairs a dedup pipeline exists to find. Cosine is in
    * [-1, 1] by definition, so clamp; DuckDB's list_cosine_similarity
    * clamps the same way for real values (verified bitwise), and
    * in-range values pass through bit-unchanged. NaN (poisoned
    * embeddings) stays NaN — Spark's least/greatest would turn it into
    * 1.0 (NaN orders above all doubles), silently promoting garbage to a
    * perfect match; the callers' "NaN orders last / excluded" handling
    * depends on NaN surviving. Codegen CSEs the doubled reference. */
  private def clamp(c: Column): Column =
    when(isnan(c), c).otherwise(least(greatest(c, lit(-1.0)), lit(1.0)))

  def cosine(a: Column, b: Column): Column =
    clamp(vec_dot(a, b) / (vec_norm(a) * vec_norm(b)))

  /** Cosine from precomputed per-side norms — use in joins so each pair
    * costs one dot instead of three. */
  def cosinePrenorm(a: Column, b: Column, normA: Column, normB: Column): Column =
    clamp(vec_dot(a, b) / (normA * normB))

  /** Reference higher-order-function implementation (interpreted lambdas;
    * ~6× slower in pair joins). Kept for cross-checking the native expr. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Reference HOF form of `vec_quantize` (interpreted transform over
    * Spark's own round/cast). Kept for the VectorExprSpec parity pin. */
  private[graft] def quantizeHof(a: Column, scale: Double): Column =
    transform(a, x => round(x.cast("double") * lit(scale)).cast("long"))
}
