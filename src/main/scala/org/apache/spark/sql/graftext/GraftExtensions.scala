package org.apache.spark.sql.graftext

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Sqrt, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, BloomFilterAggregate}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.{ColumnNodeExpression, ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.functions.{lit, typedlit}
import org.apache.spark.sql.internal
import org.apache.spark.unsafe.types.UTF8String

/** SQL registration for the engine's native functions as a
  * `SparkSessionExtensions`: GraftSession installs it through
  * `.withExtensions`, and a cluster session through the
  * spark.sql.extensions conf. Makes the whole native family — `vec_dot(a, b)`,
  * `topk_by(score, id, k)`, `word_ngrams(tokens, 3)`, `chain_replace(s,
  * froms, tos)`, the quantizer/sketch primitives — first-class in
  * spark.sql text, so a SQL-only user reaches the same codegen'd
  * expressions the Scala API ([[GraftFunctions]]) does.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(f => e.injectFunction(f.registration))
  }
}

/** One native function: its SQL name, its usage line (after the name),
  * the argument counts SQL text may pass, and its builder from the
  * argument expressions — the one place the expression node is built,
  * for SQL text and for [[GraftFunctions]] alike. */
private[graftext] final case class NativeFunction(name: String, usage: String,
    arity: Range)(body: Seq[Expression] => Expression) {

  /** The arity guard, then the builder: a wrong argument count surfaces
    * as a clear named error instead of the analyzer's raw
    * IndexOutOfBoundsException (a SQL-only user's first contact with the
    * family is exactly this mistake), and an argument the builder cannot
    * fold to a literal names this function. */
  def build(exprs: Seq[Expression]): Expression = {
    if (!arity.contains(exprs.length)) {
      val want = if (arity.size == 1) s"${arity.start}" else s"${arity.start} to ${arity.end}"
      throw new IllegalArgumentException(
        s"$name expects $want argument(s), got ${exprs.length}")
    }
    try body(exprs)
    catch {
      case e: GraftExtensions.NotALiteral =>
        throw new IllegalArgumentException(s"$name: ${e.getMessage}")
    }
  }

  def registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, name + usage,
        "", "", "", "", "", "", "scala_udf"),
      build)

  /** The Column API of this function: the same builder over the
    * columns' expressions. A `lit`/`typedlit` argument is converted to
    * its catalyst Literal here, as the analyzer would, so the builder can
    * fold it. An aggregate comes back wrapped as an aggregate expression
    * (SQL text gets that wrap from the analyzer). */
  def apply(cols: Column*): Column = {
    val args = cols.map(ExpressionUtils.expression(_) match {
      case ColumnNodeExpression(l: internal.Literal) => ColumnNodeToExpressionConverter(l)
      case e => e
    })
    ExpressionUtils.column(build(args) match {
      case agg: AggregateFunction => agg.toAggregateExpression()
      case e => e
    })
  }
}

object GraftExtensions {
  /** A literal argument the builder could not fold; [[NativeFunction.build]]
    * puts the function's name in front of the message. */
  private[graftext] final class NotALiteral(msg: String) extends IllegalArgumentException(msg)

  /** Constant-fold an argument that parameterizes the expression NODE
    * (k, n, separators, merge tables) rather than flowing through it.
    * Mirrors what Spark's own builders do for e.g. `count_min_sketch`'s
    * eps/confidence/seed arguments. */
  private def litInt(arg: String, e: Expression): Int =
    e.eval() match {
      case n: java.lang.Number => n.intValue()
      case v => throw new NotALiteral(s"$arg must be an integer literal, got $v")
    }

  private def litLong(arg: String, e: Expression): Long =
    e.eval() match {
      case n: java.lang.Number => n.longValue()
      case v => throw new NotALiteral(s"$arg must be an integer literal, got $v")
    }

  private def litDouble(arg: String, e: Expression): Double =
    e.eval() match {
      // SQL text `2.0` parses as a DECIMAL literal (Spark Decimal is not
      // a java.lang.Number), `2.0D` as a double — accept both
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case v => throw new NotALiteral(s"$arg must be a numeric literal, got $v")
    }

  private def litString(arg: String, e: Expression): String =
    e.eval() match {
      case s: UTF8String => s.toString
      case v => throw new NotALiteral(s"$arg must be a string literal, got $v")
    }

  private def litStrings(arg: String, e: Expression): Seq[String] =
    e.eval() match {
      case a: ArrayData =>
        (0 until a.numElements()).map { i =>
          val s = a.getUTF8String(i)
          if (s == null) throw new NotALiteral(s"$arg must not contain null elements")
          s.toString
        }
      case v => throw new NotALiteral(s"$arg must be an array<string> literal, got $v")
    }

  /** The key hash of both bloom sides. `BloomFilterAggregate` stores longs
    * via `putLong` and `BloomProbe` probes via `mightContainLong`, so the
    * build and the probe must wrap the value in the SAME `XxHash64` (seed
    * 42): a mismatch would silently probe garbage. Both builders below go
    * through here, so no call site can break the pairing. */
  private def bloomKey(value: Expression): Expression = new XxHash64(Seq(value))

  private[graftext] val vecDot = NativeFunction("vec_dot",
    "(a, b) - dot product of two float arrays", 2 to 2)(
    e => FloatVectorDot(e(0), e(1)))

  private[graftext] val vecNorm = NativeFunction("vec_norm",
    "(a) - L2 norm of a float array (sqrt of the native dot)", 1 to 1)(
    e => Sqrt(FloatVectorDot(e(0), e(0))))

  private[graftext] val vecSub = NativeFunction("vec_sub",
    "(a, b) - elementwise difference of two float arrays (the PQ residual step)", 2 to 2)(
    e => FloatVectorSub(e(0), e(1)))

  private[graftext] val vecQuantize = NativeFunction("vec_quantize",
    "(a, scale) - fixed-point quantization array<float> -> array<long> " +
      "(round(double(x)*scale) cast long, scale a double literal)", 2 to 2)(
    e => FloatVectorQuantize(e(0), litDouble("scale", e(1))))

  private[graftext] val vecQuantizeStats = NativeFunction("vec_quantize_stats",
    "(a) - per-row int8 quantization stats " +
      "struct<max_abs_f, scale, q_sum, q_min, q_max> in one pass", 1 to 1)(
    e => FloatQuantizeStats(e(0)))

  private[graftext] val gramMoments = NativeFunction("gram_moments",
    "(qa) - one-pass integer Gram moments over array<bigint>: " +
      "struct<n, s1, s2(p,q,decimal)> (the PCA covariance inputs). " +
      "Elements must satisfy |x| <= 2^31 (quantized-vector contract) — " +
      "larger values raise rather than risk wrapping the 128-bit sums", 1 to 1)(
    e => GramMoments(e(0)))

  private[graftext] val topkBy = NativeFunction("topk_by",
    "(score, id, k) - top-k (score,id) pairs, best first", 3 to 3)(
    e => TopKByScore(e(0), e(1), litInt("k", e(2))))

  private[graftext] val pairCombos = NativeFunction("pair_combos",
    "(arr) - all (a, b) element pairs with index i < j", 1 to 1)(
    e => PairCombos(e(0)))

  private[graftext] val alphaTokenCount = NativeFunction("alpha_token_count",
    "(s) - (n_tokens, n_alpha_tokens) over whitespace tokens", 1 to 1)(
    e => AlphaTokenCount(e(0)))

  private[graftext] val rollingHash31 = NativeFunction("rolling_hash31",
    "(s) - 31-base rolling polynomial fingerprint mod 1e9+7", 1 to 1)(
    e => RollingHash31(e(0)))

  private[graftext] val wordNGrams = NativeFunction("word_ngrams",
    "(tokens, n[, sep]) - n-gram shingle array over a token array (n, sep literals)", 2 to 3)(
    e => WordNGrams(e(0), litInt("n", e(1)),
      if (e.length > 2) litString("sep", e(2)) else " "))

  private[graftext] val kgramHashes = NativeFunction("kgram_hashes",
    "(tokens, k) - rolling 31-base fingerprint of every " +
      "k-token window (k literal), O(total chars) via prefix hashes", 2 to 2)(
    e => KgramHashes(e(0), litInt("k", e(1))))

  private[graftext] val chainReplace = NativeFunction("chain_replace",
    "(s, froms, tos) - ordered literal replace chain in one node " +
      "(froms/tos array<string> literals, e.g. a BPE merge table)", 3 to 3)(
    e => ChainReplace(e(0), litStrings("froms", e(1)), litStrings("tos", e(2))))

  private[graftext] val nearestCentroid = NativeFunction("nearest_centroid",
    "(cents, emb) - max-cosine cluster id over " +
      "array<struct<cl:int,centroid:array<float>>>", 2 to 2)(
    e => NearestCentroid(e(0), e(1)))

  private[graftext] val nearestCode = NativeFunction("nearest_code",
    "(cands, sub, na2) - ADC nearest codeword id over one subspace's " +
      "array<struct<code:int,cent:array<float>,nc2:double>>", 3 to 3)(
    e => NearestCode(e(0), e(1), e(2)))

  private[graftext] val bloomAgg = NativeFunction("bloom_agg",
    "(value, expected_items) - distributed bloom build (xxhash64 keys), " +
      "returns the serialized filter", 2 to 2)(
    e => new BloomFilterAggregate(bloomKey(e(0)), litLong("expected_items", e(1))))

  private[graftext] val bloomMightContain = NativeFunction("bloom_might_contain",
    "(bloom, value) - map-side probe of a bloom_agg filter " +
      "(no false negatives)", 2 to 2)(
    e => BloomProbe(e(0), bloomKey(e(1))))

  private[graftext] val cmsEstimate = NativeFunction("cms_estimate",
    "(sketch, hashed) - CountMinSketch point estimate (sketch a binary " +
      "literal; key xxhash64-hashed on both build and probe sides)", 2 to 2)(
    e => CmsEstimate(e(0), e(1)))

  private[graftext] val mmHeaderParse = NativeFunction("mm_header_parse",
    "(payload) - probe a media container's magic bytes: " +
      "struct<format, width, height, sample_rate, body_bytes> " +
      "(PNG/JPEG/WAV/MP4; all-null struct on unknown or truncated bytes)", 1 to 1)(
    e => MediaHeaderParse(e(0)))

  /** The whole SQL-callable family, in registration order. */
  private[graftext] val all = Seq(
    vecDot, vecNorm, vecSub, vecQuantize, vecQuantizeStats, gramMoments,
    topkBy, pairCombos, alphaTokenCount, rollingHash31, wordNGrams, kgramHashes,
    chainReplace, nearestCentroid, nearestCode, bloomAgg,
    bloomMightContain, cmsEstimate, mmHeaderParse)
}

/** The Scala Column API of the native family: one typed def per
  * [[GraftExtensions]] value. Literal parameters go in as literal columns
  * and the value's builder folds them back into the node, so a Column
  * call and the same SQL text build the same expression. */
object GraftFunctions {
  import GraftExtensions._

  def vec_dot(a: Column, b: Column): Column = vecDot(a, b)

  /** L2 norm through the same native loop (dot(a, a) in array order). */
  def vec_norm(a: Column): Column = vecNorm(a)

  /** Elementwise a − b over array<float>, the IVF-PQ residual step
    * (double subtraction, float cast; see [[FloatVectorSub]] for the
    * DuckDB-parity contract). */
  def vec_sub(a: Column, b: Column): Column = vecSub(a, b)

  /** Fixed-point quantization array<float> → array<long> in one native
    * pass: round(double(x_i)·scale) cast long, Spark round()/cast-exact
    * (see [[FloatVectorQuantize]] for the parity contract). */
  def vec_quantize(a: Column, scale: Double): Column = vecQuantize(a, lit(scale))

  /** Per-row int8 quantization statistics struct<max_abs_f, scale,
    * q_sum, q_min, q_max> in one native pass. */
  def vec_quantize_stats(a: Column): Column = vecQuantizeStats(a)

  /** Aggregate: struct<n:array<long>, s1:array<long>,
    * s2:array<struct<p,q,s2:decimal(38,0)>>> over a quantized vector. */
  def gram_moments(qa: Column): Column = gramMoments(qa)

  /** Aggregate: array of the k best (score, id) structs, best first. */
  def topk_by(score: Column, id: Column, k: Int): Column = topkBy(score, id, lit(k))

  /** All i<j pairs of an array as array<struct<a,b>>. */
  def pair_combos(x: Column): Column = pairCombos(x)

  def alpha_token_count(text: Column): Column = alphaTokenCount(text)

  def rolling_hash31(text: Column): Column = rollingHash31(text)

  /** Word n-gram array (default trigram shingles; `sep` between the
    * joined tokens — "" gives char-pair grams from a char-split array). */
  def word_ngrams(tokens: Column, n: Int = 3, sep: String = " "): Column =
    wordNGrams(tokens, lit(n), lit(sep))

  /** Rolling 31-base fingerprint of every k-token window (the
    * exact-substring-dedup position hashes), one O(total-chars) pass. */
  def kgram_hashes(tokens: Column, k: Int): Column = kgramHashes(tokens, lit(k))

  /** Ordered literal replace chain: the (from, to) pairs apply in order. */
  def chain_replace(s: Column, pairs: Seq[(String, String)]): Column =
    chainReplace(s, typedlit(pairs.map(_._1)), typedlit(pairs.map(_._2)))

  /** Nearest-centroid cluster id by max cosine. `cents` is the packed
    * array<struct<cl,centroid>> single-row broadcast; `emb` the row's
    * embedding. */
  def nearest_centroid(cents: Column, emb: Column): Column = nearestCentroid(cents, emb)

  /** ADC nearest-code id over one subspace's packed codewords
    * array<struct<code:int,cent:array<float>,nc2:double>>. */
  def nearest_code(cands: Column, sub: Column, na2: Column): Column =
    nearestCode(cands, sub, na2)

  /** Aggregate: distributed bloom-filter build — one partial bloom per
    * partition, OR-merged, never a driver-side item loop. `expectedItems`
    * sizes the bit array for the target false-positive rate (Spark
    * derives numBits as items × 8 by default ≈ 3% FP). */
  def bloom_agg(value: Column, expectedItems: Long): Column =
    bloomAgg(value, lit(expectedItems))

  /** Map-side bloom probe: true if `value` MIGHT be in the filter (no
    * false negatives — every true member passes; a tunable fraction of
    * non-members also passes and must be removed by an exact verify).
    * `bloomBytes` is the serialized filter from [[bloom_agg]], shipped as
    * a literal (task-broadcast with the plan — KBs to low MBs). */
  def bloom_might_contain(bloomBytes: Array[Byte], value: Column): Column =
    bloomMightContain(lit(bloomBytes), value)

  /** Point estimate from a serialized CountMinSketch built by
    * `functions.count_min_sketch` over LONG values (hash string keys with
    * `xxhash64` on BOTH the build and estimate sides, as the bloom pair
    * does). `true_count <= estimate <= true_count + eps·N` with the
    * sketch's confidence. */
  def cms_estimate(sketchBytes: Array[Byte], hashedValue: Column): Column =
    cmsEstimate(lit(sketchBytes), hashedValue)

  def mm_header_parse(payload: Column): Column = mmHeaderParse(payload)
}
