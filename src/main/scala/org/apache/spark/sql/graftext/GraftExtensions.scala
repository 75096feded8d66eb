package org.apache.spark.sql.graftext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Sqrt, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** SQL registration for the engine's native functions as a
  * `SparkSessionExtensions`: GraftSession installs it through
  * `.withExtensions`, and a cluster session through the
  * spark.sql.extensions conf. Makes the whole native family — `vec_dot(a, b)`,
  * `topk_by(score, id, k)`, `word_ngrams(tokens, 3)`, `chain_replace(s,
  * froms, tos)`, the quantizer/sketch primitives — first-class in
  * spark.sql text, so a SQL-only user reaches the same codegen'd
  * expressions the Scala API does.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  /** Arity guard for the SQL builders: a wrong argument count surfaces
    * as a clear named error instead of the analyzer's raw
    * IndexOutOfBoundsException (a SQL-only user's first contact with
    * the family is exactly this mistake). */
  private def arity(name: String, min: Int, max: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length < min || exprs.length > max) {
        val want = if (min == max) s"$min" else s"$min to $max"
        throw new IllegalArgumentException(
          s"$name expects $want argument(s), got ${exprs.length}")
      }
      f(exprs)
    }
  private def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    arity(name, n, n)(f)

  /** Constant-fold an argument that parameterizes the expression NODE
    * (k, n, separators, merge tables) rather than flowing through it.
    * Mirrors what Spark's own builders do for e.g. `count_min_sketch`'s
    * eps/confidence/seed arguments. */
  private def litInt(name: String, arg: String, e: Expression): Int =
    e.eval() match {
      case n: java.lang.Number => n.intValue()
      case v => throw new IllegalArgumentException(
        s"$name: $arg must be an integer literal, got $v")
    }

  private def litLong(name: String, arg: String, e: Expression): Long =
    e.eval() match {
      case n: java.lang.Number => n.longValue()
      case v => throw new IllegalArgumentException(
        s"$name: $arg must be an integer literal, got $v")
    }

  private def litDouble(name: String, arg: String, e: Expression): Double =
    e.eval() match {
      // SQL text `2.0` parses as a DECIMAL literal (Spark Decimal is not
      // a java.lang.Number), `2.0D` as a double — accept both
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case v => throw new IllegalArgumentException(
        s"$name: $arg must be a numeric literal, got $v")
    }

  private def litString(name: String, arg: String, e: Expression): String =
    e.eval() match {
      case s: UTF8String => s.toString
      case v => throw new IllegalArgumentException(
        s"$name: $arg must be a string literal, got $v")
    }

  private def litStrings(name: String, arg: String, e: Expression): Seq[String] =
    e.eval() match {
      case a: ArrayData =>
        (0 until a.numElements()).map { i =>
          val s = a.getUTF8String(i)
          if (s == null) throw new IllegalArgumentException(
            s"$name: $arg must not contain null elements")
          s.toString
        }
      case v => throw new IllegalArgumentException(
        s"$name: $arg must be an array<string> literal, got $v")
    }

  private[graftext] val vecDot = (
    FunctionIdentifier("vec_dot"),
    info("vec_dot", "vec_dot(a, b) - dot product of two float arrays"),
    arity("vec_dot", 2)(exprs => FloatVectorDot(exprs(0), exprs(1))))

  private[graftext] val vecNorm = (
    FunctionIdentifier("vec_norm"),
    info("vec_norm", "vec_norm(a) - L2 norm of a float array (sqrt of the native dot)"),
    arity("vec_norm", 1)(exprs => Sqrt(FloatVectorDot(exprs(0), exprs(0)))))

  private[graftext] val vecSub = (
    FunctionIdentifier("vec_sub"),
    info("vec_sub", "vec_sub(a, b) - elementwise difference of two float arrays (the PQ residual step)"),
    arity("vec_sub", 2)(exprs => FloatVectorSub(exprs(0), exprs(1))))

  private[graftext] val vecQuantize = (
    FunctionIdentifier("vec_quantize"),
    info("vec_quantize",
      "vec_quantize(a, scale) - fixed-point quantization array<float> -> array<long> " +
        "(round(double(x)*scale) cast long, scale a double literal)"),
    arity("vec_quantize", 2)(exprs => FloatVectorQuantize(exprs(0),
      litDouble("vec_quantize", "scale", exprs(1)))))

  private[graftext] val vecQuantizeStats = (
    FunctionIdentifier("vec_quantize_stats"),
    info("vec_quantize_stats",
      "vec_quantize_stats(a) - per-row int8 quantization stats " +
        "struct<max_abs_f, scale, q_sum, q_min, q_max> in one pass"),
    arity("vec_quantize_stats", 1)(exprs => FloatQuantizeStats(exprs(0))))

  private[graftext] val gramMoments = (
    FunctionIdentifier("gram_moments"),
    info("gram_moments",
      "gram_moments(qa) - one-pass integer Gram moments over array<bigint>: " +
        "struct<n, s1, s2(p,q,decimal)> (the PCA covariance inputs). " +
        "Elements must satisfy |x| <= 2^31 (quantized-vector contract) — " +
        "larger values raise rather than risk wrapping the 128-bit sums"),
    arity("gram_moments", 1)(exprs => GramMoments(exprs(0)).toAggregateExpression()))

  private[graftext] val topkBy = (
    FunctionIdentifier("topk_by"),
    info("topk_by", "topk_by(score, id, k) - top-k (score,id) pairs, best first"),
    arity("topk_by", 3)(exprs =>
      TopKByScore(exprs(0), exprs(1), litInt("topk_by", "k", exprs(2)))))

  private[graftext] val pairCombos = (
    FunctionIdentifier("pair_combos"),
    info("pair_combos",
      "pair_combos(arr) - all (a, b) element pairs with index i < j"),
    arity("pair_combos", 1)(exprs => PairCombos(exprs(0))))

  private[graftext] val alphaTokenCount = (
    FunctionIdentifier("alpha_token_count"),
    info("alpha_token_count",
      "alpha_token_count(s) - (n_tokens, n_alpha_tokens) over whitespace tokens"),
    arity("alpha_token_count", 1)(exprs => AlphaTokenCount(exprs(0))))

  private[graftext] val rollingHash31 = (
    FunctionIdentifier("rolling_hash31"),
    info("rolling_hash31",
      "rolling_hash31(s) - 31-base rolling polynomial fingerprint mod 1e9+7"),
    arity("rolling_hash31", 1)(exprs => RollingHash31(exprs(0))))

  private[graftext] val wordNGrams = (
    FunctionIdentifier("word_ngrams"),
    info("word_ngrams",
      "word_ngrams(tokens, n[, sep]) - n-gram shingle array over a token array (n, sep literals)"),
    arity("word_ngrams", 2, 3)(exprs => WordNGrams(exprs(0),
      litInt("word_ngrams", "n", exprs(1)),
      if (exprs.length > 2) litString("word_ngrams", "sep", exprs(2)) else " ")))

  private[graftext] val kgramHashes = (
    FunctionIdentifier("kgram_hashes"),
    info("kgram_hashes",
      "kgram_hashes(tokens, k) - rolling 31-base fingerprint of every " +
        "k-token window (k literal), O(total chars) via prefix hashes"),
    arity("kgram_hashes", 2)(exprs => KgramHashes(exprs(0),
      litInt("kgram_hashes", "k", exprs(1)))))

  private[graftext] val chainReplace = (
    FunctionIdentifier("chain_replace"),
    info("chain_replace",
      "chain_replace(s, froms, tos) - ordered literal replace chain in one node " +
        "(froms/tos array<string> literals, e.g. a BPE merge table)"),
    arity("chain_replace", 3)(exprs => ChainReplace(exprs(0),
      litStrings("chain_replace", "froms", exprs(1)),
      litStrings("chain_replace", "tos", exprs(2)))))

  private[graftext] val nearestCentroid = (
    FunctionIdentifier("nearest_centroid"),
    info("nearest_centroid",
      "nearest_centroid(cents, emb) - max-cosine cluster id over " +
        "array<struct<cl:int,centroid:array<float>>>"),
    arity("nearest_centroid", 2)(exprs => NearestCentroid(exprs(0), exprs(1))))

  private[graftext] val nearestCode = (
    FunctionIdentifier("nearest_code"),
    info("nearest_code",
      "nearest_code(cands, sub, na2) - ADC nearest codeword id over one subspace's " +
        "array<struct<code:int,cent:array<float>,nc2:double>>"),
    arity("nearest_code", 3)(exprs => NearestCode(exprs(0), exprs(1), exprs(2))))

  private[graftext] val bloomAgg = (
    FunctionIdentifier("bloom_agg"),
    info("bloom_agg",
      "bloom_agg(value, expected_items) - distributed bloom build (xxhash64 keys), " +
        "returns the serialized filter"),
    arity("bloom_agg", 2)(exprs => new BloomFilterAggregate(
      new XxHash64(Seq(exprs(0))),
      litLong("bloom_agg", "expected_items", exprs(1))).toAggregateExpression()))

  private[graftext] val bloomMightContain = (
    FunctionIdentifier("bloom_might_contain"),
    info("bloom_might_contain",
      "bloom_might_contain(bloom, value) - map-side probe of a bloom_agg filter " +
        "(no false negatives)"),
    arity("bloom_might_contain", 2)(exprs =>
      BloomProbe(exprs(0), new XxHash64(Seq(exprs(1))))))

  private[graftext] val cmsEstimate = (
    FunctionIdentifier("cms_estimate"),
    info("cms_estimate",
      "cms_estimate(sketch, hashed) - CountMinSketch point estimate (sketch a binary " +
        "literal; key xxhash64-hashed on both build and probe sides)"),
    arity("cms_estimate", 2)(exprs => CmsEstimate(exprs(0), exprs(1))))

  private[graftext] val mmHeaderParse = (
    FunctionIdentifier("mm_header_parse"),
    info("mm_header_parse",
      "mm_header_parse(payload) - probe a media container's magic bytes: " +
        "struct<format, width, height, sample_rate, body_bytes> " +
        "(PNG/JPEG/WAV/MP4; all-null struct on unknown or truncated bytes)"),
    arity("mm_header_parse", 1)(exprs => MediaHeaderParse(exprs(0))))

  /** The whole SQL-callable family, in registration order. */
  private[graftext] val all = Seq(
    vecDot, vecNorm, vecSub, vecQuantize, vecQuantizeStats, gramMoments,
    topkBy, pairCombos, alphaTokenCount, rollingHash31, wordNGrams, kgramHashes,
    chainReplace, nearestCentroid, nearestCode, bloomAgg,
    bloomMightContain, cmsEstimate, mmHeaderParse)
}
