package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Per-position k-gram rolling fingerprints as ONE native expression:
  * `KgramHashes(t, k)(p)` ==
  * `RollingHash31(concat_ws(" ", slice(t, p+1, k)))` for every window
  * position p ∈ [0, size(t)−k] — the position index the exact-substring
  * dedup (Lee et al. 2022 style) joins on.
  *
  * The HOF formulation (`transform(sequence(...), i ->
  * rolling_hash31(concat_ws(' ', slice(t, i, k))))`) is banned twice
  * over: interpreted lambdas never enter codegen, and each window
  * RE-JOINS k tokens — O(n·k) character work. This computes ALL window
  * hashes in O(total code points): one pass builds prefix hashes H and
  * 31-powers over the virtual string `join(tokens, ' ')`, then each
  * window [a, b) is the classic Rabin–Karp difference
  * `(H[b] − H[a]·31^(b−a)) mod 1e9+7` — arithmetic identical to the
  * [[RollingHash31]] fold over the window string, code point by code
  * point, so a DuckDB oracle replays any position with the same
  * `list_reduce` fold it already uses for q_fingerprint.
  *
  * PARITY CONTRACT: tokens come from `split(text, ' ')` and are never
  * null; a null ELEMENT is treated as an empty token (separator still
  * emitted) — deterministic, but unlike concat_ws's null-skipping, so
  * keep null-bearing arrays away (spec-pinned vs the HOF form on
  * ASCII, multi-space, and astral-codepoint inputs in VectorExprSpec).
  * size(t) < k → empty array; null input → null. Products stay below
  * 2^60 (both factors < 1e9+7), so the modular arithmetic cannot wrap. */
case class KgramHashes(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"k-gram size must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tokens must be array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    KgramHashes.build(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = ${KernelCall(classOf[KgramHashes], "build", input, k)};")

  override protected def withNewChildInternal(newChild: Expression): KgramHashes =
    copy(child = newChild)
}

object KgramHashes {
  private val M = 1000000007L

  /** One compiled loop shared by eval and codegen (the WordNGrams
    * discipline: the generated code calls this directly, so the two
    * paths cannot drift). */
  def build(t: ArrayData, k: Int): ArrayData = {
    val n = t.numElements()
    val count = n - k + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[String](n)
    var total = n - 1 // the joining separators
    var i = 0
    while (i < n) {
      val s = if (t.isNullAt(i)) "" else t.getUTF8String(i).toString
      toks(i) = s
      total += s.codePointCount(0, s.length)
      i += 1
    }
    val h = new Array[Long](total + 1)
    val pow = new Array[Long](total + 1)
    val start = new Array[Int](n)
    val cpLen = new Array[Int](n)
    pow(0) = 1L
    var v = 0
    i = 0
    while (i < n) {
      if (i > 0) { // the ' ' joining the previous token to this one
        h(v + 1) = (h(v) * 31L + 32L) % M
        pow(v + 1) = (pow(v) * 31L) % M
        v += 1
      }
      start(i) = v
      val s = toks(i)
      var j = 0
      var c = 0
      while (j < s.length) {
        val cp = s.codePointAt(j)
        h(v + 1) = (h(v) * 31L + cp.toLong) % M
        pow(v + 1) = (pow(v) * 31L) % M
        v += 1
        c += 1
        j += Character.charCount(cp)
      }
      cpLen(i) = c
      i += 1
    }
    val out = new Array[Any](count)
    i = 0
    while (i < count) {
      val a = start(i)
      val b = start(i + k - 1) + cpLen(i + k - 1)
      val w = ((h(b) - (h(a) * pow(b - a)) % M) % M + M) % M
      out(i) = java.lang.Long.valueOf(w)
      i += 1
    }
    new GenericArrayData(out)
  }
}
