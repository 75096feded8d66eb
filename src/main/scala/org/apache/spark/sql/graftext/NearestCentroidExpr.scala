package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, StructType}

/** Nearest-centroid assignment as ONE native expression:
  * `NearestCentroid(cents, embedding)` ==
  * `array_min(transform(cents, c -> struct(-cosine(emb, c.centroid), c.cl))).cl`
  *
  * Exists because Spark's higher-order functions (`transform`,
  * `aggregate`) never enter whole-stage codegen — each of the K lambda
  * invocations per row runs interpreted, with per-element boxing and a
  * struct allocation. At K=16 that tax hides in the noise; the scale-path
  * quantizers grow K with the corpus (K ≈ n/128), and at K≈400 the
  * interpreted transform dominated the whole SemDeDup run (~6× the total
  * query time). The companion's kernel runs the same arithmetic as two
  * nested primitive loops, and eval and the generated code both call it.
  *
  * BIT-PARITY CONTRACT (the IVF/SemDeDup results are driver-oracle-checked,
  * so the replacement must be exact, not just "close"):
  *  - cosine = clamp(dot(e,c) / (sqrt(dot(e,e)) * sqrt(dot(c,c)))) with
  *    double accumulation in array order — identical op sequence to
  *    vec_dot + sqrt + clamp (VectorOps.cosine). Hoisting the
  *    norm(e) factor out of the K-loop changes no bits (same sqrt of the
  *    same dot, just computed once).
  *  - clamp: NaN passes through (a poisoned embedding must not become a
  *    perfect match); otherwise least(greatest(x,-1),1).
  *  - selection is [[Argmin]] over struct(negsim, cl): Spark's struct
  *    ordering, ties to the LOWEST cl. A null negsim (only possible from
  *    a dimension-mismatched or null-element centroid, impossible from
  *    the quantizer's own `packed` construction) orders FIRST.
  *  - empty cents → null; null cents/embedding → null (transform/array_min
  *    null propagation); an embedding with a null ELEMENT nulls every
  *    cosine, so every candidate ties at null-negsim and the lowest cl
  *    wins — again the array_min behavior.
  *  - ONE deliberate divergence: a zero-norm embedding makes the HOF form
  *    RAISE under ANSI mode (0.0/0.0 → DIVIDE_BY_ZERO in Divide.eval);
  *    this expression keeps IEEE float semantics (0/0 = NaN → all
  *    candidates tie in the NaN tier → lowest cl), so a single degenerate
  *    vector cannot abort a corpus-wide quantization job. Spec-pinned in
  *    VectorExprSpec.
  *
  * Input shape: cents must be `array<struct<cl:int, centroid:array<float>>>`
  * — the packed single-row broadcast the assignment joins in.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 2 && st(0).dataType == IntegerType &&
          st(1).dataType.isInstanceOf[ArrayType] &&
          st(1).dataType.asInstanceOf[ArrayType].elementType == FloatType &&
          right.dataType == ArrayType(FloatType, containsNull = false) =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(st: StructType, _)
        if st.length == 2 && st(0).dataType == IntegerType =>
      // allow containsNull=true embeddings too (fixture frames)
      right.dataType match {
        case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"embedding must be array<float>, got ${right.dataType}")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      "cents must be array<struct<cl:int,centroid:array<float>>>, got " +
        other.toString)
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(cents: Any, emb: Any): Any = Argmin.result(
    NearestCentroid.nearest(cents.asInstanceOf[ArrayData], emb.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cents, emb) => Argmin.assign(ctx, ev,
      KernelCall(classOf[NearestCentroid], "nearest", cents, emb)))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {
  /** The kernel: the cl of the max-cosine centroid, or [[Argmin.NoId]]
    * for null. norm(e) is hoisted out of the K loop (the same sqrt of the
    * same dot), and each centroid's dot(e, c) and dot(c, c) share one
    * pass, each accumulator summing in array order. */
  def nearest(cents: ArrayData, emb: ArrayData): Long = {
    val k = cents.numElements()
    val e2 = FloatVectorDot.dot(emb, emb, checkNulls = true)
    // a null norm nulls every cosine; past it, emb has no null element
    val embNull = java.lang.Double.isNaN(e2) &&
      FloatVectorDot.isNullDot(emb, emb, checkNulls = true)
    val normE = math.sqrt(e2)
    val n = emb.numElements()
    var bestTier = Argmin.Unset
    var bestNeg = 0.0
    var bestCl = 0
    var i = 0
    while (i < k) {
      // a null entry or cl is unconstructible from the quantizer
      // (collect_list of a non-null int column): skip it
      if (!cents.isNullAt(i)) {
        val row = cents.getStruct(i, 2)
        if (!row.isNullAt(0)) {
          val cl = row.getInt(0)
          var tier = Argmin.NullKey
          var neg = 0.0
          if (!embNull && !row.isNullAt(1)) {
            val c = row.getArray(1)
            if (c.numElements() == n) {
              var d = 0.0
              var c2 = 0.0
              var j = 0
              while (j < n && !c.isNullAt(j)) {
                val cv = c.getFloat(j).toDouble
                d += emb.getFloat(j).toDouble * cv
                c2 += cv * cv
                j += 1
              }
              if (j == n) {
                val cos = d / (normE * math.sqrt(c2))
                tier = Argmin.tier(cos)
                neg = -math.min(math.max(cos, -1.0), 1.0)
              }
            }
          }
          if (Argmin.better(tier, neg, cl, bestTier, bestNeg, bestCl)) {
            bestTier = tier; bestNeg = neg; bestCl = cl
          }
        }
      }
      i += 1
    }
    Argmin.id(bestTier, bestCl)
  }
}

/** The selection rule of the argmin kernels ([[NearestCentroid]],
  * [[NearestCode]]): Spark's ordering of `array_min` over
  * `struct(key, id)`. A null key orders first, then real keys ascending
  * with SQL double semantics (primitive <, so -0.0 == 0.0), then NaN
  * (NaN == NaN); ties go to the lowest id. */
private[graftext] object Argmin {
  /** A kernel's result for SQL null: outside the Int range of the ids. */
  final val NoId = Long.MinValue

  // a candidate key's tier in the ordering
  final val NullKey = 0
  final val RealKey = 1
  final val NaNKey = 2
  /** The best tier before any candidate: above every key. */
  final val Unset = 3

  def tier(key: Double): Int = if (java.lang.Double.isNaN(key)) NaNKey else RealKey

  /** Whether candidate (tier, key, id) orders before the best so far. */
  def better(tier: Int, key: Double, id: Int,
      bestTier: Int, bestKey: Double, bestId: Int): Boolean =
    if (tier != bestTier) tier < bestTier
    else if (tier == RealKey && key != bestKey) key < bestKey
    else id < bestId

  /** The kernel result: the best id, or NoId when no candidate was seen. */
  def id(bestTier: Int, bestId: Int): Long =
    if (bestTier == Unset) NoId else bestId.toLong

  /** The expression value of a kernel result, for eval. */
  def result(r: Long): Any = if (r == NoId) null else Integer.valueOf(r.toInt)

  /** The expression value of a kernel call, for generated code. */
  def assign(ctx: CodegenContext, ev: ExprCode, call: String): String = {
    val r = ctx.freshName("r")
    s"""
       |final long $r = $call;
       |if ($r == ${NoId}L) { ${ev.isNull} = true; } else { ${ev.value} = (int) $r; }
     """.stripMargin
  }
}
