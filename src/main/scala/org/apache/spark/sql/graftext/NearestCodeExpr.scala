package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructType}

/** Nearest-code ADC argmin as ONE native expression:
  * `NearestCode(cands, sub, na2)` ==
  * `array_min(transform(cands, c ->
  *    struct(na2 - 2.0*dot(sub, c.cent) + c.nc2, c.code))).code`
  *
  * The PQ twin of [[NearestCentroid]], for the same reason: Spark's
  * higher-order functions run interpreted, so the per-subvector argmin
  * over K codewords pays K lambda invocations per row. At the toy K=16 the
  * tax is tolerable; production PQ uses K=256 codes per subspace, where
  * the interpreted form would dominate the encode the way the K≈400 flat
  * quantizer dominated SemDeDup (measured 197.8→54.5 s there).
  *
  * BIT-PARITY CONTRACT (q_ann_pq is driver-oracle-checked):
  *  - d2 = (na2 - (2.0 * dot(sub, cent))) + nc2, double accumulation of
  *    the dot in array order — the exact Catalyst tree shape of the HOF
  *    form it replaces (Add(Subtract(na2, Multiply(2, dot)), nc2)).
  *  - selection is [[Argmin]] over struct(d2, code), ties to the LOWEST
  *    code; an uncomputable d2 (dimension mismatch / null element —
  *    unconstructible from the packed codebook) orders FIRST like a
  *    null struct field.
  *  - empty/null cands, null sub or na2 → null (TernaryExpression null
  *    propagation; matches transform/array_min on null input).
  *
  * Input shape: cands must be `array<struct<code:int, cent:array<float>,
  * nc2:double>>` — one subspace's packed codewords (grouped by m and
  * equi-joined in, which also replaces the interpreted `filter(cb,
  * c.m == m)` scan of the old all-subspace packing).
  */
case class NearestCode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 3 && st(0).dataType == IntegerType &&
          (st(1).dataType match {
            case ArrayType(FloatType, _) => true; case _ => false
          }) && st(2).dataType == DoubleType =>
      (second.dataType, third.dataType) match {
        case (ArrayType(FloatType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"(sub, na2) must be (array<float>, double), got $other")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      "cands must be array<struct<code:int,cent:array<float>,nc2:double>>, " +
        s"got $other")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(cands: Any, sub: Any, na2: Any): Any = Argmin.result(
    NearestCode.nearest(cands.asInstanceOf[ArrayData], sub.asInstanceOf[ArrayData],
      na2.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cands, sub, na2) => Argmin.assign(ctx, ev,
      KernelCall(classOf[NearestCode], "nearest", cands, sub, na2)))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCode =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCode {
  /** The kernel: the code of the min-d2 codeword, or [[Argmin.NoId]] for
    * null. A NaN d2 is the null tier exactly when its dot is null. */
  def nearest(cands: ArrayData, sub: ArrayData, na2: Double): Long = {
    val k = cands.numElements()
    var bestTier = Argmin.Unset
    var bestD2 = 0.0
    var bestCode = 0
    var i = 0
    while (i < k) {
      // a null entry or code is unconstructible from the packed codebook
      if (!cands.isNullAt(i)) {
        val row = cands.getStruct(i, 3)
        if (!row.isNullAt(0)) {
          val code = row.getInt(0)
          var tier = Argmin.NullKey
          var d2 = 0.0
          if (!row.isNullAt(1) && !row.isNullAt(2)) {
            val cent = row.getArray(1)
            d2 = (na2 - 2.0 * FloatVectorDot.dot(sub, cent, checkNulls = true)) +
              row.getDouble(2)
            tier = Argmin.tier(d2)
            if (tier == Argmin.NaNKey &&
                FloatVectorDot.isNullDot(sub, cent, checkNulls = true))
              tier = Argmin.NullKey
          }
          if (Argmin.better(tier, d2, code, bestTier, bestD2, bestCode)) {
            bestTier = tier; bestD2 = d2; bestCode = code
          }
        }
      }
      i += 1
    }
    Argmin.id(bestTier, bestCode)
  }
}
