package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.InternalRow
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
  *  - selection mirrors array_min over struct(d2, code): SQL double
  *    semantics (primitive <, -0.0 == 0.0, NaN above every real,
  *    NaN == NaN), ties to the LOWEST code; an uncomputable d2
  *    (dimension mismatch / null element — unconstructible from the
  *    codebook builder) orders FIRST like a null struct field.
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

  private def dotOrNull(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override def nullSafeEval(candsAny: Any, subAny: Any, na2Any: Any): Any = {
    val cands = candsAny.asInstanceOf[ArrayData]
    val sub = subAny.asInstanceOf[ArrayData]
    val na2 = na2Any.asInstanceOf[Double]
    val k = cands.numElements()
    if (k == 0) return null
    var bestTier = 3 // 0 = null-d2 (orders first), 1 = real, 2 = NaN
    var bestD2 = 0.0
    var bestCode = 0
    var found = false
    var i = 0
    while (i < k) {
      if (!cands.isNullAt(i)) {
        val row = cands.getStruct(i, 3)
        if (!row.isNullAt(0)) {
          val code = row.getInt(0)
          var tier = 0
          var d2 = 0.0
          if (!row.isNullAt(1) && !row.isNullAt(2)) {
            val d = dotOrNull(sub, row.getArray(1))
            if (d != null) {
              val v = (na2 - 2.0 * d.doubleValue()) + row.getDouble(2)
              if (java.lang.Double.isNaN(v)) { tier = 2; d2 = Double.NaN }
              else { tier = 1; d2 = v }
            }
          }
          val better =
            if (!found) true
            else if (tier != bestTier) tier < bestTier
            else if (tier == 1 && d2 != bestD2) d2 < bestD2
            else code < bestCode
          if (better) { bestTier = tier; bestD2 = d2; bestCode = code; found = true }
        }
      }
      i += 1
    }
    if (found) java.lang.Integer.valueOf(bestCode) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cands, sub, na2) => {
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val bestTier = ctx.freshName("bestTier")
      val bestD2 = ctx.freshName("bestD2")
      val bestCode = ctx.freshName("bestCode")
      val found = ctx.freshName("found")
      val row = ctx.freshName("row")
      val code = ctx.freshName("code")
      val cArr = ctx.freshName("cArr")
      val d = ctx.freshName("d")
      val dNull = ctx.freshName("dNull")
      val tier = ctx.freshName("tier")
      val d2 = ctx.freshName("d2")
      val v = ctx.freshName("v")
      val better = ctx.freshName("better")
      s"""
         |final int $k = $cands.numElements();
         |if ($k == 0) { ${ev.isNull} = true; } else {
         |  int $bestTier = 3; double $bestD2 = 0.0; int $bestCode = 0;
         |  boolean $found = false;
         |  for (int $i = 0; $i < $k; $i++) {
         |    if ($cands.isNullAt($i)) continue;
         |    final InternalRow $row = $cands.getStruct($i, 3);
         |    if ($row.isNullAt(0)) continue;  // unconstructible; see eval
         |    final int $code = $row.getInt(0);
         |    int $tier = 0; double $d2 = 0.0;
         |    if (!$row.isNullAt(1) && !$row.isNullAt(2)) {
         |      final ArrayData $cArr = $row.getArray(1);
         |      final int $n = $cArr.numElements();
         |      if ($n == $sub.numElements()) {
         |        boolean $dNull = false;
         |        double $d = 0.0;
         |        for (int $j = 0; $j < $n; $j++) {
         |          if ($cArr.isNullAt($j) || $sub.isNullAt($j)) { $dNull = true; break; }
         |          $d += (double) $sub.getFloat($j) * (double) $cArr.getFloat($j);
         |        }
         |        if (!$dNull) {
         |          final double $v = ($na2 - 2.0 * $d) + $row.getDouble(2);
         |          if (Double.isNaN($v)) { $tier = 2; $d2 = Double.NaN; }
         |          else { $tier = 1; $d2 = $v; }
         |        }
         |      }
         |    }
         |    final boolean $better = !$found
         |      ? true
         |      : ($tier != $bestTier
         |          ? $tier < $bestTier
         |          : ($tier == 1 && $d2 != $bestD2 ? $d2 < $bestD2 : $code < $bestCode));
         |    if ($better) { $bestTier = $tier; $bestD2 = $d2; $bestCode = $code; $found = true; }
         |  }
         |  if ($found) { ${ev.value} = $bestCode; } else { ${ev.isNull} = true; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCode =
    copy(first = newFirst, second = newSecond, third = newThird)
}
