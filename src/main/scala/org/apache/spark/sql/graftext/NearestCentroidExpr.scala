package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.InternalRow
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
  * query time). This expression runs the same arithmetic as two nested
  * primitive loops inside codegen.
  *
  * BIT-PARITY CONTRACT (the IVF/SemDeDup results are driver-oracle-checked,
  * so the replacement must be exact, not just "close"):
  *  - cosine = clamp(dot(e,c) / (sqrt(dot(e,e)) * sqrt(dot(c,c)))) with
  *    double accumulation in array order — identical op sequence to
  *    VectorOps.cosine (FloatVectorDot + sqrt + clamp). Hoisting the
  *    norm(e) factor out of the K-loop changes no bits (same sqrt of the
  *    same dot, just computed once).
  *  - clamp: NaN passes through (a poisoned embedding must not become a
  *    perfect match); otherwise least(greatest(x,-1),1).
  *  - selection mirrors Spark's struct ordering in array_min over
  *    struct(negsim, cl): negsim compared with SQL double semantics
  *    (primitive <, so -0.0 == 0.0 ties; NaN orders above every real,
  *    NaN == NaN), ties broken by the LOWEST cl. A null negsim (only
  *    possible from a dimension-mismatched or null-element centroid,
  *    impossible from the quantizer's own `packed` construction) orders
  *    FIRST, exactly like Spark's asc-nulls-first struct field ordering.
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

  /** dot(a,b) in array order, double accumulation; null (encoded as NaN
    * with a flag via Double.box? no —) returns Double.NaN sentinel is
    * wrong for parity, so this returns null via boxed Double. */
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

  override def nullSafeEval(centsAny: Any, embAny: Any): Any = {
    val cents = centsAny.asInstanceOf[ArrayData]
    val emb = embAny.asInstanceOf[ArrayData]
    val k = cents.numElements()
    if (k == 0) return null
    val e2 = dotOrNull(emb, emb)
    val normE = if (e2 == null) null
      else java.lang.Double.valueOf(math.sqrt(e2.doubleValue()))
    // best: tier 0 = null negsim (orders first), 1 = real, 2 = NaN
    var bestTier = 3
    var bestNeg = 0.0
    var bestCl = 0
    var found = false
    var i = 0
    while (i < k) {
      if (!cents.isNullAt(i)) {
        val row = cents.getStruct(i, 2)
        if (!row.isNullAt(0)) {
          val cl = row.getInt(0)
          var tier = 0
          var neg = 0.0
          if (row.isNullAt(1) || normE == null) tier = 0
          else {
            val c = row.getArray(1)
            val d = dotOrNull(emb, c)
            val c2 = dotOrNull(c, c)
            if (d == null || c2 == null) tier = 0
            else {
              val cos0 = d.doubleValue() /
                (normE.doubleValue() * math.sqrt(c2.doubleValue()))
              if (java.lang.Double.isNaN(cos0)) { tier = 2; neg = Double.NaN }
              else {
                val cos = math.min(math.max(cos0, -1.0), 1.0)
                tier = 1; neg = -cos
              }
            }
          }
          val better =
            if (!found) true
            else if (tier != bestTier) tier < bestTier
            else if (tier == 1 && neg != bestNeg) neg < bestNeg
            else cl < bestCl // null/NaN tiers and exact ties: lowest cl
          if (better) { bestTier = tier; bestNeg = neg; bestCl = cl; found = true }
        }
        // null cl field: array_min would order it by the negsim field then
        // null cl... a null cl is unconstructible from the quantizer
        // (collect_list of a non-null int column) — skip it.
      }
      i += 1
    }
    if (found) java.lang.Integer.valueOf(bestCl) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cents, emb) => {
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val e2 = ctx.freshName("e2")
      val e2null = ctx.freshName("e2null")
      val normE = ctx.freshName("normE")
      val bestTier = ctx.freshName("bestTier")
      val bestNeg = ctx.freshName("bestNeg")
      val bestCl = ctx.freshName("bestCl")
      val found = ctx.freshName("found")
      val row = ctx.freshName("row")
      val cl = ctx.freshName("cl")
      val cArr = ctx.freshName("cArr")
      val d = ctx.freshName("d")
      val c2 = ctx.freshName("c2")
      val dNull = ctx.freshName("dNull")
      val tier = ctx.freshName("tier")
      val neg = ctx.freshName("neg")
      val cos = ctx.freshName("cos")
      val better = ctx.freshName("better")
      val ev_ = ctx.freshName("ev")
      val cv = ctx.freshName("cv")
      s"""
         |final int $k = $cents.numElements();
         |if ($k == 0) { ${ev.isNull} = true; } else {
         |  // norm(embedding), hoisted out of the K loop (same sqrt(dot))
         |  boolean $e2null = false; double $e2 = 0.0;
         |  { final int $n = $emb.numElements();
         |    for (int $j = 0; $j < $n; $j++) {
         |      if ($emb.isNullAt($j)) { $e2null = true; break; }
         |      final double $ev_ = (double) $emb.getFloat($j);
         |      $e2 += $ev_ * $ev_;
         |    } }
         |  final double $normE = $e2null ? Double.NaN : Math.sqrt($e2);
         |  int $bestTier = 3; double $bestNeg = 0.0; int $bestCl = 0;
         |  boolean $found = false;
         |  for (int $i = 0; $i < $k; $i++) {
         |    if ($cents.isNullAt($i)) continue;
         |    final InternalRow $row = $cents.getStruct($i, 2);
         |    if ($row.isNullAt(0)) continue;  // unconstructible; see eval
         |    final int $cl = $row.getInt(0);
         |    int $tier = 0; double $neg = 0.0;
         |    if (!$row.isNullAt(1) && !$e2null) {
         |      final ArrayData $cArr = $row.getArray(1);
         |      final int $n = $cArr.numElements();
         |      if ($n == $emb.numElements()) {
         |        boolean $dNull = false;
         |        double $d = 0.0; double $c2 = 0.0;
         |        for (int $j = 0; $j < $n; $j++) {
         |          if ($cArr.isNullAt($j) || $emb.isNullAt($j)) { $dNull = true; break; }
         |          final double $cv = (double) $cArr.getFloat($j);
         |          $d += (double) $emb.getFloat($j) * $cv;
         |          $c2 += $cv * $cv;
         |        }
         |        if (!$dNull) {
         |          final double $cos = $d / ($normE * Math.sqrt($c2));
         |          if (Double.isNaN($cos)) { $tier = 2; $neg = Double.NaN; }
         |          else { $tier = 1; $neg = -Math.min(Math.max($cos, -1.0), 1.0); }
         |        }
         |      }
         |    }
         |    final boolean $better = !$found
         |      ? true
         |      : ($tier != $bestTier
         |          ? $tier < $bestTier
         |          : ($tier == 1 && $neg != $bestNeg ? $neg < $bestNeg : $cl < $bestCl));
         |    if ($better) { $bestTier = $tier; $bestNeg = $neg; $bestCl = $cl; $found = true; }
         |  }
         |  if ($found) { ${ev.value} = $bestCl; } else { ${ev.isNull} = true; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}
