package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native codegen'd vector expressions.
  *
  * Lives under `org.apache.spark.sql.*` because the Column↔Expression
  * bridge (`classic.ExpressionUtils`) and `AbstractDataType` are
  * `private[sql]` in Spark 4 — the standard packaging for third-party
  * Catalyst extensions. The Column API and SQL names of the family are
  * in GraftExtensions.scala.
  */

/** Dot product over two `array<float>` columns as a tight primitive loop
  * inside whole-stage codegen.
  *
  * Replaces the `zip_with + aggregate` higher-order composition in the
  * vector hot paths (which allocates an intermediate array and runs
  * interpreted lambdas per element). Accumulation is double-precision in
  * array order — bit-identical to the higher-order version and to DuckDB's
  * list_cosine_similarity numerator on the same floats, so oracle parity
  * is preserved.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType

  /** Null semantics match the zip_with+aggregate formulation this replaces:
    * mismatched vector dimensions → null (zip_with pads the shorter side
    * with null), and any null element → null (null propagates through the
    * sum). Truncating to min(len) would return a plausible-but-wrong
    * partial dot — null makes a dimension bug loud instead. */
  override def nullable: Boolean = true

  /** Whether the element-null check can be compiled away: only when BOTH
    * input array types declare containsNull=false. */
  private def mayHaveNullElements: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val d = FloatVectorDot.dot(x, y, mayHaveNullElements)
    if (java.lang.Double.isNaN(d) && FloatVectorDot.isNullDot(x, y, mayHaveNullElements)) null
    else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def call(kernel: String) =
        KernelCall(classOf[FloatVectorDot], kernel, a, b, mayHaveNullElements)
      s"""
         |${ev.value} = ${call("dot")};
         |if (Double.isNaN(${ev.value}) && ${call("isNullDot")}) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

object FloatVectorDot {
  /** The dot kernel of the family (vec_dot, vec_norm, and the distances
    * of [[NearestCentroid]] and [[NearestCode]]): double accumulation in
    * array order. A null dot (length mismatch, or a null element when
    * `checkNulls`) reads NaN here; [[isNullDot]] tells it from the NaN of
    * a NaN element, so callers ask it only of a NaN result and a real
    * dot never scans twice. */
  def dot(x: ArrayData, y: ArrayData, checkNulls: Boolean): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return Double.NaN
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return Double.NaN
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Whether dot(x, y) is null: the lengths differ, or `checkNulls` and
    * either side has a null element. */
  def isNullDot(x: ArrayData, y: ArrayData, checkNulls: Boolean): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return true
    var i = 0
    while (checkNulls && i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return true
      i += 1
    }
    false
  }
}

/** Elementwise difference of two `array<float>` columns as one native
  * loop: out_i = float(double(a_i) − double(b_i)).
  *
  * This is the RESIDUAL step of the IVF-PQ index (r = x − c[assign(x)]):
  * corpus-grain work, so the zip_with higher-order form is banned from it
  * (interpreted lambdas never enter codegen — the round-8 lesson). The
  * arithmetic is one IEEE double subtraction and one round-to-nearest
  * float cast per element — both exactly reproduced by DuckDB's
  * `CAST(CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE) AS FLOAT)`, which is
  * what lets the trained residual index carry a full driver oracle.
  * Null semantics match [[FloatVectorDot]]: length mismatch → null, any
  * null element → null (a dimension bug stays loud). */
case class FloatVectorSub(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatVectorSub.build(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |${ev.value} = ${KernelCall(classOf[FloatVectorSub], "build", a, b)};
      |if (${ev.value} == null) { ${ev.isNull} = true; }
      """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorSub =
    copy(left = newLeft, right = newRight)
}

object FloatVectorSub {
  /** One compiled loop shared by eval and codegen (same pattern as
    * WordNGrams.build — one implementation can't drift from itself).
    * Returns null on length mismatch or a null element. */
  def build(x: ArrayData, y: ArrayData): ArrayData = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      out(i) = (x.getFloat(i).toDouble - y.getFloat(i).toDouble).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Fixed-point quantization of an `array<float>` column in ONE native
  * pass per row: out_i = CAST(round(double(x_i) * scale, 0) AS LONG).
  *
  * Exists for the integer-moment paths (centroid means, PQ means, the
  * PCA covariance): they consume the SAME quantized array in several
  * downstream explodes, so quantization must happen once per row at
  * array grain. The two alternatives both lose: a `transform` lambda is
  * interpreted per element over the corpus (the banned HOF shape), and
  * quantizing AFTER the explode re-runs Spark's BigDecimal-based double
  * round once per exploded row — fatal in the PCA Gram path, where the
  * inner explode is n·d²/2 rows (measured 22 → 210 s at the 100× corpus
  * when round() sat inside the pair space).
  *
  * Per-element arithmetic is byte-for-byte Spark's own
  * `round(cast(x AS DOUBLE) * scale)` (RoundBase, HALF_UP) followed by
  * the ANSI double→long cast THE SESSION ACTUALLY RUNS WITH: a
  * non-finite or beyond-int64 quantity RAISES, exactly like the
  * round().cast("long") chain this replaced. Poison must stay loud — a
  * NaN element silently quantizing to 0 would be a legitimate-looking
  * mid-grid value that trains centroids/codebooks/covariance on
  * garbage, and the DuckDB oracles (whose CAST of NaN errors) could
  * never agree. DuckDB oracles built on `CAST(round(x*scale) AS
  * BIGINT/DECIMAL)` are unaffected on finite data, and VectorExprSpec
  * pins bit-parity against the transform() form plus the raise.
  * Null elements map to null (sum() then skips them, as before). */
case class FloatVectorQuantize(child: Expression, scale: Double)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType, containsNull = true)
  }

  override def nullSafeEval(a: Any): Any =
    FloatVectorQuantize.build(a.asInstanceOf[ArrayData], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = ${KernelCall(classOf[FloatVectorQuantize], "build", a, scale)};")

  override protected def withNewChildInternal(newChild: Expression): FloatVectorQuantize =
    copy(child = newChild)
}

object FloatVectorQuantize {
  /** The ANSI-cast-equivalent guard both quantize expressions share:
    * round first (RoundBase's DoubleType branch exactly), then raise on
    * anything the session's ANSI double→long cast would reject. */
  private[graftext] def quantizeOne(d: Double, what: String): Long = {
    val r =
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
      else java.math.BigDecimal.valueOf(d)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    // same acceptance window as Spark's ANSI Cast(double → long), which
    // compares floor(d) <= Long.MaxValue with MaxValue PROMOTED to double
    // (= 2^63 exactly, though MaxValue itself is 2^63-1): d == 2^63
    // therefore passes Spark's check and d.toLong SATURATES to
    // Long.MaxValue — so equality here must accept and saturate too
    // (r.toLong below does), not raise one value early.
    // Long.MinValue.toDouble is exact; equality there is accepted by both.
    if (java.lang.Double.isNaN(r) || r < Long.MinValue.toDouble ||
        r > Long.MaxValue.toDouble)
      throw new ArithmeticException(
        s"$what: non-castable quantity $d (poisoned vector element?) — " +
          "the ANSI round().cast(long) chain this expression replaces " +
          "raises here, and silence would train on mid-grid garbage")
    r.toLong
  }

  /** One compiled loop shared by eval and codegen (the FloatVectorSub
    * pattern). */
  def build(x: ArrayData, scale: Double): ArrayData = {
    val n = x.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) {
        out(i) = null
      } else {
        out(i) = quantizeOne(x.getFloat(i).toDouble * scale, "vec_quantize")
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-row int8 scalar-quantization statistics in ONE native pass:
  * struct<max_abs_f:float, scale:double, q_sum:long, q_min:long,
  * q_max:long> where scale = 127/max|x| (0 for a zero/empty vector) and
  * q_i = CAST(round(double(x_i)·scale) AS LONG).
  *
  * Replaces the 4-pass interpreted HOF chain in the int8 compression
  * audit (array_max∘transform(abs), transform(round·cast),
  * aggregate(+), array_min/max — measured 13 s at the 100× corpus for a
  * map-side scan). The per-ROW scale is why [[FloatVectorQuantize]]
  * doesn't apply: the scale is data-dependent, and the outputs are
  * per-vector reductions — fusing everything into one loop keeps the op
  * a shuffle-free scan.
  *
  * Semantics pinned against the HOF form (VectorExprSpec): the round is
  * RoundBase-exact (BigDecimal HALF_UP) and a non-finite quantity
  * RAISES like the ANSI cast in the chain this replaced (a NaN element
  * makes max|x| NaN via Java Math.max — Spark's NaN-largest ordering —
  * then scale NaN, then the raise: poison stays loud, see
  * [[FloatVectorQuantize]]); a null ELEMENT is skipped by max/min/max
  * (array_min/max semantics) but nulls q_sum (aggregate's null-poisoned
  * fold); an EMPTY array yields (null, 0.0, 0, null, null) exactly like
  * the HOF chain. */
case class FloatQuantizeStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = FloatQuantizeStats.outType

  /** NEVER null: a null input array produces the same struct the HOF
    * chain's struct() wrapper does — (null, 0.0, null, null, null) —
    * because when(null > 0f).otherwise(0.0) still yields the 0.0 scale.
    * Matching that exactly is what keeps the rewritten query
    * column-for-column identical on corpora with null embedding rows. */
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    FloatQuantizeStats.buildTotal(
      child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      InternalRow ${ev.value} = ${KernelCall(classOf[FloatQuantizeStats], "buildTotal",
        s"${c.isNull} ? null : ${c.value}")};
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): FloatQuantizeStats =
    copy(child = newChild)
}

object FloatQuantizeStats {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  private[graftext] val outType: StructType = StructType(Seq(
    StructField("max_abs_f", FloatType, nullable = true),
    StructField("scale", DoubleType, nullable = false),
    StructField("q_sum", LongType, nullable = true),
    StructField("q_min", LongType, nullable = true),
    StructField("q_max", LongType, nullable = true)))

  /** The null-array result: what the HOF struct() yields on a null
    * embedding (scale's otherwise(0.0) fires, every other field null).
    * One shared immutable instance — values are never mutated. */
  private val NullInputRow: org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow(null, 0.0, null, null, null)

  /** Total (null-accepting) entry shared by eval and codegen. */
  def buildTotal(x: ArrayData): org.apache.spark.sql.catalyst.InternalRow =
    if (x == null) NullInputRow else build(x)

  /** One compiled loop shared by eval and codegen. */
  def build(x: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = x.numElements()
    // pass 1: max|x| with Spark's NaN-largest ordering (Java Math.max
    // propagates NaN the same way); nulls skipped like array_max
    var maxAbs = Float.NegativeInfinity
    var sawVal = false
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        sawVal = true
        maxAbs = Math.max(maxAbs, Math.abs(x.getFloat(i)))
      }
      i += 1
    }
    // scale: when(max_abs > 0f, 127/max_abs, 0.0) under Spark comparison
    // semantics, where NaN orders above every value (> 0 is TRUE)
    val scale =
      if (sawVal && (java.lang.Float.isNaN(maxAbs) || maxAbs > 0f))
        127.0 / maxAbs.toDouble
      else 0.0
    // pass 2: quantize + fused sum/min/max
    var qSum = 0L
    var sumNull = false
    var qMin = Long.MaxValue
    var qMax = Long.MinValue
    var sawQ = false
    i = 0
    while (i < n) {
      if (x.isNullAt(i)) {
        sumNull = true // aggregate()'s fold is null-poisoned by a null elem
      } else {
        val q = FloatVectorQuantize.quantizeOne(
          x.getFloat(i).toDouble * scale, "vec_quantize_stats")
        qSum += q
        if (q < qMin) qMin = q
        if (q > qMax) qMax = q
        sawQ = true
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      if (sawVal) maxAbs else null,
      scale,
      if (sumNull) null else qSum,
      if (sawQ) qMin else null,
      if (sawQ) qMax else null)
  }
}
