package org.apache.spark.sql.graftext

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, GetStructField, PlanExpression, Predicate}
import org.apache.spark.sql.catalyst.trees.TreePattern.OUTER_REFERENCE
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, LongType, NullType}
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Map-side probe of a serialized bloom filter — same semantics as Spark's
  * internal `BloomFilterMightContain` (reference semantics: the Redis SET
  * membership probes at `G/app/DauApp.scala:67`; the filter side must be a
  * constant or an uncorrelated scalar subquery so it deserializes ONCE, not
  * per row), but with WORKING whole-stage/projection codegen. Spark's own
  * `doGenCode` emits `mightContainLong((Long) value)` and Janino rejects the
  * boxed cast of a primitive ("java.lang.Long" is not an rvalue), so every
  * probe of a non-trivial plan silently fell back to interpreted projection
  * — exactly the hot map-side scan the bloom exists for. The fix is emitting
  * the primitive long directly (`mightContainLong(long)` accepts it); the
  * SqlFunctionsSpec bloom test now runs under CODEGEN_ONLY so a fallback is
  * a test failure, not a WARN. */
case class BloomProbe(bloomFilterExpression: Expression, valueExpression: Expression)
    extends BinaryExpression with Predicate {

  override def left: Expression = bloomFilterExpression
  override def right: Expression = valueExpression
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType | NullType, LongType | NullType) =>
        // mirrors Spark's own acceptance set exactly: a CORRELATED
        // subquery must be rejected HERE (the optimizer would decorrelate
        // it into a join attribute and the once-per-task eval would NPE
        // deep in execution), and a struct-field projection over an
        // uncorrelated scalar subquery is fine (the subquery still
        // evaluates once)
        bloomFilterExpression match {
          case e if e.foldable => TypeCheckResult.TypeCheckSuccess
          case sub: PlanExpression[_] if !sub.containsPattern(OUTER_REFERENCE) =>
            TypeCheckResult.TypeCheckSuccess
          case GetStructField(sub: PlanExpression[_], _, _)
              if !sub.containsPattern(OUTER_REFERENCE) =>
            TypeCheckResult.TypeCheckSuccess
          case _ => TypeCheckResult.TypeCheckFailure(
            s"$prettyName: the filter argument must be a constant or " +
              "UNCORRELATED scalar subquery (it is deserialized once per " +
              "task, never per row)")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (binary, bigint) arguments, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  /** Deserialized once per task (transient lazy); null filter bytes (an
    * empty build-side aggregate) degrade to NULL probes, matching Spark. */
  @transient private lazy val bloomFilter: BloomFilter = {
    val bytes = bloomFilterExpression.eval().asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else {
      val in = new ByteArrayInputStream(bytes)
      try BloomFilter.readFrom(in) finally in.close()
    }
  }

  override def eval(input: InternalRow): Any =
    if (bloomFilter == null) null
    else {
      val v = valueExpression.eval(input)
      if (v == null) null else bloomFilter.mightContainLong(v.asInstanceOf[Long])
    }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (bloomFilter == null) {
      ev.copy(isNull = TrueLiteral, value = FalseLiteral)
    } else {
      val bf = ctx.addReferenceObj("bloomFilter", bloomFilter,
        classOf[BloomFilter].getName)
      val valueEval = valueExpression.genCode(ctx)
      ev.copy(code =
        code"""
          ${valueEval.code}
          boolean ${ev.isNull} = ${valueEval.isNull};
          boolean ${ev.value} = false;
          if (!${ev.isNull}) {
            ${ev.value} = $bf.mightContainLong(${valueEval.value});
          }""")
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomProbe =
    copy(bloomFilterExpression = newLeft, valueExpression = newRight)
}

/** `estimateCount` over a serialized CountMinSketch. The sketch literal is
  * deserialized ONCE per task (transient lazy) — not per row. Interpreted
  * eval (CodegenFallback): the expression runs over candidate key lists
  * (distinct heavy-hitter candidates), never in a corpus-scan hot path.
  *
  * `left` must be a foldable binary (the serialized sketch); `right` is the
  * xxhash64-hashed key, matching a sketch built over the same hash. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = LongType

  @transient private lazy val sketch: CountMinSketch = {
    val bytes = left.eval().asInstanceOf[Array[Byte]]
    require(bytes != null, "cms_estimate: sketch bytes are null")
    CountMinSketch.readFrom(bytes)
  }

  override def nullSafeEval(sk: Any, hashed: Any): Any =
    sketch.estimateCount(java.lang.Long.valueOf(hashed.asInstanceOf[Long]))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}
