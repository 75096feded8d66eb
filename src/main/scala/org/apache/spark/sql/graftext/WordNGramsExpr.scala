package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram (shingle) array as ONE native expression:
  * `WordNGrams(t, n)` ==
  * `transform(sequence(1, size(t)-(n-1)), i -> concat_ws(" ", slice(t,i,n)))`
  *
  * The shingle generator feeds the WHOLE near-dup family (MinHash,
  * n-gram Jaccard, containment, contamination, boilerplate, the
  * snapshot dedups) — at the 25× corpus its interpreted form pays one
  * lambda invocation plus an O(n) `slice` array copy plus a
  * String-level concat per gram. This builds each gram with
  * `UTF8String.concatWs` (byte-level, no Java String round-trip) in one
  * compiled loop and allocates exactly one output array.
  *
  * PARITY CONTRACT (most dedup oracles consume these strings):
  * identical output for numTokens ≥ n — same gram strings (concat_ws
  * skips null elements; UTF8String.concatWs IS concat_ws's
  * implementation), same order, same multiplicity. For numTokens < n
  * the HOF form needed an external `size(t) >= n` guard because
  * `sequence(1, 0)` turns DESCENDING; this expression simply returns an
  * EMPTY array (what generate_series does in DuckDB, and what every
  * caller's guard enforced anyway) — callers keep their guards for
  * plan-shape parity with the oracles, but a missing guard can no
  * longer produce descending-index garbage. Null input array → null. */
case class WordNGrams(child: Expression, n: Int, sep: String = " ")
    extends UnaryExpression {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tokens must be array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordNGrams.build(input.asInstanceOf[ArrayData], n, sepUtf8)

  @transient private lazy val sepUtf8: UTF8String = UTF8String.fromString(sep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val sepRef = ctx.addReferenceObj("ngramSep", sepUtf8, classOf[UTF8String].getName)
      s"${ev.value} = ${KernelCall(classOf[WordNGrams], "build", input, n, sepRef)};"
    })

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

object WordNGrams {
  /** One compiled loop shared by eval and codegen (the generated code
    * calls this directly — the per-gram work is real enough that a
    * static call costs nothing against it, and one implementation can't
    * drift from itself). */
  def build(t: ArrayData, n: Int, sep: UTF8String): ArrayData = {
    val numTokens = t.numElements()
    val count = numTokens - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < count) {
      var j = 0
      while (j < n) {
        window(j) = if (t.isNullAt(i + j)) null else t.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
