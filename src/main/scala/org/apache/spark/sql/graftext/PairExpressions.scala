package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StructField, StructType}

/** All index pairs (x[i], x[j]) with i < j from one array, as
  * `array<struct<a, b>>` — the candidate-pair expansion inside dedup
  * bucket blocking (each LSH band bucket / shingle doc-list becomes its
  * C(n,2) pairs map-side, replacing a blocked self-join).
  *
  * The higher-order formulation this replaces
  * (`flatten(transform(x, (v,i) -> transform(slice(x, i+2, n), ...)))`)
  * evaluates interpreted lambdas per element and copies the array tail
  * once per element — O(n²) slice copies on top of the O(n²) output.
  * Here the pairs are built in one tight loop with a single output
  * allocation, and the per-row call stays inside whole-stage codegen via
  * a bound reference (the loop itself doesn't need per-element codegen —
  * it's data-parallel work, not expression-tree work).
  *
  * Output size is C(n,2): the CALLER is responsible for bounding n (df
  * caps, bucket sizes), exactly as it had to bound a self-join's per-key
  * fan-out. Element order follows array order, so a sorted input yields
  * a < b pairs. Null elements are carried through untouched; a null
  * array yields null.
  */
case class PairCombos(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType)

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private def elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", elemType, elemNullable),
      StructField("b", elemType, elemNullable))),
    containsNull = false)

  /** Public: invoked from generated code via a bound reference. */
  def buildPairs(arr: ArrayData): ArrayData = {
    val et = elemType
    val n = arr.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.get(i, et)
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(a, arr.get(j, et))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    buildPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pairCombos", this, classOf[PairCombos].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.buildPairs($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PairCombos =
    copy(child = newChild)
}
