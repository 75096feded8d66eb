package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 31-base rolling polynomial fingerprint mod 1e9+7 as ONE native
  * expression: `RollingHash31(text)` ==
  * `aggregate(transform(split(text, ""), c -> ascii(c) :: long), 0L,
  *            (h, c) -> (h*31 + c) % 1000000007L)`
  *
  * The third member of the native-expression family ([[NearestCentroid]],
  * [[NearestCode]]): the HOF form splits every document into a
  * one-string-per-character ARRAY (~n allocations) and then runs n
  * interpreted lambda steps — measured ~2× the cost of a pure map-side
  * scan at the 25× corpus, pure overhead on what is a byte-stream fold.
  * The companion's kernel runs the identical arithmetic as one primitive
  * loop, called by eval and the generated code alike.
  *
  * PARITY CONTRACT (q_fingerprint is driver-oracle-checked): Spark's
  * `split(text, "")` operates on UTF8String and splits into CODE POINTS
  * (an astral emoji stays one element), and `ascii(elem)` returns that
  * code point — so the fold here iterates `String.codePointAt`, stepping
  * by `Character.charCount`, matching the HOF form on EVERY input
  * (ASCII, BMP, surrogate pairs — spec-pinned in VectorExprSpec; the
  * UTF-16-unit fold was measurably DIFFERENT on emoji input and is the
  * bug this comment exists to prevent reintroducing). h stays < 1e9+7
  * and code points < 2^21, so h*31 + c < 2^36: no overflow. Null text →
  * null; empty text → 0 (the aggregate's seed). */
case class RollingHash31(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(RollingHash31.fingerprint(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = ${KernelCall(classOf[RollingHash31], "fingerprint", input)};")

  override protected def withNewChildInternal(newChild: Expression): RollingHash31 =
    copy(child = newChild)
}

object RollingHash31 {
  /** The kernel: the fold over the text's code points. */
  def fingerprint(text: UTF8String): Long = {
    val s = text.toString
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp.toLong) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }
}
