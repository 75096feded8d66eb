package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of space-separated tokens containing ≥1 ASCII letter, as ONE
  * native byte loop: `AlphaTokenCount(text)` ==
  * `size(filter(split(text,' '), x -> x rlike '[a-zA-Z]'))` ==
  * `regexp_count(text, '(?:^| )[^ ]*[a-zA-Z][^ ]*')`.
  *
  * The Gopher alphabetic-word rule's statistic. Both portable
  * formulations lose: the filter() HOF pays an interpreted lambda + a
  * regex per token (the banned corpus-grain shape), and the single
  * regexp_count pays a backtracking scan that MEASURED ~2× the HOF at
  * sf0.1 (0.88 s vs 0.34-0.54 s). This node is one branchy byte walk —
  * no allocation, no regex. Byte-level is correct in UTF-8: every
  * continuation/multi-byte unit has the high bit set, so it can never
  * equal 0x20 (the split space) or land in [A-Za-z] — the walk treats
  * multi-byte characters as opaque non-letter token bytes, exactly like
  * the regex. Null → null; empty string → 0 (its single empty token has
  * no letter; so do runs of spaces, matching split()'s empty tokens).
  * Parity with BOTH portable forms is spec-pinned (VectorExprSpec), and
  * the q_gopher_rules DuckDB oracle (regexp_extract_all) hash-checks it
  * at every corpus. */
case class AlphaTokenCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      AlphaTokenCount.count(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = ${KernelCall(classOf[AlphaTokenCount], "count", input)};")

  override protected def withNewChildInternal(newChild: Expression): AlphaTokenCount =
    copy(child = newChild)
}

object AlphaTokenCount {
  /** Shared by eval and codegen — one implementation can't drift. */
  def count(s: UTF8String): Long = {
    val n = s.numBytes()
    var i = 0
    var hasAlpha = false
    var c = 0L
    while (i < n) {
      val b = s.getByte(i)
      if (b == 0x20) {
        if (hasAlpha) c += 1
        hasAlpha = false
      } else if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) {
        hasAlpha = true
      }
      i += 1
    }
    if (hasAlpha) c + 1 else c
  }
}
