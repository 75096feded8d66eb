package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A LITERAL replace chain as ONE native expression:
  * `ChainReplace(s, froms, tos)` == `replace(... replace(s, froms(0),
  * tos(0)) ..., froms(n-1), tos(n-1))` — the shape a learned tokenizer
  * vocabulary compiles to (one replace per merge, applied in train
  * order).
  *
  * Exists because the folded-`replace` column is QUADRATIC in plan-string
  * size: each nesting level's toString embeds its whole child, so a
  * 48-merge chain over a non-trivial child expression produced plan
  * strings large enough to OOM the heap the moment AQE logged a plan
  * (measured: TextMultimodalSpec aborted with `OutOfMemoryError` inside
  * `generateTreeString` at depth 48). A production tokenizer has tens of
  * thousands of merges — nesting is a dead end structurally, not just a
  * logging nuisance. This node keeps the merge table as constructor DATA
  * (two string arrays, elided from toString past a prefix), so the tree
  * is ONE node deep no matter the vocabulary size.
  *
  * PARITY CONTRACT: each step is `UTF8String.replace` — the exact
  * routine Spark's `StringReplace` (the SQL `replace`) evaluates, i.e.
  * left-to-right non-overlapping literal replacement. Bit-parity with
  * the folded form is spec-pinned (VectorExprSpec) and the registered
  * q_bpe_encode runs through this node, so the driver's DuckDB oracle
  * hash-checks the chain end-to-end every round. Null in → null out;
  * empty chain → identity. */
case class ChainReplace(child: Expression, froms: Seq[String], tos: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  require(froms.length == tos.length,
    s"ChainReplace: ${froms.length} search strings vs ${tos.length} replacements")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType

  // keep toString bounded: a 50k-merge vocabulary must not reappear in
  // every plan dump (the exact failure mode this node removes)
  override def toString: String =
    s"chain_replace($child, ${froms.length} merges)"

  @transient private lazy val fromU: Array[UTF8String] =
    froms.map(UTF8String.fromString).toArray
  @transient private lazy val toU: Array[UTF8String] =
    tos.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    ChainReplace.replaceChain(input.asInstanceOf[UTF8String], fromU, toU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val u = "org.apache.spark.unsafe.types.UTF8String[]"
      val fr = ctx.addReferenceObj("chainFroms", fromU, u)
      val to = ctx.addReferenceObj("chainTos", toU, u)
      s"${ev.value} = ${KernelCall(classOf[ChainReplace], "replaceChain", input, fr, to)};"
    })

  override protected def withNewChildInternal(newChild: Expression): ChainReplace =
    copy(child = newChild)
}

object ChainReplace {
  /** The kernel: replace each froms(i) by tos(i) in s, in order. */
  def replaceChain(s: UTF8String, froms: Array[UTF8String], tos: Array[UTF8String])
      : UTF8String = {
    var out = s
    var i = 0
    while (i < froms.length) {
      out = out.replace(froms(i), tos(i))
      i += 1
    }
    out
  }
}
