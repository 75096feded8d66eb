package org.apache.spark.sql.graftext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Single-pass top-k-by-score aggregate (SURVEY §4's deferred candidate):
  * keeps the k best (score DESC, id ASC on ties) pairs per group.
  *
  * Why it matters at scale: the window formulation
  * (`row_number() OVER (ORDER BY score DESC) <= k`) must shuffle and SORT
  * every scored row; this aggregate keeps a k-element buffer per partition
  * and merges buffers — map-side partial aggregation makes the shuffle
  * O(groups·k) instead of O(rows). Same deterministic semantics as the
  * window form, verified against the same DuckDB oracle.
  */
case class TopKByScore(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {

  require(k >= 1, s"topk_by requires k >= 1, got $k")

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (scoreExpr.dataType == DoubleType && idExpr.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"topk_by expects (DOUBLE score, BIGINT id, INT k); got " +
          s"(${scoreExpr.dataType.simpleString}, ${idExpr.dataType.simpleString}) " +
          "— cast the inputs explicitly")
  }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))))

  /** total order: earlier = better. Mirrors Spark's SQL double ordering
    * (SQLOrderingUtil.compareDoubles) exactly: primitive == first so
    * -0.0 ties 0.0 (id breaks the tie), then Double.compare so NaN orders
    * LARGEST — how `ORDER BY score DESC` ranks NaN rows first. Keeps the
    * aggregate row-identical to the window form for NaN and signed-zero
    * scores alike. */
  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = if (a._1 == b._1) 0 else java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] =
    ArrayBuffer.empty

  override def update(buf: ArrayBuffer[(Double, Long)], input: InternalRow): ArrayBuffer[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      insert(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    }
    buf
  }

  private def insert(buf: ArrayBuffer[(Double, Long)], v: (Double, Long)): Unit = {
    if (buf.length < k) {
      buf += v
      if (buf.length == k) buf.sortInPlace()(Ordering.fromLessThan(better))
    } else if (better(v, buf.last)) {
      // buffer is sorted best-first once full: replace the worst, re-place v
      var pos = buf.length - 1
      buf(pos) = v
      while (pos > 0 && better(buf(pos), buf(pos - 1))) {
        val t = buf(pos - 1); buf(pos - 1) = buf(pos); buf(pos) = t
        pos -= 1
      }
    }
  }

  override def merge(a: ArrayBuffer[(Double, Long)], b: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    (a ++ b).sortWith(better).take(k)
  }

  override def eval(buf: ArrayBuffer[(Double, Long)]): Any = {
    val sorted = buf.sortWith(better)
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])
  }

  override def serialize(buf: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = ArrayBuffer.empty[(Double, Long)]
    var j = 0
    while (j < n) { buf += ((in.readDouble(), in.readLong())); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}
