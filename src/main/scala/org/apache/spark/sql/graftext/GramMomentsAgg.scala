package org.apache.spark.sql.graftext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Single-pass integer Gram moments over a quantized `array<long>` column:
  * per-position row counts and first moments, plus the full upper-triangle
  * second-moment matrix Σ qa[p]·qa[q] (p ≤ q) — the PCA covariance inputs.
  *
  * Why it matters at scale: the explode formulation materializes n·d²/2
  * pair rows through a shuffle just to sum them (the dominant term of
  * q_embed_pca's plan — ~409M rows at the 100× corpus, reference
  * `SimilarityOps.pcaMuCovPc`). This aggregate folds the same sums into
  * d(d+1)/2 cells of per-partition state (d=64 → 2080 cells, ~50 KB), so
  * the corpus is read in ONE map-side pass and the only shuffle is one
  * state buffer per partition — the shape that survives a 1000-executor
  * 100 TB scan.
  *
  * Exactness contract (what lets the DuckDB oracle stay unchanged):
  * products are computed in full 128-bit (Math.multiplyHigh) and
  * accumulated in 128-bit two's-complement (lo/hi long pairs) — integer
  * addition is associative/commutative, so the result is independent of
  * partitioning and row order, and emitting DECIMAL(38,0) reproduces the
  * explode form's `sum(cast(qp*qq as decimal(38,0)))` bit-for-bit (DuckDB
  * mirrors with its HUGEINT sum). First moments stay long (|s1| ≤ n·2^21 —
  * safe past 10^12 vectors); counts are per-position so ragged arrays
  * keep the explode form's per-position n semantics.
  *
  * Null semantics replicate the explode form exactly: a null ARRAY row
  * contributes nothing (posexplode emits no rows); a null ELEMENT still
  * counts toward n[p] (`count(lit(1))` counted the exploded null row) but
  * contributes to no first or second moment (`sum` skips nulls, and a
  * null factor nulls the product) — and a position/cell with ZERO
  * non-null contributions emits NULL, exactly as `sum` over an all-null
  * group does (observation counts are carried in the state for this). */
case class GramMoments(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramMoments.State] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"gram_moments expects array<bigint> (a quantized vector), got ${t.simpleString}")
    }
  }

  override def nullable: Boolean = false
  override def dataType: DataType = GramMoments.outType

  override def createAggregationBuffer(): GramMoments.State = new GramMoments.State

  override def update(st: GramMoments.State, input: InternalRow): GramMoments.State = {
    val a = child.eval(input)
    if (a != null) st.add(a.asInstanceOf[ArrayData])
    st
  }

  override def merge(a: GramMoments.State, b: GramMoments.State): GramMoments.State = {
    a.mergeFrom(b)
    a
  }

  override def eval(st: GramMoments.State): Any = {
    val d = st.d
    val nOut = new Array[Any](d)
    val s1Out = new Array[Any](d)
    var p = 0
    while (p < d) {
      nOut(p) = st.n(p)
      s1Out(p) = if (st.s1n(p) == 0) null else st.s1(p)
      p += 1
    }
    val s2Out = new Array[Any](d * (d + 1) / 2)
    p = 0
    var idx = 0
    while (p < d) {
      var q = p
      while (q < d) {
        val dec = if (st.s2n(idx) == 0) null else {
          val big = BigInteger.valueOf(st.s2hi(idx)).shiftLeft(64)
            .add(new BigInteger(1, GramMoments.longBytes(st.s2lo(idx))))
          Decimal(new java.math.BigDecimal(big), 38, 0)
        }
        s2Out(idx) = InternalRow(p, q, dec)
        q += 1; idx += 1
      }
      p += 1
    }
    InternalRow(new GenericArrayData(nOut), new GenericArrayData(s1Out),
      new GenericArrayData(s2Out))
  }

  override def serialize(st: GramMoments.State): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(st.d)
    var i = 0
    while (i < st.d) {
      out.writeLong(st.n(i)); out.writeLong(st.s1(i)); out.writeLong(st.s1n(i))
      i += 1
    }
    val u = st.d * (st.d + 1) / 2
    i = 0
    while (i < u) {
      out.writeLong(st.s2lo(i)); out.writeLong(st.s2hi(i)); out.writeLong(st.s2n(i))
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): GramMoments.State = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val st = new GramMoments.State
    val d = in.readInt()
    st.ensure(d)
    var i = 0
    while (i < d) {
      st.n(i) = in.readLong(); st.s1(i) = in.readLong(); st.s1n(i) = in.readLong()
      i += 1
    }
    val u = d * (d + 1) / 2
    i = 0
    while (i < u) {
      st.s2lo(i) = in.readLong(); st.s2hi(i) = in.readLong(); st.s2n(i) = in.readLong()
      i += 1
    }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMoments =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMoments =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): GramMoments =
    copy(child = newChildren(0))
}

object GramMoments {

  /** Loud-failure input bound: 2^31. See the guard in [[State.add]]. */
  private[graftext] val MaxAbsElement: Long = 1L << 31

  private[graftext] val outType: StructType = StructType(Seq(
    StructField("n", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("s1", ArrayType(LongType, containsNull = true), nullable = false),
    StructField("s2", ArrayType(StructType(Seq(
      StructField("p", IntegerType, nullable = false),
      StructField("q", IntegerType, nullable = false),
      StructField("s2", DecimalType(38, 0), nullable = true))),
      containsNull = false), nullable = false)))

  private[graftext] def longBytes(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
    b
  }

  /** Mutable per-partition accumulator. Arrays grow (with triangular-index
    * remap) if a longer vector appears — ragged corpora stay correct. */
  final class State {
    var d: Int = 0
    var n: Array[Long] = Array.emptyLongArray
    var s1: Array[Long] = Array.emptyLongArray
    var s1n: Array[Long] = Array.emptyLongArray   // non-null element counts
    var s2lo: Array[Long] = Array.emptyLongArray
    var s2hi: Array[Long] = Array.emptyLongArray
    var s2n: Array[Long] = Array.emptyLongArray   // non-null product counts

    /** idx of (p, p) under dim d: rows of the upper triangle. */
    @inline private def diagIdx(p: Int, dim: Int): Int =
      p * dim - p * (p - 1) / 2

    def ensure(len: Int): Unit = {
      if (len <= d) return
      val nd = len
      val nn = java.util.Arrays.copyOf(n, nd)
      val ns1 = java.util.Arrays.copyOf(s1, nd)
      val ns1n = java.util.Arrays.copyOf(s1n, nd)
      val nu = nd * (nd + 1) / 2
      val nlo = new Array[Long](nu)
      val nhi = new Array[Long](nu)
      val nn2 = new Array[Long](nu)
      var p = 0
      var old = 0
      while (p < d) {
        val base = diagIdx(p, nd)
        var j = 0
        val rowLen = d - p
        while (j < rowLen) {
          nlo(base + j) = s2lo(old); nhi(base + j) = s2hi(old)
          nn2(base + j) = s2n(old)
          old += 1; j += 1
        }
        p += 1
      }
      d = nd; n = nn; s1 = ns1; s1n = ns1n; s2lo = nlo; s2hi = nhi; s2n = nn2
    }

    @inline private def add128(idx: Int, phi: Long, plo: Long): Unit = {
      val lo0 = s2lo(idx)
      val lo1 = lo0 + plo
      val carry = ((lo0 & plo) | ((lo0 | plo) & ~lo1)) >>> 63
      s2lo(idx) = lo1
      s2hi(idx) += phi + carry
    }

    def add(arr: ArrayData): Unit = {
      val len = arr.numElements()
      ensure(len)
      var p = 0
      while (p < len) { n(p) += 1; p += 1 }
      // extract once: the inner pair loop re-reads each element d/2 times
      val vals = new Array[Long](len)
      val nulls = new Array[Boolean](len)
      p = 0
      while (p < len) {
        if (arr.isNullAt(p)) nulls(p) = true
        else {
          val v = arr.getLong(p)
          // SQL-registered for arbitrary array<bigint>, so out-of-contract
          // input must fail LOUDLY (the quantize expressions' rule): with
          // |x| ≤ 2^31 every product is ≤ 2^62 and the 128-bit accumulator
          // cannot wrap before ~2^65 rows, but elements near 2^63 could
          // wrap it SILENTLY into a legitimate-looking in-range sum. One
          // compare per element, amortized over the O(d²/2) pair loop.
          if (v > GramMoments.MaxAbsElement || v < -GramMoments.MaxAbsElement)
            throw new ArithmeticException(
              s"gram_moments: |element| $v exceeds 2^31 — the exactness " +
                "contract covers quantized vectors (|x| ≤ scale·2^11 ≪ " +
                "2^31); larger inputs could wrap the 128-bit accumulator " +
                "silently")
          vals(p) = v
        }
        p += 1
      }
      p = 0
      while (p < len) {
        if (!nulls(p)) {
          val vp = vals(p)
          s1(p) += vp
          s1n(p) += 1
          var idx = diagIdx(p, d)
          var q = p
          while (q < len) {
            if (!nulls(q)) {
              val vq = vals(q)
              add128(idx, Math.multiplyHigh(vp, vq), vp * vq)
              s2n(idx) += 1
            }
            idx += 1; q += 1
          }
        }
        p += 1
      }
    }

    def mergeFrom(o: State): Unit = {
      ensure(o.d)
      var p = 0
      while (p < o.d) {
        n(p) += o.n(p); s1(p) += o.s1(p); s1n(p) += o.s1n(p)
        p += 1
      }
      // o's triangular indices are under o.d; re-walk them row by row
      p = 0
      var oidx = 0
      while (p < o.d) {
        val idx = diagIdx(p, d)
        var j = 0
        val rowLen = o.d - p
        while (j < rowLen) {
          add128(idx + j, o.s2hi(oidx), o.s2lo(oidx))
          s2n(idx + j) += o.s2n(oidx)
          oidx += 1; j += 1
        }
        p += 1
      }
    }
  }
}
