package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Fused multi-query bounded kNN: ALL `Q` query heaps advance on every
  * input row, inside one aggregate update — the scale rewrite of the
  * `points.crossJoin(broadcast(queries))` + per-query [[BoundedTopKAgg]]
  * plan (ForceLayout's kNN stage, the reference's fixed-sample tiled
  * kNN at /root/reference/graphem/embedder.py:146-170).
  *
  * Why: the crossJoin formulation MATERIALIZES |points| x Q candidate
  * rows per pass through codegen + the aggregate hash map (~300M rows
  * per layout iteration at sf0.1), and that row traffic — not the
  * distance arithmetic — dominates the layout superstep. Here each
  * input row is read once, the Q x d query block lives in the
  * aggregation buffer (Q <= ~1k by design: the reference's fixed
  * PRNGKey(0) sample of 512), and per (row, query) work is a handful
  * of flops plus a mostly-failing heap-root compare. The shuffle
  * carries one Q x k partial per input partition instead of
  * partitions x Q x k candidate rows.
  *
  * Bit-parity with the crossJoin plan (guarded by the committed radii
  * drift fixture + an equivalence test):
  *  - squared distance sums per-dimension terms left-to-right, exactly
  *    like the unrolled `(q1-m1)*(q1-m1) + (q2-m2)*(q2-m2)` column;
  *  - heaps keep the k smallest (d2, tie) with [[BoundedTopKAgg]]'s
  *    comparator, and emit them ascending;
  *  - every input row enters every heap (self-pairs included — the
  *    caller drops position 0, same as the old rn=1 rule).
  *
  * Input: struct<array<double>, bigint> = (point vector, tie-break id).
  * Output: array<struct<i_eid:long, nn:array<struct<d2:double,
  * j_eid:long>>>> — one entry per query, in constructor order.
  */
case class SampleKnnAgg(
    child: Expression,
    qids: Array[Long],
    qvecs: Array[Array[Double]],
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SampleKnnAgg.Bufs] with UnaryLike[Expression] {

  require(qids.length == qvecs.length, "qids/qvecs length mismatch")
  private val dims: Int = if (qvecs.isEmpty) 0 else qvecs(0).length

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case s: StructType if s.size >= 2 &&
        (s.fields(0).dataType == ArrayType(DoubleType, containsNull = false) ||
          s.fields(0).dataType == ArrayType(DoubleType, containsNull = true)) &&
        s.fields(1).dataType == LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sample_knn needs struct<array<double>, bigint>, got $other")
    }

  override def createAggregationBuffer(): SampleKnnAgg.Bufs =
    new SampleKnnAgg.Bufs(qids.length, k)

  override def update(buf: SampleKnnAgg.Bufs, input: InternalRow): SampleKnnAgg.Bufs = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      val arr = row.getArray(0)
      val eid = row.getLong(1)
      val m = new Array[Double](dims)
      var j = 0
      while (j < dims) { m(j) = arr.getDouble(j); j += 1 }
      buf.offerAll(qvecs, m, eid)
    }
    buf
  }

  override def merge(a: SampleKnnAgg.Bufs, b: SampleKnnAgg.Bufs): SampleKnnAgg.Bufs = {
    a.absorb(b)
    a
  }

  override def eval(buf: SampleKnnAgg.Bufs): Any = {
    val out = new Array[Any](qids.length)
    var q = 0
    while (q < qids.length) {
      val entries = buf.sorted(q).map { case (d2, t) =>
        new GenericInternalRow(Array[Any](d2, t)): Any
      }
      out(q) = new GenericInternalRow(Array[Any](
        qids(q), new GenericArrayData(entries)))
      q += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: SampleKnnAgg.Bufs): Array[Byte] =
    SampleKnnAgg.serializeBufs(buf)
  override def deserialize(bytes: Array[Byte]): SampleKnnAgg.Bufs =
    SampleKnnAgg.deserializeBufs(bytes, k)

  private val nnType = ArrayType(StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("j_eid", LongType, nullable = false))), containsNull = false)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i_eid", LongType, nullable = false),
    StructField("nn", nnType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): SampleKnnAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SampleKnnAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SampleKnnAgg =
    copy(child = newChild)

  override def prettyName: String = "sample_knn"
}

object SampleKnn {

  /** Column API: per broadcast query, the k nearest (squared L2) input
    * points as struct(i_eid, nn) entries — one global aggregate row.
    */
  def knn(point: Column, tie: Column, qids: Array[Long],
          qvecs: Array[Array[Double]], k: Int): Column =
    Bridge.column(SampleKnnAgg(
      Bridge.expression(struct(point, tie)), qids, qvecs, k)
      .toAggregateExpression())
}

/** Fused multi-query bounded top-k by COSINE — [[SampleKnnAgg]]'s
  * sibling for the brute-force ANN path (`Ann.bruteForceTopK`): every
  * corpus row scores against all Q broadcast queries inside one
  * update(), replacing the corpus x queries crossJoin that materialized
  * |corpus| x Q candidate rows. Scoring is bit-identical to the column
  * plan it replaces: [[VecCosine.cosine]] (same fold), then micro-unit
  * HALF_UP rounding exactly like `round(c * 1e6, 0)`, ranked ascending
  * by (-micro, neighbor_id) — cosine desc, id-asc ties. Self-pairs
  * (neighbor_id == query id) are skipped, mirroring the old pre-filter.
  *
  * Output: array<struct<query_id:long, nn:array<struct<negcos:double,
  * neighbor_id:long, cosine_micro:long>>>> with nn ascending by
  * (negcos, neighbor_id).
  */
case class CosineTopKAgg(
    child: Expression,
    qids: Array[Long],
    qvecs: Array[Array[Double]],
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SampleKnnAgg.Bufs] with UnaryLike[Expression] {

  require(qids.length == qvecs.length, "qids/qvecs length mismatch")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case s: StructType if s.size >= 2 &&
        (s.fields(0).dataType == ArrayType(DoubleType, containsNull = false) ||
          s.fields(0).dataType == ArrayType(DoubleType, containsNull = true)) &&
        s.fields(1).dataType == LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_top_k needs struct<array<double>, bigint>, got $other")
    }

  override def createAggregationBuffer(): SampleKnnAgg.Bufs =
    new SampleKnnAgg.Bufs(qids.length, k)

  override def update(buf: SampleKnnAgg.Bufs, input: InternalRow): SampleKnnAgg.Bufs = {
    val v = child.eval(input)
    // k <= 0: nothing can ever enter a heap, and the cheap-reject below
    // would read keys(q)(0) of a zero-length array
    if (v != null && k > 0) {
      val row = v.asInstanceOf[InternalRow]
      val arr = row.getArray(0)
      val id = row.getLong(1)
      var q = 0
      val nq = qids.length
      while (q < nq) {
        if (qids(q) != id) {
          val c = VecCosine.cosine(qvecs(q), arr)
          val x = c * 1e6
          // Cheap reject BEFORE the exact rounding: HALF_UP(x) can only
          // reach the heap root's micro value if x >= root - 0.5, so
          // anything below root - 0.500001 can never displace it (the
          // extra 1e-6 absorbs shortest-decimal-repr quirks at the .5
          // boundary). This matters because the exact mirror of Spark's
          // round() — shortest-decimal BigDecimal, HALF_UP — costs
          // ~150 ns/call; with the filter it runs only on candidates
          // that might actually enter (~k/|corpus| of pairs), keeping
          // the scoring loop allocation-free. Bit-exactness is
          // untouched: no candidate that could enter is ever skipped.
          if (buf.n(q) < k || x >= -buf.keys(q)(0) - 0.500001) {
            // round(c * 1e6, 0).cast("long") — Spark's Round on doubles
            // goes through the shortest-decimal BigDecimal, HALF_UP
            val micro = scala.math.BigDecimal.decimal(x)
              .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
              .toDouble.toLong
            buf.insert(q, -micro.toDouble, id)
          }
        }
        q += 1
      }
    }
    buf
  }

  override def merge(a: SampleKnnAgg.Bufs, b: SampleKnnAgg.Bufs): SampleKnnAgg.Bufs = {
    a.absorb(b)
    a
  }

  override def eval(buf: SampleKnnAgg.Bufs): Any = {
    val out = new Array[Any](qids.length)
    var q = 0
    while (q < qids.length) {
      val entries = buf.sorted(q).map { case (negcos, id) =>
        new GenericInternalRow(Array[Any](negcos, id, (-negcos).toLong)): Any
      }
      out(q) = new GenericInternalRow(Array[Any](
        qids(q), new GenericArrayData(entries)))
      q += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: SampleKnnAgg.Bufs): Array[Byte] =
    SampleKnnAgg.serializeBufs(buf)
  override def deserialize(bytes: Array[Byte]): SampleKnnAgg.Bufs =
    SampleKnnAgg.deserializeBufs(bytes, k)

  private val nnType = ArrayType(StructType(Seq(
    StructField("negcos", DoubleType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cosine_micro", LongType, nullable = false))), containsNull = false)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("nn", nnType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): CosineTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CosineTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CosineTopKAgg =
    copy(child = newChild)

  override def prettyName: String = "cosine_top_k"
}

object CosineTopK {

  /** Column API: per broadcast query, the k highest-cosine corpus rows
    * (micro-rounded, id-asc ties, self-pairs skipped).
    */
  def topK(vec: Column, id: Column, qids: Array[Long],
           qvecs: Array[Array[Double]], k: Int): Column =
    Bridge.column(CosineTopKAgg(
      Bridge.expression(struct(vec, id)), qids, qvecs, k)
      .toAggregateExpression())
}

object SampleKnnAgg {

  private[functions] def serializeBufs(buf: Bufs): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.q)
    var i = 0
    while (i < buf.q) {
      out.writeInt(buf.n(i))
      var j = 0
      while (j < buf.n(i)) {
        out.writeDouble(buf.keys(i)(j)); out.writeLong(buf.ties(i)(j)); j += 1
      }
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  private[functions] def deserializeBufs(bytes: Array[Byte], k: Int): Bufs = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val q = in.readInt()
    val buf = new Bufs(q, k)
    var i = 0
    while (i < q) {
      val n = in.readInt()
      var j = 0
      while (j < n) { buf.insert(i, in.readDouble(), in.readLong()); j += 1 }
      i += 1
    }
    buf
  }

  /** Q bounded max-heaps on (key, tie) — [[BoundedTopKAgg.Buf]]'s
    * comparator, flattened into per-query arrays. Each entry may carry
    * a Long payload in `aux` that moves with it (ForceLayout's
    * broadcast-state superstep packs a candidate edge's endpoints
    * there); the aggregate buffers leave it 0 and [[serializeBufs]]
    * does not write it — their winners re-join their vectors from the
    * cached frame afterwards.
    */
  final class Bufs(val q: Int, val k: Int) extends Serializable {
    val n = new Array[Int](q)
    val keys: Array[Array[Double]] = Array.fill(q)(new Array[Double](k))
    val ties: Array[Array[Long]] = Array.fill(q)(new Array[Long](k))
    val aux: Array[Array[Long]] = Array.fill(q)(new Array[Long](k))

    private def less(kk: Array[Double], tt: Array[Long], i: Int, j: Int): Boolean =
      kk(i) > kk(j) || (kk(i) == kk(j) && tt(i) > tt(j)) // max-heap: "less" = worse

    private def swap(qi: Int, i: Int, j: Int): Unit = {
      val kk = keys(qi); val tt = ties(qi); val aa = aux(qi)
      val kd = kk(i); kk(i) = kk(j); kk(j) = kd
      val td = tt(i); tt(i) = tt(j); tt(j) = td
      val ad = aa(i); aa(i) = aa(j); aa(j) = ad
    }

    def insert(qi: Int, d: Double, t: Long, a: Long = 0L): Unit = {
      val kk = keys(qi); val tt = ties(qi)
      var m = n(qi)
      if (m < k) {
        kk(m) = d; tt(m) = t; aux(qi)(m) = a
        n(qi) = m + 1
        // sift up
        while (m > 0 && less(kk, tt, m, (m - 1) / 2)) {
          val p = (m - 1) / 2
          swap(qi, m, p)
          m = p
        }
      } else if (k > 0 && !(d > kk(0) || (d == kk(0) && t > tt(0)))) {
        kk(0) = d; tt(0) = t; aux(qi)(0) = a
        // sift down
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = 2 * i + 2
          var mm = i
          if (l < n(qi) && less(kk, tt, l, mm)) mm = l
          if (r < n(qi) && less(kk, tt, r, mm)) mm = r
          if (mm == i) done = true
          else {
            swap(qi, i, mm)
            i = mm
          }
        }
      }
    }

    /** Offers the point at `m(mo until mo + qv.length)` (tie `t`,
      * payload `a`) to the heap of query `qi` at `qv`. The squared
      * distance sums per-dimension terms left to right — bit-identical
      * to the unrolled `(q1-m1)*(q1-m1) + ...` column the aggregate
      * replaced. Cheap reject before the insert call (the CosineTopKAgg
      * pattern): a full heap only replaces its root when (d2, t) <
      * (root, rootTie) — the exact complement of this test, so no
      * candidate that could enter is ever skipped and the heap contents
      * stay bit-identical. Once a heap is warm almost every point fails
      * here, skipping the call + sift.
      */
    def offer(qi: Int, qv: Array[Double], m: Array[Double], mo: Int, t: Long, a: Long): Unit = {
      var d2 = 0.0
      var i = 0
      while (i < qv.length) { val diff = qv(i) - m(mo + i); d2 += diff * diff; i += 1 }
      if (k > 0 && (n(qi) < k || {
          val kk = keys(qi)
          d2 < kk(0) || (d2 == kk(0) && t < ties(qi)(0))
        }))
        insert(qi, d2, t, a)
    }

    /** [[offer]] of point `m` (tie `t`) to every query heap. */
    def offerAll(qvecs: Array[Array[Double]], m: Array[Double], t: Long): Unit = {
      var qi = 0
      while (qi < q) { offer(qi, qvecs(qi), m, 0, t, 0L); qi += 1 }
    }

    /** True if query `qi`'s heap is full and its root beats every
      * squared distance of at least `d2`.
      */
    def closed(qi: Int, d2: Double): Boolean = n(qi) == k && d2 > keys(qi)(0)

    def absorb(b: Bufs): Unit = {
      var qi = 0
      while (qi < q) {
        var j = 0
        while (j < b.n(qi)) {
          insert(qi, b.keys(qi)(j), b.ties(qi)(j), b.aux(qi)(j)); j += 1
        }
        qi += 1
      }
    }

    /** Slots of query `qi`'s entries, ascending by (key, tie). */
    def order(qi: Int): Array[Int] = {
      val kk = keys(qi); val tt = ties(qi)
      val out = Array.range(0, n(qi))
      scala.util.Sorting.stableSort(out, (a: Int, b: Int) =>
        kk(a) < kk(b) || (kk(a) == kk(b) && tt(a) < tt(b)))
      out
    }

    /** Entries of query `qi` ascending by (key, tie). */
    def sorted(qi: Int): Array[(Double, Long)] =
      order(qi).map(j => (keys(qi)(j), ties(qi)(j)))
  }
}
