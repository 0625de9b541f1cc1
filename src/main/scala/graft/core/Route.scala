package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.SparkEnv
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** The routing policy: an input small enough to solve on the driver, or
  * to hold whole in a broadcast, takes that route; everything larger
  * runs distributed (the line "Scalable Robust Graph Embedding with
  * Spark", VLDB 2021, draws between per-vertex state that fits one
  * machine and state that does not). Every cap is stated here once, and
  * each operator takes its cap as a parameter default, so a test or a
  * benchmark can still pin either route.
  *
  * [[gate]] is the one local gate. The helpers after it build the
  * driver-local kernels' index structures from the collected rows:
  * sorted distinct ids, dense indices and an undirected CSR, all
  * primitive arrays. Every output is a deterministic function of the
  * collected rows (ids sorted, indices are ranks, CSR slots filled in
  * row order), so kernels built on them inherit their callers' parity
  * arguments.
  */
object Route {

  /** Edges a local kernel collects: two Long arrays, 80 MB at the cap. */
  val LocalEdgeCap = 5000000L

  /** Edges the local triangle count takes: its merge work grows ~E^1.5,
    * ~2G steps at the cap.
    */
  val TriangleEdgeCap = 1000000L

  /** Vertices the local spectral solve holds: V x (d+1) doubles. */
  val SpectralVertexCap = 100000

  /** Neighbor rows (2E) the local path centralities collect, ~30 MB. */
  val NbrRowCap = 2000000L

  /** Vertices PageRank's CSR engine broadcasts: n doubles, 64 MB. */
  val CsrVertexCap = 8000000L

  /** Vertices the layout's broadcast-state superstep holds on the
    * driver, ~16 MB of positions at d = 2.
    */
  val LayoutVertexCap = 1000000L

  /** An input's (src, dst) projection, read through a cache: the
    * input's own if the session already caches it (or the projection),
    * else one [[hold]] made, which [[release]] drops. A cache someone
    * else made is never dropped.
    */
  final class Held private[Route] (val edges: DataFrame, cachedHere: Option[DataFrame]) {
    def release(): Unit = cachedHere.foreach(_.unpersist(false))
  }

  def hold(input: DataFrame): Held = {
    def isCached(df: DataFrame) = input.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    val cached = isCached(input) || isCached(input.select(col("src"), col("dst")))
    if (!cached) input.persist(StorageLevel.MEMORY_AND_DISK)
    // projected after the persist, so its plan reads the cache
    new Held(input.select(col("src"), col("dst")), if (cached) None else Some(input))
  }

  sealed trait Gate
  /** At or under the cap: the rows in `collect()` order; nothing held. */
  final case class Local(src: Array[Long], dst: Array[Long]) extends Gate
  /** Above the cap: the held projection and its row count. The
    * distributed path releases it once it no longer reads it.
    */
  final case class Distributed(held: Held, count: Long) extends Gate

  /** The local gate: holds the input's (src, dst) projection, counts
    * it, and collects it when the count is at most `cap`.
    */
  def gate(input: DataFrame, cap: Long): Gate = {
    val held = hold(input)
    val count = held.edges.count()
    if (count > cap) Distributed(held, count)
    else try { val (s, d) = collect(held.edges); Local(s, d) } finally held.release()
  }

  /** A frame of two bigint columns as two primitive arrays, in
    * `collect()` order (partition order, then row order). Each partition
    * packs its rows into one LZ4 byte block on the executor, as
    * `collect()` compresses its rows, so the driver never holds a `Row`
    * per edge.
    */
  def collect(df: DataFrame): (Array[Long], Array[Long]) = {
    require(df.schema.map(_.dataType) == Seq(LongType, LongType),
      s"want two bigint columns, got ${df.schema.simpleString}")
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(lz4.compressedOutputStream(bytes))
      var n = 0
      rows.foreach { r => out.writeLong(r.getLong(0)); out.writeLong(r.getLong(1)); n += 1 }
      out.close()
      Iterator.single((n, bytes.toByteArray))
    }.collect()
    val src = new Array[Long](parts.map(_._1).sum)
    val dst = new Array[Long](src.length)
    var at = 0
    parts.foreach { case (n, block) =>
      val in = new DataInputStream(lz4.compressedInputStream(new ByteArrayInputStream(block)))
      var i = 0
      while (i < n) { src(at) = in.readLong(); dst(at) = in.readLong(); at += 1; i += 1 }
      in.close()
    }
    (src, dst)
  }

  private def lz4 = new LZ4CompressionCodec(SparkEnv.get.conf)

  /** Sorted distinct values of the given arrays (which are not changed). */
  def distinct(arrays: Array[Long]*): Array[Long] = {
    val all = new Array[Long](arrays.map(_.length).sum)
    var at = 0
    arrays.foreach { a => System.arraycopy(a, 0, all, at, a.length); at += a.length }
    java.util.Arrays.sort(all)
    var w = 0
    var j = 0
    while (j < all.length) {
      if (w == 0 || all(j) != all(w - 1)) { all(w) = all(j); w += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(all, w)
  }

  /** Sorted distinct endpoint ids plus the dense index of every row's
    * endpoints: ids(sIdx(i)) == srcA(i), ids(dIdx(i)) == dstA(i).
    */
  def dense(srcA: Array[Long], dstA: Array[Long]): (Array[Long], Array[Int], Array[Int]) = {
    val ids = distinct(srcA, dstA)
    val sIdx = new Array[Int](srcA.length)
    val dIdx = new Array[Int](srcA.length)
    var i = 0
    while (i < srcA.length) {
      sIdx(i) = java.util.Arrays.binarySearch(ids, srcA(i))
      dIdx(i) = java.util.Arrays.binarySearch(ids, dstA(i))
      i += 1
    }
    (ids, sIdx, dIdx)
  }

  /** Undirected CSR over dense indices: both directions of every input
    * row, slots filled in input row order. Degree of v is
    * rowPtr(v+1) - rowPtr(v).
    */
  def undirectedCsr(n: Int, sIdx: Array[Int], dIdx: Array[Int]): (Array[Int], Array[Int]) = {
    val deg = new Array[Int](n)
    var i = 0
    while (i < sIdx.length) { deg(sIdx(i)) += 1; deg(dIdx(i)) += 1; i += 1 }
    val rowPtr = new Array[Int](n + 1)
    i = 0
    while (i < n) { rowPtr(i + 1) = rowPtr(i) + deg(i); i += 1 }
    val colIdx = new Array[Int](rowPtr(n))
    val cursor = rowPtr.clone()
    var j = 0
    while (j < sIdx.length) {
      colIdx(cursor(sIdx(j))) = dIdx(j); cursor(sIdx(j)) += 1
      colIdx(cursor(dIdx(j))) = sIdx(j); cursor(dIdx(j)) += 1
      j += 1
    }
    (rowPtr, colIdx)
  }
}
