package graft.graph

import java.util.stream.IntStream

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Int-packed CSR block over dense vertex indices (< 2^31): row `i` is
  * vertex `vertexIds(i)`, and its entries are `rowPtr(i) until
  * rowPtr(i + 1)` of `colIdx` (neighbour index) and, when the build was
  * given tags, of `tags` (one Long per entry; empty otherwise). A block
  * built on the executors owns its arrays and its `rowPtr` starts at 0;
  * a row block of a driver-held CSR ([[CsrBlocks.rows]]) shares that
  * CSR's `colIdx` and `tags`, and its `rowPtr` holds absolute offsets
  * into them, so a kernel reads only `rowPtr(0) until rowPtr.last`.
  */
final case class PackedCsr(partId: Int, vertexIds: Array[Int], rowPtr: Array[Int],
                           colIdx: Array[Int], tags: Array[Long])

/** Per-partition CSR blocks (north_star: "stores the adjacency as
  * per-partition CSR blocks ... for iterative message passing") — the
  * Spark analogue of the reference's scipy CSR adjacency
  * (graphem/embedder.py:75-98).
  *
  * Each block holds a set of adjacency rows as dense arrays (vertexIds /
  * rowPtr / colIdx), giving gather-scatter kernels array locality inside
  * a block. A block set lives in one of two places:
  *
  *  - on the executors ([[packed]] over a DataFrame): one block per hash
  *    partition of the vertex id, one shuffle (hash on vertex id +
  *    in-partition sort by (id, nbr, tag)), cached as RDD objects, each
  *    superstep one broadcast-state pass ([[pass]] over the RDD) — the
  *    route for inputs the driver does not already hold;
  *  - on the driver ([[rows]] over a [[graft.core.Route.undirectedCsr]]):
  *    contiguous row ranges of a CSR whose rows ascend, sharing its
  *    entry arrays, each superstep one parallel pass on the driver's
  *    cores ([[pass]] over the array) — no shuffle, no job. The blocks
  *    add ~8 B per row to the CSR's 4 B per entry (Int column index) and
  *    8 B per tag.
  *
  * Either way a row's entries ascend by neighbour, and the kernels
  * (PageRankCsr, the ForceLayout superstep) merge their partials row by
  * row, so which block holds a row does not matter: a run gives the
  * same bits on either. State too large to broadcast runs on the
  * relational join+agg engines instead.
  */
object CsrBlocks {

  /** Int-packed blocks for broadcast-state kernels (PageRankCsr, the
    * ForceLayout superstep), cached as JVM OBJECTS (RDD cache, not
    * encoder rows: a Dataset cache would deserialize the index arrays on
    * every pass). Int indices halve the bytes streamed per entry against
    * Long ones, which matters on a memory-bound kernel. `entries` has
    * Long columns `id` and `nbr` (both in [0, 2^31)) and optionally
    * `tag`; one block per hash partition of `id`, entries sorted by
    * (id, nbr, tag). The caller unpersists the result.
    */
  def packed(spark: SparkSession, entries: DataFrame): RDD[PackedCsr] = {
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tagged = entries.columns.contains("tag")
    val keys = (if (tagged) Seq("id", "nbr", "tag") else Seq("id", "nbr")).map(col)
    entries.select(keys: _*)
      .repartition(p, col("id"))
      .sortWithinPartitions(keys: _*)
      .select(col("id"), col("nbr"), if (tagged) col("tag") else lit(0L))
      .as[(Long, Long, Long)]
      .rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val block = new Assembly(tagged)
        it.foreach { case (id, nbr, tag) => block.add(id, nbr, tag) }
        block.result(pid).iterator
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One broadcast-state pass over cached blocks: ships `state` to the
    * executors once, runs `kernel` on every block, and returns the
    * partials in partition order, so the driver's merge of them is the
    * same on every run. The broadcast is released asynchronously: a
    * blocking destroy() stalls the driver ~0.3-0.5 s per pass, and the
    * driver copy is GC'd once the caller drops `state`.
    */
  def pass[S: ClassTag, R: ClassTag](blocks: RDD[PackedCsr], state: S)(
      kernel: (PackedCsr, S) => R): Array[R] = {
    val bs = blocks.sparkContext.broadcast(state)
    try blocks.map(b => kernel(b, bs.value)).collect()
    finally bs.unpersist(false)
  }

  /** The row blocks of a driver-held CSR over rows `0 until
    * rowPtr.length - 1`: the [[rowRanges]] of the session's
    * `spark.sql.shuffle.partitions` (the executor build's block count),
    * balanced by entry count. The blocks share `colIdx` and `tags` (no
    * entry is copied), and each one's `rowPtr` is its slice of the
    * CSR's, absolute offsets into them.
    */
  def rows(spark: SparkSession, rowPtr: Array[Int], colIdx: Array[Int],
           tags: Array[Long]): Array[PackedCsr] = {
    val bounds = rowRanges(rowPtr, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    Array.tabulate(bounds.length - 1) { b =>
      val (from, to) = (bounds(b), bounds(b + 1))
      PackedCsr(b, Array.range(from, to), java.util.Arrays.copyOfRange(rowPtr, from, to + 1),
        colIdx, tags)
    }
  }

  /** Cuts rows `0 until n` (n = rowPtr.length - 1) into at most `parts`
    * contiguous ranges of about equal entry count: range `b` is rows
    * `bounds(b) until bounds(b + 1)`; no range when n is 0. Each cut is
    * the first row that starts at or past the next 1/parts of the
    * entries.
    */
  def rowRanges(rowPtr: Array[Int], parts: Int): Array[Int] = {
    val n = rowPtr.length - 1
    if (n <= 0) return Array(0)
    val total = rowPtr(n).toLong
    val b = Array.newBuilder[Int]
    b += 0
    var last = 0
    var v = 0
    var k = 1
    while (k < parts) {
      val cut = total * k / parts
      while (v < n && rowPtr(v) < cut) v += 1
      if (v > last && v < n) { b += v; last = v }
      k += 1
    }
    b += n
    b.result()
  }

  /** One pass over driver-held blocks: runs `kernel` on every block in
    * parallel on the driver's cores and returns the partials in
    * block order, as the executor [[pass]] does.
    */
  def pass[S, R: ClassTag](blocks: Array[PackedCsr], state: S)(
      kernel: (PackedCsr, S) => R): Array[R] = {
    val out = new Array[R](blocks.length)
    IntStream.range(0, blocks.length).parallel().forEach(i => out(i) = kernel(blocks(i), state))
    out
  }

  private def packedId(v: Long): Int = {
    require(v >= 0L && v < Int.MaxValue,
      s"CSR blocks pack vertex indices into Int: id $v is outside [0, 2^31) " +
        "(densify first, or use the relational engine)")
    v.toInt
  }

  /** One partition's block, assembled from its entries in (id, nbr, tag)
    * order: a row per run of equal ids.
    */
  private final class Assembly(tagged: Boolean) {
    private val vertexIds = scala.collection.mutable.ArrayBuilder.make[Int]
    private val rowPtr = scala.collection.mutable.ArrayBuilder.make[Int]
    private val colIdx = scala.collection.mutable.ArrayBuilder.make[Int]
    private val tags = scala.collection.mutable.ArrayBuilder.make[Long]
    private var current = -1
    private var n = 0

    def add(id: Long, nbr: Long, tag: Long): Unit = {
      val v = packedId(id)
      if (v != current) { vertexIds += v; rowPtr += n; current = v }
      colIdx += packedId(nbr)
      if (tagged) tags += tag
      n += 1
    }

    /** The block, or None for a partition with no entries. */
    def result(pid: Int): Option[PackedCsr] =
      if (n == 0) None
      else {
        rowPtr += n
        Some(PackedCsr(pid, vertexIds.result(), rowPtr.result(), colIdx.result(), tags.result()))
      }
  }
}
