package graft.graph

import java.util.stream.IntStream

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Int-packed CSR block over dense vertex indices (< 2^31): row `i` is
  * vertex `vertexIds(i)`, and its entries are `rowPtr(i) until
  * rowPtr(i + 1)` of `colIdx` (neighbour index) and, when the build was
  * given a `tag` column, of `tags` (one Long per entry; empty otherwise).
  */
final case class PackedCsr(partId: Int, vertexIds: Array[Int], rowPtr: Array[Int],
                           colIdx: Array[Int], tags: Array[Long])

/** Per-partition CSR blocks (north_star: "stores the adjacency as
  * per-partition CSR blocks ... for iterative message passing") — the
  * Spark analogue of the reference's scipy CSR adjacency
  * (graphem/embedder.py:75-98).
  *
  * Each block holds the adjacency rows of one hash partition of the
  * vertex space as dense arrays (vertexIds / rowPtr / colIdx), giving
  * gather-scatter kernels array locality inside a partition. A block
  * set is built in one of two places, with the same result array for
  * array:
  *
  *  - on the executors ([[packed]] over a DataFrame): one shuffle (hash
  *    on vertex id + in-partition sort), cached as RDD objects, each
  *    superstep one broadcast-state pass ([[pass]] over the RDD) — the
  *    route for inputs the driver does not already hold;
  *  - on the driver ([[packed]] over primitive arrays): the same hash
  *    partition per entry, the same (id, nbr, tag) order and the same
  *    per-partition assembly, from arrays the driver already holds (a
  *    [[graft.core.Route.Local]] collect), and each superstep one
  *    parallel pass on the driver's cores ([[pass]] over the array) — no
  *    shuffle, no job. The blocks cost ~4 B per entry (Int column index)
  *    plus ~8 B per row, and a tag adds 8 B per entry.
  *
  * Kernels and merges are the same on both, and both return partials in
  * partition order, so a run gives the same bits on either. PageRankCsr
  * and the ForceLayout superstep run on them; state too large to
  * broadcast runs on the relational join+agg engines instead.
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
        val block = new Assembly(tagged, 0)
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

  /** The driver-side build: the blocks [[packed]] makes from an
    * `entries` frame with columns `id`, `nbr` (and `tag` when `tags` is
    * given), made here from primitive arrays, entry `e` being
    * `(ids(e), nbrs(e), tags(e))`, with the same partition count `p`,
    * the session's `spark.sql.shuffle.partitions`. Each entry goes to
    * partition `pmod(Murmur3Hash(id), p)`, the partition
    * `repartition(p, col("id"))` gives a bigint id, and each partition's
    * entries are assembled in (id, nbr, tag) order by the same
    * [[Assembly]], so the result equals `packed(...).collect()` array
    * for array. Partitions are sorted and assembled in parallel on the
    * driver's cores; the arrays given are not changed.
    */
  def packed(spark: SparkSession, ids: Array[Int], nbrs: Array[Int],
             tags: Option[Array[Long]]): Array[PackedCsr] = {
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val m = ids.length
    require(nbrs.length == m && tags.forall(_.length == m), "entry arrays of unequal length")
    val part = new Array[Int](m)
    val start = new Array[Int](p + 1)
    var e = 0
    while (e < m) {
      part(e) = Math.floorMod(Murmur3_x86_32.hashLong(packedId(ids(e)).toLong, HashSeed), p)
      packedId(nbrs(e))
      start(part(e) + 1) += 1
      e += 1
    }
    var q = 0
    while (q < p) { start(q + 1) += start(q); q += 1 }
    // entries bucketed by partition, in input order within a bucket
    val order = new Array[Int](m)
    val cursor = start.clone()
    e = 0
    while (e < m) { order(cursor(part(e))) = e; cursor(part(e)) += 1; e += 1 }
    val out = new Array[Option[PackedCsr]](p)
    IntStream.range(0, p).parallel().forEach { pid =>
      val (from, to) = (start(pid), start(pid + 1))
      // (id, nbr) as one key: both in [0, 2^31), so the keys sort as
      // the pairs do
      val keys = Array.tabulate(to - from) { j =>
        val x = order(from + j)
        (ids(x).toLong << 32) | nbrs(x)
      }
      // the tags' placement reads the keys in entry order too
      val sorted = if (tags.isDefined) keys.clone() else keys
      java.util.Arrays.sort(sorted)
      // each entry's tag goes to the next free slot of its key's run;
      // the run is then sorted, giving the (id, nbr, tag) order
      val sortedTags = tags.map { t =>
        val st = new Array[Long](keys.length)
        val filled = new Array[Int](keys.length)
        var j = 0
        while (j < keys.length) {
          val first = lowerBound(sorted, keys(j))
          st(first + filled(first)) = t(order(from + j))
          filled(first) += 1
          j += 1
        }
        j = 0
        while (j < keys.length) {
          if (filled(j) > 1) java.util.Arrays.sort(st, j, j + filled(j))
          j += math.max(1, filled(j))
        }
        st
      }
      val st = sortedTags.getOrElse(Array.emptyLongArray)
      val block = new Assembly(tags.isDefined, sorted.length)
      var j = 0
      while (j < sorted.length) {
        block.add(sorted(j) >>> 32, sorted(j) & 0xFFFFFFFFL, if (st.isEmpty) 0L else st(j))
        j += 1
      }
      out(pid) = block.result(pid)
    }
    out.flatten
  }

  /** One pass over driver-held blocks: runs `kernel` on every block in
    * parallel on the driver's cores and returns the partials in
    * partition order, as the executor [[pass]] does.
    */
  def pass[S, R: ClassTag](blocks: Array[PackedCsr], state: S)(
      kernel: (PackedCsr, S) => R): Array[R] = {
    val out = new Array[R](blocks.length)
    IntStream.range(0, blocks.length).parallel().forEach(i => out(i) = kernel(blocks(i), state))
    out
  }

  /** The seed of `Murmur3Hash`, which hash partitioning uses. */
  private val HashSeed = 42

  private def packedId(v: Long): Int = {
    require(v >= 0L && v < Int.MaxValue,
      s"CSR blocks pack vertex indices into Int: id $v is outside [0, 2^31) " +
        "(densify first, or use the relational engine)")
    v.toInt
  }

  /** First index of `key` in sorted `a`, which holds it. */
  private def lowerBound(a: Array[Long], key: Long): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) < key) lo = mid + 1 else hi = mid }
    lo
  }

  /** One partition's block, assembled from its entries in (id, nbr, tag)
    * order: a row per run of equal ids. `entries`, when known (else 0),
    * sizes the per-entry arrays, which are then not copied at the end.
    */
  private final class Assembly(tagged: Boolean, entries: Int) {
    private val vertexIds = scala.collection.mutable.ArrayBuilder.make[Int]
    private val rowPtr = scala.collection.mutable.ArrayBuilder.make[Int]
    private val colIdx = scala.collection.mutable.ArrayBuilder.make[Int]
    private val tags = scala.collection.mutable.ArrayBuilder.make[Long]
    colIdx.sizeHint(entries)
    if (tagged) tags.sizeHint(entries)
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
