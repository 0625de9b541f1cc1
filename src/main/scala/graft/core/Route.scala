package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.lang.ref.WeakReference

import org.apache.spark.SparkEnv
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, greatest, least, lit, max, min}
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
  * [[gate]] is the one local gate. It reads an input's count from
  * [[stats]], one aggregate that PageRank's CSR gate reads too, and
  * both keep what they compute for the input the caller cached (or
  * checkpointed) last (see `Shared`): the operators that run one after
  * another on one cached or [[Lineage.truncate]]d edge frame count it
  * once and collect it once. [[Local]] is the one driver index of an
  * edge input: its sorted distinct ids, the dense index of every row's
  * endpoints and the undirected CSR, all primitive arrays, built once
  * and read by every driver-local kernel (CC, LPA, triangles,
  * PageRank's driver-block tier and portable kernel, the spectral and
  * layout inits, the sampled path centralities, the nx oracles and
  * Influence's adjacency). Every array is a deterministic function of
  * the collected rows (ids sorted, indices are ranks, CSR rows
  * ascending), so kernels built on them inherit their callers' parity
  * arguments. The one other driver CSR build is the layout's tagged CSR
  * of position indices.
  */
object Route {

  /** Edges a local kernel collects: two Long arrays, 80 MB at the cap.
    * PageRank's CSR kernel runs on row blocks of the shared
    * [[Local.csr]] (4 B per entry, two entries per edge), which add
    * ~8 B per vertex and no entry array; the layout builds a tagged CSR
    * of its position-frame indices, ~12 B per entry (~120 MB at the
    * cap), for the length of its run.
    */
  val LocalEdgeCap = 5000000L

  /** Edges the local triangle count takes: its merge work grows ~E^1.5,
    * ~2G steps at the cap.
    */
  val TriangleEdgeCap = 1000000L

  /** Vertices the local spectral solve holds: V x (d+1) doubles. */
  val SpectralVertexCap = 100000

  /** Neighbor rows (2E) the local path centralities take: it bounds
    * their BFS work, k x 2E neighbour-entry visits for k sources, on
    * the driver's one thread.
    */
  val NbrRowCap = 2000000L

  /** Vertices PageRank's CSR engine broadcasts: n doubles, 64 MB. */
  val CsrVertexCap = 8000000L

  /** Vertices the layout's broadcast-state superstep holds on the
    * driver, ~16 MB of positions at d = 2.
    */
  val LayoutVertexCap = 1000000L

  /** (value, value) pairs Spearman ranks on the driver: 2M pairs
    * collect in ~32 MB and rank in milliseconds.
    */
  val SpearmanPairCap = 2000000

  /** An input's (src, dst) projection, read through a cache: the
    * input's own if the session already caches it (or the projection),
    * or the blocks of a materialized local checkpoint the input is
    * ([[Lineage.truncate]]), else one [[hold]] made, which [[release]]
    * drops. A cache someone else made is never dropped. `entry` is that
    * someone else's cache entry or checkpoint RDD, the key of the shared
    * state; None when [[hold]] cached the input itself.
    */
  final class Held private[Route] (val edges: DataFrame, cachedHere: Option[DataFrame],
                                   private[Route] val entry: Option[AnyRef]) {
    def release(): Unit = cachedHere.foreach(_.unpersist(false))
  }

  def hold(input: DataFrame): Held = entryOf(input) match {
    case Some(e) => new Held(input.select(col("src"), col("dst")), None, Some(e))
    case None =>
      input.persist(StorageLevel.MEMORY_AND_DISK)
      // projected after the persist, so its plan reads the cache
      new Held(input.select(col("src"), col("dst")), Some(input), None)
  }

  /** The cache entry of the input or its (src, dst) projection, or the
    * checkpoint the input is: the key of its shared state.
    */
  private def entryOf(input: DataFrame): Option[AnyRef] = {
    val cacheManager = input.sparkSession.sharedState.cacheManager
    def cached(df: DataFrame) =
      cacheManager.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    cached(input).orElse(cached(input.select(col("src"), col("dst")))).orElse(checkpointOf(input))
  }

  /** The RDD behind a frame that is exactly a materialized checkpoint (a
    * [[Lineage.truncate]] result): its rows are fixed and held by the
    * block manager, as a cache entry's are, until [[Lineage.release]].
    */
  private def checkpointOf(df: DataFrame): Option[AnyRef] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.isCheckpointed => Some(l.rdd)
      case _ => None
    }

  /** Drops the shared state of a checkpoint frame whose blocks are being
    * released, so it is never served for it again.
    */
  private[core] def forget(df: DataFrame): Unit = checkpointOf(df).foreach { rdd =>
    synchronized { if (shared.exists(_.key.get eq rdd)) shared = None }
  }

  /** An edge input's row count and (least, greatest) endpoint id; no
    * range when no row has an id.
    */
  final case class Stats(count: Long, idRange: Option[(Long, Long)])

  sealed trait Gate
  /** At or under the cap: the rows in `collect()` order, with their
    * dense index and undirected CSR built on first use. One value may
    * serve many calls, so no reader writes to any of its arrays.
    */
  final class Local(val src: Array[Long], val dst: Array[Long]) extends Gate {
    /** [[Route.dense]] of the rows. */
    lazy val dense: (Array[Long], Array[Int], Array[Int]) = Route.dense(src, dst)
    /** [[Route.undirectedCsr]] over [[dense]], untagged. */
    lazy val csr: (Array[Int], Array[Int]) = {
      val (ids, s, d) = dense
      val (rowPtr, colIdx, _) = undirectedCsr(ids.length, s, d)
      (rowPtr, colIdx)
    }
  }
  object Local {
    def unapply(l: Local): Some[(Array[Long], Array[Long])] = Some((l.src, l.dst))
  }
  /** Above the cap: the held projection and its row count. The
    * distributed path releases it once it no longer reads it.
    */
  final case class Distributed(held: Held, count: Long) extends Gate

  /** The state of one caller-cached (or checkpointed) edge input: its
    * [[Stats]] and, once a gate under its cap has collected it, its
    * [[Local]].
    *
    * The key is the identity of the input's cache entry (the
    * `CachedData` the session's cache manager returns for the input or
    * its (src, dst) projection), or of the RDD of the checkpoint the
    * input is, held weakly. A different input, the same one unpersisted
    * and cached again (or recached by a refresh), or a new checkpoint
    * finds a different key and computes its state afresh, which then
    * replaces this one; [[Lineage.release]] drops a checkpoint's state
    * with its blocks: there is one entry at a time, and its arrays
    * are kept only for an input of at most [[LocalEdgeCap]] edges, so
    * the driver holds at most ~280 MB for it at the cap: the rows
    * (80 MB), the dense index (ids and two Int arrays, up to 120 MB)
    * and the CSR (up to 80 MB), what one local call allocates anyway;
    * the CSR's build briefly adds a 40 MB bucket array. PageRank's
    * driver tier reads the same CSR. An input [[hold]] caches itself is
    * never stored.
    * Once its cache entry is gone the state is never served again; it
    * is dropped when replaced, or at the next call after the entry is
    * garbage-collected.
    */
  private final class Shared(val key: WeakReference[AnyRef], val stats: Stats) {
    @volatile var local: Option[Local] = None
  }
  private var shared: Option[Shared] = None // guarded by this

  private def sharedFor(entry: Option[AnyRef]): Option[Shared] = entry.flatMap { e =>
    synchronized {
      if (shared.exists(_.key.get == null)) shared = None
      shared.filter(_.key.get eq e)
    }
  }

  /** The input's [[Stats]], from one aggregate, or from the shared state
    * when it holds this input's cache entry.
    */
  def stats(held: Held): Stats = sharedFor(held.entry).map(_.stats).getOrElse {
    val r = held.edges.agg(count(lit(1)), min(least(col("src"), col("dst"))).cast("long"),
      max(greatest(col("src"), col("dst"))).cast("long")).head()
    val s = Stats(r.getLong(0), if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
    held.entry.foreach(e => synchronized { shared = Some(new Shared(new WeakReference(e), s)) })
    s
  }

  /** The local gate: holds the input's (src, dst) projection, and
    * collects it when its count is at most `cap`.
    */
  def gate(input: DataFrame, cap: Long): Gate = {
    val held = hold(input)
    val routed = try gate(held, cap) catch { case t: Throwable => held.release(); throw t }
    if (routed.isInstanceOf[Local]) held.release()
    routed
  }

  /** The local gate over a projection the caller holds and releases:
    * [[Distributed]] over `held` when its count is above `cap`, else
    * the collected rows, read from the shared state when they are there.
    */
  def gate(held: Held, cap: Long): Gate = {
    val rows = stats(held).count
    if (rows > cap) return Distributed(held, rows)
    val slot = sharedFor(held.entry)
    slot.flatMap(_.local).getOrElse {
      val (s, d) = collect(held.edges)
      val local = new Local(s, d)
      // a caller's larger cap does not raise the bound on what is kept
      if (rows <= LocalEdgeCap) slot.foreach(_.local = Some(local))
      local
    }
  }

  /** The input's [[Local]] whatever its size, for a caller bounded some
    * other way: the shared one when a gate has collected this cached
    * input, else its (src, dst) rows collected, with no count first and
    * no cache made.
    */
  def local(input: DataFrame): Local = sharedFor(entryOf(input)).flatMap(_.local).getOrElse {
    val (s, d) = collect(input.select(col("src"), col("dst")))
    new Local(s, d)
  }

  /** A frame of two bigint columns as two primitive arrays, in
    * `collect()` order (partition order, then row order). Each partition
    * packs its rows into one LZ4 byte block on the executor, as
    * `collect()` compresses its rows, so the driver never holds a `Row`
    * per edge.
    */
  private[graft] def collect(df: DataFrame): (Array[Long], Array[Long]) = {
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
  private[graft] def distinct(arrays: Array[Long]*): Array[Long] = {
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
  private[graft] def dense(srcA: Array[Long], dstA: Array[Long])
      : (Array[Long], Array[Int], Array[Int]) = {
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
    * row, each row's neighbours ascending. Degree of v is
    * rowPtr(v+1) - rowPtr(v). With `eids`, one tag per input row, the
    * third array holds each entry's tag: `eids(i)` on row i's src row
    * and `~eids(i)` on its dst row (a self-loop has both on its row);
    * without, it is empty. Two counting passes, O(n + E): the entries
    * are bucketed by row in input order, then each bucket's entries are
    * dealt, in ascending row order, to their neighbours' rows as the
    * mirror entries, which fills every row in ascending neighbour order.
    */
  def undirectedCsr(n: Int, sIdx: Array[Int], dIdx: Array[Int],
                    eids: Option[Array[Long]] = None): (Array[Int], Array[Int], Array[Long]) = {
    require(eids.forall(_.length == sIdx.length), "one tag per input row")
    val rowPtr = new Array[Int](n + 1)
    var i = 0
    while (i < sIdx.length) { rowPtr(sIdx(i) + 1) += 1; rowPtr(dIdx(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { rowPtr(i + 1) += rowPtr(i); i += 1 }
    val m = rowPtr(n)
    val tagged = eids.isDefined
    val tagOf = eids.getOrElse(Array.emptyLongArray)
    val inOrder = new Array[Int](m)
    val inTags = if (tagged) new Array[Long](m) else Array.emptyLongArray
    val cursor = rowPtr.clone()
    var j = 0
    while (j < sIdx.length) {
      val s = sIdx(j)
      val d = dIdx(j)
      inOrder(cursor(s)) = d
      if (tagged) inTags(cursor(s)) = tagOf(j)
      cursor(s) += 1
      inOrder(cursor(d)) = s
      if (tagged) inTags(cursor(d)) = ~tagOf(j)
      cursor(d) += 1
      j += 1
    }
    val colIdx = new Array[Int](m)
    val tags = if (tagged) new Array[Long](m) else Array.emptyLongArray
    System.arraycopy(rowPtr, 0, cursor, 0, n + 1)
    var u = 0
    while (u < n) {
      var e = rowPtr(u)
      while (e < rowPtr(u + 1)) {
        // entry (u, v, t) is the mirror of (v, u, ~t)
        val v = inOrder(e)
        colIdx(cursor(v)) = u
        if (tagged) tags(cursor(v)) = ~inTags(e)
        cursor(v) += 1
        e += 1
      }
      u += 1
    }
    (rowPtr, colIdx, tags)
  }
}
