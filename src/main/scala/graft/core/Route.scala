package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}
import java.lang.ref.WeakReference

import com.google.common.collect.MapMaker
import org.apache.spark.SparkEnv
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, GenericInternalRow, Literal,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, greatest, least, lit, max, min}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The routing policy: an input small enough to solve on the driver, or
  * to hold whole in a broadcast, takes that route; everything larger
  * runs distributed (the line "Scalable Robust Graph Embedding with
  * Spark", VLDB 2021, draws between per-vertex state that fits one
  * machine and state that does not). Every cap is stated here once, and
  * each operator takes its cap as a parameter default, so a test or a
  * benchmark can still pin either route.
  *
  * [[gate]] is the one local gate. On an input the caller cached and
  * materialized, the cache's row count (an upper bound, kept by Spark as
  * it stores each block) routes it with no job: at or under the cap one
  * collect reads the rows, and their [[Stats]] come from the arrays.
  * Any other input's count comes from [[stats]], one aggregate (count,
  * least and greatest id), which PageRank's distributed CSR tier reads
  * too. Both keep what they compute for the input the caller cached (or
  * checkpointed) last (see `Shared`): the operators that run one after
  * another on one cached or [[Lineage.truncate]]d edge frame count it
  * at most once and collect it once. [[Local]] is the one driver index of an
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
  *
  * [[frame]] is the one way a driver-local result leaves the driver:
  * every per-vertex output (components, labels, ranks, centralities,
  * positions) is built by it from primitive arrays. [[collect]] is the
  * one way a frame reaches the driver, its inverse: the edge rows a gate
  * reads, the layout's start positions and Spearman's pairs come back as
  * the same primitive arrays, and a [[frame]] result hands back its own
  * with no job. [[FrameCount]], an optimizer rule the engine's sessions
  * carry, answers a `count()` of a [[frame]] result from its length, and
  * of an eager truncate or a checkpoint snapshot from the rows counted
  * when it was written, with no job either.
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
    * driver: its start read is 8 + 8d B per vertex (an id and d doubles),
    * ~24 MB at d = 2.
    */
  val LayoutVertexCap = 1000000L

  /** (value, value) pairs Spearman ranks on the driver: 16 B per pair
    * (two doubles), so 2M pairs collect in ~32 MB and rank in
    * milliseconds.
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
    // the stats a call on these rows computed, read again by the calls after it
    @volatile private[Route] var stats: Option[Stats] = None
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

  /** The input's [[Stats]]: what a call on `held` or the shared state
    * (when it holds this input's cache entry) already has, else one
    * aggregate.
    */
  def stats(held: Held): Stats = known(held).getOrElse {
    val r = held.edges.agg(count(lit(1)), min(least(col("src"), col("dst"))).cast("long"),
      max(greatest(col("src"), col("dst"))).cast("long")).head()
    val s = Stats(r.getLong(0), if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
    share(held, s, None)
    s
  }

  private def known(held: Held): Option[Stats] =
    held.stats.orElse(sharedFor(held.entry).map(_.stats))

  /** Keeps `s` (and `local`) for `held` and, when a caller cached it, in
    * the shared state.
    */
  private def share(held: Held, s: Stats, local: Option[Local]): Unit = {
    held.stats = Some(s)
    held.entry.foreach { e =>
      val slot = new Shared(new WeakReference(e), s)
      slot.local = local
      synchronized { shared = Some(slot) }
    }
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
    *
    * With no [[Stats]] known yet, a caller's materialized cache gives a
    * row count with no job: the rows its build stored, which a block
    * rebuilt after a loss adds again, so never fewer than the entry
    * holds. At or under `cap`, one collect reads the rows and their
    * [[Stats]] come from the arrays; should the rows still pass `cap`,
    * their exact count routes them distributed. An uncached input, a
    * checkpoint, a cache not yet built or a count above `cap` is counted
    * by the [[stats]] aggregate first.
    */
  def gate(held: Held, cap: Long): Gate = {
    if (known(held).isEmpty && held.entry.flatMap(Bridge.cachedRows).exists(_ <= cap)) {
      val local = localOf(held.edges)
      val ids = local.dense._1
      val s = Stats(local.src.length, ids.headOption.map((_, ids.last)))
      // a caller's larger cap does not raise the bound on what is kept
      share(held, s, Some(local).filter(_ => s.count <= LocalEdgeCap))
      return if (s.count > cap) Distributed(held, s.count) else local
    }
    val rows = stats(held).count
    if (rows > cap) return Distributed(held, rows)
    val slot = sharedFor(held.entry)
    slot.flatMap(_.local).getOrElse {
      val local = localOf(held.edges)
      if (rows <= LocalEdgeCap) slot.foreach(_.local = Some(local))
      local
    }
  }

  /** The input's [[Local]] whatever its size, for a caller bounded some
    * other way: the shared one when a gate has collected this cached
    * input, else its (src, dst) rows collected, with no count first and
    * no cache made.
    */
  def local(input: DataFrame): Local =
    sharedFor(entryOf(input)).flatMap(_.local).getOrElse(localOf(input.select(col("src"), col("dst"))))

  /** A (src, dst) projection's rows: the two-bigint case of [[collect]]. */
  private def localOf(edges: DataFrame): Local = collect(edges) match {
    case Some(Seq(Longs(_, s), Longs(_, d))) => new Local(s, d)
    case _ => throw new IllegalArgumentException(s"want two bigint columns, got ${edges.schema}")
  }

  /** A value column of a [[frame]] or a [[collect]], one value per row:
    * [[Longs]] and [[Doubles]] are not null, [[Vectors]] is
    * array<double> of `d`-vectors stored flat, row i's at
    * `values(i * d until (i + 1) * d)`.
    */
  sealed trait Column extends Serializable { def name: String }
  final case class Longs(name: String, values: Array[Long]) extends Column
  final case class Doubles(name: String, values: Array[Double]) extends Column
  final case class Vectors(name: String, values: Array[Double], d: Int) extends Column

  /** Row i of a [[frame]]'s columns, the id column first. */
  private def row(columns: Array[Column], i: Int): InternalRow = {
    val values = new Array[Any](columns.length)
    for (c <- columns.indices) values(c) = columns(c) match {
      case Longs(_, v) => v(i)
      case Doubles(_, v) => v(i)
      case Vectors(_, v, d) =>
        UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(v, i * d, (i + 1) * d))
    }
    new GenericInternalRow(values)
  }

  /** The primitive output builder: an (id, columns…) frame over driver
    * arrays, rows in their order. The arrays go out in one broadcast and
    * each partition expands its slice of rows on the executor: one slice
    * per 50,000 rows, at most one per core. One slice declares
    * SinglePartition, so an aggregate over it plans no exchange; a
    * `count()` reads the arrays' length and runs no job ([[FrameCount]]).
    * The plan carries the row count and a LocalRelation's size for the
    * same rows, so joins broadcast it as they would that relation.
    * [[collect]] hands the arrays back to a driver-side reader, no job.
    */
  def frame(spark: SparkSession, ids: Array[Long], columns: Column*): DataFrame = {
    val n = ids.length
    val all = (Longs("id", ids) +: columns).toArray
    // each column's field, its value count and the count n rows need
    val fields = all.toSeq.map {
      case Longs(c, v) => (StructField(c, LongType, nullable = false), v.length.toLong, n.toLong)
      case Doubles(c, v) =>
        (StructField(c, DoubleType, nullable = false), v.length.toLong, n.toLong)
      case Vectors(c, v, d) =>
        (StructField(c, ArrayType(DoubleType, containsNull = false)), v.length.toLong, n.toLong * d)
    }
    fields.foreach { case (f, got, want) =>
      require(got == want, s"${f.name}: $got values, want $want")
    }
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, n / 50000))
    val bc = spark.sparkContext.broadcast(all)
    val rdd = spark.sparkContext.parallelize(0 until slices, slices).flatMap { c =>
      Iterator.range((n.toLong * c / slices).toInt, (n.toLong * (c + 1) / slices).toInt)
        .map(row(bc.value, _))
    }
    known(rdd, Leaf(n, all.toSeq))
    Bridge.rddFrame(spark, StructType(fields.map(_._1)), rdd, n)
  }

  /** What the engine knows of a leaf it built or materialized: its rows,
    * and a [[frame]] result's columns, id first (none for any other).
    */
  private final case class Leaf(rows: Long, columns: Seq[Column])

  // keyed by a LogicalRDD's RDD or a file scan's file index, by
  // identity (a file index equals any other over the same paths, whose
  // files may differ); weak keys: an entry goes when its frame's plan
  // is collected
  private val leaves = new MapMaker().weakKeys().makeMap[AnyRef, Leaf]()

  private def known(key: AnyRef, leaf: Leaf): Unit = leaves.put(key, leaf)

  /** The key of a leaf plan in [[leaves]]. */
  private def keyOf(plan: LogicalPlan): Option[AnyRef] = plan match {
    case l: LogicalRDD => Some(l.rdd)
    case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => Some(h.location)
    case _ => None
  }

  private def leafOf(plan: LogicalPlan): Option[Leaf] =
    keyOf(plan).flatMap(k => Option(leaves.get(k)))

  /** Records that `df`, a frame whose plan is one materialized leaf (an
    * eager [[Lineage.truncate]], a [[CheckpointManager]] snapshot read
    * at the files its manifest counts), holds `rows` rows, so
    * [[FrameCount]] answers a `count()` of it with no job. The rows must
    * be what any read of the leaf returns.
    */
  private[core] def counted(df: DataFrame, rows: Long): Unit =
    keyOf(df.queryExecution.analyzed).foreach(known(_, Leaf(rows, Nil)))

  /** The rows of a plan that is exactly a leaf the engine counted (a
    * [[frame]] result, an eager truncate, a checkpoint snapshot read),
    * under at most a projection of its columns.
    */
  private def knownRows(plan: LogicalPlan): Option[Long] = plan match {
    case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => knownRows(child)
    case leaf => leafOf(leaf).map(_.rows)
  }

  /** The optimizer rule that answers a `count()` of a frame whose rows
    * the engine already counted with no job: a [[frame]] result (its
    * arrays' length), an eager [[Lineage.truncate]] (the rows its job
    * stored) or a [[CheckpointManager]] commit's reread or load (the
    * manifest's footer count). The global `count(1)` aggregate a
    * `count()` plans at the root, over that leaf (pruned to no column,
    * as the optimizer prunes it), becomes a one-row local relation of
    * the count, so the driver never schedules the read. Any other plan,
    * a filter, limit, join or distinct over the leaf, or a lazy truncate
    * included, is left as it is, and only the root is looked at.
    * `GraftSession` adds it to the sessions it builds and tunes.
    */
  object FrameCount extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case a @ Aggregate(Nil, Seq(Alias(AggregateExpression(Count(Seq(one: Literal)), Complete, false,
          None, _), _)), child, _) if one.value != null =>
        knownRows(child).fold(plan)(n => LocalRelation(a.output, Seq(InternalRow(n))))
      case _ => plan
    }
  }

  /** The one way a frame reaches the driver, the inverse of [[frame]]:
    * its bigint, double and array<double> (of `d` values) columns as
    * [[Longs]], [[Doubles]] and [[Vectors]], named as in the frame, rows
    * in `collect()` order. A [[frame]] result hands back its arrays (no
    * reader writes to them) with no job. Any other frame packs each
    * partition into one LZ4 block on the executor, as `collect()`
    * compresses rows, so no `Row` is built per element; a null fails
    * naming its column (a primitive slot would read it as 0), and so does
    * a vector of another width, naming the vertex in column 0. With a
    * `bound` it is `limit(bound + 1).collect()`, kept only at `bound` rows
    * or fewer, else None: partitions are scanned in order in growing
    * batches, as Spark's `executeTake` scans them, each computed once.
    */
  private[graft] def collect(df: DataFrame, bound: Option[Int] = None,
                             d: Int = 0): Option[Seq[Column]] = {
    val limit = bound.fold(Long.MaxValue)(_ + 1L)
    leafOf(df.queryExecution.optimizedPlan).map(_.columns) match {
      case Some(cols @ Longs(_, ids) +: _) =>
        for (Vectors(_, _, k) <- cols)
          require(k == d || ids.isEmpty, s"vertex ${ids(0)} has a $k-d position, want d = $d")
        return Some(cols).filter(_ => ids.length < limit)
      case _ =>
    }
    val names = df.columns
    // 0: bigint, 1: double, 2: array<double>, a position of the vertex in column 0
    val kinds = df.schema.fields.map(_.dataType match {
      case LongType => 0
      case DoubleType => 1
      case ArrayType(DoubleType, _) => 2
      case _ => -1
    })
    require(!kinds.contains(-1) && (kinds.headOption.contains(0) || !kinds.contains(2)),
      s"want bigint, double and array<double> columns, got ${df.schema.simpleString}")
    val packed = df.queryExecution.toRdd.mapPartitions { rows =>
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(lz4.compressedOutputStream(bytes))
      var n = 0
      while (n < limit && rows.hasNext) {
        val r = rows.next()
        for (c <- kinds.indices) {
          require(!r.isNullAt(c), s"a null in column ${names(c)}")
          if (kinds(c) == 0) out.writeLong(r.getLong(c))
          else if (kinds(c) == 1) out.writeLong(doubleToRawLongBits(r.getDouble(c)))
          else {
            val v = r.getArray(c)
            require(v.numElements() == d,
              s"vertex ${r.getLong(0)} has a ${v.numElements()}-d position, want d = $d")
            require(!(0 until d).exists(v.isNullAt), s"a null in column ${names(c)}")
            for (j <- 0 until d) out.writeLong(doubleToRawLongBits(v.getDouble(j)))
          }
        }
        n += 1
      }
      out.close()
      Iterator.single((n, bytes.toByteArray))
    }
    // executeTake's batches: the first partitions, then scaleUp times as many (x / 0
    // rows is infinite), or fewer when the rows so far say fewer will reach limit
    val (conf, parts) = (df.sparkSession.conf, packed.getNumPartitions)
    val scaleUp = math.max(conf.get("spark.sql.limit.scaleUpFactor").toInt, 2)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    var rows = 0L
    while (rows < limit && blocks.length < parts) {
      val at = blocks.length
      val batch =
        if (limit == Long.MaxValue) parts
        else if (at == 0) conf.get("spark.sql.limit.initialNumPartitions").toInt
        else math.min(math.ceil(1.5 * (limit - rows) * at / rows).toInt, at * scaleUp)
      blocks ++= df.sparkSession.sparkContext.runJob(packed,
        (it: Iterator[(Int, Array[Byte])]) => it.next(), at until math.min(at + batch, parts))
      rows = blocks.map(_._1.toLong).sum
    }
    if (rows >= limit) return None
    val cols = names.indices.map(c => kinds(c) match {
      case 0 => Longs(names(c), new Array[Long](rows.toInt))
      case 1 => Doubles(names(c), new Array[Double](rows.toInt))
      case _ => Vectors(names(c), new Array[Double](rows.toInt * d), d)
    })
    var at = 0
    for ((k, block) <- blocks) {
      val in = new DataInputStream(lz4.compressedInputStream(new ByteArrayInputStream(block)))
      for (i <- at until at + k; c <- cols) c match {
        case Longs(_, v) => v(i) = in.readLong()
        case Doubles(_, v) => v(i) = longBitsToDouble(in.readLong())
        case Vectors(_, v, _) => for (j <- i * d until (i + 1) * d) v(j) = longBitsToDouble(in.readLong())
      }
      in.close()
      at += k
    }
    Some(cols)
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
