package graft.graph

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-partition CSR blocks inside a typed Dataset (north_star: "stores
  * the adjacency as per-partition CSR blocks inside typed Datasets for
  * iterative message passing") — the Spark analogue of the reference's
  * scipy CSR adjacency (/root/reference/graphem/embedder.py:75-98).
  *
  * Each block holds the adjacency rows of one hash partition of the
  * vertex space as dense arrays (vertexIds / rowPtr / colIdx), giving
  * gather-scatter kernels array locality inside a partition while the
  * Dataset machinery handles distribution, checkpointing, and lineage.
  * Built with one shuffle (hash on vertex id + in-partition sort); the
  * mapPartitions is genuine per-partition imperative array assembly —
  * the one place the DataFrame API cannot express the layout.
  *
  * The join+agg path (Edges.neighbors + groupBy) remains the default
  * superstep engine — Catalyst plans it adaptively; CSR blocks are the
  * physical-locality alternative for kernels that iterate a partition's
  * adjacency many times per pass. [[CsrBlocks.packed]] and
  * [[CsrBlocks.pass]] are the broadcast-state kernel: Int-packed blocks
  * cached once per run, and per superstep one executor pass against a
  * broadcast per-vertex array (PageRankCsr, the ForceLayout superstep).
  */
case class CsrBlock(partId: Int, vertexIds: Array[Long], rowPtr: Array[Int],
                    colIdx: Array[Long])

/** Int-packed CSR block over dense vertex indices (< 2^31): row `i` is
  * vertex `vertexIds(i)`, and its entries are `rowPtr(i) until
  * rowPtr(i + 1)` of `colIdx` (neighbour index) and, when the build was
  * given a `tag` column, of `tags` (one Long per entry; empty otherwise).
  */
final case class PackedCsr(partId: Int, vertexIds: Array[Int], rowPtr: Array[Int],
                           colIdx: Array[Int], tags: Array[Long])

object CsrBlocks {

  /** Build blocks from a canonical edge table: one block per hash
    * partition of the vertex id space, neighbors sorted within vertex.
    */
  def build(spark: SparkSession, edges: DataFrame,
            partitions: Int = 0): Dataset[CsrBlock] = {
    import spark.implicits._
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    Edges.neighbors(edges)
      .repartition(p, col("id"))
      .sortWithinPartitions("id", "nbr")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val vertexIds = scala.collection.mutable.ArrayBuffer[Long]()
        val rowPtr = scala.collection.mutable.ArrayBuffer[Int](0)
        val colIdx = scala.collection.mutable.ArrayBuffer[Long]()
        var current = Long.MinValue
        var started = false
        it.foreach { case (id, nbr) =>
          if (!started || id != current) {
            if (started) rowPtr += colIdx.length
            vertexIds += id
            current = id
            started = true
          }
          colIdx += nbr
        }
        if (started) rowPtr += colIdx.length
        if (vertexIds.isEmpty) Iterator.empty
        else Iterator.single(CsrBlock(
          org.apache.spark.TaskContext.getPartitionId(),
          vertexIds.toArray, rowPtr.toArray, colIdx.toArray))
      }
  }

  /** Int-packed blocks for broadcast-state kernels (PageRankCsr, the
    * ForceLayout superstep), cached as JVM OBJECTS (RDD cache, not
    * encoder rows: a Dataset cache would deserialize the index arrays on
    * every pass). Halving the bytes streamed per entry matters on a
    * memory-bound kernel. `entries` has Long columns `id` and `nbr`
    * (both in [0, 2^31)) and optionally `tag`; one block per hash
    * partition of `id`, entries sorted by (id, nbr, tag). The caller
    * unpersists the result.
    */
  def packed(spark: SparkSession, entries: DataFrame,
             partitions: Int = 0): RDD[PackedCsr] = {
    import spark.implicits._
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tagged = entries.columns.contains("tag")
    val keys = (if (tagged) Seq("id", "nbr", "tag") else Seq("id", "nbr")).map(col)
    entries.select(keys: _*)
      .repartition(p, col("id"))
      .sortWithinPartitions(keys: _*)
      .select(col("id"), col("nbr"), if (tagged) col("tag") else lit(0L))
      .as[(Long, Long, Long)]
      .rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val vertexIds = scala.collection.mutable.ArrayBuilder.make[Int]
        val rowPtr = scala.collection.mutable.ArrayBuilder.make[Int]
        val colIdx = scala.collection.mutable.ArrayBuilder.make[Int]
        val tags = scala.collection.mutable.ArrayBuilder.make[Long]
        def packedId(v: Long): Int = {
          require(v >= 0L && v < Int.MaxValue,
            s"CSR blocks pack vertex indices into Int: id $v is outside [0, 2^31) " +
              "(densify first, or use the relational engine)")
          v.toInt
        }
        var current = -1
        var n = 0
        it.foreach { case (id, nbr, tag) =>
          val v = packedId(id)
          if (v != current) { vertexIds += v; rowPtr += n; current = v }
          colIdx += packedId(nbr)
          if (tagged) tags += tag
          n += 1
        }
        if (n == 0) Iterator.empty
        else {
          rowPtr += n
          Iterator.single(PackedCsr(pid, vertexIds.result(), rowPtr.result(),
            colIdx.result(), tags.result()))
        }
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

  /** SpMV against a broadcast dense vector: y(v) = sum over neighbors u
    * of x(u) — per-partition array iteration, no shuffle until the
    * (tiny) result union. Broadcast-x is the test-scale path; at
    * cluster scale x is co-partitioned with the blocks by the same hash
    * and zipped instead of broadcast — that variant is realized in
    * `graft.algos.PageRankCsrZip` (dense per-partition state arrays,
    * pre-resolved push targets, one bounded reduceByKey per superstep,
    * zero driver-side per-vertex work).
    */
  def spmvBroadcast(spark: SparkSession, blocks: Dataset[CsrBlock],
                    x: Map[Long, Double]): DataFrame = {
    import spark.implicits._
    val bx = spark.sparkContext.broadcast(x)
    blocks.flatMap { b =>
      val xv = bx.value
      (0 until b.vertexIds.length).iterator.map { i =>
        var s = 0.0
        var j = b.rowPtr(i)
        while (j < b.rowPtr(i + 1)) { s += xv.getOrElse(b.colIdx(j), 0.0); j += 1 }
        (b.vertexIds(i), s)
      }
    }.toDF("id", "y")
  }

  /** Degrees from CSR (row lengths) — structural sanity check. */
  def degrees(spark: SparkSession, blocks: Dataset[CsrBlock]): DataFrame = {
    import spark.implicits._
    blocks.flatMap { b =>
      (0 until b.vertexIds.length).iterator.map(i =>
        (b.vertexIds(i), (b.rowPtr(i + 1) - b.rowPtr(i)).toLong))
    }.toDF("id", "degree")
  }
}
