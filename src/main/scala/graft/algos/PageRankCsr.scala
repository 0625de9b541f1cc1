package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Route
import graft.graph.{CsrBlocks, Edges, PackedCsr}

/** PageRank over per-partition CSR blocks with a broadcast rank vector —
  * the V << E regime engine (north_star: "adjacency as per-partition CSR
  * blocks inside typed Datasets for iterative message passing").
  *
  * On web graphs the EDGES are the 100 TB part; the per-vertex state is
  * V doubles (10^9 vertices ≈ 8 GB — torrent-broadcastable). Each
  * superstep is ONE shuffle-free pass over the blocks (pure
  * primitive-array arithmetic, sequential CSR reads + random reads of
  * the rank vector) + a merge of per-block partial arrays on the driver.
  * No per-superstep shuffle of the edge set at all — the relational
  * engine (PageRank.run) shuffles E message rows per superstep and is
  * preferred when V is too large to broadcast.
  *
  * The blocks live in one of two places ([[CsrBlocks]]), with the same
  * kernel, the same in-row order and a row-by-row merge, so the same
  * ranks to the bit:
  *  - [[run]] / [[runIfDense]]: built on the executors by one shuffle and
  *    cached, each superstep one job — the route for inputs above
  *    [[Route.LocalEdgeCap]] edges (and ScalingBench's `csr` rows);
  *  - [[runLocalIfDense]]: row blocks of the shared undirected CSR of
  *    the rows a [[Route.gate]] collected ([[Route.Local.csr]]), each
  *    superstep a parallel pass on the driver's cores — no shuffle and
  *    no job, and no entry array beyond the CSR the other local kernels
  *    read.
  *
  * Semantics match PageRank.fixedIterUndirected / nx.pagerank on
  * canonical undirected edges (every vertex has degree >= 1, so no
  * dangling mass), scores within 1e-12 of the relational engine.
  */
object PageRankCsr {

  case class Result(ranks: DataFrame, iterations: Int, err: Double,
                    edgesPerSecPerSuperstep: Double)

  /** Run over canonical (src < dst) edges with DENSE vertex ids
    * 0..n-1 (use Ids.dense / UrlDictionary first otherwise), on blocks
    * built on the executors. tol <= 0 runs exactly `maxIter` supersteps.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int,
          tol: Double = 0.0, alpha: Double = 0.85): Result =
    runRdd(spark, edges, maxIter, tol, alpha, requireDense = false).get

  /** Routing entry for PageRank.runUndirected's "auto" engine above the
    * local cap: runs on executor-built blocks only if the vertex ids are
    * verifiably DENSE 0..n-1 (every slot has degree > 0 after the blocks
    * are built), otherwise releases the blocks and returns None so the
    * caller falls back to the relational plan. Density is semantic, not
    * cosmetic: n enters the init vector (1/n) and the teleport base
    * ((1-alpha)/n), so a sparse id space would silently compute a
    * different chain than nx.pagerank on the real vertex set.
    */
  def runIfDense(spark: SparkSession, edges: DataFrame, maxIter: Int,
                 tol: Double = 0.0, alpha: Double = 0.85): Option[Result] =
    runRdd(spark, edges, maxIter, tol, alpha, requireDense = true)

  /** Routing entry for PageRank.runUndirected's "auto" engine under the
    * local cap: the same run on row blocks of `local`'s CSR, when its
    * sorted distinct ids are exactly 0..n-1; None otherwise.
    */
  def runLocalIfDense(spark: SparkSession, local: Route.Local, maxIter: Int,
                      tol: Double = 0.0, alpha: Double = 0.85): Option[Result] = {
    val ids = local.dense._1
    val n = ids.length
    if (n == 0 || ids(0) != 0L || ids(n - 1) != n - 1L) return None
    // the rows' dense indices are their ids; both directions of each
    // edge, as Edges.neighbors has them
    val (rowPtr, colIdx) = local.csr
    val blocks = CsrBlocks.rows(spark, rowPtr, colIdx, Array.emptyLongArray)
    val static = blocks.map(staticOf)
    Some(iterate(spark, degrees(n, static), static, maxIter, tol, alpha)(contrib =>
      CsrBlocks.pass(blocks, contrib)(PageRankCsr.gather)))
  }

  private def runRdd(spark: SparkSession, edges: DataFrame, maxIter: Int,
                     tol: Double, alpha: Double, requireDense: Boolean): Option[Result] = {
    val blocks = CsrBlocks.packed(spark, Edges.neighbors(edges))
    // the per-block vertex-id arrays and degrees are STATIC: ship them
    // to the driver once, in the one job that also gives n and m, so each
    // superstep's collect carries only the sums
    val static = blocks.map(PageRankCsr.staticOf).collect()
    // a block's ids ascend, so its last is its largest
    val n = static.foldLeft(-1)((a, t) => math.max(a, t._2.last)) + 1
    val deg = degrees(n, static)
    if (requireDense) {
      // dense <=> every id slot 0..maxId carries at least one edge
      // (vertices present in a canonical edge table all have degree >= 1)
      var i = 0
      var dense = true
      while (dense && i < n) { if (deg(i) == 0.0) dense = false; i += 1 }
      if (!dense) {
        blocks.unpersist(blocking = false)
        return None
      }
    }
    try Some(iterate(spark, deg, static, maxIter, tol, alpha)(
      contrib => CsrBlocks.pass(blocks, contrib)(PageRankCsr.gather)))
    finally blocks.unpersist(blocking = true) // ~16B/edge of cache — release NOW, not at next GC
  }

  /** A block's static part: its partition, row ids and row degrees. */
  private def staticOf(b: PackedCsr): (Int, Array[Int], Array[Int]) =
    (b.partId, b.vertexIds, Array.tabulate(b.vertexIds.length)(i => b.rowPtr(i + 1) - b.rowPtr(i)))

  /** The degree of every id slot 0..n-1 (0 for an id no block holds). */
  private def degrees(n: Int, static: Array[(Int, Array[Int], Array[Int])]): Array[Double] = {
    val deg = new Array[Double](n)
    static.foreach { case (_, ids, ds) =>
      var i = 0
      while (i < ids.length) { deg(ids(i)) = ds(i).toDouble; i += 1 }
    }
    deg
  }

  /** One block's gathered sums: for each row, the sum of the
    * contributions of its neighbours.
    */
  private def gather(b: PackedCsr, xv: Array[Double]): (Int, Array[Double]) = {
    val sums = new Array[Double](b.vertexIds.length)
    var i = 0
    while (i < b.vertexIds.length) {
      var s = 0.0
      var j = b.rowPtr(i)
      val end = b.rowPtr(i + 1)
      while (j < end) {
        s += xv(b.colIdx(j))
        j += 1
      }
      sums(i) = s
      i += 1
    }
    (b.partId, sums)
  }

  /** The superstep loop over n = deg.length vertices and the blocks whose
    * static parts are `static`; `pass` runs [[gather]] over every block
    * and returns the partials in partition order.
    */
  private def iterate(spark: SparkSession, deg: Array[Double],
                      static: Array[(Int, Array[Int], Array[Int])], maxIter: Int, tol: Double,
                      alpha: Double)(pass: Array[Double] => Array[(Int, Array[Double])]): Result = {
    val n = deg.length
    val idsByPart = static.map(t => t._1 -> t._2).toMap
    var m2 = 0L // entries: both directions of each edge
    static.foreach { case (_, _, ds) => var i = 0; while (i < ds.length) { m2 += ds(i); i += 1 } }
    var x = Array.fill(n)(1.0 / n)
    var iter = 0
    var err = Double.MaxValue
    val base = (1.0 - alpha) / n
    val t0 = System.nanoTime()
    while (iter < maxIter && (tol <= 0 || err >= n * tol)) {
      // the PRE-DIVIDED contribution vector x/deg: the inner loop then
      // makes ONE random access per edge instead of two (bitwise-identical
      // math — the division result is the same whether computed per edge
      // or once per vertex)
      val contrib = new Array[Double](n)
      var ci = 0
      while (ci < n) {
        contrib(ci) = if (deg(ci) > 0) x(ci) / deg(ci) else 0.0
        ci += 1
      }
      // per-block partial: (partId, gathered sums) — P small arrays
      val parts = pass(contrib)
      val next = new Array[Double](n)
      java.util.Arrays.fill(next, base) // isolated ids don't occur in edge-derived graphs
      parts.foreach { case (pid, sums) =>
        val ids = idsByPart(pid)
        var i = 0
        while (i < ids.length) {
          next(ids(i)) = base + alpha * sums(i)
          i += 1
        }
      }
      // convergence delta is a free driver-side array pass
      var e = 0.0
      var i = 0
      while (i < n) { e += math.abs(next(i) - x(i)); i += 1 }
      err = e
      x = next
      iter += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // m2 counts both directions; report canonical-edge throughput like
    // Bench.pagerankThroughput does
    val eps = if (iter > 0) (m2 / 2.0) * iter / secs else 0.0
    // (id, rank), id = index
    val ranks = Route.frame(spark, Array.tabulate(n)(_.toLong), Route.Doubles("rank", x))
    Result(ranks, iter, err, eps)
  }
}
