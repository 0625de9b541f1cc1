package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.graph.{CsrBlocks, Edges}

/** PageRank over per-partition CSR blocks with a broadcast rank vector —
  * the V << E regime engine (north_star: "adjacency as per-partition CSR
  * blocks inside typed Datasets for iterative message passing").
  *
  * On web graphs the EDGES are the 100 TB part; the per-vertex state is
  * V doubles (10^9 vertices ≈ 8 GB — torrent-broadcastable). Each
  * superstep is ONE shuffle-free pass over the cached blocks (pure
  * primitive-array arithmetic, sequential CSR reads + random reads of
  * the broadcast vector) + a gather of per-block partial arrays back to
  * the driver for the next broadcast. No per-superstep shuffle of the
  * edge set at all — the relational engine (PageRank.run) shuffles E
  * message rows per superstep and is preferred when V is too large to
  * broadcast.
  *
  * Semantics match PageRank.fixedIterUndirected / nx.pagerank on
  * canonical undirected edges (every vertex has degree >= 1, so no
  * dangling mass), scores within 1e-12 of the relational engine.
  */
object PageRankCsr {

  case class Result(ranks: DataFrame, iterations: Int, err: Double,
                    edgesPerSecPerSuperstep: Double)

  /** Run over canonical (src < dst) edges with DENSE vertex ids
    * 0..n-1 (use Ids.dense / UrlDictionary first otherwise).
    * tol <= 0 runs exactly `maxIter` supersteps.
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int,
          tol: Double = 0.0, alpha: Double = 0.85): Result =
    runImpl(spark, edges, maxIter, tol, alpha, requireDense = false).get

  /** Routing entry for PageRank.runUndirected's "auto" engine: runs only
    * if the vertex ids are verifiably DENSE 0..maxId (every slot has
    * degree > 0 after the blocks are built), otherwise releases the
    * blocks and returns None so the caller falls back to the relational
    * plan. Density is semantic, not cosmetic: n = maxId+1 enters the
    * init vector (1/n) and the teleport base ((1-alpha)/n), so a sparse
    * id space would silently compute a different chain than
    * nx.pagerank on the real vertex set.
    */
  def runIfDense(spark: SparkSession, edges: DataFrame, maxIter: Int,
                 tol: Double = 0.0, alpha: Double = 0.85): Option[Result] =
    runImpl(spark, edges, maxIter, tol, alpha, requireDense = true)

  private def runImpl(spark: SparkSession, edges: DataFrame, maxIter: Int,
                      tol: Double, alpha: Double,
                      requireDense: Boolean): Option[Result] = {
    val blocks = CsrBlocks.packed(spark, Edges.neighbors(edges))
    val sc = spark.sparkContext

    // n, m and the degree vector in one pass over the blocks
    val (maxId, m2) = blocks.map(b =>
      (b.vertexIds.max, b.colIdx.length.toLong))
      .reduce((a, b) => (math.max(a._1, b._1), a._2 + b._2))
    val n = maxId + 1
    val deg = new Array[Double](n)
    // the per-block vertex-id arrays are STATIC: ship them to the driver
    // once, so each superstep's collect carries only the sums
    val idsByPart = blocks.map(b => (b.partId,
        b.vertexIds, b.rowPtr.sliding(2).map(w => w(1) - w(0)).toArray))
      .collect().map { case (pid, ids, ds) =>
        var i = 0
        while (i < ids.length) { deg(ids(i)) = ds(i).toDouble; i += 1 }
        pid -> ids
      }.toMap
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

    var x = Array.fill(n)(1.0 / n)
    var iter = 0
    var err = Double.MaxValue
    val base = (1.0 - alpha) / n
    val t0 = System.nanoTime()
    while (iter < maxIter && (tol <= 0 || err >= n * tol)) {
      // broadcast the PRE-DIVIDED contribution vector x/deg: the inner
      // loop then makes ONE random access per edge instead of two
      // (bitwise-identical math — the division result is the same
      // whether computed per edge or once per vertex)
      val contrib = new Array[Double](n)
      var ci = 0
      while (ci < n) {
        contrib(ci) = if (deg(ci) > 0) x(ci) / deg(ci) else 0.0
        ci += 1
      }
      // per-block partial: (partId, gathered sums) — P small arrays
      val parts = CsrBlocks.pass(blocks, contrib) { (b, xv) =>
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
    blocks.unpersist(blocking = true) // ~16B/edge of cache — release NOW, not at next GC
    import spark.implicits._
    val ranks = sc.parallelize(x.toIndexedSeq.zipWithIndex
        .map { case (r, id) => (id.toLong, r) }, math.max(1, n / 500000))
      .toDF("id", "rank")
    Some(Result(ranks, iter, err, eps))
  }
}
