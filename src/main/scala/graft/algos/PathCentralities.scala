package graft.algos

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Route

/** Path-based centralities (betweenness / closeness / load) as
  * SMALL-GRAPH ORACLES for the correlation harness — the reference
  * itself computes these with NetworkX on the host and SKIPS them for
  * n >= 5000 (/root/reference/graphem/benchmark.py:56-87,
  * run_benchmarks.py:312-314), so they are deliberately driver-side
  * here (SURVEY §2.11): adjacency collected to the driver, classic
  * Brandes / BFS, results returned as (id, score) DataFrames that plug
  * into CorrelationBench.extraCentralities. NOT a 100 TB path — the
  * guard enforces the same scale cutoff the reference uses.
  *
  * Semantics match NetworkX exactly:
  *  - betweenness_centrality(normalized=True): Brandes accumulation per
  *    source (each unordered pair counted twice on undirected graphs),
  *    scaled by 1/((n-1)(n-2));
  *  - closeness_centrality (wf_improved=True): (r-1)/dist_sum *
  *    (r-1)/(n-1) with r = #reachable;
  *  - load_centrality(normalized=True): Newman load — each vertex
  *    distributes its accumulated load equally among BFS predecessors,
  *    scaled by 1/((n-1)(n-2)).
  */
object PathCentralities {

  private val MaxVertices = 20000

  /** The rows' index ([[Route.local]], the shared one when a gate has
    * already collected the cached input): sorted distinct ids and the
    * undirected CSR (both directions of every row, duplicates kept, each
    * row's neighbour indices ascending). The oracle's bound is on
    * vertices, checked on the index.
    */
  private def adjacency(edges: DataFrame): (Array[Long], (Array[Int], Array[Int])) = {
    val local = Route.local(edges)
    val ids = local.dense._1
    require(ids.length <= MaxVertices,
      s"PathCentralities is a small-graph oracle (n <= $MaxVertices); " +
        "the reference skips path centralities at this scale too")
    (ids, local.csr)
  }

  private def bfs(adj: (Array[Int], Array[Int]), s: Int):
      (Array[Int], Array[Double], Array[mutable.ArrayBuffer[Int]], Array[Int]) = {
    val (rowPtr, colIdx) = adj
    val n = rowPtr.length - 1
    val dist = Array.fill(n)(-1)
    val sigma = Array.fill(n)(0.0)
    val preds = Array.fill(n)(mutable.ArrayBuffer[Int]())
    val order = mutable.ArrayBuffer[Int]()
    dist(s) = 0; sigma(s) = 1.0
    val queue = mutable.Queue(s)
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      order += v
      var e = rowPtr(v)
      while (e < rowPtr(v + 1)) {
        val w = colIdx(e)
        if (dist(w) < 0) { dist(w) = dist(v) + 1; queue.enqueue(w) }
        if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); preds(w) += v }
        e += 1
      }
    }
    (dist, sigma, preds, order.toArray)
  }

  /** nx.betweenness_centrality(normalized) via Brandes. */
  def betweenness(spark: SparkSession, edges: DataFrame,
                  normalized: Boolean = true): DataFrame = {
    val (ids, adj) = adjacency(edges)
    val n = ids.length
    val bc = Array.fill(n)(0.0)
    var s = 0
    while (s < n) {
      val (_, sigma, preds, order) = bfs(adj, s)
      val delta = Array.fill(n)(0.0)
      var i = order.length - 1
      while (i >= 0) {
        val w = order(i)
        preds(w).foreach { v =>
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
        }
        if (w != s) bc(w) += delta(w)
        i -= 1
      }
      s += 1
    }
    val scale =
      if (normalized && n > 2) 1.0 / ((n - 1.0) * (n - 2.0))
      else if (!normalized) 0.5 // undirected raw counts pair-deduped, nx-style
      else 1.0
    toDf(spark, ids, bc.map(_ * scale))
  }

  /** nx.closeness_centrality (wf_improved) via per-source BFS. */
  def closeness(spark: SparkSession, edges: DataFrame): DataFrame = {
    val (ids, adj) = adjacency(edges)
    val n = ids.length
    val cc = Array.tabulate(n) { s =>
      val (dist, _, _, order) = bfs(adj, s)
      val r = order.length // reachable incl. s
      val total = order.map(dist(_).toLong).sum
      if (total > 0 && n > 1)
        (r - 1.0) / total * ((r - 1.0) / (n - 1.0))
      else 0.0
    }
    toDf(spark, ids, cc)
  }

  /** nx.load_centrality(normalized): per source, every other vertex
    * starts with load 1.0 and, processed in decreasing-distance order,
    * forwards its accumulated load EQUALLY among its BFS predecessors
    * (vs Brandes' sigma-weighted split — they differ on some graphs).
    */
  def load(spark: SparkSession, edges: DataFrame,
           normalized: Boolean = true): DataFrame = {
    val (ids, adj) = adjacency(edges)
    val n = ids.length
    val lc = Array.fill(n)(0.0)
    var s = 0
    while (s < n) {
      val (_, _, preds, order) = bfs(adj, s)
      val between = Array.fill(n)(0.0)
      order.foreach(v => between(v) = 1.0)
      var i = order.length - 1
      while (i >= 0) {
        val w = order(i)
        if (w != s && preds(w).nonEmpty) {
          val share = between(w) / preds(w).length
          preds(w).foreach { v => if (v != s) between(v) += share }
        }
        i -= 1
      }
      order.foreach(v => if (v != s) lc(v) += between(v) - 1.0)
      s += 1
    }
    val scale = if (normalized && n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0
    toDf(spark, ids, lc.map(_ * scale))
  }

  private def toDf(spark: SparkSession, ids: Array[Long], scores: Array[Double]): DataFrame =
    Route.frame(spark, ids, Route.Doubles("score", scores))
}
