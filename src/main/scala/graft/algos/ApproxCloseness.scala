package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{DetRandom, Route}
import graft.graph.Edges

/** Sampled-source closeness centrality — the SCALE path for the
  * path-centrality family. The reference computes closeness exactly
  * through networkx and its own bench only does so below n = 5000
  * (/root/reference/run_benchmarks.py:312-314); this operator covers
  * the regime above the cutoff with the Eppstein–Wang estimator
  * ("Fast approximation of centrality", SODA'01): run BFS from k
  * uniformly sampled sources and estimate the Wasserman-Faust improved
  * closeness (nx `wf_improved=True`, the oracle's convention) from the
  * sources that REACH v: with r = |reaching sources|, the reachable-set
  * size and distance sum extrapolate by n/k
  *
  *   rhat = r * (n/k),  shat = sd * (n/k)
  *   closeness(v) ~ ((rhat - 1) / (n - 1)) * ((rhat - 1) / shat)
  *
  * With k = n (all sources) rhat and shat are exact, so the estimator
  * IS nx wf_improved closeness — INCLUDING on disconnected graphs,
  * which the parity test exploits against the nx-exact PathCentralities
  * oracle. (On a connected graph every vertex has r = k and the formula
  * reduces to the classic k*(n-1)/(n*sd).) Vertices reached by no
  * source, or by only themselves, report 0.0 like nx.
  *
  * Shape: one simultaneous k-source frontier BFS — state is (source,
  * vertex, dist) rows, each level one join of the frontier against the
  * neighbor table, an anti-join against visited, and a min-aggregate;
  * lineage is truncated per level (iterative-loop discipline). Work is
  * O(k * E) total like k independent BFS, but batched through ONE
  * Catalyst plan per level regardless of k; state is at most k * V
  * rows. Sources are a deterministic hash sample (xxhash64), so runs
  * are reproducible across partitionings and cluster sizes.
  *
  * Disconnected graphs: the wf_improved component-size factor
  * ((rhat-1)/(n-1)) downweights small components exactly like nx; for
  * k < n the per-vertex rhat is itself an estimate (sources are sampled
  * globally, not per component), so above-cutoff values on disconnected
  * graphs carry the sampling error of BOTH factors — fine for the
  * ranking/correlation uses this scale path serves.
  */
object ApproxCloseness {

  /** `explicitSources`: caller-chosen source vertex set (one `s`
    * column) overriding the hash sample — used by the SQL-mirrored
    * driver query, whose oracle cannot reproduce xxhash64.
    *
    * Below `localNbrRowCap` neighbor rows (= 2E) the whole estimator runs
    * driver-locally ([[Route.gate]]): the level-synchronous loop costs ~4
    * tiny jobs per BFS level in pure scheduling overhead on
    * benchmark-scale graphs, while k BFS passes over the gate's shared
    * CSR ([[Route.Local.csr]]) run in milliseconds. The two paths are
    * BIT-IDENTICAL (the estimator is a long distance-sum plus a fixed
    * double expression, both order-independent), which the parity tests
    * assert with exact equality.
    */
  def run(spark: SparkSession, edges: DataFrame, k: Int,
          seed: Long = 42, maxLevels: Int = 128,
          explicitSources: Option[DataFrame] = None,
          localNbrRowCap: Long = Route.NbrRowCap): DataFrame = {
    // held across the gate, so a source frame derived from the same
    // input reads this cache on either route
    val held = Route.hold(edges)
    try Route.gate(held, edgeCap(localNbrRowCap)) match {
      case l: Route.Local =>
        PathCentralitySmall.closenessLocal(spark, l, localSources(l, k, seed, explicitSources),
          maxLevels)
      case Route.Distributed(h, _) => distributed(h.edges, k, seed, maxLevels, explicitSources)
    } finally held.release()
  }

  /** The level-synchronous BFS over `edges`, which the caller holds
    * cached.
    */
  private def distributed(edges: DataFrame, k: Int, seed: Long, maxLevels: Int,
                          explicitSources: Option[DataFrame]): DataFrame = {
    val nbrs = Edges.neighbors(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val verts = Edges.vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()

    // deterministic uniform sample: the k smallest xxhash64(id, seed)
    val sources = graft.core.Lineage.truncate(explicitSources.getOrElse(
      verts.orderBy(xxhash64(col("id"), lit(seed)), col("id"))
        .limit(math.min(k.toLong, n).toInt).select(col("id").as("s"))))
    val kEff = sources.count()

    var dist = graft.core.Lineage.truncate(
      sources.select(col("s"), col("s").as("id"), lit(0L).as("dist")))
    var frontier = dist
    var level = 0
    var done = false
    while (!done && level < maxLevels) {
      // expand the frontier one hop; keep only first discoveries
      val next = frontier.join(nbrs, "id")
        .select(col("s"), col("nbr").as("id"), (col("dist") + 1L).as("dist"))
        .join(dist.select(col("s"), col("id")), Seq("s", "id"), "left_anti")
        .groupBy(col("s"), col("id")).agg(min(col("dist")).as("dist"))
      val nf = graft.core.Lineage.truncate(next)
      if (nf.count() == 0) {
        graft.core.Lineage.release(nf)
        done = true
      } else {
        val nd = graft.core.Lineage.truncate(dist.union(nf))
        if (level > 0) graft.core.Lineage.release(frontier)
        graft.core.Lineage.release(dist)
        dist = nd
        frontier = nf
        level += 1
      }
    }

    // wf-improved estimator from the reaching-source count (the SQL
    // mirror reproduces this exact double-arithmetic shape)
    val ratio = n.toDouble / math.max(kEff, 1L).toDouble
    val rhat = col("r").cast("double") * lit(ratio)
    val est = dist.groupBy("id")
      .agg(sum(col("dist")).as("sd"), count(lit(1)).as("r"))
      .select(col("id"),
        when(col("sd") > 0,
          ((rhat - 1.0) / lit((n - 1).toDouble)) *
            ((rhat - 1.0) / (col("sd") * lit(ratio))))
          .otherwise(lit(0.0)).as("closeness"))
    val out = graft.core.Lineage.truncate(
      verts.join(est, Seq("id"), "left")
        .select(col("id"), coalesce(col("closeness"), lit(0.0)).as("closeness")))
    graft.core.Lineage.release(dist)
    if (level > 0) graft.core.Lineage.release(frontier)
    graft.core.Lineage.release(sources)
    nbrs.unpersist(false)
    verts.unpersist(false)
    out
  }

  /** The gate's edge cap for a neighbor-row cap: 2E <= cap iff
    * E <= floor(cap / 2).
    */
  private[algos] def edgeCap(nbrRowCap: Long): Long = Math.floorDiv(nbrRowCap, 2L)

  /** The local estimators' sources over the collected edges: the
    * explicit ones, else the distributed route's hash sample.
    */
  private[algos] def localSources(local: Route.Local, k: Int, seed: Long,
                                  explicitSources: Option[DataFrame]): Array[Long] = {
    val ids = local.dense._1
    explicitSources match {
      case Some(x) => x.collect().map(_.getLong(0))
      case None => hashSample(ids, math.min(k.toLong, ids.length).toInt, seed)
    }
  }

  /** The distributed route's source sample on the driver: the k ids
    * with the smallest (xxhash64(id, seed), id), in that order.
    */
  private def hashSample(ids: Array[Long], k: Int, seed: Long): Array[Long] = {
    val h = ids.map(id => DetRandom.xxhash64Local(id, seed))
    // ids ascend, so index order breaks hash ties by id
    DetRandom.smallestByHash(h, k).sortBy(i => (h(i), i)).map(ids(_))
  }
}
