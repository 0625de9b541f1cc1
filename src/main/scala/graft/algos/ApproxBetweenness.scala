package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Route
import graft.graph.Edges

/** Sampled-source betweenness centrality — the SCALE path for the
  * centrality the reference only computes through networkx below its
  * n = 5000 cutoff. Brandes–Pich sampling ("Centrality estimation in
  * large networks", 2007): run the exact Brandes dependency
  * accumulation from k uniformly sampled sources and scale by n/k;
  * with k = n the estimate IS nx.betweenness_centrality(normalized)
  * (the parity test exploits this against the driver-local oracle).
  *
  * Both phases are level-synchronous joins over the neighbor table —
  * no per-vertex driver work:
  *
  *  - FORWARD: shortest-path counts per (source, vertex). Level L+1
  *    vertices are the frontier's neighbors minus visited (anti-join);
  *    sigma(w) = sum of sigma over w's level-L neighbors — one
  *    join + hash aggregation per level. State <= k x V rows.
  *  - BACKWARD: dependencies flow one level down per step:
  *    delta(v) = sum over successors w of sigma(v)/sigma(w) *
  *    (1 + delta(w)) — again one join + aggregation per level,
  *    descending. A vertex's delta is complete after its own level's
  *    step (successors live exactly one level up), so each level is
  *    truncated once and appended to the result.
  *
  * Lineage is truncated per level (iterative-loop discipline); sources
  * are a deterministic hash sample, so runs reproduce across
  * partitionings and cluster sizes. Total work O(k * E) like k
  * independent Brandes passes, but batched through ONE Catalyst plan
  * per level regardless of k.
  */
object ApproxBetweenness {

  /** `explicitSources`: caller-chosen source set (one `s` column)
    * overriding the hash sample — used by the SQL-mirrored driver query.
    * `portableSum = true` quantizes the two order-dependent double sums
    * (backward dependency aggregation, final per-vertex accumulation)
    * through [[graft.core.PortableSum]] at scale 1e12 (addends are
    * bounded by ~n), making the result bit-identical to the DuckDB
    * mirror; sigma sums stay native — path counts are integers, exact
    * in double under any order.
    *
    * Below `localNbrRowCap` neighbor rows (= 2E) the whole estimator
    * runs driver-locally ([[Route.gate]],
    * [[PathCentralitySmall.betweennessLocal]]):
    * the two level-synchronous join loops cost ~6 tiny jobs per BFS
    * level in scheduling overhead on benchmark-scale graphs. The local
    * twin replicates the portable quantization points exactly, so on
    * the portable path the two routes are BIT-IDENTICAL (parity test);
    * the distributed plan engages above the cap (routing test).
    */
  def run(spark: SparkSession, edges: DataFrame, k: Int,
          seed: Long = 42, maxLevels: Int = 128,
          normalized: Boolean = true,
          explicitSources: Option[DataFrame] = None,
          portableSum: Boolean = false,
          localNbrRowCap: Long = Route.NbrRowCap): DataFrame = {
    // held across the gate, so a source frame derived from the same
    // input reads this cache on either route
    val held = Route.hold(edges)
    try Route.gate(held, ApproxCloseness.edgeCap(localNbrRowCap)) match {
      case l: Route.Local =>
        PathCentralitySmall.betweennessLocal(spark, l,
          ApproxCloseness.localSources(l, k, seed, explicitSources), maxLevels, normalized,
          portableSum)
      case Route.Distributed(h, _) =>
        distributed(h.edges, k, seed, maxLevels, normalized, explicitSources, portableSum)
    } finally held.release()
  }

  /** Forward and backward level loops over `edges`, which the caller
    * holds cached.
    */
  private def distributed(edges: DataFrame, k: Int, seed: Long, maxLevels: Int,
                          normalized: Boolean, explicitSources: Option[DataFrame],
                          portableSum: Boolean): DataFrame = {
    def sumD(c: org.apache.spark.sql.Column) =
      if (portableSum) graft.core.PortableSum.fixedSum(c, 1e12) else sum(c)
    val nbrs = Edges.neighbors(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val verts = Edges.vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()

    val sources = graft.core.Lineage.truncate(explicitSources.getOrElse(
      verts.orderBy(xxhash64(col("id"), lit(seed)), col("id"))
        .limit(math.min(k.toLong, n).toInt).select(col("id").as("s"))))
    val kEff = sources.count()

    // ---- forward: (s, id, dist, sigma), one frame per level ----------
    var levels = List(graft.core.Lineage.truncate(
      sources.select(col("s"), col("s").as("id"), lit(0L).as("dist"),
        lit(1.0).as("sigma"))))
    var visited = levels.head // union of all levels (s, id) + payload
    var level = 0L
    var done = false
    while (!done && level < maxLevels) {
      val frontier = levels.head
      // dist comes from the frontier's own, not from `level`: a literal
      // would change the generated code, and compile it anew, per level
      val expand = frontier.join(nbrs, "id")
        .select(col("s"), col("nbr").as("id"), (col("dist") + 1L).as("dist"), col("sigma"))
        .join(visited.select(col("s"), col("id")), Seq("s", "id"), "left_anti")
        .groupBy(col("s"), col("id"))
        .agg(min(col("dist")).as("dist"), sum(col("sigma")).as("sigma"))
      val nf = graft.core.Lineage.truncate(expand)
      if (nf.count() == 0) {
        graft.core.Lineage.release(nf)
        done = true
      } else {
        val nv = graft.core.Lineage.truncate(visited.union(nf))
        if (level > 0) graft.core.Lineage.release(visited)
        visited = nv
        levels = nf :: levels
        level += 1
      }
    }

    // ---- backward: dependencies, deepest level first -----------------
    // deltaCur: (s, id, sigma, delta) for the level being pushed down
    var deltaCur = graft.core.Lineage.truncate(
      levels.head.select(col("s"), col("id"), col("sigma"), lit(0.0).as("delta")))
    var bcFrames: List[DataFrame] = if (level > 0) List(deltaCur) else Nil
    for (lower <- levels.tail) { // levels list is deepest-first
      val contrib = deltaCur
        .join(nbrs, "id") // successors w -> their neighbors v
        .select(col("s"), col("nbr").as("id"),
          (lit(1.0) + col("delta")).as("inc"), col("sigma").as("sigma_w"))
        .join(lower.select(col("s"), col("id"), col("sigma")), Seq("s", "id"))
        .groupBy(col("s"), col("id"), col("sigma"))
        .agg(sumD(col("sigma") / col("sigma_w") * col("inc")).as("delta"))
      // vertices on this level with no successors keep delta = 0
      val nextDelta = graft.core.Lineage.truncate(
        lower.select(col("s"), col("id"), col("sigma"))
          .join(contrib.select(col("s"), col("id"), col("delta")),
            Seq("s", "id"), "left")
          .select(col("s"), col("id"), col("sigma"),
            coalesce(col("delta"), lit(0.0)).as("delta")))
      // NOT released here: every delta frame feeds the final bc sum
      deltaCur = nextDelta
      bcFrames = deltaCur :: bcFrames
    }

    // bc(v) = (n/k) * sum over sources of delta, excluding v == s rows
    // (the deepest frame is all-zero delta; the level-0 frame is the
    // sources themselves and contributes nothing after the filter).
    // Scale mirrors nx _rescale exactly: the base factor is 1/((n-1)(n-2))
    // normalized, 1/2 undirected-unnormalized — and when it is undefined
    // (normalized with n <= 2) nx applies NO rescale at all, so the n/k
    // sampling correction is skipped there too.
    val base: Option[Double] =
      if (normalized) { if (n > 2) Some(1.0 / ((n - 1.0) * (n - 2.0))) else None }
      else Some(0.5)
    val scale = base
      .map(_ * (n.toDouble / math.max(kEff, 1L).toDouble))
      .getOrElse(1.0)
    val out = graft.core.Lineage.truncate(
      if (bcFrames.isEmpty)
        verts.select(col("id"), lit(0.0).as("betweenness"))
      else {
        val allDelta = graft.core.Lineage.union(bcFrames)
          .where(col("id") =!= col("s"))
          .groupBy("id").agg(sumD(col("delta")).as("raw"))
        verts.join(allDelta, Seq("id"), "left")
          .select(col("id"),
            (coalesce(col("raw"), lit(0.0)) * scale).as("betweenness"))
      })
    bcFrames.foreach(graft.core.Lineage.release)
    // when the BFS never expanded (isolated sources) the initial delta
    // frame is in no list — release it explicitly or it leaks
    if (bcFrames.isEmpty) graft.core.Lineage.release(deltaCur)
    (if (level > 0) List(visited) else Nil).foreach(graft.core.Lineage.release)
    levels.foreach(graft.core.Lineage.release)
    graft.core.Lineage.release(sources)
    nbrs.unpersist(false)
    verts.unpersist(false)
    out
  }
}
