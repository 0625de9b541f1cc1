package graft.embed

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DetRandom, Route}
import graft.graph.Edges

/** Influence maximization — the Spark re-expression of
  * /root/reference/graphem/influence.py.
  *
  * Seed selection: top-k vertices by embedding radius
  * (influence.py:10-37) — a TakeOrderedAndProject, no global sort.
  *
  * Influence estimation: Independent Cascades (influence.py:40-82,
  * ndlib semantics per the reference CHANGELOG): every active node gets
  * one chance to activate each inactive neighbor with probability p;
  * influence = count of ever-activated nodes (states 1+2). The
  * activation coin is a pure hash of (src, dst, trial) — deterministic
  * across retries and parallelism, trial-varying like ndlib's per-run
  * RNG.
  */
object Influence {

  /** Top-k ids by radius, ties broken by id (influence.py:32-37). */
  def seedSelection(positions: DataFrame, k: Int): DataFrame =
    ForceLayout.radii(positions)
      .orderBy(desc("radius"), col("id")).limit(k)

  /** DuckDB-mirrorable Bernoulli(p) activation coin for edge (src, dst)
    * at `trial`: plain BIGINT arithmetic both engines compute
    * identically (the xxhash64 default is Spark-only). The coin is a
    * pure function of (src, dst, trial) — round-independent, so the
    * ever-activated set is exactly the reachability closure over "open"
    * edges from the seeds, which a recursive CTE reproduces.
    */
  private[graft] def portableCoin(src: Column, dst: Column, trial: Long): Column =
    (((src * 1000003L + dst) % 1000000007L) * 2654435761L +
      lit(trial) * 9176L) % 1000000007L

  /** SQL predicate mirroring portableCoin(src, dst, trial) < p. */
  def portableCoinSql(src: String, dst: String, trial: Long, p: Double): String =
    s"((($src * 1000003 + $dst) % 1000000007) * 2654435761 + $trial * 9176)" +
      s" % 1000000007 < ${(p * 1000000007L).toLong}"

  /** One IC simulation; returns the number of ever-active vertices. */
  def icInfluence(spark: SparkSession, edges: DataFrame, seeds: Seq[Long],
                  p: Double, maxIter: Int = 200, trial: Long = 0,
                  portableHash: Boolean = false): Long = {
    import spark.implicits._
    val nbrs = Edges.neighbors(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thresh = (p * 1000000007L).toLong
    var active = graft.core.Lineage.truncate(seeds.toDF("id")) // ever-active
    var frontier = active                                  // newly active
    var rounds = 0
    var total = active.count()
    // the frontier size is always known (seed count, then each round's
    // newly-count) — the old limit(1).count() probe was one extra job
    // per cascade round
    var frontierSize = total
    while (rounds < maxIter && frontierSize > 0) {
      val open =
        if (portableHash) portableCoin(col("src"), col("dst"), trial) < thresh
        else DetRandom.uniform(7777L + trial, col("src"), col("dst")) < p
      val attempts = nbrs.join(frontier, Seq("id"))
        .select(col("id").as("src"), col("nbr").as("dst"))
        .where(open)
        .select(col("dst").as("id")).distinct()
      val newly = graft.core.Lineage.truncate(
        attempts.join(active, Seq("id"), "left_anti"))
      val nNew = newly.count()
      frontierSize = nNew
      if (nNew == 0) {
        if (frontier ne active) graft.core.Lineage.release(frontier)
        frontier = newly
      } else {
        // the new active set is materialized (eager truncate): the old
        // active and frontier caches are dead
        val prevActive = active
        active = graft.core.Lineage.truncate(active.union(newly))
        if (frontier ne prevActive) graft.core.Lineage.release(frontier)
        graft.core.Lineage.release(prevActive)
        frontier = newly
        total += nNew
      }
      rounds += 1
    }
    graft.core.Lineage.release(frontier)
    if (frontier ne active) graft.core.Lineage.release(active)
    nbrs.unpersist(false)
    total
  }

  /** Collected adjacency of a small canonical edge table, read from its
    * [[Route.Local]] index — the driver-local graph the harness-scale IC
    * evaluators run on (the reference's influence bench is likewise a
    * host-local loop over an n=200 graph,
    * /root/reference/run_benchmarks.py:379-460).
    */
  def collectNeighbors(edges: DataFrame): Map[Long, Array[Long]] = {
    // each row's neighbours ascend; the IC closure reads them as a set
    val local = Route.local(edges)
    val ids = local.dense._1
    val (rowPtr, colIdx) = local.csr
    ids.indices.map(v =>
      ids(v) -> Array.tabulate(rowPtr(v + 1) - rowPtr(v))(j => ids(colIdx(rowPtr(v) + j)))).toMap
  }

  /** Driver-local IC with the PORTABLE coin — returns counts identical
    * to icInfluence(portableHash = true) (both compute the reachability
    * closure over open edges; the coin arithmetic wraps identically in
    * Scala and Spark Long math). Harness/test scale only.
    */
  def icInfluenceLocal(nbrs: Map[Long, Array[Long]], seeds: Seq[Long],
                       p: Double, trial: Long = 0): Long = {
    val thresh = (p * 1000000007L).toLong
    def open(s: Long, d: Long): Boolean =
      (((s * 1000003L + d) % 1000000007L) * 2654435761L +
        trial * 9176L) % 1000000007L < thresh
    val active = scala.collection.mutable.Set(seeds: _*)
    var frontier = seeds.toSet
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(s =>
        nbrs.getOrElse(s, Array.empty[Long]).filter(d => open(s, d)))
        .diff(active)
      active ++= next
      frontier = next
    }
    active.size.toLong
  }

  /** Driver-local greedy (marginal gain by mean of `trials` local IC
    * runs) — the fast evaluator behind the influence-comparison harness.
    */
  def greedySeedsLocal(nbrs: Map[Long, Array[Long]], k: Int, p: Double,
                       candidates: Seq[Long], trials: Int = 3): Seq[Long] = {
    val chosen = scala.collection.mutable.ArrayBuffer[Long]()
    for (_ <- 0 until k) {
      val best = candidates.filterNot(chosen.contains).maxBy { c =>
        ((0 until trials).map(t =>
          icInfluenceLocal(nbrs, (chosen :+ c).toSeq, p, trial = t)).sum, -c)
      }
      chosen += best
    }
    chosen.toSeq
  }
}
