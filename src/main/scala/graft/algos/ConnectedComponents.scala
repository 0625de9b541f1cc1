package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CheckpointManager, Lineage, LoopConf, Route}

/** Connected components via alternating small-star / large-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — the north_rule's mandated formulation. The reference
  * delegates to nx.connected_components for LCC extraction
  * (/root/reference/run_benchmarks.py:255-272); assignments must match
  * exactly: component id = minimum vertex id in the component.
  *
  * Each round is two star supersteps over the shrinking edge set;
  * convergence in O(log^2 n) rounds. A star step is one window min
  * partitioned by its key over the rows it already has: one hash
  * exchange and a sort, no join. A star root's rows all sort inside one
  * window task (there is no join for AQE to split), which the trace
  * reports as `task_skew`.
  */
object ConnectedComponents {

  /** large-star: for every u, connect its larger neighbors to
    * m = min(N(u) ∪ {u}).
    */
  private def largeStar(e: DataFrame): DataFrame =
    // No distinct here (one Exchange of up-to-2E rows saved per round):
    // smallStar's terminal distinct dedups the composed output, and its
    // window mins are duplicate-insensitive, so the round's result is
    // unchanged; the intermediate stays bounded by 2E rows.
    e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .withColumn("m", min(least(col("v"), col("u"))).over(Window.partitionBy("u")))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))

  /** small-star: for every u, connect its smaller-or-equal neighbors
    * (and u itself) to m = min(N_small(u) ∪ {u}). Every row emits both
    * (v, m) and (u, m); the distinct drops the repeated (u, m).
    */
  private def smallStar(e: DataFrame): DataFrame =
    e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      .select(explode(array(col("v"), col("u"))).as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** Run to convergence. Returns (id, component) with component = min
    * vertex id of the component; every vertex of `edges` appears.
    *
    * Below `localEdgeCap` edges the assignment is computed by a
    * driver-local union-find over the collected edge list
    * ([[Route.gate]]): the output contract "component = min vertex id of
    * the component" is ALGORITHM-INDEPENDENT, so the local kernel's rows
    * are identical to the star-contraction loop's by construction
    * (integer equality, no float jitter; parity-tested). At bench scale
    * the distributed loop's ~6 rounds are pure scheduler floor; above the
    * cap — the 100 TB regime — the small-star/large-star loop runs
    * unchanged. Checkpointed runs always take the distributed loop (the
    * resume contract lives there).
    */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 50,
          checkpoint: Option[CheckpointManager] = None,
          localEdgeCap: Long = Route.LocalEdgeCap): DataFrame =
    // no count is at most -1, so a checkpointed run never goes local
    Route.gate(edges, if (checkpoint.isEmpty) localEdgeCap else -1L) match {
      case l: Route.Local => runLocal(spark, l)
      case Route.Distributed(held, rows) => starLoop(spark, held, rows, maxRounds, checkpoint)
    }

  /** The star rounds over the held projection, which has `rows` rows,
    * in one loop scope sized by them (AQE off + data-sized shuffle width
    * in the small regime, see [[LoopConf]]; at scale AQE stays on, and a
    * star step has no join for it to split). Each round is ONE planned
    * query and one job: the round's star edges, truncated, and their
    * fingerprint (row count + XOR of row hashes) from the same job; a
    * checkpointed run then commits them, a second job. The rounds end
    * when a round's fingerprint equals the one before it. The vertex set
    * is read from the hold in the final assignment's job, and the hold
    * is released after it.
    */
  private def starLoop(spark: SparkSession, held: Route.Held, rows: Long,
                       maxRounds: Int,
                       checkpoint: Option[CheckpointManager]): DataFrame =
    try LoopConf.withLoop(spark, LoopConf.smallRegime(spark, 2L * rows,
      rowsPerPartition = 62500L)) {
      var e = held.edges.select(col("src").as("u"), col("dst").as("v"))
      var round = 0
      var done = false
      // no fingerprint for the input: the first round never counts as
      // converged (canonical u < v rows are never the u > v star edges a
      // round emits, and one more round at a fixpoint changes nothing)
      var sig: Option[(Long, Long)] = None
      var eRows = rows
      while (!done && round < maxRounds) {
        // largeStar's symmetrize union references the edge set twice —
        // truncate lineage every round or the plan grows 2x per round
        val (star, nsig) = Lineage.fingerprinted(smallStar(largeStar(e)))
        val next = checkpoint match {
          case Some(cm) =>
            try cm.commit(round, star, Map("edges" -> eRows.toDouble)) finally Lineage.release(star)
          case None => star
        }
        // the first round's input is the hold, released below
        if (round > 0) Lineage.release(e)
        e = next
        done = sig.contains(nsig)
        sig = Some(nsig)
        eRows = nsig._1
        round += 1
      }
      // Final star edges point v -> root (root < v). Roots and vertices
      // with no star edge (isolated, or with only a self-loop) map to
      // themselves.
      val verts = held.edges.select(col("src").as("id"))
        .union(held.edges.select(col("dst").as("id"))).distinct()
      val assign = Lineage.truncate(
        verts.join(e.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
          .select(col("id"), coalesce(col("root"), col("id")).as("component")))
      if (round > 0) Lineage.release(e)
      assign
    } finally held.release()

  /** Driver-local union-find (path halving) over the collected (src, dst)
    * rows — two primitive long arrays, sorted-id binary search instead
    * of a boxed hash map (the ApproxCloseness advice pattern). Emits
    * (id, component = min id of the component), exactly the distributed
    * loop's rows.
    */
  private def runLocal(spark: SparkSession, local: Route.Local): DataFrame = {
    val (ids, sIdx, dIdx) = local.dense
    val n = ids.length
    val parent = new Array[Int](n)
    var i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    i = 0
    while (i < sIdx.length) {
      val a = find(sIdx(i))
      val b = find(dIdx(i))
      // union toward the smaller INDEX = smaller id (ids ascending), so
      // every root is already its component's minimum id
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      i += 1
    }
    val component = new Array[Long](n)
    i = 0
    while (i < n) { component(i) = ids(find(i)); i += 1 }
    Route.frame(spark, ids, Route.Longs("component", component))
  }
}
