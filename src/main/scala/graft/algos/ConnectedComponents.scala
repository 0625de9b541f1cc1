package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{CheckpointManager, Route}

/** Connected components via alternating small-star / large-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — the north_rule's mandated formulation. The reference
  * delegates to nx.connected_components for LCC extraction
  * (/root/reference/run_benchmarks.py:255-272); assignments must match
  * exactly: component id = minimum vertex id in the component.
  *
  * Each round is two join+aggregate supersteps over the shrinking edge
  * set; convergence in O(log^2 n) rounds. Every op is an equi-join or
  * hash aggregation — Catalyst plans them with partial aggregation and
  * AQE handles the (heavily skewed) star-root keys.
  */
object ConnectedComponents {

  /** large-star: for every u, connect its larger neighbors to
    * m = min(N(u) ∪ {u}).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
    // No distinct here (one Exchange of up-to-2E rows saved per round):
    // smallStar's terminal distinct dedups the composed output, and its
    // min-aggregations are duplicate-insensitive, so the round's result
    // is unchanged; the intermediate stays bounded by 2E rows.
    sym.join(mins, "u").where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
  }

  /** small-star: for every u, connect its smaller-or-equal neighbors
    * (and u itself) to m = min(N_small(u) ∪ {u}).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val keyed = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = keyed.groupBy("u").agg(min(col("v")).as("m"))
    keyed.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  // Convergence signature of the (distinct) star-edge set: row count +
  // order-independent XOR of per-row hashes. Replaces the decimal(38,0)
  // hash SUM — same set-equality semantics and collision class, but a
  // plain long accumulator instead of 16-byte decimal partials.
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

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
      case Route.Local(s, d) => runLocal(spark, s, d)
      case Route.Distributed(held, rows) => starLoop(spark, held, rows, maxRounds, checkpoint)
    }

  private def starLoop(spark: SparkSession, held: Route.Held, rows: Long,
                       maxRounds: Int,
                       checkpoint: Option[CheckpointManager]): DataFrame = {
    var e = held.edges.select(col("src").as("u"), col("dst").as("v"))
    var firstE = true // initial e reads the held projection; successors are truncated
    def dropE(df: DataFrame): Unit =
      if (firstE) { held.release(); firstE = false }
      else graft.core.Lineage.release(df)
    // vertex set from the CACHED edge table, materialized eagerly while
    // that cache is still alive (the rounds below release it): deriving
    // it from the caller's `edges` frame re-executed the whole upstream
    // edge pipeline (scan + distinct) a second time at the final join.
    // Same ids by construction — e is edges renamed.
    val verts = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    verts.count()
    var round = 0
    var done = false
    // no signature for the input: the first round never counts as
    // converged (canonical u < v rows are never the u > v star edges a
    // round emits, and one more round at a fixpoint changes nothing)
    var sig: Option[(Long, Long)] = None
    var eRows = rows
    // Fixed-shape round tuning: AQE off + data-sized shuffle width in
    // the small regime (graft.core.LoopConf; data-derived gate — at
    // scale AQE stays on for its skew-join splitting of star-root keys)
    val small = graft.core.LoopConf.smallRegime(spark, 2L * rows,
      rowsPerPartition = 62500L)
    graft.core.LoopConf.withLoop(spark, small) {
    while (!done && round < maxRounds) {
      // largeStar/smallStar each reference the edge set twice (the
      // symmetrize union + the min join) — truncate lineage every round
      // or the plan grows 4x per round. The checksum aggregate is the
      // materializing action on the lazily-truncated frame, so each
      // round runs ONE job (star passes + convergence signature), not
      // two.
      var next = smallStar(largeStar(e))
      next = checkpoint match {
        case Some(cm) => cm.commit(round, next, Map("edges" -> eRows.toDouble))
        case None => graft.core.Lineage.truncateLazy(next)
      }
      val nsig = checksum(next)
      dropE(e)
      e = next
      done = sig.contains(nsig)
      sig = Some(nsig)
      eRows = nsig._1
      round += 1
    }
    }
    // Final star edges point v -> root (root < v). Roots / isolated
    // vertices map to themselves. Materialize eagerly so the vertex and
    // star-edge caches can be released before returning.
    val assign = graft.core.Lineage.truncate(
      verts.join(e.select(col("u").as("id"), col("v").as("root")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("component")))
    verts.unpersist(false)
    dropE(e)
    assign
  }

  /** Driver-local union-find (path halving) over the collected (src, dst)
    * rows — two primitive long arrays, sorted-id binary search instead
    * of a boxed hash map (the ApproxCloseness advice pattern). Emits
    * (id, component = min id of the component), exactly the distributed
    * loop's rows.
    */
  private def runLocal(spark: SparkSession, srcA: Array[Long],
                       dstA: Array[Long]): DataFrame = {
    val (ids, sIdx, dIdx) = Route.dense(srcA, dstA)
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
    while (i < srcA.length) {
      val a = find(sIdx(i))
      val b = find(dIdx(i))
      // union toward the smaller INDEX = smaller id (ids ascending), so
      // every root is already its component's minimum id
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      i += 1
    }
    import spark.implicits._
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), ids(find(i))); i += 1 }
    out.toSeq.toDF("id", "component")
  }
}
