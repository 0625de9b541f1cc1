package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Route
import graft.graph.Edges

/** Synchronous label propagation (north_rule addition; not in the
  * reference). Every vertex starts labeled with its own id; each
  * superstep it adopts the most frequent label among its neighbors'
  * previous labels, ties broken by minimum label — fully deterministic,
  * unlike the textbook randomized-order LPA.
  *
  * Superstep = gather join (neighbor labels) + two-level hash
  * aggregation: count per (vertex, label), then argmax per vertex as
  * max(struct(cnt, -label)) — a hash aggregate with map-side partial
  * aggregation, replacing the earlier row_number window whose
  * per-vertex sort shuffled and ordered every (vertex, label) row.
  * Ties still break to the minimum label (the negated field), so
  * results are unchanged.
  */
object LabelPropagation {

  /** Below `localEdgeCap` edges the identical synchronous update runs on
    * the driver over a collected CSR ([[Route.gate]]): the update is PURE
    * INTEGER arithmetic — per vertex, the most frequent neighbor label
    * with min-label ties — so the local rows are bit-identical to the
    * distributed loop's by construction (parity-tested). Above the cap
    * the join+agg supersteps run unchanged — the 100 TB path.
    */
  def run(spark: SparkSession, edges: DataFrame, iterations: Int,
          localEdgeCap: Long = Route.LocalEdgeCap): DataFrame = {
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the gate's held projection serves the adjacency build too, so the
    // edge pipeline runs once whichever path runs
    val (e0, eCount) = Route.gate(edges, localEdgeCap) match {
      case Route.Local(s, d) => return runLocal(spark, s, d, iterations)
      case Route.Distributed(held, rows) => (held, rows)
    }
    // adjacency pre-shuffled ONCE on the per-iteration join key and
    // materialized: each superstep's join then only shuffles the V-row
    // label state (the old persist left nbrs scan-partitioned, so the
    // 2E-row side was re-shuffled every iteration)
    val nbrs = graft.core.Lineage.truncatePartitioned(
      Edges.neighbors(e0.edges).repartition(p, col("nbr")))
    e0.release()
    // initial labels from the materialized adjacency — same vertex set
    // as Edges.vertices on a canonical edge table, without a second
    // pass over the edge pipeline
    var labels = graft.core.Lineage.truncate(
      nbrs.select(col("id")).distinct()
        .select(col("id"), col("id").as("label")))
    // fixed-shape loop tuning: AQE off + data-sized shuffle width in
    // the small regime (graft.core.LoopConf; data-derived gate).
    // 2 * eCount == nbrs row count (both directions), with no extra job.
    val small = graft.core.LoopConf.smallRegime(spark, 2L * eCount)
    graft.core.LoopConf.withLoop(spark, small) {
    for (i <- 1 to iterations) {
      // dataset aliases: the initial labels frame derives from nbrs, so
      // its checkpointed attributes share expression ids with nbrs —
      // unqualified column refs would be ambiguous on that first join
      val counts = nbrs.as("n").join(labels.as("l"),
          col("n.nbr") === col("l.id"))
        .groupBy(col("n.id").as("vid"), col("l.label").as("label"))
        .agg(count(lit(1)).as("cnt"))
      val next = graft.core.Lineage.truncate(
        counts.groupBy(col("vid").as("id"))
          .agg(max(struct(col("cnt"), (-col("label")).as("neglabel"))).as("m"))
          .select(col("id"), (-col("m.neglabel")).as("label")))
      graft.core.Lineage.release(labels)
      labels = next
    }
    }
    graft.core.Lineage.release(nbrs)
    labels
  }

  /** Driver-local synchronous LPA over a collected CSR — the identical
    * per-vertex update: count previous-iteration labels over neighbors,
    * adopt max count, ties to the minimum label. Sorted-id binary
    * search, primitive arrays; per-vertex work is independent, so the
    * chunk-parallel loop cannot change any result.
    */
  private def runLocal(spark: SparkSession, srcA: Array[Long],
                       dstA: Array[Long], iterations: Int): DataFrame = {
    val (ids, sIdx, dIdx) = Route.dense(srcA, dstA)
    val n = ids.length
    val (rowPtr, colIdx) = Route.undirectedCsr(n, sIdx, dIdx)
    var i = 0
    var labels: Array[Long] = Array.tabulate(n)(v => ids(v))
    var it = 0
    while (it < iterations) {
      val prev = labels
      val next = new Array[Long](n)
      java.util.stream.IntStream.range(0, n).parallel().forEach { v =>
        val start = rowPtr(v)
        val end = rowPtr(v + 1)
        val scratch = new Array[Long](end - start)
        var k = 0
        while (k < scratch.length) {
          scratch(k) = prev(colIdx(start + k)); k += 1
        }
        java.util.Arrays.sort(scratch)
        // scan runs ascending: a later run only wins with a STRICTLY
        // larger count, so ties keep the smaller label
        var bestLabel = scratch(0)
        var bestCnt = 0
        var runStart = 0
        k = 1
        while (k <= scratch.length) {
          if (k == scratch.length || scratch(k) != scratch(runStart)) {
            val cnt = k - runStart
            if (cnt > bestCnt) { bestCnt = cnt; bestLabel = scratch(runStart) }
            runStart = k
          }
          k += 1
        }
        next(v) = bestLabel
      }
      labels = next
      it += 1
    }
    import spark.implicits._
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), labels(i)); i += 1 }
    out.toSeq.toDF("id", "label")
  }
}
