package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Lineage, LoopConf, Route}
import graft.graph.Edges

/** Triangle counting via the degree-oriented edge-iterator join
  * (north_rule addition; not in the reference).
  *
  * Edges are oriented from the lower-(degree, id) endpoint to the higher
  * one — a total order, so the oriented graph is a DAG and every
  * triangle is counted exactly once as a wedge (a->b, a->c) closed by
  * the oriented edge (b->c). Orienting by degree bounds every vertex's
  * out-degree by O(sqrt(m)), which caps the wedge join's blowup on hub
  * vertices — the standard scale trick for power-law web graphs.
  *
  * No global sort: the (degree, id) comparison is done with column
  * predicates on degree-annotated edges, never a global row_number.
  */
object TriangleCount {

  /** Degree-oriented edges with endpoint degrees attached:
    * (src, dst, sdeg, ddeg) with (sdeg, src) < (ddeg, dst). A self-loop
    * closes no triangle (nx ignores it), so its rows are dropped.
    */
  def orient(spark: SparkSession, edges: DataFrame): DataFrame = {
    // one degree table for both endpoints: when it fits a broadcast, both
    // joins broadcast it and the second reuses the first's exchange (left
    // to the planner, the first join broadcasts the smaller edge side, a
    // second broadcast job); above the threshold both joins shuffle
    val degrees = Edges.degrees(edges)
    val deg = if (degrees.queryExecution.optimizedPlan.stats.sizeInBytes <=
        spark.sessionState.conf.autoBroadcastJoinThreshold) broadcast(degrees) else degrees
    val withDeg = edges.where(col("src") =!= col("dst"))
      .join(deg.select(col("id").as("src"), col("degree").as("d1")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("d2")), "dst")
    val fwd = col("d1") < col("d2") ||
      (col("d1") === col("d2") && col("src") < col("dst"))
    withDeg.select(
      when(fwd, col("src")).otherwise(col("dst")).as("src"),
      when(fwd, col("dst")).otherwise(col("src")).as("dst"),
      when(fwd, col("d1")).otherwise(col("d2")).as("sdeg"),
      when(fwd, col("d2")).otherwise(col("d1")).as("ddeg"))
  }

  /** Global triangle count as a single-row DataFrame.
    *
    * Counting (unlike enumeration, see perVertex) never needs the wedge
    * stream materialized: in the degree-oriented DAG every triangle
    * {a,b,c} (a < b < c in the total order) is counted exactly once at
    * its lowest edge (a,b) as a common out-neighbor of a and b, so
    *
    *   triangles = sum over oriented edges (u,v) of |N+(u) ∩ N+(v)|.
    *
    * Plan shape: one groupBy builds the out-adjacency arrays (each
    * bounded O(sqrt m) by the orientation), two joins attach them to the
    * edge table, and the intersection sizes aggregate map-side — the
    * wedge formulation instead shuffled the FULL wedge stream (O(sum
    * d_out^2) rows — 245M at sf0.1's dense graph) into a semi-join.
    * Counts eagerly so the adjacency cache is released before returning.
    *
    * Below `localEdgeCap` edges the same degree-oriented intersection
    * count runs on the driver over a collected CSR ([[Route.gate]]). The
    * count is an EXACT integer property of the graph — any correct
    * algorithm returns the same number — so the local kernel is
    * trivially result-identical (parity-tested). Its cap
    * ([[Route.TriangleEdgeCap]]) is tighter than the collect bound
    * because intersection work grows ~E^1.5; above it the distributed
    * join+agg plan runs unchanged.
    */
  def globalCount(spark: SparkSession, edges: DataFrame,
                  localEdgeCap: Long = Route.TriangleEdgeCap): DataFrame = {
    import spark.implicits._
    val (held, rows) = Route.gate(edges, localEdgeCap) match {
      case l: Route.Local => return Seq(countLocal(l)).toDF("triangles")
      case Route.Distributed(h, r) => (h, r)
    }
    // one loop scope for the call (LoopConf; data-derived gate)
    val n = LoopConf.withLoop(spark, LoopConf.smallRegime(spark, rows)) {
      // checkpoint the oriented table (optimization round 6): the final
      // aggregate's plan references the orient subtree three times
      // (adjacency build + both attach joins), each copy re-executing both
      // degree joins — checkpointing `o` pins them to one execution, which
      // reads the held projection's cache; that cache is then released
      val o = try Lineage.truncate(orient(spark, held.edges)) finally held.release()
      // adjacency arrays SORTED at build so the per-edge intersection is a
      // zero-allocation two-pointer merge (SortedIntersectCount codegen
      // expression) instead of array_intersect's per-row hash set. The
      // groupBy leaves adj hash-partitioned on the vertex id, so BOTH
      // attach joins below can consume that one exchange (Catalyst reuses
      // it; a small adj broadcasts and drops the shuffles entirely).
      val adj = o.groupBy(col("src").as("id"))
        .agg(array_sort(collect_list(col("dst"))).as("nbrs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val joined = o.select(col("src"), col("dst"))
        .join(adj.select(col("id").as("src"), col("nbrs").as("ns")), "src")
        .join(adj.select(col("id").as("dst"), col("nbrs").as("nd")), "dst")
      val t = joined
        .select(graft.functions.SortedIntersectCount(col("ns"), col("nd")).as("t"))
        .agg(coalesce(sum(col("t")), lit(0L))).head().getLong(0)
      adj.unpersist(false)
      Lineage.release(o)
      t
    }
    Seq(n).toDF("triangles")
  }

  /** Driver-local degree-oriented intersection count: same total order
    * ((degree, id) ascending), out-adjacency kept from the shared
    * undirected CSR's ascending rows (so sorted), two-pointer merge per
    * oriented edge; chunk-parallel over vertices (per-edge counts are
    * independent, summed exactly as longs). A self-loop keeps neither of
    * its two entries, as the oriented edge table drops it.
    */
  private def countLocal(local: Route.Local): Long = {
    val n = local.dense._1.length
    val (csrPtr, csrIdx) = local.csr
    def deg(v: Int): Int = csrPtr(v + 1) - csrPtr(v)
    // total order: (degree, id) ascending — ids(a) < ids(b) iff a < b
    def keeps(u: Int, v: Int): Boolean =
      deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
    val rowPtr = new Array[Int](n + 1)
    val out = new Array[Int](csrPtr(n))
    var u = 0
    while (u < n) {
      var at = rowPtr(u)
      var e = csrPtr(u)
      while (e < csrPtr(u + 1)) {
        val v = csrIdx(e)
        if (keeps(u, v)) { out(at) = v; at += 1 }
        e += 1
      }
      rowPtr(u + 1) = at
      u += 1
    }
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    java.util.stream.IntStream.range(0, n).parallel().forEach { u =>
      var t = 0L
      var p = rowPtr(u)
      while (p < rowPtr(u + 1)) {
        val v = out(p)
        // two-pointer |N+(u) ∩ N+(v)|
        var x = rowPtr(u); var y = rowPtr(v)
        while (x < rowPtr(u + 1) && y < rowPtr(v + 1)) {
          val a = out(x); val b = out(y)
          if (a == b) { t += 1; x += 1; y += 1 }
          else if (a < b) x += 1
          else y += 1
        }
        p += 1
      }
      if (t > 0) total.addAndGet(t)
      ()
    }
    total.get()
  }

  /** Per-vertex triangle participation counts (id, triangles); vertices
    * in no triangle are omitted.
    */
  def perVertex(spark: SparkSession, edges: DataFrame): DataFrame = {
    val e = graft.core.Lineage.truncate(edges.select("src", "dst"))
    val o = orient(spark, e).persist(StorageLevel.MEMORY_AND_DISK)
    val e1 = o.select(col("src").as("a"), col("dst").as("b"), col("ddeg").as("bd"))
    val e2 = o.select(col("src").as("a"), col("dst").as("c"), col("ddeg").as("cd"))
    val wedges = e1.join(e2, Seq("a"))
      .where(col("bd") < col("cd") ||
        (col("bd") === col("cd") && col("b") < col("c")))
    val closing = o.select(col("src").as("b"), col("dst").as("c"))
    val tris = wedges.join(closing, Seq("b", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    // materialize the (per-vertex-sized) result, then drop the edge cache
    val out = graft.core.Lineage.truncate(
      tris.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("triangles")))
    o.unpersist(false)
    graft.core.Lineage.release(e)
    out
  }
}
