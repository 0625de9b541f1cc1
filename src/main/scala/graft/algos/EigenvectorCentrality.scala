package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.DoubleParam
import graft.graph.Edges

/** Eigenvector centrality — the reference delegates to
  * nx.eigenvector_centrality_numpy and falls back to DEGREE centrality
  * when the eigensolver fails (/root/reference/graphem/benchmark.py:61-72,
  * quirk #9). Spark re-expression: distributed power iteration on the
  * adjacency (gather join + hash agg per step), L2-normalized each
  * step, convergence when sum |x_{t+1} - x_t| < n * tol (nx's
  * eigenvector_centrality criterion).
  */
object EigenvectorCentrality {

  case class Result(scores: DataFrame, iterations: Int, converged: Boolean)

  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 100,
          tol: Double = 1e-6): Result = {
    val nbrs = Edges.neighbors(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val verts = Edges.vertices(edges)
    val n = verts.count()
    var x = graft.core.Lineage.truncate(
      verts.select(col("id"), lit(1.0 / math.sqrt(n.toDouble)).as("score")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val msgs = nbrs.join(x, Seq("id"))
        .select(col("nbr").as("mid"), col("score"))
      val gathered = msgs.groupBy(col("mid")).agg(sum(col("score")).as("s"))
      // x' = x + A x (nx adds the previous vector to damp oscillation on
      // bipartite structures), then L2 normalize
      val raw = graft.core.Lineage.truncateLazy(
        x.join(gathered, x("id") === gathered("mid"), "left")
          .select(x("id"),
            (col("score") + coalesce(col("s"), lit(0.0))).as("raw"),
            col("score").as("old")))
      val aggRow = raw.agg(
        sqrt(sum(col("raw") * col("raw"))).as("norm")).head()
      val norm = math.max(aggRow.getDouble(0), 1e-300)
      // the norm changes every step: passed as data, so the step's code
      // compiles once (a `lit` would compile new classes per step)
      val next = graft.core.Lineage.truncateLazy(
        raw.select(col("id"), (col("raw") / DoubleParam(norm)).as("score"),
          col("old")))
      val err = next.agg(sum(abs(col("score") - col("old")))).head().getDouble(0)
      converged = err < n * tol
      // next is materialized by the err action: the previous state and
      // the raw intermediate are dead — release their cached RDDs so a
      // long power iteration doesn't accumulate one block per step
      graft.core.Lineage.release(x)
      graft.core.Lineage.release(raw)
      x = next.select(col("id"), col("score"))
      iter += 1
    }
    nbrs.unpersist(false)
    Result(x, iter, converged)
  }

  /** nx-compatible surface: eigenvector centrality, falling back to
    * degree centrality (degree / (n-1)) when power iteration fails to
    * converge — reference quirk #9.
    */
  def runWithFallback(spark: SparkSession, edges: DataFrame,
                      maxIter: Int = 100, tol: Double = 1e-6): DataFrame = {
    val r = run(spark, edges, maxIter, tol)
    if (r.converged) r.scores
    else {
      val n = Edges.vertices(edges).count()
      Edges.degrees(edges).select(col("id"),
        (col("degree").cast("double") / (n - 1).toDouble).as("score"))
    }
  }

  /** Fixed-iteration variant for the DuckDB oracle: k power-iteration
    * steps of x' = normalize(x + A x).
    *
    * Both sums whose double result depends on add order (neighbor
    * gather, L2 norm) run through [[graft.core.PortableSum]], so they are
    * order-independent and engine-identical: gather addends are normalized scores
    * (<= 1 after the first step, exactly 1.0 at it — scale 1e15); norm
    * addends raw^2 <= (1+maxdeg)^2 ~ 1e5 — scale 1e10 keeps the rounded
    * product below 2^53 (see the round-5 advice note: above-2^53
    * products on extreme hubs stay engine-identical but lose the
    * per-addend 0.5e-10 accuracy bound).
    *
    * Plan shape (optimization round 6): the old all-declarative loop
    * referenced `x` twice AND `raw` twice per step (main + norm
    * crossJoin subtrees), so the leaf count grew ~4x per iteration with
    * every copy re-executed. Now the adjacency is pre-shuffled once on
    * the join key and materialized, and each step lazily checkpoints
    * `raw`, folds the norm aggregate into the materializing action, and
    * divides by the collected scalar — one job per step, linear plan,
    * no recomputation. The norm double and the division are the
    * identical expressions, so the result stays bit-identical to the
    * DuckDB mirror.
    */
  def fixedIter(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nbrs = graft.core.Lineage.truncatePartitioned(
      Edges.neighbors(edges).repartition(p, col("id")))
    val verts = nbrs.select(col("id")).distinct()
    var x = verts.select(col("id"), lit(1.0).as("score"))
    var prevRaw: DataFrame = null
    for (_ <- 1 to iters) {
      val msgs = nbrs.join(x, Seq("id"))
        .select(col("nbr").as("mid"), col("score"))
      val gathered = msgs.groupBy(col("mid"))
        .agg(graft.core.PortableSum.fixedSum(col("score"), 1e15).as("s"))
      val raw = graft.core.Lineage.truncateLazy(
        x.join(gathered, x("id") === gathered("mid"), "left")
          .select(x("id"), (col("score") + coalesce(col("s"), lit(0.0))).as("raw")))
      val normExpr =
        sqrt(graft.core.PortableSum.fixedSum(col("raw") * col("raw"), 1e10))
      // materializes `raw`; the previous step's frame is then dead.
      // Empty graph: the aggregate returns a null row — `raw` has no
      // rows either, so the (unused) scalar is irrelevant; guard the
      // getDouble instead of NPEing where the old lazy plan stayed empty
      val nrmRow = raw.agg(normExpr.as("nrm")).head()
      val nrm = if (nrmRow.isNullAt(0)) Double.NaN else nrmRow.getDouble(0)
      if (prevRaw != null) graft.core.Lineage.release(prevRaw)
      prevRaw = raw
      x = raw.select(col("id"), (col("raw") / DoubleParam(nrm)).as("score"))
    }
    x
  }
}
