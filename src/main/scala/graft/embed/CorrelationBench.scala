package graft.embed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos.{EigenvectorCentrality, PageRank}
import graft.core.DetRandom
import graft.graph.Edges

/** The benchmark harness — Spark re-expression of
  * graphem.benchmark.run_benchmark / benchmark_correlations
  * (/root/reference/graphem/benchmark.py:15-199): embed the graph,
  * compute radii, and report the Spearman correlation of radius against
  * each engine-computable centrality (degree, PageRank, eigenvector).
  * Path-based centralities (betweenness/closeness/load) are oracle-only
  * in the reference's own benches for n >= 5000
  * (/root/reference/run_benchmarks.py:312-314) and are accepted here as
  * optional precomputed columns.
  */
object CorrelationBench {

  case class Report(
      n: Long, m: Long,
      layoutSecs: Double,
      correlations: Map[String, Double],
      pValues: Map[String, Double])

  def run(spark: SparkSession, edges: DataFrame,
          d: Int = 3, layoutIters: Int = 20,
          layoutCfg: ForceLayout.Config = null,
      extraCentralities: Map[String, DataFrame] = Map()): Report = {
    val (report, joined) = runDetailed(spark, edges, d, layoutIters, layoutCfg, extraCentralities)
    graft.core.Lineage.release(joined)
    report
  }

  /** Like [[run]] but also returns the per-vertex
    * (id, radius, measure...) frame behind the correlations — the exact
    * input the reference hands to plot_radial_vs_centrality
    * (/root/reference/graphem/visualization.py:93-127); [[graft.viz.Plots]]
    * renders it headlessly. The frame is small (one row per vertex) and
    * materialized once ([[graft.core.Lineage.truncate]]): every measure's
    * rho and the row count read it, not the plan behind it, and it stays
    * readable after `edges` is unpersisted, until the caller hands it to
    * [[graft.core.Lineage.release]].
    */
  def runDetailed(spark: SparkSession, edges: DataFrame,
          d: Int = 3, layoutIters: Int = 20,
          layoutCfg: ForceLayout.Config = null,
      extraCentralities: Map[String, DataFrame] = Map()): (Report, DataFrame) = {
    // benchmark.py:15-16 defaults; the config's dimension FOLLOWS the
    // `d` argument unless an explicit config overrides it (a d=2 call
    // with the old hardcoded d=3 default read past the position arrays)
    val cfg = Option(layoutCfg).getOrElse(ForceLayout.Config(d = d,
      lMin = 10.0, kAttr = 0.5, kInter = 0.1, nNeighbors = 15,
      sampleSize = 512))
    val e = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e.count()
    val n = Edges.vertices(e).count()

    val t0 = System.nanoTime()
    // layout-refinement path: 1e-6 gram stop (see SpectralInit scaladoc)
    val init = SpectralInit.run(spark, e, d, gramTol = 1e-6)
    val pos = ForceLayout.run(spark, e, init, layoutIters, cfg)
    val layoutSecs = (System.nanoTime() - t0) / 1e9

    val radii = ForceLayout.radii(pos)
    val deg = Edges.degrees(e).select(col("id"), col("degree").cast("double"))
      .toDF("id", "degree")
    val pr = PageRank.runUndirected(spark, e).ranks
      .withColumnRenamed("rank", "pagerank")
    val eig = EigenvectorCentrality.runWithFallback(spark, e)
      .withColumnRenamed("score", "eigenvector")

    val joined = graft.core.Lineage.truncate(extraCentralities.foldLeft(
      radii.join(deg, "id").join(pr, "id").join(eig, "id")) { case (j, (name, df)) =>
      j.join(df.toDF("id", name), "id")
    })
    val measures = Seq("degree", "pagerank", "eigenvector") ++
      extraCentralities.keys
    val corrs = measures.map(mname =>
      mname -> Correlation.spearman(joined, "radius", mname)).toMap
    // scipy-parity (rho, p) per measure — benchmark.py:173-194. The
    // p-value's sample size is the JOINED row count, not the vertex
    // count: an extraCentralities frame that omits vertices (a sampled
    // estimator on a disconnected graph) shrinks the sample every rho
    // is computed over, and a p for a larger n would overstate
    // significance.
    val nRho = joined.count()
    val ps = corrs.map { case (mname, rho) =>
      mname -> graft.core.Stats.spearmanPValue(rho, nRho)
    }
    (Report(n, m, layoutSecs, corrs, ps), joined)
  }

  /** Bootstrap two-sided p-value for a Spearman correlation: the
    * percentile-bootstrap sign test (2x the smaller tail fraction of
    * resampled rho around 0) — the resampling companion of the
    * t-approximation p in `Report.pValues`, same seeded resamples as
    * `bootstrapCI`.
    */
  def bootstrapP(df: DataFrame, a: String, b: String,
                 replicates: Int = 200, seed: Long = 42): Double = {
    val reps = replicatesOf(Correlation.pairs(df, a, b).get, replicates, seed)
    if (reps.isEmpty) Double.NaN
    else {
      val le = reps.count(_ <= 0.0).toDouble / reps.length
      val ge = reps.count(_ >= 0.0).toDouble / reps.length
      math.min(1.0, 2.0 * math.min(le, ge))
    }
  }

  /** Bootstrap confidence interval for a Spearman correlation —
    * /root/reference/graphem/visualization.py:11-49: `replicates`
    * seeded resamples with replacement, percentile bounds. Test-scale
    * (collects the pairwise-complete pairs [[Correlation.spearman]] ranks
    * to the driver, as the reference collects its columns).
    */
  def bootstrapCI(df: DataFrame, a: String, b: String,
                  replicates: Int = 200, lo: Double = 2.5, hi: Double = 97.5,
                  seed: Long = 42): (Double, Double, Double) = {
    val rows = Correlation.pairs(df, a, b).get
    val point = Correlation.spearmanLocal(rows._1, rows._2)
    val reps = replicatesOf(rows, replicates, seed).sorted
    def pct(p: Double): Double =
      if (reps.isEmpty) Double.NaN
      else reps(math.min(reps.length - 1,
        math.max(0, math.round(p / 100.0 * (reps.length - 1)).toInt)))
    (point, pct(lo), pct(hi))
  }


  private def replicatesOf(rows: (Array[Double], Array[Double]), replicates: Int,
                           seed: Long): Seq[Double] = {
    val (xs, ys) = rows
    val rnd = new scala.util.Random(seed)
    (0 until replicates).map { _ =>
      val pick = Array.fill(xs.length)(rnd.nextInt(xs.length))
      Correlation.spearmanLocal(pick.map(xs), pick.map(ys))
    }.filterNot(_.isNaN)
  }
}
