package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.algos.PathCentralities
import graft.embed.CorrelationBench
import graft.graph.Edges

/** Generator benchmark — the Spark re-expression of the reference's
  * generator bench (/root/reference/run_benchmarks.py:124-199): the
  * same 9 graph configurations (n = 500, seed = 42), each embedded with
  * the run_benchmark defaults (dim 3, 30 iterations, L_min = 10.0,
  * k_attr = 0.5, k_inter = 0.1, n_neighbors = 15, sample = 512 —
  * /root/reference/graphem/benchmark.py:15-16), then the full 6-measure
  * radius-vs-centrality Spearman matrix (degree, pagerank, eigenvector,
  * betweenness, closeness, load) with scipy-parity p-values. At n = 500
  * every config is far below the exact-centrality cutoff, so the
  * path-based measures use the driver-local nx-parity oracles — the
  * same regime the reference runs (all-exact networkx at n = 500).
  *
  * Constant-centrality configs (degree on the two random-regular
  * graphs) report NaN correlations, mirroring the reference's explicit
  * guard (run_benchmarks.py:172-180, quirk #10).
  *
  * Tables land via ResultsSink (CSV + Markdown + LaTeX + HTML) under
  * `<outDir>/generator_benchmarks*`, the committed-artifact counterpart
  * of the reference's save_results('generator_benchmarks', df).
  *
  * Run: sbt "runMain graft.GeneratorBench [outDir]"
  */
object GeneratorBench {

  case class ConfigRow(graphType: String, edges: SparkSession => DataFrame)

  /** The reference's 9 configs, run_benchmarks.py:124-134, seed 42. */
  def configs: Seq[ConfigRow] = {
    import graft.generators.Generators._
    Seq(
      ConfigRow("Erdos-Renyi", s => er(s, 500, 0.03, 42)),
      ConfigRow("Random Regular (d=3)", s => randomRegular(s, 500, 3, 42)),
      ConfigRow("Random Regular (d=5)", s => randomRegular(s, 500, 5, 42)),
      ConfigRow("Watts-Strogatz Small-World", s => ws(s, 500, 4, 0.1, 42)),
      ConfigRow("Barabasi-Albert", s => ba(s, 500, 2, 42)),
      ConfigRow("Stochastic Block Model", s => sbm(s, 125, 4, 0.3, 0.01, 42)),
      ConfigRow("Scale-Free", s => scaleFree(s, 500, seed = 42)),
      ConfigRow("Random Geometric", s => geometric(s, 500, 0.15, 42)),
      ConfigRow("Caveman", s => caveman(s, 20, 25)))
  }

  case class BenchRow(graphType: String, vertices: Long, edgesN: Long,
                      density: Double, avgDegree: Double, layoutSecs: Double,
                      corrs: Map[String, Double], pValues: Map[String, Double])

  val Measures: Seq[String] = Seq("degree", "pagerank", "eigenvector",
    "betweenness", "closeness", "load")

  private def slug(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .stripPrefix("_").stripSuffix("_")

  /** One config end-to-end: generate -> embed -> 6-measure matrix.
    * With `figuresDir` set, also renders the reference's two figures for
    * the config (visualization.py:93-127 scatter facets; report_corr's
    * rho + bootstrap-CI readout feeds the caller's [[graft.viz.Plots.ciFacets]]
    * chart via the returned CI rows).
    */
  def runConfig(spark: SparkSession, cfg: ConfigRow,
                iterations: Int = 30,
                figuresDir: Option[String] = None): (BenchRow, Seq[graft.viz.Plots.CiRow]) = {
    val e = cfg.edges(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = Edges.vertices(e).count()
    // n = 500 everywhere: exact path centralities, like the reference
    val extras: Map[String, DataFrame] = Map(
      "betweenness" -> PathCentralities.betweenness(spark, e),
      "closeness" -> PathCentralities.closeness(spark, e),
      "load" -> PathCentralities.load(spark, e))
    val (rep, perVertex) = CorrelationBench.runDetailed(spark, e, d = 3,
      layoutIters = iterations, extraCentralities = extras)
    val ciRows = figuresDir.map { dir =>
      graft.viz.Plots.scatterFacets(perVertex, "radius", Measures,
        s"$dir/radial_vs_centrality_${slug(cfg.graphType)}.svg",
        s"${cfg.graphType}: radial distance vs centrality (n=${rep.n}, m=${rep.m})")
      // report_corr's bootstrap CI (visualization.py:29-45) per measure —
      // driver-local over the 500-row frame, like the reference
      Measures.map { m =>
        val (rho, lo, hi) = CorrelationBench.bootstrapCI(perVertex, "radius", m)
        graft.viz.Plots.CiRow(cfg.graphType, m, rho, lo, hi)
      }
    }.getOrElse(Nil)
    graft.core.Lineage.release(perVertex)
    e.unpersist(false)
    // density / avg_degree exactly as the reference rows them
    // (run_benchmarks.py:155-162): m undirected edges over n vertices
    val density =
      if (rep.n > 1) 2.0 * rep.m / (rep.n.toDouble * (rep.n - 1)) else 0.0
    (BenchRow(cfg.graphType, rep.n, rep.m, density,
      2.0 * rep.m / math.max(1L, rep.n), rep.layoutSecs,
      rep.correlations, rep.pValues), ciRows)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("results")
    val iterations =
      sys.env.getOrElse("SPARK_GRAFT_GENERATOR_ITERS", "30").toInt
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // figures on by default (SPARK_GRAFT_FIGURES=0 to skip): the SVG
    // render is one extra agg + a <=2k-point collect per config
    val figuresDir =
      if (sys.env.getOrElse("SPARK_GRAFT_FIGURES", "1") == "0") None
      else Some(s"$outDir/figures")
    val all = configs.map { c =>
      System.err.println(s"[graft.GeneratorBench] ${c.graphType} ...")
      runConfig(spark, c, iterations, figuresDir)
    }
    val rows = all.map(_._1)
    figuresDir.foreach { dir =>
      graft.viz.Plots.ciFacets(all.flatMap(_._2),
        s"$dir/generator_correlations_ci.svg",
        "Generator benchmarks: radius-centrality Spearman rho with 95% bootstrap CI")
    }
    val measures = Measures
    val df = rows.map { r =>
      (r.graphType, r.vertices, r.edgesN, r.density, r.avgDegree,
        r.layoutSecs,
        r.corrs.get("degree"), r.corrs.get("pagerank"),
        r.corrs.get("eigenvector"), r.corrs.get("betweenness"),
        r.corrs.get("closeness"), r.corrs.get("load"),
        r.pValues.get("degree"), r.pValues.get("pagerank"),
        r.pValues.get("eigenvector"), r.pValues.get("betweenness"),
        r.pValues.get("closeness"), r.pValues.get("load"))
    }.toDF(Seq("graph_type", "vertices", "edges", "density", "avg_degree",
      "layout_secs") ++
      measures.map(m => s"corr_$m") ++ measures.map(m => s"p_$m"): _*)
    graft.core.ResultsSink.save(df, outDir, "generator_benchmarks")
    val json = rows.map { r =>
      val cs = r.corrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"graph_type":"${r.graphType}","n":${r.vertices},""" +
        s""""m":${r.edgesN},"layout_secs":${r.layoutSecs},""" +
        s""""correlations":{$cs}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"generator_bench","iterations":$iterations,""" +
      s""""results":$json}""")
    spark.stop()
  }
}
