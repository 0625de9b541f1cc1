package graft

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Two-parallelism-level scaling evidence (north_rule: throughput
  * scaling efficiency >= 0.8 from N to 4N executors; no real cluster in
  * the sandbox, so the protocol from BASELINE.md applies: the same job
  * at local[8] vs local[32] on the same input, efficiency =
  * tput(32) / (4 * tput(8))).
  *
  * Run: sbt "runMain graft.ScalingBench [sfDir]"
  */
object ScalingBench {

  /** Same statistic as Bench.median: mean of the two middles when the
    * pass count is even (walls(n/2) alone would be the SLOWER middle,
    * biasing the efficiency ratio whenever the two levels have
    * different variance). Input must be sorted.
    */
  private def median(sorted: Seq[Double]): Double =
    if (sorted.length % 2 == 1) sorted(sorted.length / 2)
    else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2.0

  /** Fixed-superstep PageRank on a deterministic ~20M-edge ER graph —
    * large enough to be compute-bound on 32 cores, identical input at
    * both parallelism levels (hash-derived, partition-independent).
    * engine: "rel" = relational join+agg superstep (PageRank.run),
    * "csr" = shuffle-free CSR blocks + broadcast vector (PageRankCsr).
    */
  /** Returns (edges, median wall secs, median wall eps, median ENGINE
    * superstep eps). The engine eps excludes the one-time index build
    * (CSR assembly / link pre-shuffle) — the number the north rule's
    * "edges/sec per superstep" names, and the one that is amortized at
    * 100 TB where supersteps dominate. Wall secs keep the build visible.
    */
  private def runAt(cores: Int, nVerts: Long, p: Double,
                    supersteps: Int, engine: String = "rel"): (Long, Double, Double, Double) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // rank vectors are random doubles — incompressible; lz4 on the
      // per-superstep broadcast/shuffle is pure serial overhead here
      .config("spark.broadcast.compress", "false")
      .config("spark.shuffle.compress", "false")
      .config(GraftSession.CodegenCacheConf, GraftSession.CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = graft.generators.Generators.erSparse(spark, nVerts, p, 42)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = e.count()
    def onePass(): (Double, Double) = {
      val t0 = System.nanoTime()
      val engineEps =
        if (engine == "csr") {
          val r = graft.algos.PageRankCsr.run(spark, e, maxIter = supersteps)
          r.ranks.agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1))).head()
          r.edgesPerSecPerSuperstep
        } else {
          // engine pinned: this row MEASURES the relational join+agg
          // superstep — the auto CSR route would silently change what
          // the committed scaling matrix compares
          val r = graft.algos.PageRank.runUndirected(spark, e,
            graft.algos.PageRank.Config(tol = 0.0, maxIter = supersteps,
              engine = "rel"))
          r.ranks.agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1))).head()
          r.edgesPerSecPerSuperstep
        }
      ((System.nanoTime() - t0) / 1e9, engineEps)
    }
    onePass() // warm-up (JIT + codegen caches)
    // timed passes (median) — single-box runs are noisy (page cache, GC
    // phase, scheduler) and one outlier pass would swing the efficiency
    // ratio by 2x otherwise
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val passes = Seq.fill(nPasses)(onePass())
    val walls = passes.map(_._1).sorted
    val epss = passes.map(_._2).sorted
    val secs = median(walls)
    val engineEps = median(epss)
    spark.stop()
    System.err.println(f"[scaling] cores=$cores engine=$engine " +
      f"walls=${walls.map(p => f"$p%.1f").mkString(",")} " +
      f"engine_eps=${passes.map(p => f"${p._2 / 1e6}%.1fM").mkString(",")}")
    (m, secs, m.toDouble * supersteps / secs, engineEps)
  }

  /** Compute-bound control: brute-force cosine top-k (the exact-ANN
    * operator) over a deterministic hash-generated corpus. Arithmetic
    * intensity is ~25 FLOP/byte (|queries| fused-codegen cosines per
    * streamed corpus row), so unlike the PageRank superstep (whose
    * per-edge random gather saturates one socket's DRAM at ~290M eps —
    * BASELINE.md r3 matrix) this kernel measures whether the ENGINE
    * (scheduler, codegen, bounded-top-k partial agg) scales when the
    * substrate isn't the binding resource — i.e. the cluster N -> 4N
    * regime where each node brings its own memory channels.
    * Throughput = scored pairs/sec; input identical at both levels.
    */
  private def runCosineAt(cores: Int, nCorpus: Long, nQueries: Int,
                          d: Int): (Double, Double) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config(GraftSession.CodegenCacheConf, GraftSession.CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    // deterministic vectors in [-1, 1]: hash(id, dim) — generation is a
    // one-time cost excluded from the timed passes by the persist+count
    val emb = transform(sequence(lit(0), lit(d - 1)),
      j => (pmod(xxhash64(col("id"), j), lit(2001L)) - lit(1000L))
        .cast("double") / 1000.0)
    val corpus = spark.range(nCorpus).repartition(cores * 4)
      .select(col("id").as("vec_id"), emb.as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    corpus.count()
    val stride = math.max(1L, nCorpus / nQueries)
    val queries = corpus.where(col("vec_id") % stride === 0L)
      .limit(nQueries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val nq = queries.count()
    def onePass(): Double = {
      val t0 = System.nanoTime()
      graft.ann.Ann.bruteForceTopK(corpus, queries, 10)
        .agg(count(lit(1))).head()
      (System.nanoTime() - t0) / 1e9
    }
    onePass() // warm-up
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val walls = Seq.fill(nPasses)(onePass()).sorted
    val secs = ScalingBench.median(walls)
    val pairsPerSec = nCorpus.toDouble * nq / secs
    corpus.unpersist(false); queries.unpersist(false)
    spark.stop()
    System.err.println(f"[scaling] cores=$cores job=cosine " +
      f"walls=${walls.map(w => f"$w%.1f").mkString(",")}")
    (secs, pairsPerSec)
  }

  /** No args: both levels in one JVM (quick look — NOTE the low-core
    * level then still enjoys the full machine for GC/codegen/shuffle
    * threads, understating true scaling). With args "nVerts cores":
    * one level only, meant to be run under `taskset -c` so the JVM
    * really owns only that many CPUs — the honest N-core-host protocol
    * used for BASELINE.md. With args "cosine [cores]": the
    * compute-bound ANN control at one level ("cosine" alone runs 8
    * then 32 in one JVM — the prompt protocol local[8] vs local[32]).
    */
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("cosine")) {
      val nCorpus = sys.env.getOrElse("SPARK_GRAFT_COSINE_CORPUS", "2000000").toLong
      val nQueries = sys.env.getOrElse("SPARK_GRAFT_COSINE_QUERIES", "512").toInt
      val d = sys.env.getOrElse("SPARK_GRAFT_COSINE_D", "64").toInt
      if (args.length >= 2) {
        val cores = args(1).toInt
        val (s, pps) = runCosineAt(cores, nCorpus, nQueries, d)
        println(s"""{"metric":"cosine_topk","cores":$cores,"corpus":$nCorpus,""" +
          s""""queries":$nQueries,"d":$d,"secs":$s,"pairs_per_sec":$pps}""")
      } else {
        val (s8, pps8) = runCosineAt(8, nCorpus, nQueries, d)
        val (s32, pps32) = runCosineAt(32, nCorpus, nQueries, d)
        val eff = pps32 / (4.0 * pps8)
        println(s"""{"metric":"cosine_scaling_efficiency","value":$eff,""" +
          s""""corpus":$nCorpus,"queries":$nQueries,"d":$d,""" +
          s""""local8":{"secs":$s8,"pairs_per_sec":$pps8},""" +
          s""""local32":{"secs":$s32,"pairs_per_sec":$pps32}}""")
      }
      return
    }
    val nVerts = args.headOption.map(_.toLong).getOrElse(2000000L)
    // avg degree 2*nVerts*p: default 40 at 2M vertices — a
    // Common-Crawl-ish out-degree, and enough parallel work per
    // superstep that the per-superstep fixed cost doesn't dominate the
    // 8-vs-32-core comparison
    val p = sys.env.get("SPARK_GRAFT_ER_P").map(_.toDouble).getOrElse(2e-5)
    val supersteps = 8
    if (args.length >= 2) {
      val cores = args(1).toInt
      val engine = if (args.length >= 3) args(2) else "rel"
      require(engine == "rel" || engine == "csr", s"engine must be rel or csr, got $engine")
      val (m, s, eps, engineEps) = runAt(cores, nVerts, p, supersteps, engine)
      println(s"""{"metric":"pagerank_fixed8","engine":"$engine","cores":$cores,""" +
        s""""n_vertices":$nVerts,"edges":$m,"secs":$s,"eps":$eps,""" +
        s""""superstep_eps":$engineEps}""")
    } else {
      Seq("rel", "csr").foreach { engine =>
        val (m8, s8, eps8, se8) = runAt(8, nVerts, p, supersteps, engine)
        val (m32, s32, eps32, se32) = runAt(32, nVerts, p, supersteps, engine)
        val eff = se32 / (4.0 * se8)
        println(s"""{"metric":"scaling_efficiency","engine":"$engine","value":$eff,""" +
          s""""supersteps":$supersteps,"n_vertices":$nVerts,""" +
          s""""local8":{"edges":$m8,"secs":$s8,"eps":$eps8,"superstep_eps":$se8},""" +
          s""""local32":{"edges":$m32,"secs":$s32,"eps":$eps32,"superstep_eps":$se32}}""")
      }
    }
  }
}
