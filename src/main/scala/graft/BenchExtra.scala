package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

import graft.core.GraftSession

/** Extra (non-contract) benchmark: per-query noop-sink isolation plus
  * job/stage counts — the guide §1.4/§1.5 measurement harness for the
  * optimization rounds. Does NOT replace graft.Bench (the frozen driver
  * contract); numbers from here are cited in OPTIMIZATION_r*.md only.
  *
  * Usage: sbt "runMain graft.BenchExtra [queryName ...]"
  *   env SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS
  */
object BenchExtra {

  private final class Counter extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)

    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q_pagerank", "q_cc", "q_triangles", "q_lpa", "q_closeness",
        "q_betweenness", "q_edges", "q_pagerank_links", "q_dedup_exact",
        "q_minhash_dedup", "q_ann_topk", "q_ann_lsh", "q_ann_ivf",
        "q_embedding_dedup", "q_events_sessions", "q_rel_agg",
        "q_spearman_deg_pr", "q_embed_radii")

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s((s.length - 1) / 2)
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      // action mode: "noop" (default — computes every column, guide
      // §1.4) or "count" (exactly what the frozen graft.Bench times;
      // the optimizer may prune compute under it)
      val useCount = sys.env.get("SPARK_GRAFT_EXTRA_ACTION").contains("count")
      def onePass(): (Double, Int, Int, Int) = {
        counter.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (useCount) df.count()
        else df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(50) // let listener events drain
        (secs, counter.jobs.get, counter.stages.get, counter.tasks.get)
      }
      onePass() // warm-up
      val passes = (1 to reps).map(_ => onePass())
      val med = median(passes.map(_._1))
      val last = passes.last
      println(f"EXTRA $name%-20s med=${med}%7.3fs jobs=${last._2}%3d " +
        f"stages=${last._3}%3d tasks=${last._4}%5d " +
        passes.map(p => f"${p._1}%.2f").mkString("[", ",", "]"))
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
