package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.{CheckpointManager, Lineage, Route}
import graft.generators.Generators

/** The distributed calls run their supersteps' jobs and little else: each
  * of PageRank's relational path, CC's star loop, LPA and the triangle
  * count runs in one small-regime scope, which leaves the session's
  * confs as it found them, and a `count()` of a frame whose rows the
  * engine counted as it materialized it runs no job.
  */
class DistributedJobsSpec extends SparkSuite {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Width = "spark.sql.shuffle.partitions"

  private def confs: (String, String) = (spark.conf.get(Aqe), spark.conf.get(Width))

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix)

  /** Whether each SQL execution `body` starts is planned adaptively. */
  private def adaptivePlans(body: => Any): Seq[Boolean] = {
    val seen = mutable.ArrayBuffer.empty[Boolean]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          seen.synchronized(seen += s.sparkPlanInfo.nodeName.startsWith("AdaptiveSparkPlan"))
        case _ =>
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    seen.synchronized(seen.toList)
  }

  private def pairs(df: DataFrame, value: String): Seq[(Long, Long)] =
    df.select("id", value).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("a hub-distributed-shaped sequence on BA(300, 3): jobs per call, confs restored") {
    val e = Generators.ba(spark, 300, 3, 29L).persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    // the input's stats, kept for its cache entry, as every pass of a
    // workload after its first finds them: each call routes with no job
    val held = Route.hold(e)
    Route.stats(held)
    held.release()
    val before = confs
    val root = tempDir("graft-jobs")
    try {
      val cm = new CheckpointManager(spark, root.toString)
      def pagerank(steps: Int): PageRank.Result = {
        val r = PageRank.runUndirected(spark, e, PageRank.Config(tol = 0.0, maxIter = steps,
          engine = "rel", checkpoint = Some(cm)))
        assert(r.ranks.count() == 300L)
        r
      }
      val calls = mutable.LinkedHashMap.empty[String, Int]
      val adaptive = mutable.LinkedHashMap.empty[String, Int]
      def call(name: String)(body: => Any): Unit = {
        var jobs = -1
        val plans = adaptivePlans { jobs = jobsRun(body) }
        calls(name) = jobs
        adaptive(name) = plans.count(identity)
        assert(confs == before, s"$name left the session at $confs")
      }
      call("pagerank")(pagerank(1))
      call("resume")(pagerank(2))
      var cc: DataFrame = null
      call("cc") { cc = ConnectedComponents.run(spark, e, localEdgeCap = 0L); assert(cc.count() == 300L) }
      var lpa: DataFrame = null
      call("lpa") { lpa = LabelPropagation.run(spark, e, 2, localEdgeCap = 0L); assert(lpa.count() == 300L) }
      var triangles = -1L
      call("triangles") { triangles = TriangleCount.globalCount(spark, e, localEdgeCap = 0L).head().getLong(0) }
      // every plan of every call ran in its scope
      assert(adaptive.values.forall(_ == 0), adaptive)
      // PageRank and its resume: the vertex table, the broadcast of the
      // start state (the persisted table or the loaded snapshot) and the
      // commit; CC: 4 rounds and the assignment; LPA: the adjacency and
      // 2 supersteps; triangles: the degree broadcast, the oriented table
      // and the count. No count() of an output runs a job.
      assert(calls == mutable.LinkedHashMap("pagerank" -> 3, "resume" -> 3, "cc" -> 5, "lpa" -> 3,
        "triangles" -> 3), calls)
      assert(pairs(cc, "component") == pairs(ConnectedComponents.run(spark, e), "component"))
      assert(pairs(lpa, "label") == pairs(LabelPropagation.run(spark, e, 2), "label"))
      assert(triangles == TriangleCount.globalCount(spark, e).head().getLong(0))
    } finally {
      e.unpersist(false)
      TempTree.delete(root)
    }
  }

  test("a call that throws inside its scope restores the session's confs") {
    val e = Generators.ba(spark, 300, 3, 31L)
    val before = confs
    for (run <- Seq[CheckpointManager => Any](
        cm => PageRank.runUndirected(spark, e, PageRank.Config(tol = 0.0, maxIter = 1,
          engine = "rel", checkpoint = Some(cm))),
        cm => ConnectedComponents.run(spark, e, checkpoint = Some(cm)))) {
      // a file where the checkpoint root was: the first commit fails
      val root = tempDir("graft-throws")
      val cm = new CheckpointManager(spark, root.toString)
      Files.delete(root)
      Files.write(root, Array[Byte](1))
      try {
        val plans = adaptivePlans(intercept[Exception](run(cm)))
        assert(plans.contains(false), "the call failed inside its scope")
        assert(confs == before)
      } finally Files.deleteIfExists(root)
    }
  }

  test("a call whose input is not small-regime keeps AQE on") {
    val e = Generators.ba(spark, 300, 3, 37L).persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    val width = spark.conf.get(Width)
    // at a session width of 1 the data-sized width is no narrower, so
    // smallRegime is None and the call runs at the session's confs
    spark.conf.set(Width, "1")
    try {
      assert(graft.core.LoopConf.smallRegime(spark, 2L * e.count()).isEmpty)
      for (run <- Seq[() => Any](
          () => ConnectedComponents.run(spark, e, localEdgeCap = 0L),
          // the count is computed in the call; its one-row frame is local
          () => TriangleCount.globalCount(spark, e, localEdgeCap = 0L))) {
        val plans = adaptivePlans(run())
        assert(plans.nonEmpty && plans.forall(identity), plans)
        assert(confs == ("true", "1"))
      }
    } finally {
      spark.conf.set(Width, width)
      e.unpersist(false)
    }
  }

  private def counted(df: DataFrame, jobs: Int => Boolean, want: Long): Unit = {
    var n = -1L
    val ran = jobsRun { n = df.count() }
    assert(n == want && jobs(ran), s"count $n in $ran jobs")
  }

  /** A truncate, a partitioned truncate, a commit's reread and a load of
    * one 1000-row frame (id, k = id % 7), with a cut of k = 3 committed.
    */
  private def withCounted(body: Seq[(DataFrame, Long)] => Unit): Unit = {
    val src = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
    val t = Lineage.truncate(src)
    val tp = Lineage.truncatePartitioned(src.repartition(3, col("k")))
    val root = tempDir("graft-counted")
    try {
      val cm = new CheckpointManager(spark, root.toString)
      val reread = cm.commit(0, src.where(col("k") =!= 3), Map.empty)
      body(Seq(t -> 1000L, tp -> 1000L, reread -> 857L, cm.load(0) -> 857L))
    } finally {
      Lineage.release(t)
      Lineage.release(tp)
      TempTree.delete(root)
    }
  }

  test("count() of a truncate, a partitioned truncate, a commit and a load runs no job") {
    withCounted(_.foreach { case (f, n) =>
      counted(f, _ == 0, n)
      counted(f.select("k"), _ == 0, n)
    })
  }

  test("anything else over a counted frame still counts with jobs") {
    import spark.implicits._
    val other = spark.sparkContext.parallelize(0L until 300L, 3).toDF("id")
    withCounted(_.foreach { case (f, n) =>
      val ks = f.collect().map(_.getLong(1))
      counted(f.where(col("k") === 0), _ > 0, ks.count(_ == 0).toLong)
      counted(f.limit(17), _ > 0, 17L)
      counted(f.join(other, "id"), _ > 0, f.collect().count(_.getLong(0) < 300L).toLong)
      val lazily = Lineage.truncateLazy(f.where(col("k") =!= 0))
      counted(lazily, _ > 0, ks.count(_ != 0).toLong)
      Lineage.release(lazily)
      assert(ks.length == n)
    })
  }

  /** Whether the blocks of the checkpoint `df` is are still held. */
  private def held(df: DataFrame): Boolean = {
    val rdd = df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }.get
    spark.sparkContext.getPersistentRDDs.contains(rdd.id)
  }

  test("release frees a checkpoint under a projection, never one a frame reads from") {
    import spark.implicits._
    val cp = Lineage.truncate(spark.range(0, 500, 1, 2).select(col("id"), (col("id") * 2).as("x")))
    val other = Seq(1L, 2L, 3L).toDF("id")
    Lineage.release(cp.join(other, "id"))
    assert(held(cp))
    assert(cp.agg(sum(col("x"))).head().getLong(0) == 249500L)
    Lineage.release(cp.select(col("x"), col("id")))
    assert(!held(cp))
  }

  test("distributed LPA and PageRank: zero supersteps return the start state, later ones " +
      "the driver kernel's labels") {
    val e = Generators.ba(spark, 300, 3, 41L)
    val ids = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
    assert(pairs(LabelPropagation.run(spark, e, 0, localEdgeCap = 0L), "label") ==
      pairs(ids.select(col("id"), col("id").as("label")), "label"))
    for (iters <- Seq(1, 2, 4))
      assert(pairs(LabelPropagation.run(spark, e, iters, localEdgeCap = 0L), "label") ==
        pairs(LabelPropagation.run(spark, e, iters), "label"), s"$iters iterations")
    // the start state is copied out of the vertex table the call releases
    val ranks = PageRank.runUndirected(spark, e, PageRank.Config(maxIter = 0, engine = "rel")).ranks
    assert(ranks.collect().map(_.getDouble(1)).toSeq == Seq.fill(300)(1.0 / 300))
  }
}

/** Test-side file helpers. */
private object TempTree {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally walk.close()
    }
}
