package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.algos.PageRank
import graft.core.{CheckpointManager, Route}
import graft.generators.Generators

/** Resumability contract (north_rule): kill at iteration k, resume,
  * identical final scores; manifests carry per-partition lineage.
  */
class CheckpointSpec extends SparkSuite {

  test("PageRank resumes mid-algorithm to identical scores") {
    val e = Generators.er(spark, 200, 0.04, 5L)
    // uninterrupted reference run
    // engine pinned: the resume contract is "identical scores from the
    // SAME engine" — checkpointed runs always use the relational plan,
    // so the uninterrupted reference must too
    val full = PageRank.runUndirected(spark, e,
      PageRank.Config(maxIter = 40, engine = "rel"))
    val expect = full.ranks.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // interrupted run: stop after 3 iterations, then resume
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val cm1 = new CheckpointManager(spark, dir)
    PageRank.runUndirected(spark, e,
      PageRank.Config(maxIter = 3, checkpoint = Some(cm1)))
    assert(cm1.latestIteration().contains(2))

    val cm2 = new CheckpointManager(spark, dir)
    val resumed = PageRank.runUndirected(spark, e,
      PageRank.Config(maxIter = 40, checkpoint = Some(cm2)))
    val got = resumed.ranks.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == expect.size)
    expect.foreach { case (id, v) =>
      assert(math.abs(got(id) - v) < 1e-12, s"vertex $id: ${got(id)} vs $v")
    }
  }

  test("a converged PageRank run resumes as a no-op") {
    val e = Generators.er(spark, 200, 0.04, 5L)
    def ranks(r: PageRank.Result) = r.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val dir = Files.createTempDirectory("graft-ckpt-done").toString
    val full = PageRank.runUndirected(spark, e,
      PageRank.Config(maxIter = 100, checkpoint = Some(new CheckpointManager(spark, dir))))
    val want = ranks(full)
    assert(full.iterations < 100, "the first run converged")
    val cm = new CheckpointManager(spark, dir)
    assert(cm.latestIteration().contains(full.iterations - 1))
    var resumed: PageRank.Result = null
    val jobs = jobsRun { resumed = PageRank.runUndirected(spark, e,
      PageRank.Config(maxIter = 100, checkpoint = Some(cm))) }
    // the input gate's row count is all it runs: no vertex table, no superstep
    assert(jobs == jobsRun { val h = Route.hold(e); Route.stats(h); h.release() })
    assert(resumed.iterations == full.iterations)
    assert(resumed.err == full.err)
    assert(cm.latestIteration().contains(full.iterations - 1), "no superstep was committed")
    assert(ranks(resumed) == want)
  }

  test("manifest records lineage, partitions, metrics") {
    // P10 does not converge within 2 iterations, so both manifests exist
    val e = edgesOf(P10)
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    val cm = new CheckpointManager(spark, dir)
    PageRank.runUndirected(spark, e,
      PageRank.Config(maxIter = 2, checkpoint = Some(cm)))
    val m0 = cm.manifestJson(0)
    val m1 = cm.manifestJson(1)
    assert(m0.contains("\"iteration\":0") && m0.contains("\"parent\":null"))
    assert(m1.contains("\"parent\":0"))
    assert(m0.contains("\"partitions\":[{\"file\":"))
    assert(m0.contains("\"err\":"))
    assert(m0.contains("\"rows\":10"))
  }

  test("ForceLayout resumes mid-layout to identical radii") {
    val e = Generators.ba(spark, 80, 2, 3L)
    val init = graft.embed.SpectralInit.run(spark, e, d = 2, maxIter = 10)
    // both routes: broadcast state (default) and relational (no vertex
    // frame is broadcast at 0)
    for (cfg <- Seq(graft.embed.ForceLayout.Config(d = 2),
        graft.embed.ForceLayout.Config(d = 2, broadcastVertices = 0L))) {
      // uninterrupted reference run WITH per-iteration checkpoints (the
      // parquet roundtrip is on both paths; compare within float-merge
      // jitter — Spark's partial-aggregate merge order varies run to
      // run, so double sums are reproducible only to ~1e-12 relative)
      val dirFull = Files.createTempDirectory("graft-fl-full").toString
      val full = graft.embed.ForceLayout.run(spark, e, init, 4,
        cfg.copy(checkpoint = Some(new CheckpointManager(spark, dirFull)),
          checkpointInterval = 1))
      val expect = graft.embed.ForceLayout.radii(full).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap

      // killed after 2 iterations, resumed to 4 from the same dir
      val dir = Files.createTempDirectory("graft-fl-ckpt").toString
      graft.embed.ForceLayout.run(spark, e, init, 2,
        cfg.copy(checkpoint = Some(new CheckpointManager(spark, dir)),
          checkpointInterval = 1))
      val cm2 = new CheckpointManager(spark, dir)
      assert(cm2.latestIteration().contains(1))
      val resumed = graft.embed.ForceLayout.run(spark, e, init, 4,
        cfg.copy(checkpoint = Some(cm2), checkpointInterval = 1))
      val got = graft.embed.ForceLayout.radii(resumed).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.size == expect.size)
      expect.foreach { case (id, v) =>
        assert(math.abs(got(id) - v) <= 1e-9 * math.max(1.0, math.abs(v)),
          s"broadcastVertices ${cfg.broadcastVertices}, vertex $id: ${got(id)} vs $v")
      }
    }
  }

  test("resume() loads the latest committed snapshot") {
    val dir = Files.createTempDirectory("graft-ckpt3").toString
    val cm = new CheckpointManager(spark, dir)
    import spark.implicits._
    cm.commit(0, Seq((1L, 0.5)).toDF("id", "rank"), Map("err" -> 1.0))
    cm.commit(1, Seq((1L, 0.6)).toDF("id", "rank"), Map("err" -> 0.5))
    val (iter, snap) = cm.resume().get
    assert(iter == 1)
    assert(snap.collect().head.getDouble(1) == 0.6)
  }

  private def manifestRows(json: String): Long =
    "\"rows\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toLong

  test("commit runs one job and counts rows from the Parquet footers") {
    val dir = Files.createTempDirectory("graft-ckpt4").toString
    val cm = new CheckpointManager(spark, dir)
    val df = spark.range(0, 40, 1, 4)
      .where(col("id") < 10 || col("id") >= 30) // partitions 1 and 2 are empty
      .select(col("id"), (col("id") * 0.5).as("rank"))
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ == 0) == 2)
    var reread: org.apache.spark.sql.DataFrame = null
    assert(jobsRun { reread = cm.commit(0, df, Map("err" -> 1.0)) } == 1)
    assert(manifestRows(cm.manifestJson(0)) == df.count())
    assert(reread.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    assert(reread.collect().sortBy(_.getLong(0)).toSeq == df.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("a manifest without its schema still resumes") {
    val dir = Files.createTempDirectory("graft-ckpt5").toString
    val cm = new CheckpointManager(spark, dir)
    import spark.implicits._
    cm.commit(0, Seq((1L, 0.5), (2L, 0.25)).toDF("id", "rank"), Map("err" -> 1.0))
    val withSchema = cm.resume().get._2.collect().toSeq
    val manifest = Paths.get(dir, "manifest-0.json")
    val json = new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8)
    val stripped = json.replaceAll("\"schema\":\\{.*\\},\n", "")
    assert(stripped != json && !stripped.contains("schema"))
    Files.write(manifest, stripped.getBytes(StandardCharsets.UTF_8))
    val (iter, snap) = new CheckpointManager(spark, dir).resume().get
    assert(iter == 0)
    assert(snap.collect().toSeq == withSchema)
  }

  test("a checkpointed fixed-superstep PageRank superstep runs at most 11 jobs") {
    val e = Generators.ba(spark, 2000, 3, 7L).persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    try {
      def ranks(r: PageRank.Result) = r.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val want = ranks(PageRank.runUndirected(spark, e,
        PageRank.Config(tol = 0.0, maxIter = 1, engine = "rel")))
      val cm = new CheckpointManager(spark, Files.createTempDirectory("graft-ckpt6").toString)
      var r: PageRank.Result = null
      val jobs = jobsRun {
        r = PageRank.runUndirected(spark, e, PageRank.Config(tol = 0.0, maxIter = 1,
          engine = "rel", checkpoint = Some(cm)))
        r.ranks.count()
      }
      assert(jobs <= 11, s"$jobs jobs")
      assert(cm.latestIteration().contains(0))
      assert(ranks(r) == want)
    } finally e.unpersist(false)
  }
}
