package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.algos._
import graft.core.{CheckpointManager, GraftSession}
import graft.generators.Generators

/** A warm session compiles nothing: Spark's codegen cache holds the
  * distributed loops' working set, and no superstep's generated code
  * depends on its iteration (a per-iteration scalar inlined as a `lit`
  * would compile new classes every superstep).
  */
class CodegenCacheSpec extends SparkSuite {

  /** Classes Spark compiles (driver and executor tasks) while `body` runs. */
  private def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private lazy val ba = Generators.ba(spark, 2000, 3, 301)
    .persist(StorageLevel.MEMORY_AND_DISK)

  override def afterAll(): Unit = {
    ba.unpersist(false)
    super.afterAll()
  }

  /** Compiles of `run(deep)` after a warm-up `run(shallow)` and a
    * measured one: (shallow, deep).
    */
  private def compilesAt(shallow: Int, deep: Int)(run: Int => Any): (Long, Long) = {
    run(shallow)
    (compiles(run(shallow)), compiles(run(deep)))
  }

  test("the engine's session sizes the codegen cache; tune warns below it") {
    assert(spark.conf.get(GraftSession.CodegenCacheConf) ==
      GraftSession.CodegenCacheEntries.toString)
    assert(GraftSession.codegenCacheWarning(GraftSession.CodegenCacheEntries).isEmpty)
    val w = GraftSession.codegenCacheWarning(100)
    assert(w.exists(_.contains(
      s"--conf spark.sql.codegen.cache.maxEntries=${GraftSession.CodegenCacheEntries}")), w)
  }

  test("a warm hub-distributed round compiles no class") {
    // linkbench's hub-distributed pass: relational PageRank with a
    // checkpoint and its resume, then CC, LPA and triangles pinned to
    // the distributed loops
    def round(): Unit = {
      val root = Files.createTempDirectory("graft-codegen")
      try {
        val cm = new CheckpointManager(spark, root.toString)
        for (steps <- Seq(1, 2))
          PageRank.runUndirected(spark, ba, PageRank.Config(tol = 0.0, maxIter = steps,
            engine = "rel", checkpoint = Some(cm))).ranks.count()
        ConnectedComponents.run(spark, ba, localEdgeCap = 0L).count()
        LabelPropagation.run(spark, ba, 2, localEdgeCap = 0L).count()
        TriangleCount.globalCount(spark, ba, localEdgeCap = 0L).head()
      } finally FileUtils.deleteDirectory(root.toFile)
    }
    round()
    val again = compiles(round())
    assert(again == 0L, s"the second round compiled $again classes")
  }

  test("directed PageRank on a graph with sinks compiles no class per superstep") {
    assert(ba.select("dst").except(ba.select("src")).count() > 0, "the graph has sinks")
    var iterations = 0
    val (shallow, deep) = compilesAt(3, 8) { k =>
      val r = PageRank.run(spark, ba, PageRank.Config(tol = 1e-12, maxIter = k))
      r.ranks.count()
      iterations = r.iterations
    }
    assert(iterations == 8)
    assert(deep <= shallow, s"8 supersteps compiled $deep classes, 3 compiled $shallow")
  }

  test("the power iterations compile no class per step") {
    val (runShallow, runDeep) = compilesAt(3, 8) { k =>
      EigenvectorCentrality.run(spark, ba, maxIter = k, tol = 0.0).scores.count()
    }
    assert(runDeep <= runShallow, s"run: 8 steps compiled $runDeep, 3 compiled $runShallow")
    val (fixedShallow, fixedDeep) = compilesAt(3, 8) { k =>
      EigenvectorCentrality.fixedIter(ba, k).count()
    }
    assert(fixedDeep <= fixedShallow,
      s"fixedIter: 8 steps compiled $fixedDeep, 3 compiled $fixedShallow")
  }

  test("distributed betweenness compiles no class per BFS level") {
    import spark.implicits._
    // a path from the source: level L holds vertex L
    val path = edgesOf((0L until 12L).map(i => (i, i + 1)))
    val source: DataFrame = Seq(0L).toDF("s")
    val (shallow, deep) = compilesAt(2, 8) { levels =>
      ApproxBetweenness.run(spark, path, k = 1, maxLevels = levels,
        explicitSources = Some(source), localNbrRowCap = 0L).count()
    }
    assert(deep <= shallow, s"8 levels compiled $deep classes, 2 compiled $shallow")
  }
}
