package linkbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.{ConnectedComponents, TriangleCount}

class ChecksSpec extends AnyFunSuite {

  // two triangles {1,2,3} and {10,11,12} joined by the edge 3-10, plus a
  // separate edge 20-21
  private val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
    (3L, 10L), (20L, 21L))
  private val g = Graph.fromPairs(pairs.map(_._1).toArray, pairs.map(_._2).toArray)

  test("reference answers on a small graph") {
    assert(g.ids.toSeq == Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L))
    assert(Reference.components(g).toSeq == Seq(1L, 1L, 1L, 1L, 1L, 1L, 20L, 20L))
    assert(Reference.triangles(g) == 2L)
    val ranks = Reference.pagerank(g, 0.85, 1e-6, 100)
    assert(math.abs(ranks.last.sum - 1.0) < 1e-9)
    assert(ranks.last(6) == ranks.last(7)) // the two ends of 20-21
    // vertex 1's neighbours 2 and 3 have labels 2 and 3 tied: the smaller wins
    assert(Reference.labelPropagation(g, 1)(0) == 2L)
    assert(Reference.spearman(Array(1.0, 2.0, 3.0), Array(10.0, 20.0, 30.0)) == 1.0)
  }

  test("a wrong label fails its check and raises ops_failed") {
    val want = Reference.components(g)
    val right = g.ids.zip(want)
    val wrong = right.updated(4, (g.ids(4), 11L))
    val checks = new Checks
    checks.begin("algos.cc")
    checks.expect(Compare.exact("components", right, g.ids, want))
    assert(checks.failed == 0)
    checks.begin("algos.cc")
    checks.expect(Compare.exact("components", wrong, g.ids, want))
    assert(checks.failed == 1 && checks.attempted == 2) // ops_failed = 0.5
    assert(checks.failures.head.contains("id 11 has 11, want 1"))
  }

  test("ranks off by more than the tolerance fail; a call counts once") {
    val want = Reference.pagerank(g, 0.85, 1e-6, 100).last
    val got = g.ids.zip(want)
    assert(Compare.close("ranks", got, g.ids, want).isEmpty)
    val off = got.updated(0, (g.ids(0), want(0) * (1 + 1e-5)))
    val checks = new Checks
    checks.begin("algos.pagerank")
    checks.expect(Compare.close("ranks", off, g.ids, want))
    checks.expect(Compare.equal("supersteps", 7, 8))
    assert(checks.attempted == 1 && checks.failed == 1)
    assert(checks.failures.length == 2)
    assert(Compare.close("ranks", got.take(3), g.ids, want).get.contains("3 rows"))
    assert(Compare.exact("x", Array((1L, 1L), (1L, 1L)), Array(1L, 2L), Array(1L, 1L))
      .get.contains("twice"))
  }

  test("a run whose engine output disagrees with the reference reports it") {
    val spark = SparkSession.builder().master("local[2]").appName("linkbench-test")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    val work = Files.createTempDirectory("linkbench-test")
    try {
      import spark.implicits._
      val edges = pairs.toDF("src", "dst")
      // correct components, but a triangle count that is off by one
      val wrongCount = new Workload {
        val name = "wrong-count"
        def setup(s: SparkSession, seed: Long, dir: Path): Prepared = new Prepared {
          def pass(p: Pass): Unit = {
            val cc = p.call("algos.cc")(ConnectedComponents.run(s, edges))
            p.expect(Compare.exact("components", Workloads.longs(cc, "component"), g.ids,
              Reference.components(g)))
            val t = p.call("algos.triangles")(TriangleCount.globalCount(s, edges).head().getLong(0))
            p.expect(Compare.equal("triangles", t, Reference.triangles(g) + 1))
          }
          def release(): Unit = ()
        }
      }
      val line = Main.run(spark, wrongCount,
        Main.Opts("wrong-count", 1L, 0.0, trace = false, work, None, 2))
      // the warm-up passes and three measured passes, two calls each: the
      // triangle call fails in every one
      val passes = Main.WarmUpPasses + Main.MinPasses
      assert(line.startsWith(
        s"""{"correct": false, "attempted": ${2 * passes}, "failed": $passes, """))
      assert(line.contains("\"pass_s\""))
    } finally {
      spark.stop()
      Workloads.deleteTree(work)
    }
  }
}
