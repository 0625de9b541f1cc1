package graft

import org.apache.spark.sql.DataFrame

import graft.embed.{ForceLayout, SpectralInit}
import graft.generators.Generators

/** ForceLayout's two routes: the broadcast-state superstep (position
  * frames up to `broadcastVertices` rows) against the relational one
  * (pinned with `broadcastVertices = 0`).
  */
class LayoutRouteSpec extends SparkSuite {

  private def radiiOf(pos: DataFrame): Map[Long, Double] =
    ForceLayout.radii(pos).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def assertRoutesAgree(e: DataFrame, init: DataFrame, cfg: ForceLayout.Config): Unit = {
    val bcast = radiiOf(ForceLayout.run(spark, e, init, 3, cfg))
    val rel = radiiOf(ForceLayout.run(spark, e, init, 3, cfg.copy(broadcastVertices = 0L)))
    assert(bcast.keySet == rel.keySet)
    assert(bcast.size == init.count())
    rel.foreach { case (id, v) =>
      assert(math.abs(bcast(id) - v) < 1e-9, s"v$id: ${bcast(id)} vs $v")
    }
  }

  test("layout routes agree: BA graph at d = 2 and d = 3") {
    val e = Generators.ba(spark, 120, 3, 23L).cache()
    for (d <- Seq(2, 3)) {
      val init = SpectralInit.run(spark, e, d = d, maxIter = 10)
      assertRoutesAgree(e, init, ForceLayout.Config(d = d))
      // the distributed init (Ids.dense + top-k sample job) feeds both
      if (d == 2) assertRoutesAgree(e, init, ForceLayout.Config(d = d, localInitEdgeCap = 0L))
    }
  }

  test("layout routes agree: negative ids and a vertex with no edges") {
    import org.apache.spark.sql.functions._
    val e = Generators.ba(spark, 120, 3, 29L)
      .select((col("src") - 60).as("src"), (col("dst") - 60).as("dst")).cache()
    val init = SpectralInit.run(spark, e, d = 2, maxIter = 10)
    import spark.implicits._
    // force 0 on both routes, but it still moves the z-score
    val lonely = Seq((1000L, Seq(3.0, -2.0))).toDF("id", "pos")
    assertRoutesAgree(e, init.union(lonely), ForceLayout.Config(d = 2))
  }

  test("layout routes agree: empty edge table is a pure z-score") {
    import spark.implicits._
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val pts = Seq(-3L -> Seq(1.0, 4.0), 5L -> Seq(2.0, -1.0), 7L -> Seq(0.5, 0.0))
    val init = pts.toDF("id", "pos")
    assertRoutesAgree(e, init, ForceLayout.Config(d = 2))
    // one superstep moves nothing, then normalizes per dimension
    val got = ForceLayout.run(spark, e, init, 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (j <- 0 until 2) {
      val xs = pts.map(_._2(j))
      val mean = xs.sum / xs.length
      val std = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
      pts.foreach { case (id, p) =>
        assert(math.abs(got(id)(j) - (p(j) - mean) / (std + 1e-6)) < 1e-12, s"v$id dim $j")
      }
    }
  }

  test("broadcast-state layout reruns are bit-identical") {
    val e = Generators.ba(spark, 150, 3, 31L)
    val init = SpectralInit.run(spark, e, d = 2, maxIter = 10)
    def run() = radiiOf(ForceLayout.run(spark, e, init, 3))
    assert(run() == run())
  }

  test("broadcast-state layout runs at most 2 stages per superstep") {
    val e = Generators.ba(spark, 150, 3, 37L).cache()
    e.count()
    val init = SpectralInit.run(spark, e, d = 2, maxIter = 10).cache()
    init.count()
    def stagesOf(iterations: Int): Int =
      stagesRun(ForceLayout.run(spark, e, init, iterations).count())
    val one = stagesOf(1)
    val three = stagesOf(3)
    assert((three - one) / 2.0 <= 2.0, s"1 superstep: $one stages, 3 supersteps: $three")
  }
}
