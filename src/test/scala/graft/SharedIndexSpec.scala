package graft

import org.apache.spark.sql.DataFrame

import graft.algos._
import graft.embed.Influence

/** Every driver-local kernel reads one index per edge input
  * (`Route.Local`): raw tables (repeated and reversed rows, self-loops,
  * negative ids) give the same results on the local and the
  * distributed routes, and a kernel on an input a gate already
  * collected runs no job for its adjacency.
  */
class SharedIndexSpec extends SparkSuite {

  /** A raw, uncanonicalized edge table. */
  private def rawOf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def asMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("triangle counts ignore self-loops on both routes") {
    val k3 = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    def count(pairs: Seq[(Long, Long)], cap: Long): Long =
      TriangleCount.globalCount(spark, rawOf(pairs), localEdgeCap = cap).head().getLong(0)
    for (cap <- Seq(graft.core.Route.TriangleEdgeCap, 0L)) {
      assert(count(Seq((0L, 0L)), cap) == 0L, s"a lone self-loop at cap $cap")
      assert(count(k3 :+ ((0L, 0L)), cap) == 1L, s"K3 plus a self-loop at cap $cap")
    }
  }

  test("path centralities on a raw table: the local route equals the distributed one") {
    // a repeated row, a reversed duplicate, a self-loop and negative ids
    val raw = rawOf(Seq((-3L, 1L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, -7L), (-7L, -7L),
      (-7L, 5L), (5L, 6L), (6L, -3L), (1L, 6L), (8L, 9L), (9L, 9L)))
    for (k <- Seq(4, 9)) {
      val cl = asMap(ApproxCloseness.run(spark, raw, k = k))
      val cd = asMap(ApproxCloseness.run(spark, raw, k = k, localNbrRowCap = 0))
      assert(cl == cd, s"closeness at k = $k")
      val pl = asMap(ApproxBetweenness.run(spark, raw, k = k, portableSum = true))
      val pd = asMap(ApproxBetweenness.run(spark, raw, k = k, portableSum = true,
        localNbrRowCap = 0))
      assert(pl == pd, s"portable betweenness at k = $k")
      val bl = asMap(ApproxBetweenness.run(spark, raw, k = k))
      val bd = asMap(ApproxBetweenness.run(spark, raw, k = k, localNbrRowCap = 0))
      assert(bl.keySet == bd.keySet)
      bl.foreach { case (id, v) =>
        assert(math.abs(v - bd(id)) <= 1e-9, s"betweenness of $id at k = $k: $v vs ${bd(id)}")
      }
    }
  }

  test("the oracles and Influence read the index a gate already collected: 0 jobs") {
    val e = edgesOf(graft.generators.Generators.ba(spark, 120, 3, 23L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq).persist()
    try {
      e.count()
      ConnectedComponents.run(spark, e).collect()
      var closeness: DataFrame = null
      assert(jobsRun { closeness = PathCentralities.closeness(spark, e) } == 0)
      var nbrs: Map[Long, Array[Long]] = null
      assert(jobsRun { nbrs = Influence.collectNeighbors(e) } == 0)
      assert(closeness.count() == 120L)
      assert(nbrs.size == 120 && nbrs.values.map(_.length).sum == 2 * e.count())
    } finally e.unpersist(true)
  }
}
