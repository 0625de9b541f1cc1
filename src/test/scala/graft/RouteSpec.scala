package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.algos._
import graft.core.{Lineage, Route}
import graft.embed.{ForceLayout, SpectralInit}

/** The routing module: the local gate's cap boundary, its primitive
  * collect, the caches it leaves alone, and the partitioning a
  * truncatePartitioned frame keeps.
  */
class RouteSpec extends SparkSuite {

  private def isCached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  test("gate: a count equal to the cap goes local, cap + 1 goes distributed") {
    val e = edgesOf(K8)
    val n = e.count()
    Route.gate(e, n) match {
      case Route.Local(s, d) =>
        val want = e.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(s.zip(d).sorted.toSeq == want)
      case other => fail(s"count == cap should go local, got $other")
    }
    Route.gate(e, n - 1) match {
      case Route.Distributed(held, count) =>
        assert(count == n)
        assert(held.edges.count() == n)
        held.release()
      case other => fail(s"count == cap + 1 should go distributed, got $other")
    }
    // cap 0 on an empty frame: 0 <= 0, the local route with no rows
    Route.gate(edgesOf(Seq.empty), 0L) match {
      case Route.Local(s, d) => assert(s.isEmpty && d.isEmpty)
      case other => fail(s"an empty frame under cap 0 should go local, got $other")
    }
  }

  test("primitive collect matches collect() in order, empty partitions included") {
    val df = spark.range(0, 40, 1, 4)
      .where(col("id") < 10 || col("id") >= 30) // partitions 1 and 2 are empty
      .select(col("id").as("src"), ((col("id") * 7) % 13 - 6).as("dst"))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ == 0) == 2)
    val (s, d) = Route.collect(df)
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(s.zip(d).toSeq == want)
  }

  test("gated operators leave the caller's cached edge frame cached") {
    val g = graft.generators.Generators.ba(spark, 60, 2, 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def srcsOf(e: DataFrame) = graft.graph.Edges.vertices(e).where(col("id") % 3 === 0)
      .select(col("id").as("s"))
    val ops: Seq[(String, DataFrame => Any)] = Seq(
      "pagerank auto" -> (e => PageRank.runUndirected(spark, e).ranks.count()),
      "fixedIter portable" -> (e => PageRank.fixedIterUndirected(e, 3, portableSum = true).count()),
      "cc" -> (e => ConnectedComponents.run(spark, e).count()),
      "lpa" -> (e => LabelPropagation.run(spark, e, 2).count()),
      "triangles" -> (e => TriangleCount.globalCount(spark, e).head()),
      "spectral" -> (e => SpectralInit.run(spark, e, d = 2, maxIter = 5).count()),
      "layout" -> (e => ForceLayout.run(spark, e,
        SpectralInit.run(spark, e, d = 2, maxIter = 5), 1).count()),
      "closeness" -> (e => ApproxCloseness.run(spark, e, k = 4,
        explicitSources = Some(srcsOf(e))).count()),
      "betweenness" -> (e => ApproxBetweenness.run(spark, e, k = 4,
        explicitSources = Some(srcsOf(e))).count()))
    val evicted = ops.flatMap { case (name, op) =>
      val e = edgesOf(g).persist()
      e.count()
      try { op(e); if (isCached(e)) None else Some(name) } finally e.unpersist(false)
    }
    assert(evicted.isEmpty, "evicted the caller's cache: " + evicted.mkString(", "))
  }

  test("path centralities: the local hash sample is the distributed one") {
    val e = graft.generators.Generators.ba(spark, 150, 3, 19L)
    def asMap(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // closeness is a long distance sum and a fixed double expression, and
    // the portable betweenness sums are order-independent: with the same
    // sources both routes agree exactly
    val cl = asMap(ApproxCloseness.run(spark, e, k = 20))
    val cd = asMap(ApproxCloseness.run(spark, e, k = 20, localNbrRowCap = 0))
    assert(cl == cd)
    val bl = asMap(ApproxBetweenness.run(spark, e, k = 20, portableSum = true))
    val bd = asMap(ApproxBetweenness.run(spark, e, k = 20, portableSum = true,
      localNbrRowCap = 0))
    assert(bl == bd)
  }

  test("a truncatePartitioned frame joined on its key adds no exchange on its side") {
    // a session of its own: the broadcast threshold is off so the join
    // shuffles, and no other suite sees the setting
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val t = Lineage.truncatePartitioned(
      s.range(10000).select(col("id"), (col("id") % 97).as("v")).repartition(8, col("id")))
    val other = s.range(1000).select(col("id"), lit(1.0).as("w"))
    val j = t.join(other, Seq("id"))
    val plan = j.queryExecution.executedPlan.toString
    // one exchange, on the other side: the checkpoint kept hash(id, 8)
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1, plan)
    assert(j.count() == 1000)
    Lineage.release(t)
  }
}
