package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, PageRankCsr}
import graft.core.Route
import graft.embed.{ForceLayout, SpectralInit}
import graft.generators.Generators

/** The CSR kernels on driver-built blocks (inputs a [[Route.gate]] holds)
  * against the same kernels on executor-built blocks: the same bits, and
  * no job once the rows are on the driver.
  */
class DriverBlocksSpec extends SparkSuite {

  private def cached(df: DataFrame): DataFrame = {
    val e = df.persist()
    e.count()
    e
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getLong(0)).toSeq

  test("PageRank on driver-built blocks equals PageRankCsr on executor-built blocks") {
    val e = cached(Generators.ba(spark, 400, 3, 31L))
    try {
      val local = PageRank.runUndirected(spark, e, PageRank.Config(tol = 1e-8))
      val rdd = PageRankCsr.run(spark, e, maxIter = 100, tol = 1e-8)
      assert(local.engine == "csr")
      assert(local.iterations == rdd.iterations && local.iterations > 1)
      assert(local.err == rdd.err)
      assert(rows(local.ranks) == rows(rdd.ranks))
      // fixed supersteps (tol 0) too
      val l5 = PageRank.runUndirected(spark, e, PageRank.Config(tol = 0.0, maxIter = 5))
      assert(rows(l5.ranks) == rows(PageRankCsr.run(spark, e, maxIter = 5).ranks))
    } finally e.unpersist(true)
  }

  test("PageRank's output frame keeps its schema") {
    val e = cached(edgesOf(K4))
    try {
      val r = PageRank.runUndirected(spark, e)
      assert(r.ranks.schema == PageRankCsr.run(spark, e, maxIter = 3).ranks.schema)
      assert(r.ranks.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
        Seq(("id", "bigint", false), ("rank", "double", false)))
      assert(rows(r.ranks).map(_.getLong(0)) == Seq(0L, 1L, 2L, 3L))
    } finally e.unpersist(true)
  }

  test("a sparse id space under the local cap still runs the relational engine") {
    val e = cached(edgesOf(Seq((0L, 2L), (2L, 5L), (5L, 0L))))
    try assert(PageRank.runUndirected(spark, e).engine == "rel")
    finally e.unpersist(true)
  }

  test("ForceLayout on driver-built blocks equals it on executor-built blocks") {
    val e = cached(Generators.ba(spark, 120, 3, 23L))
    try {
      val init = SpectralInit.run(spark, e, d = 2, maxIter = 10)
      def positions(cfg: ForceLayout.Config): Seq[(Long, Seq[Double])] =
        ForceLayout.run(spark, e, init, 3, cfg).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
      val driver = positions(ForceLayout.Config())
      assert(driver.length == 120)
      assert(driver == positions(ForceLayout.Config(localInitEdgeCap = 0L)))
    } finally e.unpersist(true)
  }

  test("PageRank, CC, LPA, SpectralInit and ForceLayout on one frame: one stats pass and " +
      "one collect in all") {
    val g = Generators.ba(spark, 300, 3, 37L)
    // the jobs of one stats pass and one edge collect: a first gate on a
    // cached copy of the same rows
    val probe = cached(g)
    val gateJobs = try jobsRun(Route.gate(probe, Route.LocalEdgeCap)) finally probe.unpersist(true)
    assert(gateJobs > 0)
    val e = cached(g)
    try {
      var pr: PageRank.Result = null
      var init: DataFrame = null
      val jobs = Seq(
        jobsRun { pr = PageRank.runUndirected(spark, e, PageRank.Config(tol = 1e-8)) },
        jobsRun(ConnectedComponents.run(spark, e)),
        jobsRun(LabelPropagation.run(spark, e, 3)),
        jobsRun { init = SpectralInit.run(spark, e, d = 2, maxIter = 10) },
        jobsRun(ForceLayout.run(spark, e, init, 2)))
      // PageRank ran many supersteps, none of them a job
      assert(pr.engine == "csr" && pr.iterations > 5)
      assert(jobs == Seq(gateJobs, 0, 0, 0, 0))
    } finally e.unpersist(true)
  }

  /** BA(200, 3) rows plus the reversed copy (b, a) of every fifth one,
    * cached in a scrambled collect order.
    */
  private def scrambled(): DataFrame = {
    import spark.implicits._
    val pairs = Generators.ba(spark, 200, 3, 41L).collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = new scala.util.Random(3L)
      .shuffle((pairs ++ pairs.indices.filter(_ % 5 == 0).map(i => pairs(i).swap)).toSeq)
    val e = cached(spark.sparkContext.parallelize(rows, 4).toDF("src", "dst"))
    val local = Route.gate(e, Route.LocalEdgeCap).asInstanceOf[Route.Local]
    assert(local.src.zip(local.dst).toSeq != rows.sorted, "collect order is sorted")
    e
  }

  test("PageRank on row blocks of the shared CSR equals PageRankCsr: scrambled rows, " +
      "reversed copies") {
    val e = scrambled()
    try {
      val local = PageRank.runUndirected(spark, e, PageRank.Config(tol = 1e-8))
      val rdd = PageRankCsr.run(spark, e, maxIter = 100, tol = 1e-8)
      assert(local.engine == "csr")
      assert(local.iterations == rdd.iterations && local.iterations > 1)
      assert(local.err == rdd.err)
      assert(rows(local.ranks) == rows(rdd.ranks))
    } finally e.unpersist(true)
  }

  test("ForceLayout on tagged driver row blocks equals it on executor blocks: scrambled rows, " +
      "reversed copies") {
    val e = scrambled()
    try {
      val init = SpectralInit.run(spark, e, d = 2, maxIter = 10)
      def positions(cfg: ForceLayout.Config): Seq[(Long, Seq[Double])] =
        ForceLayout.run(spark, e, init, 3, cfg).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
      val driver = positions(ForceLayout.Config())
      assert(driver.length == 200)
      assert(driver == positions(ForceLayout.Config(localInitEdgeCap = 0L)))
    } finally e.unpersist(true)
  }
}
