package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.algos.{ApproxBetweenness, ApproxCloseness, ConnectedComponents, LabelPropagation,
  PageRank, PageRankCsr, PathCentralities}
import graft.core.Route
import graft.embed.{ForceLayout, SpectralInit}
import graft.generators.Generators

/** Every driver-local per-vertex output is a [[Route.frame]]: counted with
  * no job, with the schema and the rows (same order) of the boxed
  * `Seq.toDF` local relation built from the same arrays, broadcast in a
  * join as that relation is.
  */
class OutputFrameSpec extends SparkSuite {

  private def cached(df: DataFrame): DataFrame = {
    val e = df.persist()
    e.count()
    e
  }

  /** The boxed local relation of `out`'s arrays: tuples through `toDF`. */
  private def boxed(out: DataFrame): DataFrame = {
    import spark.implicits._
    var cols: Option[Seq[Route.Column]] = None
    assert(jobsRun { cols = Route.collect(out, d = 2) } == 0, "not a Route.frame")
    cols.get match {
      case Seq(Route.Longs("id", ids), Route.Longs(c, v)) => ids.zip(v).toSeq.toDF("id", c)
      case Seq(Route.Longs("id", ids), Route.Doubles(c, v)) => ids.zip(v).toSeq.toDF("id", c)
      case Seq(Route.Longs("id", ids), Route.Vectors(c, v, d)) =>
        ids.indices.map(i => (ids(i), v.slice(i * d, (i + 1) * d))).toDF("id", c)
      case other => fail(s"unexpected columns $other")
    }
  }

  private def fields(df: DataFrame): Seq[(String, String, Boolean)] =
    df.schema.map(f => (f.name, f.dataType.catalogString, f.nullable))

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  /** The checks every builder site passes. */
  private def check(out: DataFrame, schema: Seq[(String, String, Boolean)]): Unit = {
    assert(fields(out) == schema)
    val ref = boxed(out)
    assert(out.schema == ref.schema)
    val rows = out.collect().toSeq
    assert(rows == ref.collect().toSeq)
    assert(rows.map(_.getLong(0)) == rows.map(_.getLong(0)).sorted, "ids ascend")
    assert(jobsRun(out.count()) == 0)
  }

  private val LongOut = (c: String) => Seq(("id", "bigint", false), (c, "bigint", false))
  private val DoubleOut = (c: String) => Seq(("id", "bigint", false), (c, "double", false))
  private val VectorOut = Seq(("id", "bigint", false), ("pos", "array<double>", true))

  private def sorted(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getLong(0)).toSeq

  test("CC and LPA outputs: no job to count, the distributed loops' rows") {
    val e = cached(Generators.ba(spark, 300, 3, 37L))
    try {
      val cc = ConnectedComponents.run(spark, e)
      check(cc, LongOut("component"))
      assert(cc.collect().toSeq == sorted(ConnectedComponents.run(spark, e, localEdgeCap = 0L)))
      val lpa = LabelPropagation.run(spark, e, 3)
      check(lpa, LongOut("label"))
      assert(lpa.collect().toSeq == sorted(LabelPropagation.run(spark, e, 3, localEdgeCap = 0L)))
    } finally e.unpersist(true)
  }

  test("PageRank outputs: portable kernel, CSR on driver and executor blocks") {
    val e = cached(Generators.ba(spark, 300, 3, 37L))
    try {
      val portable = PageRank.fixedIterUndirected(e, 5)
      check(portable, DoubleOut("rank"))
      assert(portable.collect().toSeq == sorted(PageRank.fixedIterUndirected(e, 5, localEdgeCap = 0L)))
      val local = PageRank.runUndirected(spark, e, PageRank.Config(maxIter = 5, tol = 0.0))
      assert(local.engine == "csr")
      check(local.ranks, DoubleOut("rank"))
      val rdd = PageRankCsr.run(spark, e, maxIter = 5).ranks
      check(rdd, DoubleOut("rank"))
      assert(local.ranks.collect().toSeq == rdd.collect().toSeq)
    } finally e.unpersist(true)
  }

  test("path centrality outputs: the nx oracles and the sampled driver twins") {
    val e = cached(Generators.ba(spark, 250, 3, 31L))
    try {
      check(PathCentralities.betweenness(spark, e), DoubleOut("score"))
      check(PathCentralities.closeness(spark, e), DoubleOut("score"))
      check(PathCentralities.load(spark, e), DoubleOut("score"))
      val closeness = ApproxCloseness.run(spark, e, k = 8)
      check(closeness, DoubleOut("closeness"))
      assert(closeness.collect().toSeq == sorted(ApproxCloseness.run(spark, e, k = 8, localNbrRowCap = 0)))
      val betweenness = ApproxBetweenness.run(spark, e, k = 8, portableSum = true)
      check(betweenness, DoubleOut("betweenness"))
      assert(betweenness.collect().toSeq ==
        sorted(ApproxBetweenness.run(spark, e, k = 8, portableSum = true, localNbrRowCap = 0)))
      check(ApproxBetweenness.run(spark, e, k = 8), DoubleOut("betweenness"))
    } finally e.unpersist(true)
  }

  test("spectral and layout outputs: the layout reads the spectral frame's arrays") {
    val e = cached(Generators.ba(spark, 120, 3, 23L))
    try {
      val init = SpectralInit.run(spark, e, d = 2, maxIter = 10)
      check(init, VectorOut)
      val pos = ForceLayout.run(spark, e, init, 3)
      check(pos, VectorOut)
      // the same start positions through a boxed collect give the same layout
      assert(pos.collect().toSeq == ForceLayout.run(spark, e, boxed(init), 3).collect().toSeq)
      check(ForceLayout.run(spark, e, init, 3, ForceLayout.Config(localInitEdgeCap = 0L)),
        VectorOut)
    } finally e.unpersist(true)
  }

  test("an empty output: zero rows, the same schema, no job to count") {
    val empty = edgesOf(Seq.empty)
    val init = SpectralInit.run(spark, empty, d = 2)
    check(init, VectorOut)
    assert(init.collect().isEmpty)
    val cc = ConnectedComponents.run(spark, empty)
    check(cc, LongOut("component"))
    assert(ForceLayout.run(spark, empty, init, 2).collect().isEmpty)
  }

  test("a join with a small table broadcasts the output") {
    import spark.implicits._
    val e = cached(Generators.ba(spark, 300, 3, 37L))
    try {
      // an RDD frame carries no size: only the output's statistics can
      // make the join a broadcast
      val other = spark.sparkContext.parallelize((0L until 300L).map(i => (i, i * 2)), 3)
        .toDF("id", "twice")
      for (out <- Seq(ConnectedComponents.run(spark, e), SpectralInit.run(spark, e, d = 2, maxIter = 5))) {
        val joined = out.join(other, "id")
        assert(joined.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
          joined.queryExecution.sparkPlan.treeString)
        assert(joined.count() == 300L)
      }
    } finally e.unpersist(true)
  }

  test("an output of more than one slice keeps ascending row order across partitions") {
    import org.apache.spark.sql.functions.col
    // a path on 100,001 vertices: two slices of 50,000 rows or more
    val e = cached(spark.range(100000L).select(col("id").as("src"), (col("id") + 1).as("dst")))
    try {
      val cc = ConnectedComponents.run(spark, e)
      assert(cc.queryExecution.toRdd.getNumPartitions == 2)
      assert(ids(cc) == (0L to 100000L))
      assert(cc.collect().forall(_.getLong(1) == 0L))
      assert(cc.count() == 100001L)
    } finally e.unpersist(true)
  }
}
