package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.{GraftSession, Lineage, Route}
import graft.embed.{CorrelationBench, Correlation, ForceLayout, SpectralInit}
import graft.generators.Generators
import graft.graph.Edges

/** No Spark job for what the driver already holds: a gate on a
  * materialized cache routes on the cache's row count and takes its
  * [[Route.Stats]] from the rows it collects, a `count()` of a
  * [[Route.frame]] result reads the arrays' length, the lineitem reader
  * takes its schema from a footer, and the correlation harness computes
  * its joined frame once.
  */
class KnownCountSpec extends SparkSuite {

  private def cachedEdgesOf(pairs: Seq[(Long, Long)]): DataFrame = {
    val e = edgesOf(pairs).persist()
    e.count()
    e
  }

  private def baPairs(n: Int, seed: Long): Seq[(Long, Long)] =
    Generators.ba(spark, n, 3, seed).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The stats aggregate, computed apart from `Route`. */
  private def aggregated(e: DataFrame): Route.Stats = {
    val r = e.agg(count(lit(1)), min(least(col("src"), col("dst"))),
      max(greatest(col("src"), col("dst")))).head()
    Route.Stats(r.getLong(0), if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
  }

  private def sharedStats(e: DataFrame): Route.Stats = {
    val held = Route.hold(e)
    try Route.stats(held) finally held.release()
  }

  test("a gate on a materialized cache under the cap runs only the collect") {
    for (pairs <- Seq(baPairs(300, 41L), Seq.empty[(Long, Long)])) {
      val e = cachedEdgesOf(pairs)
      try {
        var gate: Route.Gate = null
        // an empty cache has no partition to collect
        assert(jobsRun { gate = Route.gate(e, Route.LocalEdgeCap) } == (if (pairs.isEmpty) 0 else 1))
        val local = gate match {
          case l: Route.Local => l
          case other => fail(s"want the local route, got $other")
        }
        assert(local.src.length == e.count())
        var stats: Route.Stats = null
        assert(jobsRun { stats = sharedStats(e) } == 0)
        assert(stats == aggregated(e))
        // the next gate reads the shared rows
        assert(jobsRun(Route.gate(e, Route.LocalEdgeCap)) == 0)
      } finally e.unpersist(true)
    }
  }

  test("an unmaterialized cache is counted by the aggregate first") {
    val e = edgesOf(baPairs(200, 43L)).persist()
    try {
      var gate: Route.Gate = null
      // the aggregate (which builds the cache), then the collect
      assert(jobsRun { gate = Route.gate(e, Route.LocalEdgeCap) } > 1)
      assert(gate.isInstanceOf[Route.Local])
      assert(sharedStats(e) == aggregated(e))
    } finally e.unpersist(true)
  }

  test("a cache whose count is above the cap takes the aggregate, and no rows are kept") {
    val e = cachedEdgesOf(K8)
    try {
      val n = e.count()
      Route.gate(e, n - 1) match {
        case Route.Distributed(held, rows) =>
          assert(rows == n)
          held.release()
        case other => fail(s"a count of cap + 1 should go distributed, got $other")
      }
      assert(sharedStats(e) == aggregated(e))
      // the stats are shared but no rows were collected: a local gate now
      // runs the one collect
      assert(jobsRun(Route.gate(e, n)) == 1)
    } finally e.unpersist(true)
  }

  test("count() of a Route.frame runs no job; anything over it counts as before") {
    import spark.implicits._
    val ids = Array.tabulate(1000)(i => (i * 7L) % 1000)
    val f = Route.frame(spark, ids, Route.Doubles("x", ids.map(i => (i % 10).toDouble)))
    def counted(df: DataFrame, jobs: Int => Boolean, want: Long): Unit = {
      var n = -1L
      val ran = jobsRun { n = df.count() }
      assert(n == want && jobs(ran), s"count $n in $ran jobs")
    }
    counted(f, _ == 0, 1000L)
    counted(f.select("x"), _ == 0, 1000L)
    counted(f.where(col("x") > 4.5), _ > 0, 500L)
    counted(f.limit(17), _ > 0, 17L)
    counted(f.select("x").distinct(), _ > 0, 10L)
    val other = spark.sparkContext.parallelize(0L until 300L, 3).toDF("id")
    counted(f.join(other, "id"), _ > 0, 300L)
    val t = Lineage.truncate(f)
    try counted(t, _ == 0, 1000L) finally Lineage.release(t)
    assert(f.agg(count(lit(1)), sum(col("x"))).head() == Row(1000L, 4500.0))
  }

  test("a session without the rule counts a Route.frame with a job; tune adds the rule once") {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", Route.FrameCount.ruleName)
    val f = Route.frame(s, Array(3L, 1L, 2L), Route.Longs("c", Array(0L, 0L, 1L)))
    var n = -1L
    assert(jobsRun { n = f.count() } > 0)
    assert(n == 3L)
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraOptimizations.contains(Route.FrameCount))
    GraftSession.tune(GraftSession.tune(fresh))
    assert(fresh.experimental.extraOptimizations.count(_ eq Route.FrameCount) == 1)
  }

  /** Rows of a frame, sorted as strings. */
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("the lineitem reader takes its schema from the footer: no job, the inferred read") {
    val dir = Files.createTempDirectory("graft-footer")
    // one file written without Spark, so without Spark's row metadata
    val single = dir.resolve("one.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 l_orderkey; optional int32 l_partkey; optional binary l_comment (UTF8); }")
    val writer = ExampleParquetWriter.builder(new Path(single)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 50).foreach { i =>
      val g = groups.newGroup().append("l_orderkey", i * 3L)
      if (i % 7 != 0) g.append("l_partkey", i * 11 % 17).append("l_comment", s"line $i")
      writer.write(g)
    } finally writer.close()
    // a Spark-written directory of part files, with its _SUCCESS and .crc files
    val parts = dir.resolve("parts").toString
    spark.range(0, 400, 1, 3).select(col("id").as("l_orderkey"), (col("id") * 13 % 101).as("l_partkey"),
      struct(col("id").cast("string").as("s")).as("nested")).write.parquet(parts)
    for (path <- Seq(single, parts)) {
      val inferred = spark.read.parquet(path)
      var read: DataFrame = null
      assert(jobsRun { read = Edges.readParquet(spark, path) } == 0, path)
      assert(read.schema == inferred.schema, path)
      assert(rowsOf(read) == rowsOf(inferred), path)
    }
    // fromLineitem over the part-file directory builds its frame with no job
    Files.move(dir.resolve("parts"), dir.resolve("lineitem.parquet"))
    var e: DataFrame = null
    assert(jobsRun { e = Edges.fromLineitem(spark, dir.toString, 40L) } == 0)
    assert(rowsOf(e) == rowsOf(Edges.canonicalize(spark.read.parquet(dir.resolve("lineitem.parquet").toString)
      .select((col("l_orderkey") % 40L).as("src"), (col("l_partkey") % 40L).as("dst")))))
  }

  test("a web-local-shaped sequence: one job to route PageRank, none for the kernels after it") {
    val dir = Files.createTempDirectory("graft-lineitem")
    // every id 0 until 500 has an order key, so the id space is dense
    spark.range(3000).select(col("id").as("l_orderkey"), (col("id") * 7919 % 397).as("l_partkey"))
      .write.parquet(dir.resolve("lineitem.parquet").toString)
    var edges: DataFrame = null
    assert(jobsRun { edges = Edges.fromLineitem(spark, dir.toString, 500L) } == 0)
    val e = edges.persist()
    e.count()
    try {
      var pr: PageRank.Result = null
      val calls = Seq(
        "pagerank" -> jobsRun { pr = PageRank.runUndirected(spark, e); pr.ranks.count() },
        "cc" -> jobsRun(ConnectedComponents.run(spark, e).count()),
        "lpa" -> jobsRun(LabelPropagation.run(spark, e, 5).count()),
        "triangles" -> jobsRun(TriangleCount.globalCount(spark, e).head()),
        "spectral" -> jobsRun(SpectralInit.run(spark, e, d = 2, gramTol = 1e-6).count()),
        "layout" -> jobsRun(ForceLayout.run(spark, e, SpectralInit.run(spark, e, d = 2, gramTol = 1e-6),
          1).count()))
      assert(pr.engine == "csr")
      assert(calls == Seq("pagerank" -> 1, "cc" -> 0, "lpa" -> 0, "triangles" -> 0, "spectral" -> 0,
        "layout" -> 0))
    } finally e.unpersist(true)
  }

  test("runDetailed computes the joined frame once: every rho and the count read it") {
    import spark.implicits._
    val e = Lineage.truncate(Generators.ba(spark, 120, 3, 53L))
    val computed = spark.sparkContext.longAccumulator("extra partitions")
    val extra = spark.sparkContext.parallelize(0L until 120L, 3)
      .mapPartitions { it => computed.add(1L); it.map(i => (i, (i * 37 % 11).toDouble)) }
      .toDF("id", "extra")
    try {
      val (rep, joined) = CorrelationBench.runDetailed(spark, e, d = 2, layoutIters = 2,
        extraCentralities = Map("extra" -> extra))
      assert(computed.value == 3L, "each partition of the plan computed once")
      for ((m, rho) <- rep.correlations)
        assert(java.lang.Double.compare(Correlation.spearman(joined, "radius", m), rho) == 0, m)
      assert(jobsRun(assert(joined.count() == 120L)) == 0)
      assert(computed.value == 3L, "reads of the returned frame compute nothing upstream")
      Lineage.release(joined)
    } finally Lineage.release(e)
  }
}
