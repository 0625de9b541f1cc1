package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.algos._
import graft.core.{Lineage, Route}
import graft.embed.{ForceLayout, SpectralInit}

/** The routing module: the local gate's cap boundary, its primitive
  * collect, the state it shares between calls on one cached input, the
  * caches it leaves alone, and the partitioning a truncatePartitioned
  * frame keeps.
  */
class RouteSpec extends SparkSuite {

  private def isCached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  private def baPairs(n: Int, seed: Long): Seq[(Long, Long)] =
    graft.generators.Generators.ba(spark, n, 3, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def cachedEdgesOf(pairs: Seq[(Long, Long)]): DataFrame = {
    val e = edgesOf(pairs).persist()
    e.count()
    e
  }

  private def localOf(g: Route.Gate): Route.Local = g match {
    case l: Route.Local => l
    case other => fail(s"want the local route, got $other")
  }

  private def pairsOf(l: Route.Local): Seq[(Long, Long)] = l.src.zip(l.dst).sorted.toSeq

  /** The rows `edgesOf(pairs)` holds, sorted. */
  private def canonical(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.sorted

  /** Every array a local kernel reads, hashed. */
  private def checksum(l: Route.Local): Seq[Int] = {
    val (ids, s, d) = l.dense
    val (rowPtr, colIdx) = l.csr
    import java.util.Arrays.{hashCode => h}
    Seq(h(l.src), h(l.dst), h(ids), h(s), h(d), h(rowPtr), h(colIdx))
  }

  test("operators in sequence on one cached frame return what each returns alone") {
    val g = baPairs(300, 11L)
    def rows(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getLong(0)).toSeq
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "pagerank" -> (e => PageRank.runUndirected(spark, e).ranks),
      "cc" -> (e => ConnectedComponents.run(spark, e)),
      "lpa" -> (e => LabelPropagation.run(spark, e, 3)),
      "triangles" -> (e => TriangleCount.globalCount(spark, e)),
      "spectral" -> (e => SpectralInit.run(spark, e, d = 2, maxIter = 10)),
      "layout" -> (e => ForceLayout.run(spark, e,
        SpectralInit.run(spark, e, d = 2, maxIter = 10), 1)))
    val e = cachedEdgesOf(g)
    val shared = try {
      val local = localOf(Route.gate(e, Route.LocalEdgeCap))
      val before = checksum(local)
      val out = ops.map { case (name, op) => name -> rows(op(e)) }.toMap
      // the same arrays served the whole sequence, and none was written
      assert(Route.gate(e, Route.LocalEdgeCap) eq local)
      assert(checksum(local) == before)
      out
    } finally e.unpersist(true)
    ops.foreach { case (name, op) =>
      // re-cached: a new cache entry, so this call computes its own state
      val f = cachedEdgesOf(g)
      try assert(rows(op(f)) == shared(name), name) finally f.unpersist(true)
    }
  }

  test("the second gated operator on a cached input runs no job") {
    val g = baPairs(200, 13L)
    val e = cachedEdgesOf(g)
    try {
      assert(jobsRun(ConnectedComponents.run(spark, e)) > 0)
      // another frame over the same cache entry reads the shared state
      val same = edgesOf(g)
      assert(jobsRun(LabelPropagation.run(spark, same, 2)) == 0)
      assert(jobsRun(TriangleCount.globalCount(spark, same)) == 0)
    } finally e.unpersist(true)
  }

  test("a re-persisted source is collected again; an uncached input is never stored") {
    val dir = Files.createTempDirectory("graft-route").resolve("edges").toString
    edgesOf(K4).write.parquet(dir)
    val df = spark.read.parquet(dir).persist()
    df.count()
    assert(pairsOf(localOf(Route.gate(df, Route.LocalEdgeCap))) == canonical(K4))
    df.unpersist(true)
    edgesOf(K8).write.mode("overwrite").parquet(dir)
    df.persist()
    spark.catalog.refreshByPath(dir) // re-lists the source's files
    try {
      assert(df.count() == K8.size)
      assert(pairsOf(localOf(Route.gate(df, Route.LocalEdgeCap))) == canonical(K8))
    } finally df.unpersist(true)

    val path = P10.map { case (a, b) => (a + 1000, b + 1000) }
    val uncached = edgesOf(path)
    assert(pairsOf(localOf(Route.gate(uncached, Route.LocalEdgeCap))) == path.sorted)
    assert(!isCached(uncached))
    assert(jobsRun(Route.gate(uncached, Route.LocalEdgeCap)) > 0)
  }

  test("a stored count above a smaller cap routes distributed") {
    val g = baPairs(200, 17L)
    val e = cachedEdgesOf(g)
    try {
      val n = e.count()
      val local = localOf(Route.gate(e, Route.LocalEdgeCap))
      var gate: Route.Gate = null
      assert(jobsRun { gate = Route.gate(e, n - 1) } == 0)
      gate match {
        case Route.Distributed(held, count) =>
          assert(count == n)
          assert(held.edges.count() == n)
          held.release()
        case other => fail(s"count == cap + 1 should go distributed, got $other")
      }
      assert(isCached(e))
      val distributed = TriangleCount.globalCount(spark, e, localEdgeCap = n - 1).head().getLong(0)
      val local1 = TriangleCount.globalCount(spark, e).head().getLong(0)
      assert(distributed == local1 && local1 > 0)
      assert(Route.gate(e, Route.LocalEdgeCap) eq local)
    } finally e.unpersist(true)
  }

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
      "fixedIter portable" -> (e => PageRank.fixedIterUndirected(e, 3).count()),
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

  test("a second gate on one Lineage.truncate frame runs no job") {
    val t = Lineage.truncate(edgesOf(baPairs(300, 5L)))
    try {
      assert(jobsRun(Route.gate(t, Route.LocalEdgeCap)) > 0)
      var second: Route.Gate = null
      assert(jobsRun { second = Route.gate(t, Route.LocalEdgeCap) } == 0)
      assert(pairsOf(localOf(second)) == canonical(baPairs(300, 5L)))
      // the spectral init and the layout after it, as q_embed_radii runs
      // them on its truncated frame, read the same collect
      assert(jobsRun(ForceLayout.run(spark, t, SpectralInit.run(spark, t, d = 2, maxIter = 5),
        1)) == 0)
      // the checkpoint's blocks serve the reads: no copy was cached
      assert(!isCached(t))
    } finally Lineage.release(t)
  }

  test("a released checkpoint is never served stale") {
    val t = Lineage.truncate(edgesOf(K8))
    assert(pairsOf(localOf(Route.gate(t, Route.LocalEdgeCap))) == canonical(K8))
    assert(jobsRun(Route.gate(t, Route.LocalEdgeCap)) == 0)
    Lineage.release(t)
    // its shared state went with its blocks: a gate reads the frame again
    // (and fails if the blocks are gone, as any read of it does) rather
    // than answer from the state
    assert(jobsRun(scala.util.Try(Route.gate(t, Route.LocalEdgeCap))) > 0)
    // a new checkpoint gets its own rows
    val u = Lineage.truncate(edgesOf(K4))
    try {
      assert(pairsOf(localOf(Route.gate(u, Route.LocalEdgeCap))) == canonical(K4))
      assert(jobsRun(Route.gate(u, Route.LocalEdgeCap)) == 0)
    } finally Lineage.release(u)
  }

  test("undirectedCsr: ascending rows, the input rows' entries, tags e and ~e") {
    // shuffled rows over 6 vertices, with a pair and its reverse, a
    // repeated row and a self-loop
    val rows = new scala.util.Random(17L).shuffle(Seq((0, 3), (3, 0), (2, 5), (1, 1), (4, 2),
      (5, 1), (2, 5), (0, 4), (3, 2)))
    val (src, dst) = (rows.map(_._1).toArray, rows.map(_._2).toArray)
    val eids = Array.tabulate(rows.length)(i => 100L + 7 * i)
    val (rowPtr, colIdx, tags) = Route.undirectedCsr(6, src, dst, Some(eids))
    val (untaggedPtr, untaggedIdx, none) = Route.undirectedCsr(6, src, dst)
    assert(untaggedPtr.toSeq == rowPtr.toSeq && untaggedIdx.toSeq == colIdx.toSeq && none.isEmpty)
    // the input-order build: each row's slots in input row order
    val inOrder = Array.fill(6)(Seq.empty[(Int, Long)])
    rows.indices.foreach { i =>
      inOrder(src(i)) :+= (dst(i), eids(i))
      inOrder(dst(i)) :+= (src(i), ~eids(i))
    }
    (0 until 6).foreach { v =>
      val at = rowPtr(v) until rowPtr(v + 1)
      val nbrs = at.map(colIdx(_))
      assert(nbrs == nbrs.sorted, s"row $v ascends")
      assert(nbrs.sorted == inOrder(v).map(_._1).sorted, s"row $v's neighbours")
      assert(at.map(e => (colIdx(e), tags(e))).sorted == inOrder(v).sorted, s"row $v's tags")
    }
    // no rows
    val (emptyPtr, emptyIdx, emptyTags) =
      Route.undirectedCsr(0, Array.emptyIntArray, Array.emptyIntArray, Some(Array.emptyLongArray))
    assert(emptyPtr.toSeq == Seq(0) && emptyIdx.isEmpty && emptyTags.isEmpty)
  }
}
