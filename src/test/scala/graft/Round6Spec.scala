package graft

import org.apache.spark.sql.functions._

import graft.algos.PageRank

/** Optimization-round-6 routing contracts: PageRank.runUndirected's
  * "auto" engine must pick the CSR broadcast-vector plan exactly when
  * it is provably equivalent (dense ids, broadcastable V, no
  * checkpoint/salt), fall back to the relational plan otherwise, and
  * agree with it numerically either way.
  */
class Round6Spec extends SparkSuite {

  test("auto engine routes dense small graphs to csr") {
    val e = edgesOf(K8) // ids 0..7, dense
    val r = PageRank.runUndirected(spark, e)
    assert(r.engine == "csr")
    // same chain as the relational engine
    val rel = PageRank.runUndirected(spark, e,
      PageRank.Config(engine = "rel"))
    assert(rel.engine == "rel")
    val relM = rel.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.ranks.collect().foreach { x =>
      assert(math.abs(relM(x.getLong(0)) - x.getDouble(1)) < 1e-12)
    }
  }

  test("auto engine falls back to relational on negative ids") {
    // a negative id would index outside the CSR arrays; the relational
    // plan must take over (and still compute the right chain)
    val e = edgesOf(Seq((-2L, 0L), (0L, 1L), (-2L, 1L)))
    val r = PageRank.runUndirected(spark, e)
    assert(r.engine == "rel")
    assert(math.abs(r.ranks.agg(sum(col("rank"))).head().getDouble(0) - 1.0) < 1e-9)
  }

  test("auto engine falls back to relational on sparse id spaces") {
    // ids {0, 2, 4, 6}: maxId+1 = 7 slots but only 4 vertices — the CSR
    // chain would use the wrong n (teleport base/init), so the route
    // must refuse
    val e = edgesOf(Seq((0L, 2L), (2L, 4L), (4L, 6L), (0L, 6L)))
    val r = PageRank.runUndirected(spark, e)
    assert(r.engine == "rel")
  }

  test("cc local kernel matches the distributed star loop exactly") {
    for (g <- Seq(TwoTriangles, P10, K8,
        graft.generators.Generators.er(spark, 120, 0.03, 9L)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)) {
      val e = edgesOf(g)
      val local = graft.algos.ConnectedComponents.run(spark, e)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // cap 0 forces the small-star/large-star loop
      val dist = graft.algos.ConnectedComponents.run(spark, e,
          localEdgeCap = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(local.toSeq == dist.toSeq)
    }
  }

  test("lpa local kernel matches the distributed loop exactly") {
    for (g <- Seq(TwoTriangles, K8,
        graft.generators.Generators.caveman(spark, 4, 6)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq);
        iters <- Seq(1, 3)) {
      val e = edgesOf(g)
      val local = graft.algos.LabelPropagation.run(spark, e, iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val dist = graft.algos.LabelPropagation.run(spark, e, iters,
          localEdgeCap = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(local.toSeq == dist.toSeq, s"iters=$iters")
    }
  }

  test("triangle local kernel matches the distributed count exactly") {
    for (g <- Seq(K4, TwoTriangles, P10, K8,
        graft.generators.Generators.ba(spark, 100, 4, 7L)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)) {
      val e = edgesOf(g)
      val local = graft.algos.TriangleCount.globalCount(spark, e)
        .head().getLong(0)
      val dist = graft.algos.TriangleCount.globalCount(spark, e,
        localEdgeCap = 0L).head().getLong(0)
      assert(local == dist)
    }
  }

  test("portable fixedIter local kernel is bit-identical to distributed") {
    for (g <- Seq(K8, TwoTriangles,
        graft.generators.Generators.ba(spark, 180, 3, 13L)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq);
        iters <- Seq(1, 5)) {
      val e = edgesOf(g)
      val local = graft.algos.PageRank.fixedIterUndirected(e, iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dist = graft.algos.PageRank.fixedIterUndirected(e, iters,
          localEdgeCap = 0L)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(local.keySet == dist.keySet)
      local.foreach { case (id, v) =>
        // bit-exact, not approximate: the portable chain is
        // order-independent, so the kernels must agree exactly
        assert(java.lang.Double.doubleToRawLongBits(v) ==
          java.lang.Double.doubleToRawLongBits(dist(id)),
          s"iters=$iters v$id: $v vs ${dist(id)}")
      }
    }
  }

  test("XXH64.hashLong replicates the xxhash64 column bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import graft.core.DetRandom.xxhash64Local
    import spark.implicits._
    val vals = (0L until 500L) ++ Seq(Long.MaxValue, Long.MinValue, -1L)
    val got = vals.toDF("v").select(col("v"), xxhash64(col("v")).as("h"),
        xxhash64(col("v"), lit(7L)).as("h2"), xxhash64(lit(-3L), col("v")).as("h3"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    vals.foreach { v =>
      val (h, h2, h3) = got(v)
      assert(h == XXH64.hashLong(v, 42L), s"v=$v")
      assert(h == xxhash64Local(v), s"v=$v")
      assert(h2 == xxhash64Local(v, 7L), s"v=$v, 7")
      assert(h3 == xxhash64Local(-3L, v), s"-3, v=$v")
    }
  }

  test("smallestByHash picks what orderBy(hash, index).limit(k) picks") {
    import graft.core.DetRandom
    // sorted by (hash, index): 6, 1, 3, then the tie at hash 3 goes to 2
    val h = Array(5L, 1L, 3L, 1L, 3L, 3L, 0L)
    assert(DetRandom.smallestByHash(h, 4).toSeq == Seq(1, 2, 3, 6))
    assert(DetRandom.smallestByHash(h, 0).isEmpty)
    assert(DetRandom.smallestByHash(h, h.length).toSeq == h.indices)
    val n = 300
    val want = spark.range(n).toDF().orderBy(xxhash64(col("id")), col("id")).limit(20)
      .collect().map(_.getLong(0)).sorted.toSeq
    val hashes = Array.tabulate(n)(i => DetRandom.xxhash64Local(i.toLong))
    assert(DetRandom.smallestByHash(hashes, 20).map(_.toLong).toSeq == want)
  }

  test("layout local-init gate picks the identical sample and radii") {
    val e = edgesOf(graft.generators.Generators.ba(spark, 120, 3, 23L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val init = graft.embed.SpectralInit.run(spark, e, d = 2, maxIter = 10)
    def radiiOf(cap: Long): Map[Long, Double] =
      graft.embed.ForceLayout.radii(
        graft.embed.ForceLayout.run(spark, e, init, 3,
          graft.embed.ForceLayout.Config(d = 2, localInitEdgeCap = cap)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = radiiOf(Long.MaxValue)
    val dist = radiiOf(0L) // forces Ids.dense + the top-k sample job
    assert(local.keySet == dist.keySet)
    // identical eids + identical sample identity + identical arithmetic;
    // only the scatter aggregation's float-merge order may differ
    // (same bound as the rerun-stability test)
    local.foreach { case (id, v) =>
      assert(math.abs(v - dist(id)) < 1e-9, s"v$id: $v vs ${dist(id)}")
    }
  }

  test("auto engine respects the broadcast vertex cap and pins") {
    val e = edgesOf(K8)
    // cap below maxId: must stay relational
    val capped = PageRank.runUndirected(spark, e,
      PageRank.Config(csrMaxVertices = 4L))
    assert(capped.engine == "rel")
    // checkpointed runs must stay on the resumable relational plan
    val dir = java.nio.file.Files.createTempDirectory("graft-r6-ckpt").toString
    val ck = PageRank.runUndirected(spark, e,
      PageRank.Config(maxIter = 2,
        checkpoint = Some(new graft.core.CheckpointManager(spark, dir))))
    assert(ck.engine == "rel")
  }
}
