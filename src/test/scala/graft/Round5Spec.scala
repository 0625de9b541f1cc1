package graft

import org.apache.spark.sql.functions._

/** Round-5 receipts: portable fixed-point sums, the Spearman local-path
  * gate, the lshTopK id-only candidate shuffle, and the malformed-input
  * contract of the native cosine kernel.
  */
class Round5Spec extends SparkSuite {

  test("PortableSum: order-independent, engine-shaped, near-exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val xs = Array.fill(5000)(rnd.nextDouble() * 1e-3)
    val df = xs.toSeq.toDF("x")
    def sumAt(parts: Int): Double =
      df.repartition(parts)
        .agg(graft.core.PortableSum.fixedSum(col("x"), 1e15).as("s"))
        .head().getDouble(0)
    // identical across partitionings (plain double sum is not)
    val s1 = sumAt(1); val s7 = sumAt(7); val s32 = sumAt(32)
    assert(s1 == s7 && s7 == s32, s"$s1 / $s7 / $s32")
    // within the quantization bound of the true sum
    val exact = xs.sorted.sum
    assert(math.abs(s1 - exact) <= xs.length * 0.5e-15 + 1e-12)
  }

  test("portable-sum PageRank/eigen match the native-double variants") {
    val e = graft.generators.Generators.ba(spark, 200, 3, 17)
    val pr0 = graft.algos.PageRankCsr.run(spark, e, maxIter = 5).ranks
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr1 = graft.algos.PageRank.fixedIterUndirected(e, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pr1.foreach { case (id, v) =>
      assert(math.abs(v - pr0(id)) < 1e-9, s"pagerank v$id: $v vs ${pr0(id)}")
    }
    val eg0 = graft.algos.EigenvectorCentrality.run(spark, e, maxIter = 5, tol = 0.0)
      .scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val eg1 = graft.algos.EigenvectorCentrality.fixedIter(e, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    eg1.foreach { case (id, v) =>
      assert(math.abs(v - eg0(id)) < 1e-7, s"eigen v$id: $v vs ${eg0(id)}")
    }
  }

  test("portable-sum betweenness stays nx-exact at k=n") {
    for (g <- Seq(K4, P10, TwoTriangles)) {
      val e = edgesOf(g)
      val n = graft.graph.Edges.vertices(e).count().toInt
      val exact = graft.algos.PathCentralities.betweenness(spark, e)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val approx = graft.algos.ApproxBetweenness.run(spark, e, k = n,
        portableSum = true, localNbrRowCap = 0) // distributed-path proof
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      approx.foreach { case (id, v) =>
        assert(math.abs(v - exact(id)) < 1e-9, s"v$id: $v vs ${exact(id)}")
      }
    }
  }

  test("betweenness isolated-source edge: no expansion, zeros, no leak") {
    import spark.implicits._
    // sources that reach nothing: explicit source set on a graph where
    // the sources are isolated from each other's BFS by... simplest:
    // a single-edge graph (n = 2) — normalized nx applies NO rescale
    val e = edgesOf(Seq((0L, 1L)))
    val srcs = Seq(0L).toDF("s")
    // The leak check diffs the persistent-RDD ID SET, but suites run in
    // parallel in one shared SparkContext, so another suite may persist
    // an RDD during our window — a REAL leak reproduces on every
    // attempt (+1 each time), concurrent churn does not, hence retry.
    def leakFreeAttempt(): Boolean = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = graft.algos.ApproxBetweenness.run(spark, e, k = 1,
        explicitSources = Some(srcs), localNbrRowCap = 0) // distributed edge path
      val out = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out.values.forall(_ == 0.0), out.toString)
      // the contract: nothing survives except the RETURNED truncated
      // frame (released here); unpersist is async — poll briefly
      graft.core.Lineage.release(df)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      while (leaked.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(200)
        leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      }
      leaked.isEmpty
    }
    assert((1 to 3).exists(_ => leakFreeAttempt()),
      "persistent RDD leak on every attempt")
  }

  test("spearman local-path gate: routed small, distributed above, same rho") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (1 to 800).map(i =>
      (i.toDouble + rnd.nextDouble() * 50, i.toDouble + rnd.nextDouble() * 200))
      .toDF("a", "b")
    val (rhoLocal, usedLocal) = graft.embed.Correlation.spearmanVia(df, "a", "b")
    assert(usedLocal, "800 rows must route to the driver-local path")
    val (rhoDist, usedLocal2) =
      graft.embed.Correlation.spearmanVia(df, "a", "b", threshold = 0)
    assert(!usedLocal2, "threshold 0 must force the distributed path")
    assert(math.abs(rhoLocal - rhoDist) < 1e-12, s"$rhoLocal vs $rhoDist")
    // ties exercise the average-rank convention on both paths
    val ties = (1 to 300).map(i => ((i % 7).toDouble, (i % 11).toDouble)).toDF("a", "b")
    val (tl, _) = graft.embed.Correlation.spearmanVia(ties, "a", "b")
    val (td, _) = graft.embed.Correlation.spearmanVia(ties, "a", "b", threshold = 0)
    assert(math.abs(tl - td) < 1e-12, s"$tl vs $td")
  }

  test("lshTopK candidate dedup shuffles id pairs only") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextDouble() * 2 - 1))).toDF("vec_id", "embedding")
    val out = graft.ann.Ann.lshTopK(emb, emb.where(col("vec_id") < 3), 5)
    // every distinct-shaped Aggregate (output == grouping) in the plan
    // must be array-free: the candidate dedup groups (query_id,
    // neighbor_id), never the embedding payloads
    val aggs = out.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.aggregateExpressions.length == a.groupingExpressions.length => a
    }
    assert(aggs.nonEmpty, "expected a distinct aggregate in the lshTopK plan")
    aggs.foreach { a =>
      assert(!a.output.exists(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType]),
        s"distinct carries an array column: ${a.output.map(_.name)}")
    }
    // and the result is still the exact LSH top-k (scores re-joined)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(3) <= 5))
  }

  test("two-level IVF: parity with flat at full probe, recall at two tiers") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(30)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 600).map { i =>
      val c = centers(i % 30)
      (i.toLong, c.map(v => (v + rnd.nextGaussian() * 0.15).toFloat))
    }.toDF("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = vecs.where(col("vec_id") < 10)
    def run(nlist: Int, coarseProbe: Int): Set[(Long, Long)] =
      graft.ann.Ann.ivfTopK(vecs, q, 5, nlist = nlist, nprobe = 8,
        coarseProbe = coarseProbe)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every coarse cell makes the hierarchy EXACTLY the flat
    // assignment (same max-struct tie-break) — full result parity
    for (nlist <- Seq(32, 128)) {
      val ncoarse = math.ceil(math.sqrt(nlist.toDouble)).toInt
      assert(run(nlist, 0) == run(nlist, ncoarse),
        s"two-level(full probe) != flat at nlist=$nlist")
    }
    // recall vs brute force at two nlist tiers with a PARTIAL coarse
    // probe (the actual scale configuration)
    val exact = graft.ann.Ann.bruteForceTopK(vecs, q, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (nlist <- Seq(32, 128)) {
      val got = run(nlist, 4)
      val recall = exact.count(got.contains).toDouble / exact.size
      assert(recall >= 0.6, s"two-level IVF recall@5 = $recall at nlist=$nlist")
    }
    vecs.unpersist(false)
  }

  test("vec_cosine malformed-input contract") {
    import spark.implicits._
    // zero-norm vector scores 0.0, not NaN
    val z = Seq((Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
      .select(graft.functions.VecCosine(col("a"), col("b")).as("c"))
    assert(z.head().getDouble(0) == 0.0)
    // mismatched dimensions throw (DuckDB list_dot_product errors too)
    val bad = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
      .select(graft.functions.VecCosine(col("a"), col("b")).as("c"))
    val ex = intercept[Exception] { bad.collect() }
    assert(ex.toString.contains("dimension mismatch") ||
      ex.getCause != null && ex.getCause.toString.contains("dimension mismatch"))
  }

  test("portable_round == Spark round(x*scale, 0) on adversarial doubles") {
    import spark.implicits._
    // the exact arithmetic Spark's Round applies to DoubleType
    def sparkRound(v: Double): Double =
      scala.math.BigDecimal.decimal(v)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(11)
    val adversarial: Seq[Double] =
      // exact .5 ties, both signs, small and 2^52..2^53 magnitudes
      (0 until 2000).map(_ => rnd.nextLong() % (1L << 51) + 0.5) ++
      (0 until 2000).map(_ => -(rnd.nextLong() % (1L << 51) + 0.5)) ++
      (0 until 2000).map(_ => 4.5e15 + rnd.nextInt(1 << 30) + 0.5) ++
      // largest double below 0.5: the classic floor(v+0.5) bug trap
      Seq(0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 1.5, -1.5,
        2.5, -2.5, 0.0, -0.0, 1e16, -1e16, 9.007199254740991e15) ++
      (0 until 20000).map(_ => (rnd.nextDouble() - 0.5) * 2e16) ++
      (0 until 20000).map(_ => (rnd.nextDouble() - 0.5) * 1e3)
    adversarial.foreach { v =>
      assert(java.lang.Double.compare(
        graft.functions.PortableRound.halfUp(v), sparkRound(v)) == 0 ||
        graft.functions.PortableRound.halfUp(v) == sparkRound(v),
        s"halfUp($v) = ${graft.functions.PortableRound.halfUp(v)} " +
          s"!= ${sparkRound(v)}")
    }
    // through codegen: expression result equals Spark's round() column
    val df = (0 until 50000).map(_ => (rnd.nextDouble() - 0.5) * 2.0)
      .toDF("x").repartition(7)
    val mismatches = df.select(
        graft.functions.PortableRound(col("x"), 1e15).as("a"),
        round(col("x") * lit(1e15), 0).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(mismatches == 0)
  }

  test("fixedSumLong == fixedSum (decimal) on a PageRank-shaped gather") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // rank/deg addends grouped by destination, like the PR gather
    val rows = (0 until 60000).map { _ =>
      (rnd.nextInt(500).toLong, rnd.nextDouble() / (1 + rnd.nextInt(40)))
    }
    val df = rows.toDF("mid", "c").repartition(13)
    val a = df.groupBy("mid")
      .agg(graft.core.PortableSum.fixedSum(col("c"), 1e15).as("s"))
    val b = df.groupBy("mid")
      .agg(graft.core.PortableSum.fixedSumLong(col("c"), 1e15).as("s"))
    assert(a.join(b, "mid").where(a("s") =!= b("s")).count() == 0)
    assert(a.count() == 500)
  }

  test("spearman local gate skips null rows like the distributed joins") {
    import spark.implicits._
    // nulls from a left join: the distributed path's value-equality
    // re-joins silently exclude them; the local probe must not NPE and
    // must produce the same rho over the non-null rows
    val df = ((1 to 300).map(i => (i.toDouble, Some(i * 2.0))) ++
      Seq((1000.0, Option.empty[Double]), (2000.0, Option.empty[Double])))
      .toDF("a", "b")
    val (rhoLocal, usedLocal) = graft.embed.Correlation.spearmanVia(df, "a", "b")
    assert(usedLocal)
    val (rhoDist, _) =
      graft.embed.Correlation.spearmanVia(df, "a", "b", threshold = 0)
    assert(math.abs(rhoLocal - rhoDist) < 1e-12, s"$rhoLocal vs $rhoDist")
    assert(math.abs(rhoLocal - 1.0) < 1e-12)
  }

  test("fused cosine top-k: k = 0 yields an empty result, not a crash") {
    import spark.implicits._
    val corpus = (0L until 50L).map(i => (i, Array.fill(8)(i * 0.1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") < 3)
    assert(graft.ann.Ann.bruteForceTopK(corpus, queries, 0).count() == 0)
  }

  test("degenerate-input contracts: empty docs, empty shingles, constant rho") {
    import spark.implicits._
    // ANSI mode: the unguarded ratio/jaccard divisions THROW on these
    val q = graft.text.TextOps.quality(
      Seq((1L, ""), (2L, "   "), (3L, "Hello, world!")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q(1L).isNullAt(q(1L).fieldIndex("punct_ratio_micro")))
    assert(!q(3L).isNullAt(q(3L).fieldIndex("punct_ratio_micro")))
    val j = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
      .select(graft.text.TextOps.jaccard(
        graft.text.TextOps.shingles(col("text")),
        graft.text.TextOps.shingles(col("text"))).as("j"))
      .collect().map(_.getDouble(0))
    assert(j.forall(_ == 0.0)) // < 3 tokens -> empty sets -> 0.0, no throw
    // constant column: local spearmanDf must yield NULL like the
    // distributed pearson guard, not an ANSI NaN-cast crash
    val const = (1 to 100).map(i => (i.toDouble, 7.0)).toDF("a", "b")
    assert(graft.embed.Correlation.spearmanDf(const, "a", "b").head().isNullAt(0))
    // pigeonhole recall bound is enforced, not silently violated
    intercept[IllegalArgumentException] {
      graft.text.Dedup.simHashNearDups(
        Seq((1L, "x")).toDF("doc_id", "text"), "doc_id", "text", maxHamming = 4)
    }
    // empty edge table: spectral init returns an empty frame, not an NPE
    val empty = graft.embed.SpectralInit.run(spark,
      Seq.empty[(Long, Long)].toDF("src", "dst"), d = 2)
    assert(empty.count() == 0)
  }

  test("spearman: distributed path drops null PAIRS like the local path (ties)") {
    import spark.implicits._
    // the dropped row's a-value ties a surviving row's value: ranking a
    // over all non-null values (the old behavior) would shift the tie's
    // average rank and change rho
    val df = Seq((1.0, Option.empty[Double]), (1.0, Some(10.0)),
      (2.0, Some(20.0)), (3.0, Some(5.0))).toDF("a", "b")
    val (rhoL, usedLocal) = graft.embed.Correlation.spearmanVia(df, "a", "b")
    assert(usedLocal)
    val (rhoD, _) = graft.embed.Correlation.spearmanVia(df, "a", "b", threshold = 0)
    assert(math.abs(rhoL - rhoD) < 1e-12, s"$rhoL vs $rhoD")
  }

  test("path-centrality local gate: bit-identical to distributed, routed") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.getClass.getSimpleName
    // a connected BA graph AND a disconnected fixture (exercises the
    // reaching-source branch of the closeness estimator)
    for (e <- Seq(graft.generators.Generators.ba(spark, 250, 3, 31),
                  edgesOf(TwoPaths))) {
      val srcs = graft.graph.Edges.vertices(e).where(col("id") % 3 === 0)
        .select(col("id").as("s"))
      // closeness: long sums + a fixed double expression — the two
      // paths must agree EXACTLY
      val cLocal = graft.algos.ApproxCloseness.run(spark, e, k = 8,
        explicitSources = Some(srcs))
      val cDist = graft.algos.ApproxCloseness.run(spark, e, k = 8,
        explicitSources = Some(srcs), localNbrRowCap = 0)
      assert(planOf(cLocal).contains("LocalRelation"), planOf(cLocal))
      assert(!planOf(cDist).contains("LocalRelation"), planOf(cDist))
      val (cl, cd) = (asMap(cLocal), asMap(cDist))
      assert(cl.keySet == cd.keySet)
      cl.foreach { case (id, v) => assert(v == cd(id), s"closeness v$id: $v vs ${cd(id)}") }
      // betweenness, portable path: quantized sums are order-independent,
      // so local and distributed must agree EXACTLY too
      val bLocal = graft.algos.ApproxBetweenness.run(spark, e, k = 8,
        explicitSources = Some(srcs), portableSum = true)
      val bDist = graft.algos.ApproxBetweenness.run(spark, e, k = 8,
        explicitSources = Some(srcs), portableSum = true, localNbrRowCap = 0)
      assert(planOf(bLocal).contains("LocalRelation"), planOf(bLocal))
      val (bl, bd) = (asMap(bLocal), asMap(bDist))
      assert(bl.keySet == bd.keySet)
      bl.foreach { case (id, v) => assert(v == bd(id), s"betweenness v$id: $v vs ${bd(id)}") }
      // native-double path: same semantics, last-ULP summation freedom
      val nLocal = asMap(graft.algos.ApproxBetweenness.run(spark, e, k = 8,
        explicitSources = Some(srcs)))
      nLocal.foreach { case (id, v) =>
        assert(math.abs(v - bd(id)) < 1e-9, s"v$id: $v vs ${bd(id)}")
      }
    }
  }
}
