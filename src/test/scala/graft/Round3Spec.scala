package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.text.Dedup

/** Round-3 additions: SimHash scale guards, bounded-top-k ANN,
  * multiprobe SRP-LSH, portable-coin IC.
  */
class Round3Spec extends SparkSuite {

  // --- SimHash guards ----------------------------------------------------

  test("simhash near-dups: 10k identical docs don't go quadratic (linear group links)") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val dups = (0L until 10000L).map(i => (i, text))
    val other = (20000L, "completely unrelated vocabulary occupies this document body here")
    val df = (dups :+ other).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val rows = Dedup.simHashNearDups(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val secs = (System.nanoTime() - t0) / 1e9
    // B identical docs -> B-1 link rows to the min-id representative,
    // NOT B^2/2 pairwise rows
    assert(rows.length == 9999, s"expected 9999 link rows, got ${rows.length}")
    assert(rows.forall { case (a, _, h) => a == 0L && h == 0L })
    assert(rows.map(_._2).toSet == (1L until 10000L).toSet)
    assert(secs < 60, s"identical-doc corpus took ${secs}s")
  }

  test("simhash near-dups: representative pairs match a local all-pairs oracle") {
    import spark.implicits._
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango").split(" ")
    // 40 single-token variants of the same document — small pairwise
    // hamming by construction, so some pairs land in [1, 3]
    val docs = (0 until 40).map { i =>
      val toks = base.clone(); toks(i % base.length) = s"variant$i"
      (i.toLong, toks.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // local oracle: group links for identical sh + rep pairs within 3
    val groups = sh.groupBy(_._2).values.map(_.keys.toSeq.sorted)
    val links = groups.flatMap(g => g.tail.map(i => (g.head, i, 0L))).toSet
    val reps = groups.map(_.head).toSeq.sorted
    val repPairs = (for {
      i <- reps; j <- reps if i < j
      h = ham(sh(i), sh(j)) if h >= 1 && h <= 3
    } yield (i, j, h.toLong)).toSet
    val got = Dedup.simHashNearDups(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(repPairs.nonEmpty, "fixture produced no hamming<=3 pair; rebuild it")
    assert(got == (repPairs ++ links))
  }

  test("simhash near-dups: chunk bucket cap routes pairs out, links remain") {
    import spark.implicits._
    val df = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"),
      (3L, "vv ww xx yy zz")).toDF("doc_id", "text")
    // maxBucket = 0 caps every chunk bucket, so the hamming threshold is
    // irrelevant here (the former maxHamming=64 is now rejected — the
    // 4-chunk pigeonhole only guarantees recall to distance 3)
    val got = Dedup.simHashNearDups(df, "doc_id", "text",
      maxHamming = 3, maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // every chunk bucket capped out -> only the exact-group link survives
    assert(got == Set((1L, 2L, 0L)))
  }

  // --- ANN on BoundedTopKAgg ----------------------------------------------

  test("bruteForceTopK equals the window top-k formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(12)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 8)
    val got = Ann.bruteForceTopK(vecs, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // reference formulation: same scoring, row_number window
    val qq = q.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val cc = vecs.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("cv"))
    val scored = cc.crossJoin(broadcast(qq))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Ann.cosine(col("qv"), col("cv")) * 1e6, 0).cast("long")
          .as("cosine_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cosine_micro").desc, col("neighbor_id").asc)
    val want = scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
  }

  test("ANN plans: bounded top-k aggregation, no Window node") {
    import spark.implicits._
    val vecs = (0 until 100).map(i =>
      (i.toLong, Array.fill(8)((i % 7).toFloat - 3)))
      .toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 4)
    Seq(Ann.bruteForceTopK(vecs, q, 3), Ann.lshTopK(vecs, q, 3)).foreach { df =>
      val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"window in ANN plan:\n${plan.take(1500)}")
      val objHash = "ObjectHashAggregate".r.findAllIn(plan).length
      assert(objHash >= 2, s"expected partial+final ObjectHashAggregate:\n${plan.take(1500)}")
      assert(!plan.contains("SortAggregate"), "fell back to sort aggregation")
    }
  }

  test("multiprobe SRP-LSH recall >= 0.5 vs brute force on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(30)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 600).map { i =>
      val c = centers(i % 30)
      (i.toLong, c.map(v => (v + rnd.nextGaussian() * 0.15).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(vecs, q, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.lshTopK(vecs, q, 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("embedding near-dups: planted perturbed copies found; hot buckets capped") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val pert = base.filter(_._1 % 10 == 0).map { case (id, v) =>
      (id + 10000L, v.map(x => x * 1.001f + 0.01f))
    }
    val df = (base ++ pert).toDF("vec_id", "embedding")
    val got = Ann.embeddingNearDups(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = base.filter(_._1 % 10 == 0).map(p => (p._1, p._1 + 10000L)).toSet
    assert(planted.subsetOf(got),
      s"missing planted pairs: ${planted.diff(got).take(5)}")
    // a degenerate identical-vector corpus is routed out by the cap
    val same = (0L until 50L).map(i => (i, Array.fill(16)(0.5f)))
      .toDF("vec_id", "embedding")
    val capped = Ann.embeddingNearDups(same, threshold = 0.9, maxBucket = 10)
    assert(capped.count() == 0)
  }

  // --- spectral local/distributed parity -------------------------------------

  test("spectral init: driver-local fast path matches the distributed loop") {
    val e = graft.generators.Generators.ba(spark, 150, 2, 3)
    val local = graft.embed.SpectralInit.run(spark, e, d = 2, maxIter = 25)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val dist = graft.embed.SpectralInit.run(spark, e, d = 2, maxIter = 25,
      localCap = 0) // force the distributed loop
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(local.keySet == dist.keySet)
    // identical algorithm, init hashes, and arithmetic -> agreement to
    // float-merge jitter (the distributed sums are order-arbitrary)
    local.foreach { case (id, lp) =>
      lp.zip(dist(id)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"v$id: $a vs $b")
      }
    }
  }

  // --- embed drift fixture ---------------------------------------------------

  test("embedding radii match the committed fixture (drift catch)") {
    // The embed queries have no relational oracle (driver rows-only);
    // this pinned fixture catches SILENT semantic drift instead.
    // Regenerate with `sbt "Test/runMain graft.RadiiFixtureGen"` only on
    // an intentional semantics change. Tolerance 1e-6 sits far above the
    // ~1e-12 run-to-run float-merge jitter and far below any real change.
    val expect = Map(
      0L -> 2.502549005517,
      1L -> 2.633825632507,
      2L -> 3.133140545605,
      3L -> 2.280810999629,
      4L -> 2.712983027938,
      5L -> 1.549799022996,
      6L -> 1.424682737298,
      7L -> 2.737108530508,
      8L -> 1.980703299971,
      9L -> 1.326104929496)
    val e = graft.generators.Generators.ba(spark, 100, 2, 5)
    val init = graft.embed.SpectralInit.run(spark, e, d = 2, gramTol = 1e-6)
    val pos = graft.embed.ForceLayout.run(spark, e, init, 3)
    val got = graft.embed.ForceLayout.radii(pos)
      .where(col("id") < 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    expect.foreach { case (id, v) =>
      assert(math.abs(got(id) - v) < 1e-6, s"radius drift at v$id: ${got(id)} vs $v")
    }
  }

  // --- dataset registry ------------------------------------------------------

  test("dataset registry: reference metadata; bundled fixtures load canonically") {
    val ds = graft.ingest.Datasets
    assert(ds.registry.size == 8)
    val fb = ds.meta("snap-facebook_combined").get
    assert(fb.vertices == 4039L && fb.edges == 88234L && !fb.directed)
    // the published SNAP count (14,496) includes the file's 12
    // self-loops; canonicalization drops them (triu(k=1) semantics,
    // reference quirk #6) -> exactly 14,484 canonical edges
    ds.localPath("snap-ca-GrQc").foreach { _ =>
      assert(ds.load(spark, "snap-ca-GrQc").count() == 14484L)
    }
    // non-bundled datasets are absent offline and load() says why
    assert(ds.localPath("snap-ego-twitter").isEmpty)
    intercept[IllegalArgumentException] { ds.load(spark, "no_such_dataset") }
  }

  // --- portable-coin IC ------------------------------------------------------

  test("portable-coin IC influence equals a local reachability-closure oracle") {
    val e = graft.generators.Generators.ba(spark, 200, 3, 29)
    val edges = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = edges.flatMap { case (s, d) => Seq(s -> d, d -> s) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val deg = nbrs.map { case (k, v) => k -> v.length }
    val seeds = deg.toSeq.sortBy { case (id, dg) => (-dg, id) }.take(3).map(_._1)
    val p = 0.05
    val thresh = (p * 1000000007L).toLong
    def open(src: Long, dst: Long): Boolean =
      (((src * 1000003L + dst) % 1000000007L) * 2654435761L) % 1000000007L < thresh
    // closure over open edges (the coin is round-independent)
    val active = scala.collection.mutable.Set(seeds: _*)
    var frontier = seeds.toSet
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(s =>
        nbrs.getOrElse(s, Array.empty[Long]).filter(d => open(s, d)))
        .diff(active)
      active ++= next
      frontier = next
    }
    val got = graft.embed.Influence.icInfluence(spark, e, seeds, p,
      portableHash = true)
    assert(got == active.size.toLong, s"spark $got vs local ${active.size}")
    assert(got >= seeds.length)
  }
}
