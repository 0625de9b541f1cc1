package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.algos.EigenvectorCentrality
import graft.embed.{Correlation, CorrelationBench}
import graft.multimodal.Multimodal

class ExtrasSpec extends SparkSuite {

  // nx eigenvector_centrality oracle (power iteration x += Ax, L2
  // normalize, err < n*tol) — see FIXTURES.md §5
  val P10Eig: Seq[Double] = Seq(
    0.120134575, 0.230534485, 0.32225514, 0.387867115, 0.422057177,
    0.422057177, 0.387867115, 0.32225514, 0.230534485, 0.120134575)

  test("eigenvector centrality matches oracle on K4 and P10") {
    val rK4 = EigenvectorCentrality.run(spark, edgesOf(K4))
    assert(rK4.converged)
    rK4.scores.collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - 0.5) < 1e-6))
    val rP10 = EigenvectorCentrality.run(spark, edgesOf(P10), maxIter = 200)
    assert(rP10.converged)
    val m = rP10.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    P10Eig.zipWithIndex.foreach { case (exp, i) =>
      assert(math.abs(m(i.toLong) - exp) < 1e-5, s"vertex $i: ${m(i.toLong)}")
    }
  }

  test("eigenvector fallback to degree centrality when not converged") {
    // P10 needs ~44 iterations; with maxIter=1 it cannot converge
    val out = EigenvectorCentrality.runWithFallback(spark, edgesOf(P10),
      maxIter = 1).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // degree centrality: deg/(n-1); endpoints 1/9, inner vertices 2/9
    assert(math.abs(out(0L) - 1.0 / 9.0) < 1e-12)
    assert(math.abs(out(5L) - 2.0 / 9.0) < 1e-12)
  }

  test("multimodal: schema, deterministic features, ANN shape") {
    val media = Multimodal.synthesize(spark, 60)
    assert(media.count() == 60)
    val kinds = media.select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
    assert(media.where(col("kind") === "image" &&
      (col("width") <= 0 || col("height") <= 0)).count() == 0)
    val f1 = Multimodal.featureTable(media).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val f2 = Multimodal.featureTable(Multimodal.synthesize(spark, 60))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(f1 == f2, "features not deterministic")
    assert(f1.values.head.length == 16)
    val topk = graft.ann.Ann.bruteForceTopK(
      Multimodal.featureTable(media),
      Multimodal.featureTable(media).where(col("media_id") < 2), 3,
      idCol = "media_id", vecCol = "features")
    assert(topk.count() == 6)
  }

  test("frame sampler: k evenly spaced offsets within duration") {
    import spark.implicits._
    val offs = Seq(10000L).toDF("duration_ms")
      .select(Multimodal.sampleFrameOffsets(col("duration_ms"), 4))
      .head().getSeq[Long](0)
    assert(offs == Seq(1250L, 3750L, 6250L, 8750L))
  }

  test("correlation bench: positive radius correlations on BA graph") {
    val e = graft.generators.Generators.ba(spark, 120, 3, 7)
    val rep = CorrelationBench.run(spark, e, d = 2, layoutIters = 5,
      layoutCfg = graft.embed.ForceLayout.Config(d = 2))
    assert(rep.n == 120 && rep.m > 300)
    assert(rep.correlations("degree") > 0.4,
      s"rho(radius,degree)=${rep.correlations("degree")}")
    assert(rep.correlations("pagerank") > 0.4)
    assert(rep.correlations("eigenvector") > 0.2)
  }

  test("bootstrap CI brackets the point estimate") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (0 until 120).map { _ =>
      val x = rnd.nextDouble(); (x, x * 0.8 + rnd.nextDouble() * 0.2)
    }
    val df = rows.toDF("a", "b")
    val (point, lo, hi) = CorrelationBench.bootstrapCI(df, "a", "b")
    assert(lo <= point && point <= hi, s"($lo, $point, $hi)")
    assert(point > 0.8)
    assert(hi - lo < 0.3, s"CI too wide: ($lo, $hi)")
  }

  test("bootstrap reads the pairwise-complete pairs Spearman ranks, nulls dropped") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 60).map { i =>
      val x = rnd.nextDouble()
      (if (i == 7) None else Some(x), if (i == 30) None else Some(x + rnd.nextDouble()))
    }
    val df = rows.toDF("a", "b")
    val (point, lo, hi) = CorrelationBench.bootstrapCI(df, "a", "b")
    assert(point == Correlation.spearman(df, "a", "b"))
    assert(lo <= point && point <= hi, s"($lo, $point, $hi)")
    val p = CorrelationBench.bootstrapP(df, "a", "b")
    assert(p >= 0.0 && p <= 0.05, s"p = $p")
  }

  test("SNAP fixture: facebook_combined end-to-end (if present)") {
    val path = "/root/reference/data/snap-facebook_combined/facebook_combined.txt"
    assume(Files.exists(Paths.get(path)))
    val e = graft.graph.Edges.readSnap(spark, path)
    assert(e.count() == 88234L) // published edge count
    val verts = graft.graph.Edges.vertices(e).count()
    assert(verts == 4039L) // published vertex count
    val cc = graft.algos.ConnectedComponents.run(spark, e)
    assert(cc.select("component").distinct().count() == 1L) // connected
    val pr = graft.algos.PageRank.runUndirected(spark, e)
    val total = pr.ranks.agg(sum("rank")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9)
  }
}
