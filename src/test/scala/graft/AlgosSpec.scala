package graft

import org.apache.spark.sql.functions._

import graft.algos._
import graft.graph.Edges

class AlgosSpec extends SparkSuite {

  // nx.pagerank oracle values (alpha=0.85, tol=1e-6), computed from the
  // published power-iteration semantics (see FIXTURES.md §5).
  val P10PageRank: Seq[Double] = Seq(
    0.0643847524, 0.1161980206, 0.1093461099, 0.1057906862, 0.104280431,
    0.104280431, 0.1057906862, 0.1093461099, 0.1161980206, 0.0643847524)

  test("PageRank matches nx oracle on K4 (uniform 0.25)") {
    val r = PageRank.runUndirected(spark, edgesOf(K4))
    val m = r.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(m.size == 4)
    m.values.foreach(v => assert(math.abs(v - 0.25) < 1e-6))
  }

  test("PageRank matches nx oracle on P10 to 1e-6") {
    val r = PageRank.runUndirected(spark, edgesOf(P10))
    val m = r.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    P10PageRank.zipWithIndex.foreach { case (exp, i) =>
      assert(math.abs(m(i.toLong) - exp) < 1e-6, s"vertex $i")
    }
  }

  test("PageRank handles dangling vertices (directed)") {
    import spark.implicits._
    // 0 -> 1 -> 2, 2 dangling: nx.pagerank semantics
    val links = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val r = PageRank.run(spark, links, PageRank.Config())
    val m = r.ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(m.values.sum - 1.0) < 1e-9)
    assert(m(2L) > m(1L) && m(1L) > m(0L))
  }

  test("salted PageRank aggregation matches the unsalted relational engine") {
    val e = graft.generators.Generators.ba(spark, 2000, 3, 7)
    def ranks(salted: Boolean) = PageRank.runUndirected(spark, e,
        PageRank.Config(engine = "rel", saltedAgg = salted, tol = 0.0, maxIter = 5))
      .ranks.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val plain = ranks(salted = false)
    val salted = ranks(salted = true)
    assert(salted.keySet == plain.keySet && plain.size == 2000)
    salted.foreach { case (id, v) =>
      assert(math.abs(v - plain(id)) < 1e-12, s"v$id: $v vs ${plain(id)}")
    }
  }

  test("salted aggregation keeps the auto engine on the relational plan") {
    val e = graft.generators.Generators.ba(spark, 2000, 3, 7)
    val r = PageRank.runUndirected(spark, e,
      PageRank.Config(saltedAgg = true, tol = 0.0, maxIter = 5))
    assert(r.engine == "rel")
    assert(r.ranks.count() == 2000)
  }

  test("CC assigns min vertex id per component (two triangles)") {
    val cc = ConnectedComponents.run(spark, edgesOf(TwoTriangles))
    val m = cc.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(m == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("CC matches brute-force min-label on random graphs") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val e = graft.generators.Generators.er(spark, 120, 0.012, seed)
      val cc = ConnectedComponents.run(spark, e)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      // brute force on the driver
      val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      // compress to min id per root
      val byRoot = verts.groupBy(find)
      val expect = byRoot.toSeq.flatMap { case (_, vs) =>
        val mn = vs.min; vs.toSeq.map(_ -> mn)
      }.toMap
      assert(cc == expect, s"seed $seed")
    }
  }

  test("Triangle count: K4 has 4 triangles, two triangles have 2") {
    assert(TriangleCount.globalCount(spark, edgesOf(K4))
      .head().getLong(0) == 4L)
    assert(TriangleCount.globalCount(spark, edgesOf(TwoTriangles))
      .head().getLong(0) == 2L)
    assert(TriangleCount.globalCount(spark, edgesOf(P10))
      .head().getLong(0) == 0L)
  }

  test("Triangle count matches naive count on ER graph") {
    val e = graft.generators.Generators.er(spark, 60, 0.15, 9L)
    val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    var naive = 0L
    for (a <- verts; b <- verts if b > a; c <- verts if c > b)
      if (pairs((a, b)) && pairs((b, c)) && pairs((a, c))) naive += 1
    assert(TriangleCount.globalCount(spark, e).head().getLong(0) == naive)
  }

  test("LPA converges to per-clique labels on caveman cliques") {
    val e = graft.generators.Generators.caveman(spark, 3, 5)
    val labels = LabelPropagation.run(spark, e, 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // each clique of 5 should agree on its min label
    for (block <- 0 until 3) {
      val ids = (block * 5).toLong until (block * 5 + 5).toLong
      val ls = ids.map(labels).toSet
      assert(ls.size == 1, s"block $block not converged: $ls")
      assert(ls.head == block * 5L)
    }
  }

  test("degrees match neighbor counts") {
    val deg = Edges.degrees(edgesOf(K4)).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(deg == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }
}
