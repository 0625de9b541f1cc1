package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.algos.PathCentralities
import graft.ann.Ann
import graft.graph.Edges
import graft.ingest.CsvGraph
import graft.text.{Dedup, TextOps}

/** Round-2 additions: path-centrality oracles, CSV pair loader, loader
  * arity guards, BoundedTopKAgg, portable hashes, dedup edge cases.
  */
class Round2Spec extends SparkSuite {

  // --- path centralities (nx oracle values, FIXTURES-style) ----------

  val P5: Seq[(Long, Long)] = (0L until 4L).map(i => (i, i + 1))

  test("betweenness matches nx on P5 and K4") {
    val got = PathCentralities.betweenness(spark, edgesOf(P5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Map(0L -> 0.0, 1L -> 0.5, 2L -> 2.0 / 3.0, 3L -> 0.5, 4L -> 0.0)
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"v$k") }
    PathCentralities.betweenness(spark, edgesOf(K4)).collect()
      .foreach(r => assert(math.abs(r.getDouble(1)) < 1e-12))
  }

  test("closeness matches nx (wf_improved) on P5 and K4") {
    val got = PathCentralities.closeness(spark, edgesOf(P5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Map(0L -> 0.4, 1L -> 4.0 / 7.0, 2L -> 4.0 / 6.0,
      3L -> 4.0 / 7.0, 4L -> 0.4)
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"v$k") }
    PathCentralities.closeness(spark, edgesOf(K4)).collect()
      .foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }

  test("load matches nx on P5 (load == betweenness on trees)") {
    val got = PathCentralities.load(spark, edgesOf(P5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Map(0L -> 0.0, 1L -> 0.5, 2L -> 2.0 / 3.0, 3L -> 0.5, 4L -> 0.0)
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"v$k") }
  }

  test("full correlation matrix: radius correlates positively with all six centralities on BA") {
    val e = graft.generators.Generators.ba(spark, 120, 3, 7)
    val extras = Map(
      "betweenness" -> PathCentralities.betweenness(spark, e),
      "closeness" -> PathCentralities.closeness(spark, e),
      "load" -> PathCentralities.load(spark, e))
    val rep = graft.embed.CorrelationBench.run(spark, e, d = 2,
      layoutIters = 5, layoutCfg = graft.embed.ForceLayout.Config(d = 2),
      extraCentralities = extras)
    // graphem's qualitative result: embedding radius is a centrality
    // proxy — all rho positive (visualization.py:52-90 matrix)
    Seq("degree", "pagerank", "eigenvector",
      "betweenness", "closeness", "load").foreach { m =>
      assert(rep.correlations(m) > 0.2, s"rho(radius,$m)=${rep.correlations(m)}")
    }
  }

  // --- loaders ---------------------------------------------------------

  test("CSV pair loader drops edges with unmatched endpoints like the reference") {
    val dir = Files.createTempDirectory("csvgraph").toFile
    val nodes = new java.io.File(dir, "nodes.csv")
    val edges = new java.io.File(dir, "edges.csv")
    Files.writeString(nodes.toPath,
      "id,title\npA,first\npB,second\npC,third\n")
    // pX/pY are unknown papers -> those edges are dropped (reference
    // datasets.py:660-667); (pB,pA) symmetrizes with (pA,pB)
    Files.writeString(edges.toPath,
      "source,target\npA,pB\npB,pA\npB,pC\npA,pX\npY,pC\n")
    val loaded = CsvGraph.readCsvPair(spark, nodes.getPath, edges.getPath)
    val dict = loaded.dict.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dict.keySet == Set("pA", "pB", "pC"))
    assert(dict.values.toSeq.sorted == Seq(0L, 1L, 2L))
    val got = loaded.edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((dict("pA"), dict("pB")), (dict("pB"), dict("pC"))))
  }

  test("readMtx: header/dims/comments skipped, 1-based shift, malformed line dropped") {
    val f = Files.createTempFile("fix", ".mtx")
    Files.writeString(f,
      """%%MatrixMarket matrix coordinate pattern symmetric
        |% comment
        |4 4 4
        |1 2
        |2 3
        |3
        |3 4
        |""".stripMargin)
    val got = Edges.readMtx(spark, f.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("readSnap: arity guard drops malformed lines") {
    val f = Files.createTempFile("fix", ".txt")
    Files.writeString(f, "# comment\n0 1\n1\nbogus line2\n1 2\n")
    val got = Edges.readSnap(spark, f.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (1L, 2L)))
  }

  // --- BoundedTopKAgg ---------------------------------------------------

  test("BoundedTopKAgg equals window row_number top-k") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 2000).map(i =>
      (i.toLong % 13, rnd.nextInt(50).toDouble, i.toLong))
    val df = rows.toDF("g", "d", "id")
    val agged = df.groupBy("g")
      .agg(graft.functions.BoundedTopKAgg.topK(
        struct(col("d"), col("id")), 5).as("nn"))
      .select(col("g"), posexplode(col("nn")))
      .select(col("g"), col("pos"), col("col.d"), col("col.id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("d").asc, col("id").asc)
    val win = df.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select(col("g"), (col("rn") - 1).cast("int").as("pos"), col("d"), col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(agged == win)
  }

  // --- dedup edge cases --------------------------------------------------

  test("shingles: empty set for docs with fewer than k tokens (no crash)") {
    import spark.implicits._
    val df = Seq((1L, "one"), (2L, "two words"), (3L, "three word doc"),
      (4L, "a b c d")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), size(TextOps.shingles(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 2))
  }

  test("minhash near-dups: 10k near-empty docs don't go quadratic; planted dups found") {
    import spark.implicits._
    val tiny = (0L until 10000L).map(i => (i, "tok"))
    val realA = (20000L, "the quick brown fox jumps over the lazy dog tail")
    val realB = (20001L, "the quick brown fox jumps over the lazy dog tail")
    val df = (tiny :+ realA :+ realB).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.minHashNearDups(df, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    assert(pairs == Set((20000L, 20001L)))
    assert(secs < 60, s"near-empty-doc corpus took ${secs}s")
  }

  test("portable minhash/simhash/srp produce sane values") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words here now ok")).toDF("doc_id", "text")
    // identical docs -> identical portable signature
    val sig = df.select(col("doc_id"),
      Dedup.minHashSignaturePortable(TextOps.shingles(col("text")), 16).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L) && sig(1L) != sig(3L))
    assert(sig(1L).forall(v => v >= 0 && v < 1000000007L))
    val sh = df.select(col("doc_id"), Dedup.simHashPortable(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L) && sh(1L) != sh(3L))
    // portable SRP LSH still finds the exact duplicate vector
    val emb = Seq((0L, Array.fill(8)(0.5f)), (1L, Array.fill(8)(0.5f)),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val nn = Ann.lshTopK(emb, emb.where(col("vec_id") === 0), 1).collect()
    assert(nn.length == 1 && nn.head.getLong(1) == 1L)
  }

  test("CSR PageRank matches the relational engine to 1e-12") {
    val e = graft.generators.Generators.ba(spark, 300, 3, 13)
    val rel = graft.algos.PageRank.fixedIterUndirected(e, 8, localEdgeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val csr = graft.algos.PageRankCsr.run(spark, e, maxIter = 8)
    csr.ranks.collect().foreach { r =>
      val id = r.getLong(0)
      rel.get(id).foreach(v => assert(math.abs(v - r.getDouble(1)) < 1e-12, s"v$id"))
    }
    // convergent mode agrees with the relational convergent engine
    // engine pinned to the relational plan: this is a CROSS-engine
    // parity test (auto would route dense graphs to PageRankCsr and
    // compare csr to csr)
    val relC = graft.algos.PageRank.runUndirected(spark, e,
      graft.algos.PageRank.Config(tol = 1e-8, maxIter = 100,
        engine = "rel"))
    val csrC = graft.algos.PageRankCsr.run(spark, e, maxIter = 100, tol = 1e-8)
    val relM = relC.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    csrC.ranks.collect().foreach { r =>
      relM.get(r.getLong(0)).foreach(v =>
        assert(math.abs(v - r.getDouble(1)) < 1e-9))
    }
  }

  test("spearman physical plan contains no global window") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toLong, i * 2.0 + (i % 7), (i + i % 13).toLong))
      .toDF("id", "a", "b")
    val out = graft.embed.Correlation.spearmanDf(df, "a", "b")
    val plan = out.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    // the old rank implementation was Window.orderBy with no partition —
    // an n-row single-task window. Ranks are join-based now: no Window
    // node anywhere in the final plan. (The one SinglePartition exchange
    // left is the scalar corr merge ABOVE a partial aggregate — fine.)
    assert(!plan.contains("Window"),
      s"window found in spearman plan:\n${plan.take(2000)}")
    // and it still computes the right value
    assert(out.head().getLong(0) > 900000) // strongly monotone-ish
  }

  test("BoundedTopKAgg plans as hash aggregation with a partial stage") {
    import spark.implicits._
    val df = (0 until 10000).map(i => (i.toLong % 50, i.toDouble, i.toLong))
      .toDF("g", "d", "id")
    val agged = df.groupBy("g").agg(
      graft.functions.BoundedTopKAgg.topK(struct(col("d"), col("id")), 3).as("nn"))
    val plan = agged.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    val objHash = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(objHash >= 2, s"expected partial+final ObjectHashAggregate:\n${plan.take(1500)}")
    assert(!plan.contains("SortAggregate"),
      "bounded top-k fell back to sort-based aggregation")
    assert(!plan.contains("Window"), "no window should be involved")
  }

  test("ResultsSink writes csv + markdown + latex tables") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sink").toString
    val df = Seq(("er_small", 1000L, 4999L, 1.23, 0.87),
      ("ba_mid", 5000L, 14991L, 4.56, 0.91))
      .toDF("graph_type", "vertices", "edges", "layout_time", "corr_degree")
    graft.core.ResultsSink.save(df, dir, "generator_benchmarks")
    val md = Files.readString(
      java.nio.file.Paths.get(dir, "generator_benchmarks", "generator_benchmarks.md"))
    assert(md.contains("| graph_type |") && md.contains("er_small") &&
      md.contains("0.8700"))
    val tex = Files.readString(
      java.nio.file.Paths.get(dir, "generator_benchmarks", "generator_benchmarks.tex"))
    assert(tex.contains("\\begin{tabular}") && tex.contains("ba\\_mid"))
    val csvDir = new java.io.File(s"$dir/generator_benchmarks/generator_benchmarks.csv.d")
    assert(csvDir.listFiles().exists(_.getName.endsWith(".csv")))
    // HTML (reference run_benchmarks.py:774-815): golden structure —
    // styled page, title-cased <h1>, header row, escaped cells
    val html = Files.readString(
      java.nio.file.Paths.get(dir, "generator_benchmarks", "generator_benchmarks.html"))
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("<title>Generator Benchmarks</title>"))
    assert(html.contains("<h1>Generator Benchmarks</h1>"))
    assert(html.contains("<th>graph_type</th><th>vertices</th>"))
    assert(html.contains("<td>er_small</td>"))
    assert(html.contains("<td>0.8700</td>"))
    assert(html.contains("border-collapse: collapse"))
  }
}
