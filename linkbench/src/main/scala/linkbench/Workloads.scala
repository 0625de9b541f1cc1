package linkbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.CheckpointManager
import graft.embed.{Correlation, ForceLayout, SpectralInit}
import graft.generators.Generators
import graft.graph.Edges

/** One workload pass in progress: times and traces each call into the
  * engine, and lets the checks that follow a call fail it.
  */
final class Pass(tracer: Tracer, checks: Checks) {
  /** Wall seconds and span id of every call, in call order. */
  val calls: mutable.LinkedHashMap[String, (Double, Int)] = mutable.LinkedHashMap()
  /** Values a pass reports beside its timings: supersteps, commits, rho. */
  val notes: mutable.Map[String, Double] = mutable.Map()

  def call[A](op: String)(body: => A): A = {
    checks.begin(op)
    val t0 = System.nanoTime()
    val (out, span) = tracer.span(op)(body)
    calls(op) = ((System.nanoTime() - t0) / 1e9, span)
    out
  }

  def expect(mismatch: Option[String]): Unit = checks.expect(mismatch)

  def note(key: String, value: Double): Unit = notes(key) = value
}

/** Inputs and reference answers built from a seed before any timed call. */
trait Prepared {
  def pass(p: Pass): Unit
  def release(): Unit
}

trait Workload {
  def name: String
  def setup(spark: SparkSession, seed: Long, dir: Path): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(WebLocal, HubDistributed)

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  private[linkbench] def longs(df: DataFrame, value: String): Array[(Long, Long)] =
    df.select("id", value).collect().map(r => (r.getLong(0), r.getLong(1)))

  private[linkbench] def doubles(df: DataFrame, value: String): Array[(Long, Double)] =
    df.select("id", value).collect().map(r => (r.getLong(0), r.getDouble(1)))

  private[linkbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator()
      .asScala.foreach(Files.delete)

  /** Edge-table digest that needs no hashing: count, endpoint sums and
    * the sum of endpoint products, plus the smallest dst - src (positive
    * on a canonical table).
    */
  private[linkbench] def digest(e: DataFrame): Seq[Long] = {
    val r = e.agg(count(lit(1)), sum(col("src")), sum(col("dst")),
      sum(col("src") * col("dst")), min(col("dst") - col("src"))).head()
    (0 until 5).map(r.getLong)
  }

  private[linkbench] def digest(g: Graph): Seq[Long] = {
    val s = g.src.map(g.ids(_))
    val d = g.dst.map(g.ids(_))
    Seq(g.edges.toLong, s.sum, d.sum, s.indices.map(i => s(i) * d(i)).sum,
      s.indices.map(i => d(i) - s(i)).min)
  }
}

/** The graph of web-local: a lineitem table shaped like a fifth of
  * TPC-H sf0.1's (120,000 lines, order keys uniform on [0, 30,000), part
  * keys uniform on [0, 4,000)) drawn from the seed, turned into a graph
  * on V = 10,000 ids by `Edges.fromLineitem`, whose ids then go through
  * a seeded affine bijection on [0, V). The first V lines take order keys
  * 0 until V, so every id has an edge and the id space is dense, as the
  * CSR route needs.
  */
final class LineitemGraph(spark: SparkSession, seed: Long, dir: Path) {
  private val keys = LineitemKeys(seed, lines = 120000, orders = 30000L, parts = 4000L,
    v = 10000L)
  val V: Long = keys.v

  private val rnd = new java.util.SplittableRandom(seed)
  private val a: Long = Iterator.continually(rnd.nextLong(1L, V))
    .find(x => BigInt(x).gcd(BigInt(V)) == 1).get
  private val b: Long = rnd.nextLong(0L, V)

  val sfDir: String = {
    import spark.implicits._
    val k = keys
    val path = dir.resolve("lineitem.parquet").toString
    spark.range(k.lines).map(i => (k.orderKey(i), k.partKey(i)))
      .toDF("l_orderkey", "l_partkey").write.mode("overwrite").parquet(path)
    dir.toString
  }

  /** The reference graph, derived without Spark from the same keys. */
  val graph: Graph = {
    def f(x: Long) = (a * x + b) % V
    val s = Array.tabulate(keys.lines)(i => f(keys.orderKey(i) % V))
    val d = Array.tabulate(keys.lines)(i => f(keys.partKey(i) % V))
    val g = Graph.fromPairs(s, d)
    require(g.n == V && g.ids.last == V - 1, s"ids of the lineitem graph are not dense: ${g.n}")
    g
  }

  /** The engine's edge table: `Edges.fromLineitem`, relabelled. */
  def edges(): DataFrame = {
    def f(c: String) = pmod(col(c) * a + b, lit(V))
    Edges.fromLineitem(spark, sfDir, V)
      .select(least(f("src"), f("dst")).as("src"), greatest(f("src"), f("dst")).as("dst"))
  }
}

/** Lineitem keys as pure functions of the seed and the line number, so
  * Spark and the reference draw the same table.
  */
final case class LineitemKeys(seed: Long, lines: Int, orders: Long, parts: Long, v: Long) {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def orderKey(i: Long): Long = if (i < v) i else Math.floorMod(mix(mix(seed) + 2 * i), orders)

  def partKey(i: Long): Long = Math.floorMod(mix(mix(seed) + 2 * i + 1), parts)
}

/** web-local: the lineitem graph under default routing. The CSR
  * PageRank engine, the driver-local kernels and the routing gates do
  * the algorithms' work, and the distributed loops do none. Then
  * graphem's embedding of the same graph — spectral init, force-layout
  * supersteps, radii, and the Spearman rho of radius against degree and
  * against PageRank — where `embed` and `functions` do the work. The
  * reference degree and PageRank for rho come from setup.
  */
object WebLocal extends Workload {
  val name = "web-local"
  val Tol = 1e-6
  val MaxIter = 100
  val LpaIterations = 5
  val LayoutSteps = 1

  def setup(spark: SparkSession, seed: Long, dir: Path): Prepared = new Prepared {
    private val input = new LineitemGraph(spark, seed, dir)
    private val g = input.graph
    private val wantDigest = Workloads.digest(g)
    private val ranks = Reference.pagerank(g, 0.85, Tol, MaxIter)
    private val components = Reference.components(g)
    private val labels = Reference.labelPropagation(g, LpaIterations)
    private val triangles = Reference.triangles(g)
    private val degree = Array.tabulate(g.n)(v => g.degree(v).toDouble)
    private val reference = {
      val rows = g.ids.indices.map(v => Row(g.ids(v), degree(v), ranks.last(v)))
      spark.createDataFrame(rows.asJava, StructType(Seq(StructField("id", LongType),
        StructField("degree", DoubleType), StructField("pagerank", DoubleType))))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    reference.count()
    private var firstRadii: Option[Long] = None

    def pass(p: Pass): Unit = {
      val e = p.call("graph.edges") {
        val e = input.edges().persist(StorageLevel.MEMORY_AND_DISK)
        e.count()
        e
      }
      try {
        p.expect(Compare.equal("edge digest", Workloads.digest(e), wantDigest))
        algorithms(p, e)
        embedding(p, e)
      } finally e.unpersist(false)
    }

    private def algorithms(p: Pass, e: DataFrame): Unit = {
      val pr = p.call("algos.pagerank") {
        val r = PageRank.runUndirected(spark, e, PageRank.Config(tol = Tol, maxIter = MaxIter))
        r.ranks.count()
        r
      }
      p.note("algos.pagerank.supersteps", pr.iterations)
      p.expect(Compare.equal("supersteps", pr.iterations, ranks.length - 1))
      p.expect(Compare.close("ranks", Workloads.doubles(pr.ranks, "rank"), g.ids, ranks.last))

      val cc = p.call("algos.cc") {
        val c = ConnectedComponents.run(spark, e)
        c.count()
        c
      }
      p.expect(Compare.exact("components", Workloads.longs(cc, "component"), g.ids, components))

      val lpa = p.call("algos.lpa") {
        val l = LabelPropagation.run(spark, e, LpaIterations)
        l.count()
        l
      }
      p.note("algos.lpa.supersteps", LpaIterations)
      p.expect(Compare.exact("labels", Workloads.longs(lpa, "label"), g.ids, labels))

      val t = p.call("algos.triangles")(TriangleCount.globalCount(spark, e).head().getLong(0))
      p.expect(Compare.equal("triangles", t, triangles))
    }

    private def embedding(p: Pass, e: DataFrame): Unit = {
      val init = p.call("embed.spectral") {
        val s = SpectralInit.run(spark, e, d = 2, gramTol = 1e-6)
        s.count()
        s
      }
      p.expect(Compare.equal("spectral rows", init.count(), g.n.toLong))
      val pos = p.call("embed.layout") {
        val l = ForceLayout.run(spark, e, init, LayoutSteps)
        l.count()
        l
      }
      p.note("embed.layout.supersteps", LayoutSteps)
      val radii = ForceLayout.radii(pos)
      val got = p.call("embed.radii")(Workloads.doubles(radii, "radius"))
      p.expect(Compare.equal("radii rows", got.length, g.n))
      p.expect(got.collectFirst { case (id, r) if !(r >= 0 && r < Double.PositiveInfinity) =>
        s"radius of $id is $r" })
      // radii rounded to 1e-6, as the engine's own radii query reports
      // them, must repeat exactly from pass to pass
      val digest = got.sortBy(_._1).foldLeft(17L) { case (h, (id, r)) =>
        (h * 31 + id) * 31 + math.round(r * 1e6)
      }
      if (firstRadii.isEmpty) firstRadii = Some(digest)
      p.expect(Compare.equal("radii digest", digest, firstRadii.get))

      val (rhoDegree, rhoRank) = p.call("embed.spearman") {
        val joined = radii.join(reference, "id")
        (Correlation.spearmanDf(joined, "radius", "degree").head().getLong(0),
          Correlation.spearmanDf(joined, "radius", "pagerank").head().getLong(0))
      }
      val byId = got.toMap
      val r = g.ids.map(byId)
      for ((what, micro, other) <- Seq(("rho(radius, degree)", rhoDegree, degree),
          ("rho(radius, pagerank)", rhoRank, ranks.last))) {
        val want = math.round(Reference.spearman(r, other) * 1e6)
        p.expect(if (math.abs(micro - want) <= 1) None else Some(s"$what: got $micro, want $want micro"))
      }
      p.note("embed.spearman.rho_radius_degree", rhoDegree / 1e6)
      p.note("embed.spearman.rho_radius_pagerank", rhoRank / 1e6)
    }

    def release(): Unit = reference.unpersist(false)
  }
}

/** hub-distributed: a seeded Barabási–Albert power-law graph with every
  * route pinned to the distributed path, so the shuffle joins and
  * aggregations, hub skew, lineage truncation and checkpoint writes and
  * reads do the work and the local kernels do none.
  */
object HubDistributed extends Workload {
  val name = "hub-distributed"
  val Vertices = 2000
  val EdgesPerVertex = 3
  /** PageRank supersteps before and after the resume. */
  val FirstSteps = 1
  val TotalSteps = 2
  val LpaIterations = 2

  def setup(spark: SparkSession, seed: Long, dir: Path): Prepared = new Prepared {
    private val e = Generators.ba(spark, Vertices, EdgesPerVertex, seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    private val g = {
      val rows = e.select("src", "dst").collect()
      Graph.fromPairs(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    }
    private val ranks = Reference.pagerank(g, 0.85, 0.0, TotalSteps)
    private val components = Reference.components(g)
    private val labels = Reference.labelPropagation(g, LpaIterations)
    private val triangles = Reference.triangles(g)
    private var passes = 0

    private def commits(root: Path): Int =
      Files.list(root).iterator().asScala
        .count(_.getFileName.toString.matches("manifest-\\d+\\.json"))

    private def bytes(root: Path): Long =
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

    def pass(p: Pass): Unit = {
      passes += 1
      val root = dir.resolve(s"checkpoints-$passes")
      try {
        val cm = new CheckpointManager(spark, root.toString)
        def pagerank(steps: Int) = {
          val r = PageRank.runUndirected(spark, e, PageRank.Config(tol = 0.0, maxIter = steps,
            engine = "rel", checkpoint = Some(cm)))
          r.ranks.count()
          r
        }
        val first = p.call("algos.pagerank")(pagerank(FirstSteps))
        p.note("algos.pagerank.supersteps", FirstSteps)
        p.expect(Compare.equal("supersteps", first.iterations, FirstSteps))
        p.expect(Compare.equal("commits on disk", commits(root), FirstSteps))
        p.expect(Compare.close("ranks", Workloads.doubles(first.ranks, "rank"), g.ids, ranks(FirstSteps)))

        val resumed = p.call("algos.resume")(pagerank(TotalSteps))
        p.note("algos.resume.supersteps", TotalSteps - FirstSteps)
        p.expect(Compare.equal("supersteps", resumed.iterations, TotalSteps))
        p.expect(Compare.equal("commits on disk", commits(root), TotalSteps))
        p.expect(Compare.close("resumed ranks", Workloads.doubles(resumed.ranks, "rank"), g.ids,
          ranks(TotalSteps)))
        p.note("core.checkpoint.commits", commits(root))
        p.note("core.checkpoint.bytes_written_mb", bytes(root) / 1e6)

        val cc = p.call("algos.cc") {
          val c = ConnectedComponents.run(spark, e, localEdgeCap = 0L)
          c.count()
          c
        }
        p.expect(Compare.exact("components", Workloads.longs(cc, "component"), g.ids, components))

        val lpa = p.call("algos.lpa") {
          val l = LabelPropagation.run(spark, e, LpaIterations, localEdgeCap = 0L)
          l.count()
          l
        }
        p.note("algos.lpa.supersteps", LpaIterations)
        p.expect(Compare.exact("labels", Workloads.longs(lpa, "label"), g.ids, labels))

        val t = p.call("algos.triangles") {
          TriangleCount.globalCount(spark, e, localEdgeCap = 0L).head().getLong(0)
        }
        p.expect(Compare.equal("triangles", t, triangles))
      } finally Workloads.deleteTree(root)
    }

    def release(): Unit = e.unpersist(false)
  }
}
