package linkbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The link-graph benchmark: one closed-loop client issuing one workload
  * pass after another against a `local[cores]` session.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work-dir <dir> [--trace-file <file>] [--cores <n>]
  * }}}
  *
  * It sets up the workload's inputs and reference answers from the seed
  * several times, runs [[WarmUpPasses]] warm-up passes, then passes until
  * `--seconds` have gone and at least [[MinPasses]] ran, checking every
  * output. The last stdout line is the result JSON: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer ones, from passes
  * alternating between untraced and traced.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        workDir: Path, traceFile: Option[Path], cores: Int)

  val SetupRuns = 5
  /** Unreported passes before the measured ones. The first pass in a JVM
    * runs about twice as slow as later ones while Spark generates code and
    * the JIT compiles it, and the second is still ~15 % slower than the
    * ones after it. Measuring from the third on keeps the steepest part of
    * that warm-up out of the figures.
    */
  val WarmUpPasses = 2
  /** Measured passes at the least, however long they take. With tracing
    * on they alternate untraced and traced, so both kinds are there.
    */
  val MinPasses = 3

  private final case class Done(p: Pass, seconds: Double, traced: Boolean)

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s")

  val Ops: Seq[String] = Seq("graph.edges", "algos.pagerank", "algos.resume", "algos.cc",
    "algos.lpa", "algos.triangles", "embed.spectral", "embed.layout", "embed.radii",
    "embed.spearman")

  private val opCounters = Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "busy_share" -> "ratio", "wall_share" -> "ratio", "shuffle_read_mb" -> "MB",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "collect_mb" -> "MB", "task_skew" -> "ratio")

  /** Per-layer metrics with units; zero where the workload has no such call. */
  val PerLayer: Seq[(String, String)] =
    Ops.flatMap(op => opCounters.map { case (c, u) => s"$op.$c" -> u }) ++ Seq(
      "algos.pagerank.supersteps" -> "count", "algos.resume.supersteps" -> "count",
      "algos.lpa.supersteps" -> "count", "embed.layout.supersteps" -> "count",
      "embed.layout.stages_per_superstep" -> "count",
      "core.checkpoint.commits" -> "count", "core.checkpoint.bytes_written_mb" -> "MB",
      "embed.spearman.rho_radius_degree" -> "coef", "embed.spearman.rho_radius_pagerank" -> "coef",
      "bench.pass.traced_s" -> "s", "bench.pass.untraced_s" -> "s",
      "bench.trace.overhead_s" -> "s", "spark.pass.exec_run_s" -> "s",
      "spark.pass.exec_cpu_s" -> "s", "spark.pass.busy_share" -> "ratio",
      "spark.pass.jobs" -> "count", "spark.pass.unattributed_jobs" -> "count")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("work-dir")), m.get("trace-file").map(Paths.get(_)),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload = Workloads.byName(o.workload).getOrElse(throw new IllegalArgumentException(
      s"unknown workload ${o.workload}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val spark = GraftSession.local(o.cores, appName = "linkbench")
    spark.sparkContext.setLogLevel("ERROR")
    try println(run(spark, workload, o))
    finally spark.stop()
  }

  def run(spark: SparkSession, workload: Workload, o: Opts): String = {
    val checks = new Checks
    val tracer = new Tracer(spark.sparkContext, s"${workload.name}-${o.seed}")

    var prepared: Prepared = null
    val setupSeconds = (1 to SetupRuns).map { i =>
      if (prepared != null) {
        prepared.release()
        Workloads.deleteTree(o.workDir.resolve(s"setup-${i - 1}"))
      }
      val dir = Files.createDirectories(o.workDir.resolve(s"setup-$i"))
      val t0 = System.nanoTime()
      prepared = workload.setup(spark, o.seed, dir)
      (System.nanoTime() - t0) / 1e9
    }

    def pass(traced: Boolean): Option[Done] = {
      tracer.enable(traced)
      val p = new Pass(tracer, checks)
      try {
        tracer.span("pass")(prepared.pass(p))
        // the pass's time is its calls' time; the checks between them are not counted
        Some(Done(p, p.calls.values.map(_._1).sum, traced))
      } catch {
        case NonFatal(e) =>
          checks.fail(s"threw $e")
          None
      }
    }

    val warmUp = (1 to WarmUpPasses).flatMap(_ => pass(traced = false))
    val done = ArrayBuffer[Done]()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < MinPasses) {
      pass(traced = o.trace && i % 2 == 1).foreach(done += _)
      i += 1
    }
    tracer.enable(false)
    prepared.release()

    val untraced = done.filter(!_.traced)
    val traced = done.filter(_.traced)
    summarize(workload, setupSeconds, warmUp, done.toSeq, checks)
    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        val value = Map("setup_s" -> Stats.median(setupSeconds), "pass_s" -> passSeconds(untraced))
        EndToEnd.map { case (name, unit) => (name, unit, value(name)) }
      } else {
        val perPass = traced.map(d => layerMetrics(tracer, d.p, d.seconds, o.cores))
        val byName = PerLayer.map { case (name, _) =>
          val xs = perPass.flatMap(_.get(name))
          name -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
        }.toMap
        val withOverhead = byName ++ Map(
          "bench.pass.traced_s" -> passSeconds(traced),
          "bench.pass.untraced_s" -> passSeconds(untraced),
          "bench.trace.overhead_s" -> (passSeconds(traced) - passSeconds(untraced)),
          "spark.pass.unattributed_jobs" ->
            tracer.unattributedJobs.toDouble / math.max(1, traced.length))
        o.traceFile.foreach(tracer.write)
        PerLayer.map { case (name, unit) => (name, unit, withOverhead(name)) }
      }
    Json.obj(Seq(
      "correct" -> (checks.failed == 0).toString,
      "attempted" -> checks.attempted.toString,
      "failed" -> checks.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (name, unit, v) =>
        name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })))
  }

  /** A pass's time over several passes: the sum over its calls of each
    * call's median time. A slow spell in one pass then costs only the
    * calls it hit.
    */
  private def passSeconds(passes: collection.Seq[Done]): Double =
    passes.flatMap(_.p.calls.keys).distinct
      .map(op => Stats.median(passes.flatMap(_.p.calls.get(op).map(_._1)))).sum

  /** Per-layer values of one traced pass, keyed by per-layer metric name. */
  private def layerMetrics(tracer: Tracer, p: Pass, passWall: Double,
                           cores: Int): Map[String, Double] = {
    tracer.settle()
    val m = mutable.Map[String, Double]()
    for ((op, (seconds, span)) <- p.calls) {
      val c = tracer.countersFor(span)
      m(s"$op.jobs") = c.jobs
      m(s"$op.stages") = c.stages
      m(s"$op.tasks") = c.tasks
      m(s"$op.busy_share") = c.runMs / 1e3 / (seconds * cores)
      m(s"$op.wall_share") = seconds / passWall
      m(s"$op.shuffle_read_mb") = c.shuffleReadBytes / 1e6
      m(s"$op.shuffle_write_mb") = c.shuffleWriteBytes / 1e6
      m(s"$op.spill_mb") = c.spillBytes / 1e6
      m(s"$op.collect_mb") = c.resultBytes / 1e6
      m(s"$op.task_skew") = c.taskSkew
    }
    m ++= p.notes
    for (steps <- p.notes.get("embed.layout.supersteps"); stages <- m.get("embed.layout.stages"))
      m("embed.layout.stages_per_superstep") = stages / steps
    // the calls only: jobs between them belong to the checks
    val all = new SparkCounters
    p.calls.values.foreach { case (_, span) => all += tracer.countersFor(span) }
    m("spark.pass.exec_run_s") = all.runMs / 1e3
    m("spark.pass.exec_cpu_s") = all.cpuNs / 1e9
    m("spark.pass.busy_share") = all.runMs / 1e3 / (passWall * cores)
    m("spark.pass.jobs") = all.jobs
    m.toMap
  }

  /** Human-readable run summary on stderr: set-up and pass times, every
    * call's time in every pass, and the first failures.
    */
  private def summarize(workload: Workload, setup: Seq[Double], warmUp: Seq[Done],
                        done: Seq[Done], checks: Checks): Unit = {
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ", ", "]")
    val err = System.err
    val gcSeconds = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1e3
    err.println(s"[linkbench] ${workload.name}: setup ${fmt(setup)} s, warm-up passes " +
      s"${fmt(warmUp.map(_.seconds))} s, passes ${fmt(done.map(_.seconds))} s " +
      f"(traced ${done.count(_.traced)}), JVM GC total $gcSeconds%.1f s")
    val all = warmUp ++ done
    for (op <- all.flatMap(_.p.calls.keys).distinct) {
      val xs = all.map(_.p.calls.get(op).map(_._1).getOrElse(Double.NaN))
      err.println(f"[linkbench]   $op%-18s ${fmt(xs)} s")
    }
    err.println(s"[linkbench] calls attempted ${checks.attempted}, failed ${checks.failed}")
    checks.failures.foreach(f => err.println(s"[linkbench] FAILED $f"))
  }
}
