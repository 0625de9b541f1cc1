package linkbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** What Spark ran for one span: jobs, stages and tasks, and the task
  * metrics summed over them.
  */
final class SparkCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  /** Worst stage's maximum ÷ median task duration; 1 when no stage ran
    * two tasks.
    */
  var taskSkew = 1.0

  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; resultBytes += o.resultBytes
    taskSkew = math.max(taskSkew, o.taskSkew)
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the engine, with Spark's job,
  * stage and task records attributed to them.
  *
  * Each span sets the Spark job group to its own id while it is open;
  * a listener maps every job, and through it every stage and task, to
  * the group it started under. Spans and counters stay in memory until
  * [[write]]. While tracing is off, [[span]] only runs its body.
  */
final class Tracer(sc: SparkContext, runId: String) {
  private val groupPrefix = s"linkbench-$runId-"
  private val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var open = List.empty[(Int, String)]
  private var on = false

  // written on the listener thread, read after ListenerBus.drain
  private val stageSpan = mutable.Map[Int, Int]()
  private val counters = mutable.Map[Int, SparkCounters]()
  private val taskTimes = mutable.Map[(Int, Int), ArrayBuffer[Long]]()
  private var unattributed = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(groupPrefix)).map(_.stripPrefix(groupPrefix).toInt) match {
        case Some(span) =>
          countersOf(span).jobs += 1
          e.stageIds.foreach(stageSpan(_) = span)
        case None => unattributed += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach { span =>
        countersOf(span).stages += 1
        countersOf(span).tasks += e.stageInfo.numTasks
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val c = countersOf(span)
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.resultBytes += m.resultSize
        }
        taskTimes.getOrElseUpdate((span, e.stageId), ArrayBuffer[Long]()) += e.taskInfo.duration
      }
    }
  }

  private def countersOf(span: Int): SparkCounters =
    counters.getOrElseUpdate(span, new SparkCounters)

  /** Starts or stops recording. The listener is attached only while on. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    org.apache.spark.linkbench.ListenerBus.drain(sc)
    if (flag) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    on = flag
  }

  /** Runs `body` inside a span named `name`, child of the innermost open
    * span. Returns the body's value and the span id (-1 when off).
    */
  def span[A](name: String)(body: => A): (A, Int) = {
    if (!on) return (body, -1)
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    sc.setJobGroup(groupPrefix + id, name)
    val t0 = System.nanoTime()
    try (body, id)
    finally {
      spans += Span(id, name, parent, t0, System.nanoTime())
      open = open.tail
      open.headOption match {
        case Some((p, pName)) => sc.setJobGroup(groupPrefix + p, pName)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Spark counters of a span and all its descendants. Call after
    * [[settle]].
    */
  def countersFor(span: Int): SparkCounters = synchronized {
    val total = new SparkCounters
    def visit(id: Int): Unit = {
      counters.get(id).foreach(total += _)
      skewOf(id).foreach(s => total.taskSkew = math.max(total.taskSkew, s))
      spans.filter(_.parent == id).foreach(c => visit(c.id))
    }
    visit(span)
    total
  }

  private def skewOf(span: Int): Option[Double] =
    taskTimes.collect { case ((`span`, _), ds) if ds.length >= 2 =>
      val sorted = ds.sorted
      sorted.last.toDouble / math.max(1L, Stats.median(sorted.map(_.toDouble)).toLong)
    }.maxOption

  /** Waits until every Spark event so far has been counted. */
  def settle(): Unit = org.apache.spark.linkbench.ListenerBus.drain(sc)

  def unattributedJobs: Int = synchronized(unattributed)

  /** Writes every span with its own counters as JSON lines. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.id).map { s =>
      val c = counters.getOrElse(s.id, new SparkCounters)
      Json.obj(Seq(
        "run" -> Json.str(runId), "span" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString,
        "start_s" -> Json.num((s.startNs - t0) / 1e9), "end_s" -> Json.num((s.endNs - t0) / 1e9),
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "exec_run_s" -> Json.num(c.runMs / 1e3), "exec_cpu_s" -> Json.num(c.cpuNs / 1e9),
        "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "spill_bytes" -> c.spillBytes.toString, "result_bytes" -> c.resultBytes.toString,
        "task_skew" -> Json.num(skewOf(s.id).getOrElse(1.0)),
      ))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
