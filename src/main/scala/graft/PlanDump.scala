package graft

import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** Dump `.explain("formatted")` of every declared query to
  * plans/<tag>/<query>_<suffix>.txt — the committed evidence for plan
  * claims in OPTIMIZATION_r*.md.
  *
  * Usage: sbt "runMain graft.PlanDump r06 before [queryName ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = if (args.length > 0) args(0) else "r06"
    val suffix = if (args.length > 1) args(1) else "before"
    val only = args.drop(2).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Paths.get(s"plans/$tag")
    Files.createDirectories(dir)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    names.foreach { name =>
      // NOTE: queries that run driver-side loops (pagerank/cc/layout)
      // execute actions while BUILDING the frame; the dumped plan is the
      // plan of the FINAL returned frame. That is still the right
      // evidence for join strategy / exchange count / pushdown claims on
      // the declarative queries, and for the final assembly of the
      // iterative ones.
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(dir.resolve(s"${name}_$suffix.txt"), txt)
        println(s"dumped $name")
      } catch {
        case e: Throwable => println(s"FAILED $name: $e")
      }
    }
    spark.stop()
  }
}
