package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.local(4, appName = "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  def edgesOf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    graft.graph.Edges.canonicalize(pairs.toDF("src", "dst"))
  }

  /** Stages Spark completes while `body` runs. */
  def stagesRun(body: => Any): Int = {
    @volatile var stages = 0
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages += 1
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    stages
  }

  /** Reference fixtures (/root/reference/tests/conftest.py:16-27 and
    * test_embedder.py:63-75, test_influence.py:17,33,64-67).
    */
  val K4: Seq[(Long, Long)] =
    Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L), (1L, 3L))
  val TwoTriangles: Seq[(Long, Long)] =
    Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L))
  val P10: Seq[(Long, Long)] = (0L until 9L).map(i => (i, i + 1))
  val K8: Seq[(Long, Long)] =
    for (i <- 0L until 8L; j <- (i + 1) until 8L) yield (i, j)
  val TwoPaths: Seq[(Long, Long)] =
    Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 5L))
}
