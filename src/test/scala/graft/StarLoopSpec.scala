package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.algos.ConnectedComponents
import graft.core.CheckpointManager
import graft.generators.Generators

/** The distributed small-star/large-star loop (pinned with
  * `localEdgeCap = 0`): its stage budget per round, exact parity with
  * the local union-find on hard inputs, and its checkpoint manifests.
  */
class StarLoopSpec extends SparkSuite {

  private def assignment(cc: DataFrame): Seq[(Long, Long)] =
    cc.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def manifestNumber(json: String, key: String): Double =
    s""""$key":(-?[0-9.Ee+-]+)""".r.findFirstMatchIn(json)
      .getOrElse(fail(s"no $key in $json")).group(1).toDouble

  /** Rounds the loop ran: a checkpointed run commits one manifest each. */
  private def checkpointedRounds(e: DataFrame): (Int, CheckpointManager, Seq[(Long, Long)]) = {
    val cm = new CheckpointManager(spark, Files.createTempDirectory("graft-cc").toString)
    val got = assignment(ConnectedComponents.run(spark, e, checkpoint = Some(cm)))
    (cm.latestIteration().map(_ + 1).getOrElse(0), cm, got)
  }

  test("distributed cc runs at most 5 stages per round") {
    val e = Generators.grid(spark, 40, 3).cache()
    e.count()
    def stagesOf(rounds: Int): Int =
      stagesRun(ConnectedComponents.run(spark, e, maxRounds = rounds, localEdgeCap = 0L).count())
    val one = stagesOf(1)
    val three = stagesOf(3)
    assert((three - one) / 2.0 <= 5.0, s"1 round: $one stages, 3 rounds: $three")
    e.unpersist()
  }

  test("distributed cc equals local union-find on hard inputs, in the same rounds") {
    import spark.implicits._
    // not canonical: reversed duplicates, negative ids, and vertex 42
    // whose only edge is a self-loop
    val raw = Seq((3L, -1L), (-1L, 3L), (-5L, -1L), (7L, 3L), (3L, 7L), (42L, 42L),
      (10L, -8L), (-8L, 11L), (11L, 10L), (-8L, 10L)).toDF("src", "dst")
    // pinned round counts: each round must emit the same star edges
    for ((name, e, rounds) <- Seq(
        ("grid(40, 3)", Generators.grid(spark, 40, 3), 7),
        ("erSparse(2000)", Generators.erSparse(spark, 2000, 1.2 / 2000, 11L), 7),
        ("non-canonical", raw, 3))) {
      val local = assignment(ConnectedComponents.run(spark, e))
      val dist = assignment(ConnectedComponents.run(spark, e, localEdgeCap = 0L))
      assert(dist == local, name)
      val (ran, _, ckpt) = checkpointedRounds(e)
      assert(ckpt == local, name)
      assert(ran == rounds, s"$name: $ran rounds")
    }
    val comp = assignment(ConnectedComponents.run(spark, raw, localEdgeCap = 0L)).toMap
    assert(comp(42L) == 42L && comp(3L) == -5L && comp(11L) == -8L)
  }

  test("checkpointed cc commits one manifest per round, chained by edge counts") {
    val e = Generators.grid(spark, 30, 4)
    val (ran, cm, got) = checkpointedRounds(e)
    assert(got == assignment(ConnectedComponents.run(spark, e)))
    assert(ran >= 3)
    val manifests = (0 until ran).map(cm.manifestJson)
    // each round records the row count of the edge set it started from
    assert(manifestNumber(manifests.head, "edges") == e.count().toDouble)
    manifests.sliding(2).foreach { case Seq(prev, cur) =>
      assert(manifestNumber(cur, "edges") == manifestNumber(prev, "rows"), cur)
    }
    // the loop stops on the first round that leaves the star edges unchanged
    assert(manifestNumber(manifests.last, "rows") == manifestNumber(manifests(ran - 2), "rows"))
    // a pinned run stops early with exactly as many manifests as rounds
    val pinned = new CheckpointManager(spark, Files.createTempDirectory("graft-cc").toString)
    ConnectedComponents.run(spark, e, maxRounds = 2, checkpoint = Some(pinned))
    assert(pinned.latestIteration().contains(1))
  }
}
