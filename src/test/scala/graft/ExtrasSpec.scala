package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.algos.EigenvectorCentrality
import graft.embed.{Correlation, CorrelationBench}
import graft.multimodal.Multimodal
import graft.streaming.EventStreams

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

  test("streaming hourly rollup agrees with the batch aggregation") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    events.write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readEvents(spark, dir)
    val q = EventStreams.startMemorySink(
      EventStreams.hourlyRollup(stream), "rollup_test")
    q.processAllAvailable()
    q.stop()
    // append mode only finalizes windows older than the watermark; on a
    // static file source the final watermark leaves the last windows
    // open, so compare the emitted subset against batch
    val got = spark.table("rollup_test")
      .select(col("window_start").cast("long").as("w"), col("event_type"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty, "stream emitted nothing")
    got.foreach { case (k, v) =>
      assert(batch.get(k).contains(v), s"window $k: stream=$v batch=${batch.get(k)}")
    }
  }

  test("stateful streaming sessionization: gap windows across micro-batches + timeout flush") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF.toDF("user_id", "event_id", "ts", "value")
    val q = EventStreams.sessionize(spark, events)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // batch 1: user 1 opens a session (2 events), user 2 one event
      ms.addData((1L, 1L, ts(1000), 1.0), (1L, 2L, ts(1060), 2.0),
        (2L, 10L, ts(5000), 1.5))
      q.processAllAvailable()
      // batch 2: user 1's event 1840s after their last -> gap closes s0
      // ACROSS the micro-batch boundary (state carried); user 2 sends a
      // LATE event (ts 4990 < watermark-safe 5000) that merges into the
      // open session and must lower its session_start_us to min(us)
      ms.addData((1L, 3L, ts(2900), 0.5), (2L, 11L, ts(4990), 0.5))
      q.processAllAvailable()
      // two sentinel batches far in the future: the first advances the
      // watermark, the second triggers the batch in which event-time
      // timeouts fire and flush every still-open session
      ms.addData((9999L, 99L, ts(900000), 0.0))
      q.processAllAvailable()
      ms.addData((9999L, 100L, ts(1800000), 0.0))
      q.processAllAvailable()
      // user 1 RETURNS after their open session was flushed by timeout:
      // the tombstone must carry the ordinal forward (sess=2, not 0)
      ms.addData((1L, 4L, ts(1800100), 4.0))
      q.processAllAvailable()
      ms.addData((9999L, 101L, ts(3600000), 0.0))
      q.processAllAvailable()
      ms.addData((9999L, 102L, ts(7200000), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_stream")
      .where(col("user_id") =!= 9999L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val want = Set(
      (1L, 0L, 1000000000L, 2L, 3000000L),  // closed by the in-stream gap
      (1L, 1L, 2900000000L, 1L, 500000L),   // flushed by timeout
      (1L, 2L, 1800100000000L, 1L, 4000000L), // ordinal survives the flush
      (2L, 0L, 4990000000L, 2L, 2000000L))  // late event lowered the start
    assert(got == want, s"got $got")
  }

  test("sessionization splits an out-of-order event beyond the gap (batch-twin parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ms = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val events = ms.toDF.toDF("user_id", "event_id", "ts", "value")
    val q = EventStreams.sessionize(spark, events)
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append").start()
    try {
      // batch 1: 12:00:00 opens a session; watermark advances to 11:00
      ms.addData((3L, 1L, ts(43200), 1.0))
      q.processAllAvailable()
      // batch 2: a LATE event at 11:06:40 — inside the watermark but
      // 3200s (> the 1800s gap) BEFORE the open session's start. The
      // batch twin (sorted lag) makes it its OWN session; the old fold
      // merged it because us - lastUs was negative
      ms.addData((3L, 2L, ts(40000), 2.0))
      q.processAllAvailable()
      // sentinels: advance the watermark, then fire the timeouts
      ms.addData((9999L, 99L, ts(900000), 0.0))
      q.processAllAvailable()
      ms.addData((9999L, 100L, ts(1800000), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_ooo").where(col("user_id") === 3L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val want = Set(
      (0L, 40000000000L, 1L, 2000000L),  // the late event, first in time
      (1L, 43200000000L, 1L, 1000000L))  // the original, AFTER the gap
    assert(got == want, s"got $got")
  }

  test("streaming exact dedup: redelivered events within the watermark dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.dedupEvents(events)
      .select("event_id", "user_id")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(1000), 10L, "a", 1.0, ""), (2L, ts(1001), 11L, "b", 2.0, ""),
        (1L, ts(1000), 10L, "a", 1.0, "")) // in-batch duplicate
      q.processAllAvailable()
      // cross-batch redelivery of event 2 (within the 1h watermark)
      ms.addData((2L, ts(1500), 11L, "b", 2.0, ""), (3L, ts(1600), 12L, "c", 3.0, ""))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 10L), (2L, 11L), (3L, 12L)), got.toString)
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
