package graft.embed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Route

/** Spearman rank correlation — the reference's benchmark metric
  * (scipy.stats.spearmanr, /root/reference/graphem/benchmark.py:173-194):
  * average ranks for ties, Pearson correlation of the rank vectors.
  *
  * Ranks are computed WITHOUT any single-partition window: per distinct
  * value, avg rank = (#smaller) + (#equal + 1)/2. The cumulative count
  * over the distinct-value table is two-phase — range-partition on the
  * value, cumulative sum locally within each range partition, then add
  * broadcast per-partition offsets (same pattern as Ids.dense). For a
  * continuous score column distinct ≈ n, so a global-ordered window
  * here would funnel the whole table through ONE task at web scale.
  * Pearson on ranks is the built-in `corr`-shaped aggregate.
  */
object Correlation {

  /** Average ranks for BOTH columns in ONE ranged shuffle: the two value
    * columns are tagged and unioned, counts grouped by (tag, value),
    * range-partitioned on (tag, value), locally cumsum'd per (partition,
    * tag), and per-(partition, tag) offsets (<= 2P rows) broadcast back.
    * Halves the job count of the old one-column-at-a-time path (one
    * ranged shuffle + one offsets collect instead of two of each).
    *
    * The ranged frame is EAGERLY materialized (Lineage.truncate) BEFORE
    * the offsets collect: a lost shuffle block between the offsets
    * action and the rank projection can then never re-sample range
    * bounds and silently misalign ranks — both reads hit the pinned
    * checkpointed layout.
    *
    * Values are compared after a cast to double (exact for the integral
    * score columns used here, < 2^53). Returns df plus `_ra`/`_rb` rank
    * columns. Deterministic across parallelism: ranks depend only on the
    * global sort order of the values, not on the sampled range bounds.
    */
  private def avgRanksBoth(df: DataFrame, a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    val p = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val tagged = df.select(lit(0).as("_tag"), col(a).cast("double").as("_v"))
      .union(df.select(lit(1).as("_tag"), col(b).cast("double").as("_v")))
    val counts = tagged.groupBy("_tag", "_v").agg(count(lit(1)).as("_cnt"))
    val ranged = graft.core.Lineage.truncate(
      counts.repartitionByRange(p, col("_tag"), col("_v")))
      .withColumn("_pid", spark_partition_id())
    val wLocal = Window.partitionBy("_pid", "_tag").orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("_cum", sum(col("_cnt")).over(wLocal))
    // ONE collect: per-(partition, tag) totals -> running offsets per tag
    val totals = ranged.groupBy(col("_pid"), col("_tag"))
      .agg(sum(col("_cnt")).as("_tot")).orderBy("_tag", "_pid").collect()
    val runningByTag = scala.collection.mutable.Map[Int, Long]()
    val offsets = totals.map { r =>
      val pid = r.getInt(0); val tag = r.getInt(1); val tot = r.getLong(2)
      val off = runningByTag.getOrElse(tag, 0L)
      runningByTag(tag) = off + tot
      (pid, tag, off)
    }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("_pid", "_tag", "_off")
    val ranked = graft.core.Lineage.truncate(
      local.join(broadcast(offsetsDf), Seq("_pid", "_tag"))
        .select(col("_tag"), col("_v"),
          (col("_off") + col("_cum") - col("_cnt") + (col("_cnt") + 1) / 2.0)
            .as("_r")))
    graft.core.Lineage.release(ranged)
    val ra = ranked.where(col("_tag") === 0)
      .select(col("_v").as("_va"), col("_r").as("_ra"))
    val rb = ranked.where(col("_tag") === 1)
      .select(col("_v").as("_vb"), col("_r").as("_rb"))
    df.join(ra, col(a).cast("double") === col("_va"))
      .join(rb, col(b).cast("double") === col("_vb"))
      .drop("_va", "_vb")
  }

  /** Guarded Pearson over two columns: NULL when either is constant
    * (ANSI mode makes the built-in `corr` throw DIVIDE_BY_ZERO there;
    * the reference reports NaN — quirk #10,
    * /root/reference/run_benchmarks.py:170-181).
    */
  private def pearson(a: Column, b: Column): Column = {
    val cov = covar_pop(a, b)
    val sa = stddev_pop(a)
    val sb = stddev_pop(b)
    when(sa === 0.0 || sb === 0.0, lit(null).cast("double"))
      .otherwise(cov / (sa * sb))
  }

  /** Spearman rho of (a, b) columns of `df`. Returns NaN when either
    * column is constant.
    */
  def spearman(df: DataFrame, a: String, b: String): Double =
    spearmanVia(df, a, b)._1

  /** (rho, usedLocalPath) — threshold injectable for the routing test.
    * At or below `threshold` (value, value) pairs the whole computation
    * runs driver-locally: the distributed two-phase rank costs ~8 tiny
    * jobs of pure scheduling overhead on benchmark-scale frames. Same
    * gated-local-path pattern as SpectralInit: the distributed plan —
    * the one that matters at 100 TB — engages above the threshold, and
    * a parity test pins the two paths to each other.
    */
  private[graft] def spearmanVia(df: DataFrame, a: String, b: String,
                                 threshold: Int = Route.SpearmanPairCap): (Double, Boolean) =
    probePairs(df, a, b, threshold) match {
      case Some(pairs) => (spearmanLocal(pairs), true)
      case None => (spearmanDistributed(df, a, b), false)
    }

  /** SINGLE-execution local-path gate: collect up to threshold+1
    * projected (a, b) pairs and decide from their count. The previous
    * gate ran `limit().count()` and then a separate full collect — two
    * executions of the entire upstream pipeline (for q_spearman_deg_pr
    * that pipeline is a 5-superstep PageRank, so the gate itself cost
    * more than the correlation). Above the threshold the wasted work is
    * bounded by threshold+1 rows of two doubles (~32 MB), paid once,
    * before the distributed plan runs.
    */
  private def probePairs(df: DataFrame, a: String, b: String,
                         threshold: Int): Option[Array[(Double, Double)]] =
    if (threshold <= 0) None
    else {
      // null rows are dropped BEFORE the limit, matching the distributed
      // path exactly: avgRanksBoth re-joins on value equality, which
      // silently excludes null values — the local path must not NPE (or
      // count toward the threshold) on rows the distributed path ignores
      val rows = df.select(col(a).cast("double"), col(b).cast("double"))
        .where(col(a).isNotNull && col(b).isNotNull)
        .limit(threshold + 1).collect()
      if (rows.length <= threshold)
        Some(rows.map(r => (r.getDouble(0), r.getDouble(1))))
      else None
    }

  /** Pairwise-complete rows only (scipy `nan_policy='omit'` semantics,
    * and what the local path's null-dropping probe computes): a row
    * with a null in EITHER column must not contribute its other value
    * to the rank counts — the final value-equality joins would drop the
    * row anyway, but its surviving column would have shifted avg ranks
    * of tied values, silently changing rho across the local gate.
    */
  private def pairwiseComplete(df: DataFrame, a: String, b: String): DataFrame =
    df.where(col(a).isNotNull && col(b).isNotNull)

  private def spearmanDistributed(df: DataFrame, a: String, b: String): Double = {
    val withBoth = avgRanksBoth(pairwiseComplete(df, a, b), a, b)
    val r = withBoth.agg(pearson(col("_ra"), col("_rb"))).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** DataFrame variant for oracle-checked queries: single row with the
    * correlation in integer micro-units. Routed through the same
    * local-path gate as [[spearman]]; the micro rounding runs through
    * the identical Spark `round` expression on both paths.
    */
  def spearmanDf(df: DataFrame, a: String, b: String,
                 outName: String = "spearman_micro",
                 threshold: Int = Route.SpearmanPairCap): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    probePairs(df, a, b, threshold) match {
      case Some(pairs) =>
        // NaN (constant column / empty input) must become NULL like the
        // distributed pearson() guard — casting NaN to long THROWS under
        // ANSI, and the two routes must agree on degenerate input
        Seq(spearmanLocal(pairs)).toDF("_rho")
          .select(when(isnan(col("_rho")), lit(null).cast("long"))
            .otherwise(round(col("_rho") * 1e6, 0).cast("long"))
            .as(outName))
      case None =>
        spearmanDfDistributed(df, a, b, outName)
    }
  }

  private def spearmanDfDistributed(df: DataFrame, a: String, b: String,
                                    outName: String): DataFrame = {
    val withBoth = avgRanksBoth(pairwiseComplete(df, a, b), a, b)
    withBoth.agg(round(pearson(col("_ra"), col("_rb")) * 1e6, 0)
      .cast("long").as(outName))
  }

  /** Driver-local Spearman over collected pairs: identical rank
    * convention (#smaller + (#equal+1)/2) and the same two-pass Pearson
    * the bootstrap harness uses; NaN on a constant column.
    */
  private[graft] def spearmanLocal(xs: Array[(Double, Double)]): Double = {
    def avgRank(v: Array[Double]): Array[Double] = {
      val groups = v.zipWithIndex.groupBy(_._1)
      val ranks = new Array[Double](v.length)
      var c = 0
      groups.toSeq.sortBy(_._1).foreach { case (_, idxs) =>
        val r = c + (idxs.length + 1) / 2.0
        idxs.foreach { case (_, i) => ranks(i) = r }
        c += idxs.length
      }
      ranks
    }
    val ra = avgRank(xs.map(_._1)); val rb = avgRank(xs.map(_._2))
    val ma = ra.sum / ra.length; val mb = rb.sum / rb.length
    val cov = ra.zip(rb).map { case (x, y) => (x - ma) * (y - mb) }.sum
    val sa = math.sqrt(ra.map(x => (x - ma) * (x - ma)).sum)
    val sb = math.sqrt(rb.map(y => (y - mb) * (y - mb)).sum)
    if (sa == 0 || sb == 0) Double.NaN else cov / (sa * sb)
  }
}
