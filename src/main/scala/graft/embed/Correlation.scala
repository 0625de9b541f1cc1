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
                                 threshold: Int = Route.SpearmanPairCap): (Double, Boolean) = {
    val (rho, local) = rhoOf(df, a, b, threshold)
    val r = rho.head()
    (if (r.isNullAt(0)) Double.NaN else r.getDouble(0), local)
  }

  /** One row, `_rho`, and whether the driver computed it. The
    * SINGLE-execution local-path gate reads [[pairs]] bounded by
    * threshold, kept when there are at most threshold. The previous
    * gate ran `limit().count()` and then a separate full collect — two
    * executions of the entire upstream pipeline (for q_spearman_deg_pr
    * that pipeline is a 5-superstep PageRank, so the gate itself cost
    * more than the correlation). Above the threshold the wasted work is
    * bounded by threshold+1 pairs of two doubles (~32 MB), paid once,
    * before the one distributed finisher runs: the Pearson correlation
    * of the pairwise-complete rows' average ranks, NULL when either
    * column is constant.
    */
  private def rhoOf(df: DataFrame, a: String, b: String,
                    threshold: Int): (DataFrame, Boolean) = {
    val spark = df.sparkSession
    import spark.implicits._
    (if (threshold <= 0) None else pairs(df, a, b, Some(threshold))) match {
      case Some((xs, ys)) => (Seq(spearmanLocal(xs, ys)).toDF("_rho"), true)
      case None => (avgRanksBoth(pairwiseComplete(df, a, b), a, b)
        .agg(pearson(col("_ra"), col("_rb")).as("_rho")), false)
    }
  }

  /** The pairwise-complete (a, b) pairs as two double arrays, through
    * [[Route.collect]] with its `bound`. Null rows are dropped BEFORE
    * the bound, matching the distributed path exactly: avgRanksBoth
    * re-joins on value equality, which silently excludes null values —
    * the local path must not fail (or count toward the threshold) on
    * rows the distributed path ignores.
    */
  private[graft] def pairs(df: DataFrame, a: String, b: String,
                           bound: Option[Int] = None): Option[(Array[Double], Array[Double])] =
    Route.collect(pairwiseComplete(df, a, b).select(col(a).cast("double"), col(b).cast("double")),
      bound).map { case Seq(Route.Doubles(_, xs), Route.Doubles(_, ys)) => (xs, ys) }

  /** Pairwise-complete rows only (scipy `nan_policy='omit'` semantics,
    * and what the local path's null-dropping probe computes): a row
    * with a null in EITHER column must not contribute its other value
    * to the rank counts — the final value-equality joins would drop the
    * row anyway, but its surviving column would have shifted avg ranks
    * of tied values, silently changing rho across the local gate.
    */
  private def pairwiseComplete(df: DataFrame, a: String, b: String): DataFrame =
    df.where(col(a).isNotNull && col(b).isNotNull)

  /** DataFrame variant for oracle-checked queries: single row with the
    * correlation in integer micro-units. Routed through the same
    * local-path gate as [[spearman]]; the micro rounding runs through
    * the identical Spark `round` expression on both paths.
    */
  def spearmanDf(df: DataFrame, a: String, b: String,
                 outName: String = "spearman_micro",
                 threshold: Int = Route.SpearmanPairCap): DataFrame =
    // NaN (constant column / empty input) must become NULL like the
    // distributed pearson() guard — casting NaN to long THROWS under
    // ANSI, and the two routes must agree on degenerate input
    rhoOf(df, a, b, threshold)._1.select(when(isnan(col("_rho")), lit(null).cast("long"))
      .otherwise(round(col("_rho") * 1e6, 0).cast("long"))
      .as(outName))

  /** Driver-local Spearman over collected pairs (xs(i), ys(i)): identical
    * rank convention (#smaller + (#equal+1)/2) and the same two-pass
    * Pearson the bootstrap harness uses; NaN on a constant column.
    */
  private[graft] def spearmanLocal(xs: Array[Double], ys: Array[Double]): Double = {
    val ra = avgRanks(xs); val rb = avgRanks(ys)
    // each sum over i ascending, as the boxed `.sum`s added them
    def sum(term: Int => Double): Double = {
      var s = 0.0; var i = 0
      while (i < ra.length) { s += term(i); i += 1 }
      s
    }
    val ma = sum(ra(_)) / ra.length; val mb = sum(rb(_)) / rb.length
    val cov = sum(i => (ra(i) - ma) * (rb(i) - mb))
    val sa = math.sqrt(sum(i => (ra(i) - ma) * (ra(i) - ma)))
    val sb = math.sqrt(sum(i => (rb(i) - mb) * (rb(i) - mb)))
    if (sa == 0 || sb == 0) Double.NaN else cov / (sa * sb)
  }

  /** Each value's average rank, #smaller + (#equal + 1)/2, from one
    * primitive sort of a copy: every run of equal values in it gets its
    * rank, and each value finds its run by binary search (the sort's
    * order: -0.0 below 0.0, NaNs equal and last).
    */
  private def avgRanks(v: Array[Double]): Array[Double] = {
    val sorted = v.clone()
    java.util.Arrays.sort(sorted)
    val runRank = new Array[Double](sorted.length)
    var start = 0
    while (start < sorted.length) {
      var end = start + 1
      while (end < sorted.length && java.lang.Double.compare(sorted(end), sorted(start)) == 0)
        end += 1
      java.util.Arrays.fill(runRank, start, end, start + (end - start + 1) / 2.0)
      start = end
    }
    v.map(x => runRank(java.util.Arrays.binarySearch(sorted, x)))
  }
}
