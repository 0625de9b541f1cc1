package graft.core

import org.apache.spark.sql.SparkSession

/** Session tuning for fixed-shape iterative loops (guide §2.2/§2.4).
  *
  * A superstep's plan shape never changes, but under AQE every Exchange
  * is re-planned and materialized as its own job — several scheduler
  * round-trips per iteration. On benchmark-scale graphs that scheduling
  * floor dominates; at the same time the session shuffle width (sized
  * for the whole box) splits kilobyte-scale shuffles into dozens of
  * sub-millisecond tasks.
  *
  * The SMALL-REGIME gate is DATA-derived (row count), never core-count
  * derived: when the loop's working set fits a handful of guide-sized
  * (~250k-row) partitions, run the loop with AQE off and the shuffle
  * width matched to the data — exactly the tuning SpectralInit has
  * carried since round 4. Above the gate nothing changes: full session
  * width, AQE on (its runtime skew-join splitting is load-bearing for
  * hub-heavy production graphs).
  */
object LoopConf {

  /** Rows above which a loop is NOT small-regime (32 guide-sized
    * partitions' worth — at that size per-superstep scheduling is no
    * longer the dominant cost).
    */
  val SmallRegimeRows = 8000000L

  /** Shuffle width for `rows`-row supersteps: ~`rowsPerPartition` rows
    * per partition, capped at the session width. None = large regime,
    * leave the session configuration alone.
    *
    * `rowsPerPartition` defaults to the guide-sized 250k; loops whose
    * superstep does SEVERAL sort passes over every row (e.g. the CC
    * star rounds: two window-min supersteps + distinct)
    * pass a smaller target so each task's repeated sorts stay short —
    * still a DATA-derived width, never core-count derived.
    */
  def smallRegime(spark: SparkSession, rows: Long,
                  rowsPerPartition: Long = 250000L): Option[Int] = {
    val sessionP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pEff = math.max(1L,
      math.min(sessionP.toLong, rows / rowsPerPartition + 1L)).toInt
    if (rows <= SmallRegimeRows && pEff < sessionP) Some(pEff) else None
  }

  /** Run `body` with AQE off + shuffle width `small.get` when in the
    * small regime, restoring the session afterwards. Session-global for
    * the duration, like SpectralInit's loop overrides: graft entry
    * points are single-driver-thread; host apps running concurrent
    * queries should hand loops a dedicated `spark.newSession()`.
    */
  def withLoop[T](spark: SparkSession, small: Option[Int])(body: => T): T =
    small match {
      case None => body
      case Some(pe) =>
        val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
        val sppWas = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", pe.toString)
        try body finally {
          spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
          spark.conf.set("spark.sql.shuffle.partitions", sppWas)
        }
    }
}
