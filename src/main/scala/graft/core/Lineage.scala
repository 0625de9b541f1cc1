package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Lineage discipline for iterative algorithms.
  *
  * Iterative DataFrame loops have TWO driver-side blowups:
  *  1. logical-plan growth — state is referenced >= twice per superstep,
  *     so without truncation the plan doubles per iteration;
  *  2. statistics growth — localCheckpoint inherits the origin plan's
  *     sizeInBytes estimate, and join estimates multiply, so the BigInt
  *     estimate squares per iteration and Catalyst's stats visitor
  *     drowns in huge-BigInt arithmetic.
  *
  * truncate() fixes both: eager local checkpoint + fresh default stats.
  * Parquet checkpoints (CheckpointManager) also fix both and add
  * durability; use them at the cadence resumability needs, truncate()
  * in between.
  *
  * An eager truncate runs one job, Spark's own checkpoint job run by the
  * engine, which returns the rows it stored: a `count()` of the frame,
  * under at most a projection of its columns, reads them with no job
  * ([[Route.FrameCount]]).
  */
object Lineage {
  def truncate(df: DataFrame): DataFrame = counted(df, hashed = false)._1

  /** truncate() whose one job also returns the frame's fingerprint: its
    * row count and the XOR of its rows' `xxhash64` over every column —
    * order-independent, so two frames of equal row sets match, with the
    * collision odds of one 64-bit hash per row.
    */
  def fingerprinted(df: DataFrame): (DataFrame, (Long, Long)) = {
    val (t, rows, xor) = counted(df, hashed = true)
    (t, (rows, xor))
  }

  private def counted(df: DataFrame, hashed: Boolean): (DataFrame, Long, Long) = {
    val got @ (t, rows, _) = Bridge.localCheckpointCounted(df, hashed)
    Route.counted(t, rows)
    got
  }

  /** truncate() for frames that were EXPLICITLY pre-partitioned
    * (repartition(p, key)) so that downstream joins/aggregations can
    * reuse the layout: under AQE the checkpoint captures the
    * AdaptiveSparkPlanExec BEFORE finalization, whose outputPartitioning
    * is UnknownPartitioning — every later join then re-shuffles the
    * checkpointed table (measured: the pre-shuffled 2E-row adjacency
    * was re-exchanged EVERY PageRank iteration). Planning the
    * checkpoint statement with AQE off records the real
    * HashPartitioning; AQE is restored immediately after.
    */
  def truncatePartitioned(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try truncate(df)
    finally spark.conf.set("spark.sql.adaptive.enabled", was)
  }

  /** Lazy variant: lineage is cut but materialization happens on the
    * caller's first action — use when that action is an aggregate you
    * need anyway (e.g. a convergence delta), folding two jobs into one.
    */
  def truncateLazy(df: DataFrame): DataFrame = Bridge.localCheckpointFresh(df)

  /** The rows of several truncated frames of one schema, in order, as
    * one frame. A Dataset union plans one codegen stage per input and
    * numbers every later stage after them, so a loop that unions one
    * frame per iteration compiles new classes for each new count; this
    * plan is one scan whatever the count. The inputs keep their blocks:
    * release them once a frame read from this one is materialized.
    */
  def union(frames: Seq[DataFrame]): DataFrame = Bridge.unionCheckpoints(frames)

  /** Free the cached blocks behind a truncated frame once a successor
    * state is materialized — long loops otherwise accumulate one cached
    * RDD per superstep. Any routing state [[Route]] shares for the frame
    * goes with them. Only a frame that is a truncate, under at most a
    * projection of its columns, is released: a frame read from one (a
    * join over it, a state derived from it) leaves its blocks alone.
    */
  def release(df: DataFrame): Unit = {
    Route.forget(df)
    Bridge.releaseCheckpoint(df)
  }
}
