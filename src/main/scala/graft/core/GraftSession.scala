package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Scale posture: AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions matched to the parallelism level instead of the
  * 200 default, UTC pinned. On a real cluster the same builder is used
  * by spark-submit with `master` left to the submitter.
  */
object GraftSession {

  /** Spark's static conf bounding its cache of compiled generated
    * classes (an LRU keyed on class loader and Java source).
    */
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  /** Entries of that cache, against Spark's default of 100.
    *
    * A whole-stage class takes two keys: it is compiled once on the
    * driver and once under the executor task's session class loader.
    * One pass of linkbench's `hub-distributed` sequence (relational
    * PageRank, its checkpoint resume, connected components, label
    * propagation and triangles, every route pinned to the distributed
    * loops; BA(2000, 3), `local[4]`) compiles ~170 classes. At 100 the
    * LRU evicts each before its next use, so every pass recompiles all
    * of them: 32 for PageRank, 11 for the resume, 64 for CC, 37 for LPA
    * and 25 for triangles, ~2 s of a ~6.5 s pass. At 1000 a warm pass
    * compiles none, and the working set fits ~5x over, so the classes
    * of the calls around it stay cached too. A cached class is a few KB
    * of bytecode.
    */
  val CodegenCacheEntries = 1000

  /** Build a local session with `cores` threads. `shufflePartitions`
    * defaults to `cores` — at 100 TB scale this becomes
    * ~2-3x total executor cores, set by the submitter.
    */
  def local(cores: Int, shufflePartitions: Option[Int] = None,
            appName: String = "graft"): SparkSession = {
    val sp = shufflePartitions.getOrElse(cores)
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // TypedImperativeAggregate (BoundedTopKAgg) groups per partition
      // exceed the 128 default, which silently flips ObjectHashAggregate
      // into sort-based mode and SORTS+SPILLS the whole candidate stream
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config(CodegenCacheConf, CodegenCacheEntries.toString)
      .withExtensions(_.injectOptimizerRule(_ => Route.FrameCount))
      .getOrCreate()
  }

  /** Tune an externally-created session (e.g. the driver's Verify/Bench
    * session) with the engine's preferred runtime confs — only the ones
    * settable after session start — and [[Route.FrameCount]], which
    * [[local]] injects as an extension. The codegen cache size is static:
    * when the session's is below [[CodegenCacheEntries]], one warning
    * names the conf to pass at submit time.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(Route.FrameCount)) spark.experimental.extraOptimizations = extra :+ Route.FrameCount
    codegenCacheWarning(spark.conf.get(CodegenCacheConf).toInt).foreach(w =>
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(w))
    spark
  }

  /** The warning [[tune]] logs for a session whose codegen cache holds
    * `entries` classes, or None when that is at least
    * [[CodegenCacheEntries]].
    */
  private[graft] def codegenCacheWarning(entries: Int): Option[String] =
    if (entries >= CodegenCacheEntries) None
    else Some(s"$CodegenCacheConf is $entries; the engine's iterative loops " +
      s"recompile their generated classes every pass below $CodegenCacheEntries. " +
      s"It is a static conf: start the session with " +
      s"--conf $CodegenCacheConf=$CodegenCacheEntries")
}
