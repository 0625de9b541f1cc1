package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Narrow bridge into Spark's private[sql] Column<->Expression
  * converters, used to build Catalyst expressions the public functions
  * API can't (e.g. bit shifts by a Column amount). Lives under
  * org.apache.spark.sql to satisfy the private[sql] access scope.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** RDD.unpersist on ANY locally-checkpointed RDD logs a scary
    * "cannot be recomputed after unpersisting" WARN — even here, where
    * every release happens after the successor state is materialized
    * and the frame is provably dead. The warning spams hundreds of
    * lines into every iterative bench run, so a message-targeted DENY
    * filter is installed once, on first release — scoped to that exact
    * message text, so every OTHER rdd-package warning (checkpoint block
    * loss, recompute costs in a host application) still reaches the
    * log. Falls back to raising org.apache.spark.rdd to ERROR if the
    * log4j2 filter API is unavailable.
    */
  private lazy val muteLocalCheckpointWarn: Unit =
    try {
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      import org.apache.logging.log4j.core.filter.RegexFilter
      val ctx = org.apache.logging.log4j.LogManager
        .getContext(false).asInstanceOf[LoggerContext]
      val filter = RegexFilter.createFilter(
        ".*cannot be recomputed after unpersisting.*",
        null, false, Filter.Result.DENY, Filter.Result.NEUTRAL)
      ctx.getConfiguration.getLoggerConfig("org.apache.spark.rdd")
        .addFilter(filter)
      ctx.updateLoggers()
    } catch {
      case _: Throwable =>
        try org.apache.logging.log4j.core.config.Configurator.setLevel(
          "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
        catch { case _: Throwable => () } // non-log4j2: keep the noise
    }

  /** Unpersist the RDD behind a localCheckpointFresh frame — call once
    * the frame is provably dead (a successor checkpoint materialized).
    * Only a frame that is a checkpoint, under at most a projection of its
    * columns, is released: one merely read from a checkpoint (a join over
    * it, a state derived from it) leaves that checkpoint's blocks alone.
    */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    checkpointOf(df).foreach { rdd =>
      muteLocalCheckpointWarn
      rdd.unpersist(false)
    }

  /** The RDD of the local checkpoint `df` is, under at most a projection
    * of its columns: marked by localCheckpointFresh, materialized or not.
    */
  private def checkpointOf(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.LogicalRDD
    def leaf(plan: LogicalPlan): Option[org.apache.spark.rdd.RDD[_]] = plan match {
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => leaf(child)
      case l: LogicalRDD
          if l.rdd.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]) =>
        Some(l.rdd)
      case _ => None
    }
    leaf(df.queryExecution.analyzed)
  }

  /** The rows of `frames` — localCheckpointFresh frames of one schema —
    * in order, as one frame whose plan is a single scan of the union of
    * their checkpointed RDDs: the partitions a Dataset union of
    * unknown-partitioned frames concatenates, without its one codegen
    * stage per input. A column is nullable if it is in any input.
    */
  def unionCheckpoints(frames: Seq[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    require(frames.nonEmpty, "unionCheckpoints needs at least one frame")
    val rdds = frames.map(_.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed match {
        case l: LogicalRDD => l
        case p => throw new IllegalArgumentException(
          s"unionCheckpoints takes checkpointed frames, got ${p.nodeName}")
      })
    val output = rdds.head.output.indices.map { i =>
      rdds.head.output(i).withNullability(rdds.exists(_.output(i).nullable)).newInstance()
    }
    val spark = frames.head.sparkSession.asInstanceOf[classic.SparkSession]
    val all = LogicalRDD(output, spark.sparkContext.union(rdds.map(_.rdd)),
      UnknownPartitioning(0), Nil, false, None)(spark, None, None)
    classic.Dataset.ofRows(spark, all)
  }

  /** A frame of `schema` whose plan is one scan of `rdd`, which yields
    * `rows` rows: one partition declares SinglePartition, so a global
    * aggregate over it plans no exchange. Its statistics are the row
    * count and the size a LocalRelation of the same rows reports, so a
    * join broadcasts it as it would broadcast that relation.
    */
  def rddFrame(spark: org.apache.spark.sql.SparkSession,
               schema: org.apache.spark.sql.types.StructType,
               rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
               rows: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    val s = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val parts = rdd.getNumPartitions
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * rows, Some(BigInt(rows)))
    classic.Dataset.ofRows(s, LogicalRDD(output, rdd,
      if (parts == 1) SinglePartition else UnknownPartitioning(parts), Nil, false, None)(
      s, Some(stats), None))
  }

  /** The rows of a session cache entry (a cache manager's `CachedData`)
    * whose every partition is stored, from the cached relation's
    * statistics: the rows its build counted as it stored each batch. A
    * block rebuilt after a loss is counted again, so the figure never
    * falls below the rows the entry holds. None for anything else, or a
    * cache not yet built in full.
    */
  def cachedRows(entry: AnyRef): Option[Long] = entry match {
    case c: org.apache.spark.sql.execution.CachedData
        if c.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded =>
      c.cachedRepresentation.computeStats().rowCount.map(_.toLong)
    case _ => None
  }

  /** The schema Spark's inference gives the Parquet source at `path`,
    * read from the same footer it reads when it does not merge schemas
    * (its first data file by path, schema from Spark's row-metadata key
    * when the file has it, else converted from the Parquet schema), with
    * no job: inference reads that one footer in a job of its own. None
    * where inference reads something else: schema merging on, summary
    * files, partition directories, or no data file.
    */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession,
                    path: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    val s = spark.asInstanceOf[classic.SparkSession]
    if (s.sessionState.conf.isParquetSchemaMergingEnabled) return None
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val listed = if (status.isFile) Array(status) else fs.listStatus(root)
    // the names Spark's file index skips; `_metadata` and `_common_metadata` are summaries
    val files = listed.filterNot { f =>
      val n = f.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    }
    val summaries = listed.exists(f => Set("_metadata", "_common_metadata")(f.getPath.getName))
    if (summaries || files.exists(_.isDirectory)) return None
    files.sortBy(_.getPath.toString).headOption.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val footer = try new Footer(f.getPath, reader.getFooter) finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(s.sessionState.conf))
    }
  }

  /** localCheckpoint that does NOT inherit the origin plan's
    * statistics.
    *
    * Dataset.localCheckpoint copies the source plan's sizeInBytes
    * estimate into the resulting LogicalRDD (originStats). In an
    * iterative join loop the join size estimate is the PRODUCT of its
    * children's estimates, so the carried-over BigInt SQUARES every
    * iteration — its digit count doubles, and Catalyst's stats visitor
    * ends up multiplying million-digit BigInts on the driver (observed:
    * iteration wall-time x3-4 per superstep from iteration ~18).
    * Rebuilding the LogicalRDD with originStats = None resets the
    * estimate to the default leaf size each iteration.
    *
    * The RDD is marked for checkpointing and materialized by the
    * caller's FIRST action on the returned frame — letting an iterative
    * loop fold "materialize new state" and "compute convergence delta"
    * into one job. [[localCheckpointCounted]] materializes it at once.
    */
  def localCheckpointFresh(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.classic
    import org.apache.spark.sql.execution.LogicalRDD
    val cp = df.localCheckpoint(false).asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val spark = cp.sparkSession
    val lr = cp.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l
    }.getOrElse(throw new IllegalStateException(
      "localCheckpoint did not produce a LogicalRDD"))
    val fresh = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
      lr.outputOrdering, lr.isStreaming, None)(spark, None, None)
    classic.Dataset.ofRows(spark, fresh)
  }

  /** [[localCheckpointFresh]] materialized now, by one job that returns
    * what it saw: the rows it stored, and with `hashed` the XOR of every
    * row's `xxhash64` over all its columns (Spark's function, seed 42),
    * an order-independent fingerprint of the rows; 0 without. The job is
    * the one Dataset.localCheckpoint runs to store every partition, which
    * counts each partition's rows and drops the counts: here it is run
    * on the marked RDD directly, and the end of the job checkpoints the
    * RDD, finding every block stored.
    */
  def localCheckpointCounted(df: org.apache.spark.sql.DataFrame,
                             hashed: Boolean): (org.apache.spark.sql.DataFrame, Long, Long) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, XxHash64}
    import org.apache.spark.sql.execution.LogicalRDD
    val cp = localCheckpointFresh(df)
    val lr = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val hash: Option[Expression] =
      if (hashed) Some(BindReferences.bindReference[Expression](XxHash64(lr.output, 42L), lr.output))
      else None
    val parts = cp.sparkSession.sparkContext.runJob(lr.rdd, (rows: Iterator[InternalRow]) => {
      var n = 0L
      var x = 0L
      hash match {
        case Some(h) => rows.foreach { r => n += 1; x ^= h.eval(r).asInstanceOf[Long] }
        case None => rows.foreach { _ => n += 1 }
      }
      (n, x)
    })
    (cp, parts.map(_._1).sum, parts.foldLeft(0L)(_ ^ _._2))
  }
}
