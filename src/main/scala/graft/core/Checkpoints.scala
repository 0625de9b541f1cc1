package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style checkpoint/lineage layer over Parquet.
  *
  * The sandbox has no Iceberg runtime jar, so the table-format contract
  * the north_rule asks for (per-iteration snapshots, per-partition
  * lineage, resumable mid-algorithm) is realized as Parquet snapshot
  * directories plus a JSON manifest per committed iteration:
  *
  * {{{
  * <root>/iter=K/part-*.parquet          -- vertex-state snapshot
  * <root>/manifest-K.json                -- commit record (atomic rename)
  * }}}
  *
  * Manifest fields: iteration, parent iteration (lineage), per-partition
  * file list with sizes (partition lineage), row count (summed from the
  * files' Parquet footers), the snapshot's schema, and free-form
  * convergence metrics. A commit runs one Spark job, the write: the
  * snapshot is re-read with the written frame's schema, and [[load]]
  * reads it with the manifest's, so neither infers it (a manifest
  * without a schema loads by inference). A manifest is written to a
  * temp name and atomically renamed, so a killed run never leaves a
  * half-committed snapshot: resume picks the largest K with a valid
  * manifest.
  *
  * The frames [[commit]] and [[load]] return carry the manifest's row
  * count: a `count()` of one, under at most a projection of its columns,
  * reads it with no job ([[Route.FrameCount]]).
  *
  * Checkpointing every iteration also truncates the logical plan of
  * iterative join/agg loops (plan size otherwise grows linearly and
  * optimizer time super-linearly — the Spark-side analogue of the
  * reference's `block_until_ready` sync, /root/reference/graphem/embedder.py:167).
  */
final class CheckpointManager(spark: SparkSession, root: String) {

  Files.createDirectories(Paths.get(root))

  private def snapDir(iter: Int): String = s"$root/iter=$iter"
  private def manifestPath(iter: Int): Path = Paths.get(s"$root/manifest-$iter.json")

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Write `df` as snapshot for `iter`, commit a manifest, and return the
    * re-read DataFrame (fresh lineage), counted by its footers.
    */
  def commit(iter: Int, df: DataFrame, metrics: Map[String, Double]): DataFrame = {
    val dir = snapDir(iter)
    val schema = df.schema
    df.write.mode("overwrite").parquet(dir)
    val paths = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    val files = paths.map(p => (p.getFileName.toString, Files.size(p)))
    val rows = paths.map(footerRows).sum
    val reread = spark.read.schema(schema).parquet(dir)
    Route.counted(reread, rows)
    val parent = if (iter > 0) (iter - 1).toString else "null"
    val filesJson = files.map { case (f, sz) =>
      s"""{"file":"${esc(f)}","bytes":$sz}"""
    }.mkString("[", ",", "]")
    val metricsJson = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${esc(k)}":$v"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"iteration":$iter,"parent":$parent,"rows":$rows,
         |"schema":${schema.json},
         |"partitions":$filesJson,
         |"metrics":$metricsJson,
         |"committed_utc":"${java.time.Instant.now()}"}""".stripMargin
    val tmp = Paths.get(s"$root/.manifest-$iter.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(iter), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    reread
  }

  /** Largest committed iteration, if any. */
  def latestIteration(): Option[Int] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return None
    val re = "manifest-(\\d+)\\.json".r
    Files.list(dir).iterator().asScala
      .flatMap(p => p.getFileName.toString match {
        case re(k) => Some(k.toInt); case _ => None
      })
      .reduceOption(_ max _)
  }

  /** Rows in one Parquet file, from its footer. */
  private def footerRows(p: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(p.toUri), conf))
    try reader.getRecordCount finally reader.close()
  }

  /** Load the snapshot for a committed iteration, with the schema its
    * manifest records (by inference when the manifest has none), counted
    * by the manifest's rows.
    */
  def load(iter: Int): DataFrame = {
    val manifest = this.manifest(iter)
    val reader = manifest.flatMap(m => Option(m.get("schema"))).fold(spark.read)(s =>
      spark.read.schema(DataType.fromJson(s.toString).asInstanceOf[StructType]))
    val snap = reader.parquet(snapDir(iter))
    manifest.flatMap(m => Option(m.get("rows"))).foreach(r => Route.counted(snap, r.asLong))
    snap
  }

  /** Resume point: (iteration, snapshot) for the latest commit. */
  def resume(): Option[(Int, DataFrame)] =
    latestIteration().map(k => (k, load(k)))

  /** The metrics committed with the snapshot for `iter`, empty when it
    * has no manifest.
    */
  def metrics(iter: Int): Map[String, Double] =
    manifest(iter).flatMap(m => Option(m.get("metrics"))).fold(Map.empty[String, Double])(
      _.properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap)

  private def manifest(iter: Int): Option[JsonNode] =
    if (!Files.exists(manifestPath(iter))) None
    else Some(new ObjectMapper().readTree(manifestJson(iter)))

  def manifestJson(iter: Int): String =
    new String(Files.readAllBytes(manifestPath(iter)), StandardCharsets.UTF_8)
}
