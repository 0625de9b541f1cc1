package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media (image/audio/video) as opaque
  * binary columns with typed metadata, plus the Spark-side shape of
  * decode / feature-extraction / frame-sampling pipelines.
  *
  * The sandbox has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic stub (hash-derived features) — the
  * schema, partitioning, and batch shape around it are real: swap
  * `stubDecode*` for a codec-backed implementation (e.g. a pandas UDF
  * over mapInPandas in PySpark, or a JNI codec here) and nothing else
  * changes.
  */
object Multimodal {

  /** Deterministic synthetic media table: payload bytes derived from the
    * id, metadata consistent with `kind`. Stands in for a crawl's media
    * side-table at any scale (spark.range based).
    */
  def synthesize(spark: SparkSession, n: Long): DataFrame = {
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("id") % 3 + 1).cast("int"))
    // STUB payload/metadata: pure modular arithmetic on the id (NOT
    // xxhash64) so the DuckDB oracle can rebuild the identical table
    // from range(n)
    spark.range(n).select(
      col("id").as("media_id"),
      kind.as("kind"),
      lpad(((col("id") * 2654435761L + 12345L) % 1000000007L).cast("string"),
        10, "0").cast("binary").as("content"),
      when(kind === "image", (col("id") * 37L % 1920L + 16L).cast("int"))
        .otherwise(lit(-1)).as("width"),
      when(kind === "image", (col("id") * 53L % 1080L + 16L).cast("int"))
        .otherwise(lit(-1)).as("height"),
      when(kind =!= "image", col("id") * 7919L % 600000L)
        .otherwise(lit(-1L)).as("duration_ms"))
  }

  /** STUB decode/feature-extract: a `dim`-float feature vector per
    * media row, derived deterministically from the payload bytes via
    * the portable rolling-hash fingerprint (DuckDB-mirrorable).
    * Real implementation would decode pixels/samples here; the
    * column-level contract (binary -> array<float>) is what downstream
    * (ANN, dedup) consumes.
    */
  def stubDecodeFeatures(content: Column, dim: Int = 16): Column = {
    val fp = graft.text.TextOps.rollingHash(content.cast("string"))
    transform(sequence(lit(0), lit(dim - 1)), i =>
      ((((fp * (i.cast("long") * 2L + 3L) + i.cast("long")) % 1000000L)
        .cast("double") / 500000.0) - 1.0).cast("float"))
  }

  /** STUB frame sampler for videos: `k` evenly-spaced frame ordinals
    * from a duration — the real version would extract those frames.
    */
  def sampleFrameOffsets(durationMs: Column, k: Int = 4): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => (durationMs * (i * 2 + 1) / (2 * k)).cast("long"))

  /** Media feature table: (media_id, kind, features) ready for
    * Ann.bruteForceTopK / lshTopK over the features column.
    */
  def featureTable(media: DataFrame, dim: Int = 16): DataFrame =
    media.select(col("media_id"), col("kind"),
      stubDecodeFeatures(col("content"), dim).as("features"))
}
