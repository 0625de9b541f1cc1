package graft.ingest

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Link extraction from the page table — the front door of the link
  * graph (north_star: "extracts an (src_url, dst_url) edge table from
  * Common-Crawl-style web pages").
  *
  * A pure, deterministic column pipeline (regexp over the decoded html),
  * fully codegen'd — no UDFs — so it's testable row-by-row and pushes
  * column pruning into the Parquet scan (only url + html are read).
  */
object LinkExtract {

  private val HrefPattern = "<a href=\"([^\"]+)\""

  /** (src_url, dst_url) rows, one per anchor occurrence. */
  def links(pages: DataFrame): DataFrame =
    pages.select(col("url").as("src_url"),
        explode(regexp_extract_all(col("html").cast("string"),
          lit(HrefPattern), lit(1))).as("dst_url"))

  /** Extracted body text — must be byte-identical to the `text` column
    * (input_hint per-row invariant).
    */
  def extractedText(pages: DataFrame): DataFrame =
    pages.select(col("url"),
      regexp_extract(col("html").cast("string"), "<p>(.*?)</p>", 1)
        .as("extracted_text"),
      col("text"))
}
