package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Canonical undirected edge. Invariants: src < dst, no self-loops,
  * distinct rows (semantics of the reference's symmetrize+dedup,
  * /root/reference/graphem/datasets.py:339-352 and triu(k=1) extraction,
  * /root/reference/graphem/embedder.py:96-98).
  */
case class Edge(src: Long, dst: Long)

object Edges {

  /** Canonicalize an arbitrary (src, dst) pair table: symmetrize via
    * least/greatest, drop self-loops, dedup. One shuffle (the distinct);
    * filters/projections stay in the scan.
    */
  def canonicalize(pairs: DataFrame): DataFrame =
    pairs.select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** Both-direction neighbor view (id, nbr) of a canonical edge table —
    * the adjacency used by message-passing supersteps. Not materialized:
    * the union is a narrow transformation over the edge scan.
    */
  def neighbors(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("id"), col("src").as("nbr")))

  /** Vertex degrees of a canonical edge table. */
  def degrees(edges: DataFrame): DataFrame =
    neighbors(edges).groupBy("id").agg(count(lit(1)).as("degree"))

  /** Distinct vertex ids. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()

  /** Deterministic test/bench edge table derived from the driver's
    * lineitem parquet: src = l_orderkey % v, dst = l_partkey % v,
    * canonicalized. Pure modular arithmetic so the DuckDB oracle can
    * reproduce it exactly.
    */
  def fromLineitem(spark: SparkSession, sfDir: String, v: Long = 1000L): DataFrame = {
    val li = readParquet(spark, s"$sfDir/lineitem.parquet")
      .select((col("l_orderkey") % v).as("src"), (col("l_partkey") % v).as("dst"))
    canonicalize(li)
  }

  /** `spark.read.parquet(path)`, with the schema Spark would infer read
    * from the footer its inference reads, so building the frame runs no
    * job ([[Bridge.parquetSchema]]); inferred by Spark where that does
    * not apply.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    Bridge.parquetSchema(spark, path).fold(spark.read)(spark.read.schema(_)).parquet(path)

  /** SQL fragment producing the same canonical edge table in DuckDB. */
  def lineitemEdgesSql(v: Long = 1000L): String =
    s"""SELECT DISTINCT least(l_orderkey % $v, l_partkey % $v) AS src,
       |       greatest(l_orderkey % $v, l_partkey % $v) AS dst
       |FROM lineitem
       |WHERE l_orderkey % $v <> l_partkey % $v""".stripMargin

  /** Read a SNAP-format whitespace-delimited edge list ('#' comments) —
    * the reference's primary external format
    * (/root/reference/graphem/datasets.py:306-357). Returns the
    * canonical undirected table.
    */
  def readSnap(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
      .where(!col("value").startsWith("#") && length(trim(col("value"))) > 0)
    val split0 = split(trim(col("value")), "\\s+")
    // explicit arity/validity guard: a malformed line (1 field, or a
    // non-numeric token) is dropped rather than surfacing a null vertex
    // or an ANSI cast error (try_cast -> NULL -> filtered)
    canonicalize(lines
      .where(size(split0) >= 2)
      .select(element_at(split0, 1).as("s1"), element_at(split0, 2).as("s2"))
      .select(expr("try_cast(s1 AS BIGINT)").as("src"),
        expr("try_cast(s2 AS BIGINT)").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull))
  }

  /** Read a Matrix Market (.mtx) pattern file: '%' comments, first data
    * line is dims, 1-based indices (/root/reference/graphem/datasets.py:485-529).
    */
  def readMtx(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = spark.read.text(path)
      .where(!col("value").startsWith("%") && length(trim(col("value"))) > 0)
    // Drop the dims line: it is the first non-comment line in file order.
    // Files are read in order within a single text file; tag with a
    // monotonic id and drop the global minimum.
    val withId = lines.withColumn("rid", monotonically_increasing_id())
    val minId = withId.agg(min(col("rid"))).head().getLong(0)
    val split0 = split(trim(col("value")), "\\s+")
    canonicalize(withId.where(col("rid") =!= minId)
      .where(size(split0) >= 2)
      .select(element_at(split0, 1).as("s1"), element_at(split0, 2).as("s2"))
      .select((expr("try_cast(s1 AS BIGINT)") - 1).as("src"),
        (expr("try_cast(s2 AS BIGINT)") - 1).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull))
  }
}
