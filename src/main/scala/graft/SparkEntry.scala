package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.ann.Ann
import graft.graph.Edges
import graft.ingest.{LinkExtract, Pages, UrlDictionary}
import graft.text.{Dedup, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Graph queries run over a deterministic edge table derived from the
  * driver's lineitem parquet with pure modular arithmetic
  * (Edges.fromLineitem), so the DuckDB oracle can rebuild the identical
  * graph. The ingest queries synthesize a Common-Crawl-style page table
  * from the documents parquet, extract links with regex, and densify
  * URLs — the oracle reconstructs the expected output arithmetically.
  * Floating-point scores are emitted as BIGINT nano-units so the
  * driver's value-hash compare is representation-independent.
  *
  * KNOWN RISK (documented, accepted): the pagerank / eigencentrality /
  * spearman / rel_agg oracles require the two engines' double
  * aggregations to round to the SAME nano/micro unit. Per-vertex sums
  * are shuffle-order-dependent in Spark and differently ordered in
  * DuckDB, so a last-ULP difference that lands exactly on a *1e9/.5
  * rounding boundary would flip one unit and fail the exact hash. This
  * has not been observed at sf0.01/sf0.1 across parallelism levels
  * (the graph aggregations sum <= degree ~ 10^3 doubles of similar
  * magnitude, keeping accumulated error ~1e-13 relative, far from the
  * 1e-9-unit boundaries with overwhelming probability), but it is
  * latent: if a future scale flips one value, prefer widening the
  * contested aggregate to decimal(38,18) on BOTH sides over loosening
  * the driver compare.
  */
object SparkEntry {

  private val V = 1000L // vertex-id space of the lineitem-derived graph

  private def edges(s: SparkSession, dir: String): DataFrame =
    Edges.fromLineitem(s, dir, V)

  // ---- shared SQL fragments -----------------------------------------

  private val edgesSqlCte: String =
    s"""edges AS (${Edges.lineitemEdgesSql(V)}),
       |nbrs AS (SELECT src AS id, dst AS nbr FROM edges
       |         UNION ALL SELECT dst AS id, src AS nbr FROM edges),
       |verts AS (SELECT DISTINCT id FROM nbrs)""".stripMargin

  /** 5 unrolled PageRank supersteps over an `edges`/`nbrs` CTE pair. */
  private def pagerankSqlTail: String =
    s"""$pagerankSqlCtes
       |SELECT id, CAST(round(rank * 1e9, 0) AS BIGINT) AS rank_nano
       |FROM r5 ORDER BY id""".stripMargin

  /** The CTE chain alone (deg, r0..r5) for composition into other
    * oracles (e.g. the Spearman harness). The per-vertex gather sum is
    * the PortableSum fixed-point shape (scale 1e15), mirroring
    * `PageRank.fixedIterUndirected` bit-for-bit —
    * order-independent in both engines, closing the nano-rounding
    * hazard documented in the header.
    */
  private def pagerankSqlCtes: String = {
    def step(prev: String, k: Int): String =
      s"""r$k AS MATERIALIZED (
         |  SELECT d.id,
         |         (1.0 - 0.85) / d.n + 0.85 * coalesce(s.s, 0.0) AS rank,
         |         d.deg, d.n
         |  FROM deg d
         |  LEFT JOIN (SELECT n.nbr AS id,
         |               ${graft.core.PortableSum.fixedSumSql("r.rank / r.deg", "1e15")} AS s
         |             FROM nbrs n JOIN $prev r ON n.id = r.id
         |             GROUP BY n.nbr) s ON s.id = d.id)""".stripMargin
    s"""deg0 AS MATERIALIZED (SELECT id, CAST(count(*) AS DOUBLE) AS deg FROM nbrs GROUP BY id),
       |deg AS MATERIALIZED (SELECT id, deg, (SELECT CAST(count(*) AS DOUBLE) FROM deg0) AS n FROM deg0),
       |r0 AS (SELECT id, 1.0 / n AS rank, deg, n FROM deg),
       |${step("r0", 1)},
       |${step("r1", 2)},
       |${step("r2", 3)},
       |${step("r3", 4)},
       |${step("r4", 5)}""".stripMargin
  }

  /** Arithmetic reconstruction of the synthesized link table (one row
    * per anchor of each page built from documents).
    */
  private val linksSqlCte: String = {
    val unions = (1 to 3).map { j =>
      val t = Pages.targetOfSql("doc_id", j, "nn.n")
      s"""SELECT ${Pages.urlOfSql("doc_id")} AS src_url,
         |       ${Pages.urlOfSql(t)} AS dst_url
         |FROM documents, nn""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""nn AS (SELECT count(*) AS n FROM documents),
       |links AS (
       |$unions
       |)""".stripMargin
  }

  // ---- flagship ------------------------------------------------------

  /** Flagship: synthesized web pages -> link extraction -> URL
    * densification -> canonical edges -> convergent PageRank -> top
    * URLs. Exercises every ingest + algo layer end-to-end.
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Pages.synthesize(spark, 2000L)
    val links = LinkExtract.links(pages)
    val urls = links.select(col("src_url").as("url"))
      .union(links.select(col("dst_url").as("url")))
    val dict = UrlDictionary.build(spark, urls)
    val e = Edges.canonicalize(UrlDictionary.densify(links, dict))
    val pr = PageRank.runUndirected(spark, e,
      PageRank.Config(maxIter = 50, tol = 1e-6))
    pr.ranks.join(dict, pr.ranks("id") === dict("id"))
      .select(col("url"), col("rank"))
      .orderBy(desc("rank"), col("url")).limit(20)
  }

  // ---- queries -------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graphAndIngestQueries ++ textQueries ++ annQueries ++
      eventQueries ++ relQueries ++ embedQueries

  private def embedQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // graphem's signature capability — not SQL-expressible (rows-only
    // driver check); invariants are covered by EmbedSpec.
    // the edge pipeline (parquet scan + distinct) is materialized ONCE
    // and shared by the spectral init and the layout loop (it was
    // re-executed 2-3x before); released once the layout state — itself
    // materialized — no longer needs it. Output rows are unchanged.
    "q_embed_radii" -> ((s, dir) => {
      val e = graft.core.Lineage.truncate(edges(s, dir))
      val pos = graft.embed.ForceLayout.run(s, e,
        graft.embed.SpectralInit.run(s, e, d = 2, gramTol = 1e-6),
        iterations = 3)
      graft.core.Lineage.release(e)
      graft.embed.ForceLayout.radii(pos)
        .select(col("id"), round(col("radius") * 1e6, 0).cast("long")
          .as("radius_micro"))
        .orderBy("id")
    }),

    "q_embed_seeds" -> ((s, dir) => {
      val e = graft.core.Lineage.truncate(edges(s, dir))
      val pos = graft.embed.ForceLayout.run(s, e,
        graft.embed.SpectralInit.run(s, e, d = 2, gramTol = 1e-6),
        iterations = 3)
      graft.core.Lineage.release(e)
      graft.embed.Influence.seedSelection(pos, 10)
        .select(col("id"), round(col("radius") * 1e6, 0).cast("long")
          .as("radius_micro"))
    }),

    // portable-hash activation coin (Influence.portableCoin) so the
    // DuckDB oracle can replay the cascade as a recursive-CTE closure
    // over open edges; the xxhash64 coin stays the production default
    "q_influence_ic" -> ((s, dir) => {
      import s.implicits._
      val e = edges(s, dir)
      val seeds = Edges.degrees(e).orderBy(desc("degree"), col("id"))
        .limit(5).select("id").collect().map(_.getLong(0)).toSeq
      val n = graft.embed.Influence.icInfluence(s, e, seeds, p = 0.02,
        portableHash = true)
      Seq(n).toDF("influenced")
    }),

    "q_eigencentrality" -> ((s, dir) =>
      graft.algos.EigenvectorCentrality.fixedIter(edges(s, dir), 5)
        .select(col("id"),
          round(col("score") * 1e9, 0).cast("long").as("score_nano"))
        .orderBy("id")),

    // multimodal plumbing: binary payload -> feature vector -> ANN
    // (decode is a documented deterministic stub; rows-only check)
    "q_media_features" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.synthesize(s, 500)
      val feats = graft.multimodal.Multimodal.featureTable(media)
      graft.ann.Ann.bruteForceTopK(feats, feats.where(col("media_id") < 5), 3,
        idCol = "media_id", vecCol = "features")
        .orderBy("query_id", "rank")
    }),

    // Spearman over integer columns (identical in both engines, so
    // ranks — and therefore rho — are exactly comparable)
    "q_spearman_deg_pr" -> ((s, dir) => {
      // one materialization of the edge pipeline feeds both the degree
      // table and the PageRank adjacency (was two full executions).
      // Measured and rejected: wrapping the evaluation in the
      // small-regime loop conf (AQE off) — the probe-collect's one big
      // multi-join action benefits from AQE's runtime broadcasts more
      // than it pays in re-planning (2.47s -> 2.94s when forced off).
      val e = graft.core.Lineage.truncate(edges(s, dir))
      val deg = Edges.degrees(e)
      val pr = PageRank.fixedIterUndirected(e, 5)
        .select(col("id"),
          round(col("rank") * 1e9, 0).cast("long").as("rank_nano"))
      graft.embed.Correlation.spearmanDf(
        deg.join(pr, "id"), "degree", "rank_nano")
    }),
  )

  private def graphAndIngestQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // graph layer over the lineitem-derived edge table
    "q_edges" -> ((s, dir) => edges(s, dir).orderBy("src", "dst")),

    "q_degrees" -> ((s, dir) => Edges.degrees(edges(s, dir)).orderBy("id")),

    "q_top_degree" -> ((s, dir) =>
      Edges.degrees(edges(s, dir))
        .orderBy(desc("degree"), col("id")).limit(20)),

    "q_pagerank" -> ((s, dir) =>
      PageRank.fixedIterUndirected(edges(s, dir), 5)
        .select(col("id"),
          round(col("rank") * 1e9, 0).cast("long").as("rank_nano"))
        .orderBy("id")),

    "q_cc" -> ((s, dir) =>
      ConnectedComponents.run(s, edges(s, dir)).orderBy("id")),

    "q_lpa" -> ((s, dir) =>
      LabelPropagation.run(s, edges(s, dir), 3).orderBy("id")),

    // sampled-source closeness (Eppstein-Wang): portable source set
    // (id < 8) so the DuckDB recursive-CTE BFS mirrors the exact
    // estimator; nano-rounded for float-stable hashing
    "q_closeness" -> ((s, dir) => {
      val e = edges(s, dir)
      val srcs = Edges.vertices(e).where(col("id") < 8)
        .select(col("id").as("s"))
      graft.algos.ApproxCloseness.run(s, e, k = 8,
        explicitSources = Some(srcs))
        .select(col("id"),
          round(col("closeness") * 1e9, 0).cast("long").as("closeness_nano"))
        .orderBy("id")
    }),

    // sampled-source betweenness (Brandes-Pich): portable source set
    // (id < 8) so the DuckDB mirror can replay the forward-sigma /
    // backward-delta accumulation level by level; portable fixed-point
    // sums make the delta aggregation order-independent; nano-rounded
    "q_betweenness" -> ((s, dir) => {
      val e = edges(s, dir)
      val srcs = Edges.vertices(e).where(col("id") < 8)
        .select(col("id").as("s"))
      // maxLevels is pinned to the mirror's unrolled level count so the
      // two sides truncate IDENTICALLY at any input depth: a BFS level
      // beyond the unroll would otherwise be silently dropped by the
      // SQL (no s7 CTE) while the engine kept accumulating through it.
      // Both truncations agree structurally — the deepest computed
      // level keeps delta = 0 and deeper vertices appear in neither.
      graft.algos.ApproxBetweenness.run(s, e, k = 8,
        explicitSources = Some(srcs), portableSum = true,
        maxLevels = BetweennessOracleLevels)
        .select(col("id"),
          round(col("betweenness") * 1e9, 0).cast("long")
            .as("betweenness_nano"))
        .orderBy("id")
    }),

    "q_triangles" -> ((s, dir) =>
      TriangleCount.globalCount(s, edges(s, dir))),

    // ingest layer: pages -> links -> dictionary -> pagerank
    "q_links" -> ((s, dir) =>
      LinkExtract.links(Pages.fromDocuments(s, dir))
        .orderBy("src_url", "dst_url")),

    "q_url_ids" -> ((s, dir) => {
      val links = LinkExtract.links(Pages.fromDocuments(s, dir))
      val urls = links.select(col("src_url").as("url"))
        .union(links.select(col("dst_url").as("url")))
      UrlDictionary.build(s, urls).orderBy("id")
    }),

    "q_text_parity" -> ((s, dir) =>
      LinkExtract.extractedText(Pages.fromDocuments(s, dir))
        .agg(sum(when(col("extracted_text") =!= col("text"), 1L)
          .otherwise(0L)).as("mismatches"))),

    "q_pagerank_links" -> ((s, dir) => {
      val links = LinkExtract.links(Pages.fromDocuments(s, dir))
      val urls = links.select(col("src_url").as("url"))
        .union(links.select(col("dst_url").as("url")))
      val dict = UrlDictionary.build(s, urls)
      val e = Edges.canonicalize(UrlDictionary.densify(links, dict))
      PageRank.fixedIterUndirected(e, 5)
        .select(col("id"),
          round(col("rank") * 1e9, 0).cast("long").as("rank_nano"))
        .orderBy("id")
    }),
  )

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")

  /** documents plus synthetic duplicates (every 10th doc repeated under
    * doc_id + 1e6) — gives the dedup operators real work.
    */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.union(d.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  private def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_doc_tokens" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")),

    "q_doc_quality" -> ((s, dir) =>
      TextOps.quality(docs(s, dir))
        .select("doc_id", "n_chars", "n_tokens", "avg_token_len_micro",
          "stopword_ratio_micro", "punct_ratio_micro", "upper_ratio_micro")
        .orderBy("doc_id")),

    "q_doc_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_detected"))
        .orderBy("doc_id")),

    "q_doc_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.rollingHash(col("text")).as("fp"))
        .orderBy("doc_id")),

    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(dupCorpus(s, dir), "doc_id", "text")
        .orderBy("keep_id")),

    "q_ngram_jaccard" -> ((s, dir) => {
      val sh = docs(s, dir).where(col("doc_id") < 40)
        .select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
      sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(TextOps.jaccard(col("a.sh"), col("b.sh")) * 1e6, 0)
            .cast("long").as("jaccard_micro"))
        .where(col("jaccard_micro") > 0)
        .orderBy("id_a", "id_b")
    }),

    // rolling-hash seeded MinHash, so the DuckDB oracle can mirror the
    // full pipeline
    "q_minhash_dedup" -> ((s, dir) =>
      Dedup.minHashNearDups(dupCorpus(s, dir), "doc_id", "text",
        threshold = 0.9).orderBy("id_a", "id_b")),

    "q_simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Dedup.simHashPortable(col("text")).as("simhash")).orderBy("doc_id")),
  )

  private def annQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }),
    // LSH-bucketed approximate variant (portable SRP hash, mirrored by
    // the DuckDB oracle)
    "q_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.lshTopK(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }),
    // IVF coarse-quantizer variant: training-free deterministic
    // centroids (smallest md5(vec_id)), single-assignment inverted
    // lists, nprobe probed lists per query — mirrored exactly in SQL
    "q_ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.ivfTopK(emb, emb.where(col("vec_id") < 10), 5,
        nlist = 32, nprobe = 8)
        .orderBy("query_id", "rank")
    }),
    // embedding-cosine near-dup detection over a corpus with PLANTED
    // near-duplicates (every 10th vector re-added slightly perturbed
    // under vec_id + 1e6 — same pattern as the text dupCorpus);
    // background pairs top out at cosine ~0.51 on this table, planted
    // pairs sit ~0.999, so threshold 0.9 separates exactly
    "q_embedding_dedup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val pert = emb.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001) + lit(0.01))
            .as("embedding"))
      Ann.embeddingNearDups(emb.union(pert), threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
  )

  private def eventQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_events_hourly" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")) * 1e6, 0).cast("long").as("value_micro"))
        .orderBy("hour_epoch", "event_type")),

    "q_events_sessions" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val flagged = ev.withColumn("flag",
        when(col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1)
          .otherwise(0))
      val sessioned = flagged.withColumn("sess",
        sum(col("flag")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sessioned.groupBy("user_id", "sess")
        .agg(min(col("us")).as("session_start_us"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")) * 1e6, 0).cast("long").as("value_micro"))
        .orderBy("user_id", "sess")
    }),
  )

  private def relQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // price/discount aggregates in the PortableSum fixed-point shape
    // (scales 1e8 / 1e15): order-independent and bit-identical to the
    // DuckDB mirror regardless of shuffle order or data scale;
    // sum(l_quantity) stays native — integer-valued, exact in double
    "q_rel_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(graft.core.PortableSum.fixedSum(col("l_extendedprice"), 1e8)
            * 100, 0).cast("long").as("price_cents"),
          round(graft.core.PortableSum.fixedSum(col("l_discount"), 1e15)
            / count(lit(1)) * 1e6, 0).cast("long").as("disc_micro"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q_rel_topcust" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum(col("o_totalprice")) * 100, 0).cast("long")
          .as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("c_custkey")).limit(10)
    }),

    "q_rel_window" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val w = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      c.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 2)
        .select(col("c_nationkey"), col("c_custkey"),
          round(col("c_acctbal") * 100, 0).cast("long").as("acctbal_cents"),
          col("rn"))
        .orderBy("c_nationkey", "rn")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_edges" ->
      s"""WITH $edgesSqlCte
         |SELECT src, dst FROM edges ORDER BY src, dst""".stripMargin,

    "q_degrees" ->
      s"""WITH $edgesSqlCte
         |SELECT id, count(*) AS degree FROM nbrs GROUP BY id ORDER BY id""".stripMargin,

    "q_top_degree" ->
      s"""WITH $edgesSqlCte
         |SELECT id, count(*) AS degree FROM nbrs GROUP BY id
         |ORDER BY degree DESC, id LIMIT 20""".stripMargin,

    "q_pagerank" ->
      s"""WITH $edgesSqlCte,
         |$pagerankSqlTail""".stripMargin,

    "q_cc" ->
      s"""WITH RECURSIVE $edgesSqlCte,
         |reach AS (
         |  SELECT id, id AS comp FROM verts
         |  UNION
         |  SELECT n.nbr AS id, r.comp
         |  FROM reach r JOIN nbrs n ON n.id = r.id
         |  WHERE r.comp < n.nbr)
         |SELECT id, min(comp) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // sampled-source closeness mirror: bounded recursive-CTE walk from
    // the portable source set (id < 8), min-dist per (source, vertex),
    // then the wf-improved Eppstein-Wang estimator
    // ((rhat-1)/(n-1)) * ((rhat-1)/shat) with rhat = r*(n/k),
    // shat = sd*(n/k) — the SAME double-arithmetic shape as the Spark
    // side for bit-stable nano rounding
    "q_closeness" ->
      s"""WITH RECURSIVE $edgesSqlCte,
         |walk AS (
         |  SELECT id AS s, id, 0 AS dist FROM verts WHERE id < 8
         |  UNION
         |  SELECT w.s, n.nbr AS id, w.dist + 1 AS dist
         |  FROM walk w JOIN nbrs n ON n.id = w.id
         |  WHERE w.dist < 40),
         |sp AS MATERIALIZED (SELECT s, id, min(dist) AS d FROM walk GROUP BY s, id),
         |sums AS (SELECT id, sum(d) AS sd, count(*) AS r FROM sp GROUP BY id),
         |nk AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |              CAST((SELECT count(*) FROM verts WHERE id < 8) AS DOUBLE) AS k
         |       FROM verts)
         |SELECT v.id, CAST(round(
         |    CASE WHEN coalesce(sd, 0) > 0
         |         THEN ((CAST(r AS DOUBLE) * (nk.n / nk.k) - 1.0) / (nk.n - 1.0))
         |              * ((CAST(r AS DOUBLE) * (nk.n / nk.k) - 1.0) / (sd * (nk.n / nk.k)))
         |         ELSE 0.0 END * 1e9, 0) AS BIGINT) AS closeness_nano
         |FROM verts v LEFT JOIN sums ON sums.id = v.id CROSS JOIN nk
         |ORDER BY v.id""".stripMargin,

    "q_lpa" -> {
      def step(prev: String, k: Int): String =
        s"""c$k AS (SELECT n.id AS vid, l.label, count(*) AS cnt
           |        FROM nbrs n JOIN $prev l ON n.nbr = l.id GROUP BY n.id, l.label),
           |l$k AS (SELECT vid AS id, label FROM (
           |          SELECT vid, label,
           |                 row_number() OVER (PARTITION BY vid
           |                   ORDER BY cnt DESC, label ASC) AS rn
           |          FROM c$k) WHERE rn = 1)""".stripMargin
      s"""WITH $edgesSqlCte,
         |l0 AS (SELECT id, id AS label FROM verts),
         |${step("l0", 1)},
         |${step("l1", 2)},
         |${step("l2", 3)}
         |SELECT id, label FROM l3 ORDER BY id""".stripMargin
    },

    "q_triangles" ->
      s"""WITH $edgesSqlCte
         |SELECT count(*) AS triangles
         |FROM edges e1
         |JOIN edges e2 ON e2.src = e1.dst
         |JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin,

    "q_links" ->
      s"""WITH $linksSqlCte
         |SELECT src_url, dst_url FROM links ORDER BY src_url, dst_url""".stripMargin,

    "q_url_ids" ->
      s"""WITH $linksSqlCte,
         |urls AS (SELECT DISTINCT src_url AS url FROM links
         |         UNION SELECT DISTINCT dst_url FROM links)
         |SELECT url, row_number() OVER (ORDER BY url) - 1 AS id
         |FROM urls ORDER BY id""".stripMargin,

    "q_text_parity" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |pages AS (
         |  SELECT doc_id, text,
         |    '<html><head><title>p' || CAST(doc_id AS VARCHAR) ||
         |    '</title></head><body><p>' || text || '</p>' ||
         |    ${(1 to 3).map { j =>
              val t = Pages.targetOfSql("doc_id", j, "nn.n")
              s"""'<a href="' || ${Pages.urlOfSql(t)} || '">anchor ' || CAST($t AS VARCHAR) || '</a>'"""
            }.mkString(" || ")} ||
         |    '</body></html>' AS html
         |  FROM documents, nn)
         |SELECT CAST(sum(CASE WHEN regexp_extract(html, '<p>(.*?)</p>', 1) <> text
         |           THEN 1 ELSE 0 END) AS BIGINT) AS mismatches FROM pages""".stripMargin,

    "q_pagerank_links" ->
      s"""WITH $linksSqlCte,
         |urls AS (SELECT DISTINCT src_url AS url FROM links
         |         UNION SELECT DISTINCT dst_url FROM links),
         |dict AS (SELECT url, row_number() OVER (ORDER BY url) - 1 AS id FROM urls),
         |ide AS (SELECT d1.id AS a, d2.id AS b
         |        FROM links l
         |        JOIN dict d1 ON d1.url = l.src_url
         |        JOIN dict d2 ON d2.url = l.dst_url),
         |edges AS (SELECT DISTINCT least(a, b) AS src, greatest(a, b) AS dst
         |          FROM ide WHERE a <> b),
         |nbrs AS (SELECT src AS id, dst AS nbr FROM edges
         |         UNION ALL SELECT dst AS id, src AS nbr FROM edges),
         |$pagerankSqlTail""".stripMargin,
  ) ++ textOracles ++ annOracles ++ eventOracles ++ relOracles ++
    spearmanOracle ++ eigenOracle ++ influenceOracle ++ betweennessOracle

  /** Brandes forward-sigma / backward-delta mirror, unrolled over the
    * BFS levels (max observed depth from the id < 8 source set is 4 at
    * sf0.001 and 2 at sf0.01/sf0.1; 6 levels of margin — levels beyond
    * the true depth are empty CTEs and contribute nothing, exactly like
    * the Spark loop stopping at frontier exhaustion). sigma sums are
    * native doubles (integer path counts — exact under any order); the
    * delta aggregation and the final per-vertex accumulation use the
    * PortableSum fixed-point shape at scale 1e12, bit-matching
    * ApproxBetweenness(portableSum = true).
    */
  /** Unrolled BFS depth of the q_betweenness mirror — the Spark query
    * passes the same value as maxLevels (see the queries entry): max
    * observed depth from the id < 8 sources is 4, so 6 gives margin
    * while keeping the DuckDB plan tractable (each extra level inflates
    * the CTE-inlined plan multiplicatively).
    */
  private val BetweennessOracleLevels = 6

  private def betweennessOracle: Map[String, String] = {
    val maxL = BetweennessOracleLevels
    // MATERIALIZED fences: every s_k is referenced by s_{k+1}, d_k
    // (twice), and the final union; without them DuckDB inlines the
    // level chain exponentially — measured 67.6s -> 2.7s at sf0.01
    // with identical output (and makes the sf0.1 mirror tractable)
    val sigmas = (1 to maxL).map { k =>
      s"""s$k AS MATERIALIZED (SELECT sp.s, sp.id, sum(p.sigma) AS sigma
         |  FROM sp JOIN nbrs n ON n.id = sp.id
         |  JOIN s${k - 1} p ON p.s = sp.s AND p.id = n.nbr
         |  WHERE sp.d = $k GROUP BY sp.s, sp.id)""".stripMargin
    }.mkString(",\n")
    val deltaAgg = graft.core.PortableSum.fixedSumSql(
      "lv.sigma / w.sigma * (1.0 + w.delta)", "1e12")
    val deltas = (maxL - 1 to 0 by -1).map { k =>
      s"""d$k AS MATERIALIZED (SELECT v.s, v.id, v.sigma, coalesce(c.delta, 0.0) AS delta
         |  FROM s$k v LEFT JOIN (
         |    SELECT w.s, n.nbr AS id, $deltaAgg AS delta
         |    FROM d${k + 1} w JOIN nbrs n ON n.id = w.id
         |    JOIN s$k lv ON lv.s = w.s AND lv.id = n.nbr
         |    GROUP BY w.s, n.nbr) c ON c.s = v.s AND c.id = v.id)""".stripMargin
    }.mkString(",\n")
    val union = (0 to maxL)
      .map(k => s"SELECT s, id, delta FROM d$k").mkString("\n  UNION ALL ")
    Map("q_betweenness" ->
      s"""WITH RECURSIVE $edgesSqlCte,
         |walk AS (
         |  SELECT id AS s, id, 0 AS dist FROM verts WHERE id < 8
         |  UNION
         |  SELECT w.s, n.nbr AS id, w.dist + 1 AS dist
         |  FROM walk w JOIN nbrs n ON n.id = w.id
         |  WHERE w.dist < 40),
         |sp AS MATERIALIZED (SELECT s, id, min(dist) AS d FROM walk GROUP BY s, id),
         |s0 AS MATERIALIZED (SELECT s, id, CAST(1 AS DOUBLE) AS sigma FROM sp WHERE d = 0),
         |$sigmas,
         |d$maxL AS MATERIALIZED (SELECT s, id, sigma, CAST(0 AS DOUBLE) AS delta FROM s$maxL),
         |$deltas,
         |alldelta AS (
         |  $union),
         |raw AS (SELECT id, ${graft.core.PortableSum.fixedSumSql("delta", "1e12")} AS raw
         |        FROM alldelta WHERE id <> s GROUP BY id),
         |nk AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |              CAST((SELECT count(*) FROM verts WHERE id < 8) AS DOUBLE) AS k
         |       FROM verts)
         |SELECT v.id, CAST(round(coalesce(raw.raw, 0.0) *
         |    (CASE WHEN nk.n > 2 THEN (1.0 / ((nk.n - 1.0) * (nk.n - 2.0))) * (nk.n / nk.k)
         |     ELSE 1.0 END) * 1e9, 0)
         |    AS BIGINT) AS betweenness_nano
         |FROM verts v LEFT JOIN raw ON raw.id = v.id CROSS JOIN nk
         |ORDER BY v.id""".stripMargin)
  }

  /** The IC cascade with a round-independent per-edge coin equals the
    * reachability closure over "open" edges from the seeds — exactly
    * what a recursive CTE computes (UNION dedups, so it terminates).
    */
  private def influenceOracle: Map[String, String] = Map(
    "q_influence_ic" ->
      s"""WITH RECURSIVE $edgesSqlCte,
         |deg AS (SELECT id, count(*) AS degree FROM nbrs GROUP BY id),
         |seeds AS (SELECT id FROM deg ORDER BY degree DESC, id LIMIT 5),
         |reach AS (
         |  SELECT id FROM seeds
         |  UNION
         |  SELECT n.nbr AS id
         |  FROM reach r JOIN nbrs n ON n.id = r.id
         |  WHERE ${graft.embed.Influence.portableCoinSql("n.id", "n.nbr", 0L, 0.02)})
         |SELECT count(*) AS influenced FROM reach""".stripMargin,
  )

  private def eigenOracle: Map[String, String] = Map(
    // gather + L2-norm sums in the PortableSum fixed-point shape,
    // mirroring EigenvectorCentrality.fixedIter
    "q_eigencentrality" -> {
      // MATERIALIZED: each e_k is referenced twice by the next step
      // (gather + self-join) and s_k twice by its own norm, so without
      // the fence DuckDB inlines the whole chain EXPONENTIALLY —
      // measured 63s -> ~2s at sf0.01 with identical output
      def step(prev: String, k: Int): String =
        s"""s$k AS MATERIALIZED (SELECT v.id, v.score + coalesce(g.s, 0.0) AS raw
           |        FROM $prev v LEFT JOIN
           |          (SELECT n.nbr AS id,
           |             ${graft.core.PortableSum.fixedSumSql("r.score", "1e15")} AS s
           |           FROM nbrs n JOIN $prev r ON n.id = r.id
           |           GROUP BY n.nbr) g ON g.id = v.id),
           |e$k AS MATERIALIZED (SELECT id, raw / (SELECT sqrt(
           |          ${graft.core.PortableSum.fixedSumSql("raw * raw", "1e10")}) FROM s$k)
           |               AS score FROM s$k)""".stripMargin
      s"""WITH $edgesSqlCte,
         |e0 AS (SELECT id, 1.0 AS score FROM verts),
         |${step("e0", 1)},
         |${step("e1", 2)},
         |${step("e2", 3)},
         |${step("e3", 4)},
         |${step("e4", 5)}
         |SELECT id, CAST(round(score * 1e9, 0) AS BIGINT) AS score_nano
         |FROM e5 ORDER BY id""".stripMargin
    },
  )

  private def spearmanOracle: Map[String, String] = Map(
    "q_spearman_deg_pr" ->
      s"""WITH $edgesSqlCte,
         |$pagerankSqlCtes,
         |j AS MATERIALIZED (SELECT d.id, CAST(d.deg AS BIGINT) AS degree,
         |             CAST(round(r5.rank * 1e9, 0) AS BIGINT) AS rank_nano
         |      FROM deg d JOIN r5 ON r5.id = d.id),
         |ca AS (SELECT degree AS v, count(*) AS c FROM j GROUP BY 1),
         |ra AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |              - c + (c + 1) / 2.0 AS r FROM ca),
         |cb AS (SELECT rank_nano AS v, count(*) AS c FROM j GROUP BY 1),
         |rb AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |              - c + (c + 1) / 2.0 AS r FROM cb)
         |SELECT CAST(round(corr(ra.r, rb.r) * 1e6, 0) AS BIGINT)
         |       AS spearman_micro
         |FROM j JOIN ra ON ra.v = j.degree JOIN rb ON rb.v = j.rank_nano""".stripMargin,
  )

  private val enIn = TextOps.StopwordsEn.map("'" + _ + "'").mkString(", ")
  private val deIn = TextOps.StopwordsDe.map("'" + _ + "'").mkString(", ")
  private val frIn = TextOps.StopwordsFr.map("'" + _ + "'").mkString(", ")

  private val dupCorpusCte =
    """corpus AS (SELECT doc_id, text FROM documents
      |           UNION ALL
      |           SELECT doc_id + 1000000, text FROM documents
      |           WHERE doc_id % 10 = 0)""".stripMargin

  private def textOracles: Map[String, String] = Map(
    "q_doc_tokens" ->
      """SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_doc_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |       / len(str_split(text, ' ')) * 1e6, 0) AS BIGINT) AS avg_token_len_micro,
         |  CAST(round(CAST(len(list_filter(str_split(text, ' '),
         |       x -> x IN ($enIn))) AS DOUBLE)
         |       / len(str_split(text, ' ')) * 1e6, 0) AS BIGINT) AS stopword_ratio_micro,
         |  CASE WHEN length(text) > 0 THEN
         |  CAST(round(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
         |       / length(text) * 1e6, 0) AS BIGINT) END AS punct_ratio_micro,
         |  CASE WHEN length(text) > 0 THEN
         |  CAST(round(CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
         |       / length(text) * 1e6, 0) AS BIGINT) END AS upper_ratio_micro
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_doc_langid" ->
      s"""WITH h AS (SELECT doc_id,
         |  len(list_filter(str_split(text, ' '), x -> x IN ($enIn))) AS en,
         |  len(list_filter(str_split(text, ' '), x -> x IN ($deIn))) AS de,
         |  len(list_filter(str_split(text, ' '), x -> x IN ($frIn))) AS fr
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
         |       WHEN de >= fr AND de > 0 THEN 'de'
         |       WHEN fr > 0 THEN 'fr'
         |       ELSE 'unk' END AS lang_detected
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(str_split(text, ''),
        |    c -> CAST(ascii(c) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      s"""WITH $dupCorpusCte
         |SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id,
         |       count(*) AS n_copies
         |FROM corpus GROUP BY md5(text) HAVING count(*) > 1
         |ORDER BY keep_id""".stripMargin,

    // portable-hash mirrors: fp(s) = fold chars (acc*31 + ascii) mod
    // 1e9+7; seeded h_k(fp) = (fp*(2k+3) + k) mod 1e9+7 — plain BIGINT
    // arithmetic both engines compute identically
    "q_minhash_dedup" ->
      s"""WITH $dupCorpusCte,
         |sh AS (SELECT doc_id,
         |  list_distinct(list_transform(
         |    range(0, len(str_split(text, ' ')) - 2),
         |    i -> array_to_string(list_slice(str_split(text, ' '), i + 1, i + 3), ' '))) AS s
         |  FROM corpus),
         |fps AS (SELECT doc_id,
         |  list_transform(s, x -> list_reduce(
         |    list_transform(str_split(x, ''), c -> CAST(ascii(c) AS BIGINT)),
         |    (a, b) -> (a * 31 + b) % 1000000007)) AS f
         |  FROM sh WHERE len(s) > 0),
         |sig AS (SELECT doc_id,
         |  list_transform(range(0, 16), k ->
         |    list_min(list_transform(f, v -> (v * (2 * k + 3) + k) % 1000000007))) AS g
         |  FROM fps),
         |bands AS (SELECT doc_id, b AS band,
         |  list_reduce(list_slice(g, CAST(b * 2 + 1 AS INT), CAST(b * 2 + 2 AS INT)),
         |    (a, x) -> (a * 31 + x) % 1000000007) AS bucket
         |  FROM sig, range(0, 8) r(b)),
         |bcnt AS (SELECT band, bucket FROM bands
         |         GROUP BY band, bucket HAVING count(*) <= 10000),
         |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x
         |  JOIN bcnt ON bcnt.band = x.band AND bcnt.bucket = x.bucket
         |  JOIN bands y
         |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         |ver AS (SELECT id_a, id_b,
         |  CAST(round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.s, b.s))) * 1e6, 0) AS BIGINT) AS jaccard_micro
         |  FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh b ON b.doc_id = cand.id_b)
         |SELECT id_a, id_b, jaccard_micro FROM ver
         |WHERE jaccard_micro >= 900000 ORDER BY id_a, id_b""".stripMargin,

    "q_simhash" ->
      """WITH tk AS (SELECT doc_id,
        |  list_transform(str_split(text, ' '), t -> list_reduce(
        |    list_transform(str_split(t, ''), c -> CAST(ascii(c) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007)) AS f
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0, 64), b ->
        |    CASE WHEN list_sum(list_transform(f, v ->
        |        CASE WHEN ((v * (2 * b + 3) + b) % 1000000007) % 2 = 1
        |             THEN 1 ELSE -1 END)) > 0
        |      THEN (CASE WHEN b = 63 THEN -9223372036854775807 - 1
        |                 ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END)
        |      ELSE 0 END)) AS BIGINT) AS simhash
        |FROM tk ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, len(str_split(text, ' ')) - 2),
        |      i -> array_to_string(list_slice(str_split(text, ' '), i + 1, i + 3), ' '))) AS s
        |  FROM documents WHERE doc_id < 40)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.s, b.s))) * 1e6, 0) AS BIGINT) AS jaccard_micro
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) > 0
        |  AND CAST(round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.s, b.s))) * 1e6, 0) AS BIGINT) > 0
        |ORDER BY id_a, id_b""".stripMargin,
  )

  /** Cosine in integer micro-units, mirroring VecCosine's zero-norm
    * contract: a zero-norm vector scores 0 against everything (the
    * unguarded DuckDB form divides 0/0 there and diverges from the
    * engine — latent only, no zero vector exists in the driver data,
    * but the mirror should encode the same semantics).
    */
  private def cosineMicroSql(a: String, b: String): String =
    s"""CAST(round(CASE WHEN list_dot_product($a, $a) = 0
       |    OR list_dot_product($b, $b) = 0 THEN 0.0
       |  ELSE list_dot_product($a, $b)
       |    / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))
       |  END * 1e6, 0) AS BIGINT)""".stripMargin

  private def annOracles: Map[String, String] = Map(
    "q_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        |      FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    ${cosineMicroSql("qv", "cv")} AS cosine_micro
        |  FROM c, q WHERE query_id <> neighbor_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine_micro DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, neighbor_id, cosine_micro, rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // IVF mirror: same deterministic md5-ordered centroids, same
    // single-assignment (cosine_micro DESC, cid ASC tie-break), same
    // nprobe probed lists — bit-for-bit the Spark pipeline
    "q_ann_ivf" -> {
      val cm = cosineMicroSql _
      s"""WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id < 10),
         |cent AS (SELECT neighbor_id AS cid, cv AS centroid FROM c
         |         ORDER BY md5(CAST(neighbor_id AS VARCHAR)), neighbor_id
         |         LIMIT 32),
         |cass AS (SELECT neighbor_id, cv, cid FROM (
         |    SELECT c.neighbor_id, c.cv, cent.cid,
         |      row_number() OVER (PARTITION BY c.neighbor_id
         |        ORDER BY ${cm("cv", "centroid")} DESC, cent.cid ASC) AS rn
         |    FROM c, cent) WHERE rn = 1),
         |qprobe AS (SELECT query_id, qv, cid FROM (
         |    SELECT q.query_id, q.qv, cent.cid,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cm("qv", "centroid")} DESC, cent.cid ASC) AS rn
         |    FROM q, cent) WHERE rn <= 8),
         |scored AS (SELECT query_id, neighbor_id,
         |    ${cm("qv", "cv")} AS cosine_micro
         |  FROM cass JOIN qprobe USING (cid)
         |  WHERE query_id <> neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine_micro DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine_micro, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // portable SRP-LSH mirror: weight(seed,p,j) = parity of the first
    // hex digit of md5(42 + t*1000 + p*1009 + j) — identical digests in
    // both engines (see SrpBucketPortable scaladoc for why the old
    // modular family was replaced: lattice-correlated hyperplanes);
    // projection folds left-to-right (list_reduce ≡ the native loop),
    // so bucket sign bits agree bit-for-bit. 12 planes per table; the
    // query side multiprobes its own bucket plus the 12 order-1
    // perturbations (one sign bit flipped), mirroring Ann.lshTopK.
    "q_ann_lsh" -> {
      def bucketedSql(src: String, idAlias: String, vec: String): String =
        s"""SELECT $idAlias, $vec, t,
           |  CAST(list_sum(list_transform(range(0, 12), p ->
           |    CASE WHEN list_reduce(list_transform(range(0, len($vec)), j ->
           |        CASE WHEN strpos('13579bdf', substr(md5(CAST(
           |                     42 + t * 1000 + p * 1009 + j AS VARCHAR)), 1, 1)) > 0
           |             THEN $vec[j + 1] ELSE -$vec[j + 1] END),
           |        (a, b) -> a + b) > 0
           |      THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END))
           |    AS BIGINT) AS b
           |FROM $src, range(0, 8) r(t)""".stripMargin
      s"""WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id < 10),
         |cb AS (${bucketedSql("c", "neighbor_id", "cv")}),
         |qb AS (${bucketedSql("q", "query_id", "qv")}),
         |qbp AS (SELECT query_id, t,
         |          CASE WHEN pp = 0 THEN b
         |               ELSE xor(b, (CAST(1 AS BIGINT) << CAST(pp - 1 AS INT)))
         |          END AS b
         |        FROM qb, range(0, 13) r2(pp)),
         |cand AS (SELECT DISTINCT query_id, neighbor_id
         |  FROM cb JOIN qbp ON cb.t = qbp.t AND cb.b = qbp.b
         |  WHERE query_id <> neighbor_id),
         |scored AS (SELECT query_id, neighbor_id,
         |  ${cosineMicroSql("qv", "cv")} AS cosine_micro
         |  FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine_micro DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine_micro, rank
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // embedding near-dup mirror: same planted perturbation, same
    // portable 12-plane SRP buckets, same bucket cap, exact cosine
    // verify — bit-for-bit the Spark pipeline in DuckDB SQL
    "q_embedding_dedup" ->
      s"""WITH base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |             FROM embeddings),
         |pert AS (SELECT id + 1000000 AS id,
         |           list_transform(v, x -> x * 1.001 + 0.01) AS v
         |         FROM base WHERE id % 10 = 0),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
         |cb AS (SELECT id, t,
         |  CAST(list_sum(list_transform(range(0, 12), p ->
         |    CASE WHEN list_reduce(list_transform(range(0, len(v)), j ->
         |        CASE WHEN strpos('13579bdf', substr(md5(CAST(
         |                     42 + t * 1000 + p * 1009 + j AS VARCHAR)), 1, 1)) > 0
         |             THEN v[j + 1] ELSE -v[j + 1] END),
         |        (a, b) -> a + b) > 0
         |      THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END))
         |    AS BIGINT) AS b
         |  FROM corpus, range(0, 8) r(t)),
         |bcnt AS (SELECT t, b FROM cb GROUP BY t, b HAVING count(*) <= 10000),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |  FROM cb x
         |  JOIN bcnt ON bcnt.t = x.t AND bcnt.b = x.b
         |  JOIN cb y ON x.t = y.t AND x.b = y.b AND x.id < y.id),
         |ver AS (SELECT id_a, id_b,
         |  ${cosineMicroSql("a.v", "b.v")} AS cosine_micro
         |  FROM cand
         |  JOIN corpus a ON a.id = cand.id_a
         |  JOIN corpus b ON b.id = cand.id_b)
         |SELECT id_a, id_b, cosine_micro FROM ver
         |WHERE cosine_micro >= 900000 ORDER BY id_a, id_b""".stripMargin,

    // q_media_features mirror: rebuild the synthetic media table from
    // range(500) with the same modular arithmetic, then brute-force
    // cosine top-3 for media_id < 5
    "q_media_features" ->
      s"""WITH m AS (SELECT range AS media_id,
        |  lpad(CAST((range * 2654435761 + 12345) % 1000000007 AS VARCHAR),
        |       10, '0') AS content
        |  FROM range(500)),
        |fp AS (SELECT media_id, list_reduce(
        |  list_transform(str_split(content, ''), c -> CAST(ascii(c) AS BIGINT)),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS f FROM m),
        |feat AS (SELECT media_id, list_transform(range(0, 16), i ->
        |  CAST(CAST((f * (2 * i + 3) + i) % 1000000 AS DOUBLE) / 500000.0 - 1.0
        |       AS REAL)) AS v FROM fp),
        |q AS (SELECT media_id AS query_id, v::DOUBLE[] AS qv FROM feat
        |      WHERE media_id < 5),
        |c AS (SELECT media_id AS neighbor_id, v::DOUBLE[] AS cv FROM feat),
        |scored AS (SELECT query_id, neighbor_id,
        |  ${cosineMicroSql("qv", "cv")} AS cosine_micro
        |  FROM c, q WHERE query_id <> neighbor_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine_micro DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, neighbor_id, cosine_micro, rank
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
  )

  private def eventOracles: Map[String, String] = Map(
    "q_events_hourly" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
        |  event_type, count(*) AS n_events,
        |  CAST(round(sum(value) * 1e6, 0) AS BIGINT) AS value_micro
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
        |f AS (SELECT *, CASE WHEN us - lag(us) OVER
        |        (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS flag FROM e),
        |s AS (SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM f)
        |SELECT user_id, sess, min(us) AS session_start_us,
        |  count(*) AS n_events,
        |  CAST(round(sum(value) * 1e6, 0) AS BIGINT) AS value_micro
        |FROM s GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin,
  )

  private def relOracles: Map[String, String] = Map(
    "q_rel_agg" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         |  CAST(round(${graft.core.PortableSum.fixedSumSql("l_extendedprice", "1e8")}
         |       * 100, 0) AS BIGINT) AS price_cents,
         |  CAST(round(${graft.core.PortableSum.fixedSumSql("l_discount", "1e15")}
         |       / count(*) * 1e6, 0) AS BIGINT) AS disc_micro
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_rel_topcust" ->
      """SELECT c_custkey, c_name,
        |  CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 10""".stripMargin,

    "q_rel_window" ->
      """SELECT c_nationkey, c_custkey,
        |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents, rn
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |        row_number() OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer)
        |WHERE rn <= 2 ORDER BY c_nationkey, rn""".stripMargin,
  )
}
