package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Brute-force cosine top-k is the exactness baseline: broadcast the
  * (small) query set against the corpus — a broadcast nested-loop join
  * with a codegen'd dot product, embarrassingly parallel over corpus
  * partitions, no shuffle until the final per-query top-k (tiny).
  *
  * The scale path is LSH bucketing (signed random projections): corpus
  * and queries hash to buckets; only same-bucket pairs are scored — the
  * crossJoin becomes an equi-join on bucket id. Projection weights are
  * deterministic md5 functions of (seed, plane, dim), not data, so the
  * index is reproducible and needs no fit/training pass.
  */
object Ann {

  /** Dot product of two array<double> columns (sequential fold — same
    * order as DuckDB list_dot_product, for oracle parity).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)

  /** Cosine similarity — native fused codegen loop (VecCosineExpr);
    * accumulation order matches the aggregate() fold and DuckDB's
    * list_dot_product bit-for-bit. The HOF formulation this replaces
    * ran three interpreted folds per candidate pair (CodegenFallback).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecCosine(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Per-query top-k of a (query_id, neighbor_id, cosine_micro) frame
    * via the bounded-top-k TypedImperativeAggregate: map-side PARTIAL
    * aggregation keeps at most k candidates per query per input
    * partition, so the shuffle carries <= partitions x |queries| x k
    * rows. The row_number window this replaces shuffled EVERY candidate
    * row into at most |queries| reducer keys — a hard parallelism
    * ceiling at web scale. Ordering (cosine desc, neighbor asc) and the
    * rank column match the window formulation exactly.
    */
  private def topKByCosine(scored: DataFrame, k: Int): DataFrame = {
    val cand = struct(
      (-col("cosine_micro").cast("double")).as("negcos"),
      col("neighbor_id"), col("cosine_micro"))
    scored.groupBy("query_id")
      .agg(graft.functions.BoundedTopKAgg.topK(cand, k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.cosine_micro").as("cosine_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Exact top-k by cosine for each query row. `queries` must be small
    * (they ride inside the aggregate, exactly the payload a broadcast
    * would stage). Deterministic tie-break on neighbor id.
    * Output: (query_id, neighbor_id, cosine_micro, rank).
    *
    * Fused plan: one [[graft.functions.CosineTopKAgg]] pass — every
    * corpus row advances all Q query heaps inside a single update(),
    * instead of materializing |corpus| x Q candidate rows through a
    * crossJoin (the row traffic, not the cosine flops, dominated that
    * plan). Scoring/rounding/tie-break are bit-identical to the column
    * formulation (parity-tested), so the DuckDB oracle is unchanged.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val qRows = queries
      .select(col(idCol).cast("long").as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .orderBy("query_id").collect()
    val qids = qRows.map(_.getLong(0))
    val qvecs = qRows.map(_.getSeq[Double](1).toArray)
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    c.agg(graft.functions.CosineTopK.topK(col("cv"), col("neighbor_id"),
        qids, qvecs, k).as("all"))
      .select(explode(col("all")).as("e"))
      .select(col("e.query_id").as("query_id"), posexplode(col("e.nn")))
      .select(col("query_id"), col("col.neighbor_id").as("neighbor_id"),
        col("col.cosine_micro").as("cosine_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Signed-random-projection bucket id, the one LSH hash of `lshTopK`
    * and `embeddingNearDups`: `planes` sign bits packed into a long. The
    * ±1 weight of (plane p, dim j) is the parity of the first hex digit
    * of md5(seed + p*1009 + j) — Spark and DuckDB compute the identical
    * digest, so the oracle mirrors every bucket.
    * Signs are data-independent and cached per (seed, planes, dim), so
    * the per-row cost is the pure planes x dim multiply-add loop.
    * Projection sums fold left-to-right, matching DuckDB's list_reduce,
    * so the sign bits agree exactly. Backed by the native codegen
    * SrpBucketPortableExpr; see its scaladoc for why the earlier
    * modular-arithmetic weight family was replaced (lattice-correlated
    * hyperplanes collapsed the bucket space).
    */
  def srpBucketPortable(vec: Column, planes: Int, seed: Column): Column =
    graft.functions.SrpBucketPortable(vec, seed, planes)

  /** Approximate top-k: score only same-bucket candidates across
    * `tables` independent SRP hash tables (OR-amplification), then exact
    * cosine on the candidate set. Falls back to fewer than k results for
    * queries whose buckets are sparse — the recall/cost knob is
    * (planes, tables, probes).
    *
    * Pruning power: `planes` sign bits give 2^planes buckets per table,
    * so a bucket holds ~corpus/2^planes candidates. The 12-plane default
    * prunes each table to ~corpus/4096 — at 10^9 vectors that is ~2.4e5
    * candidates per probe instead of the ~6e7 a 4-plane table leaks.
    * Recall lost to the finer buckets is bought back with MULTIPROBE on
    * the query side: each query also probes the `probes` buckets at
    * Hamming distance 1 from its own (one sign bit flipped — the
    * standard multiprobe-LSH order-1 perturbation), which is far cheaper
    * than more tables because the corpus is hashed once.
    * `probes` < 0 means "probe all planes" (order-1 complete).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 12, tables: Int = 8, probes: Int = -1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nProbes = math.min(if (probes < 0) planes else probes, planes)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    // per-table buckets: SRP with table-specific seed
    def bucketed(df: DataFrame, vc: String): DataFrame =
      df.select(col("*"), posexplode(
          transform(sequence(lit(0), lit(tables - 1)),
            t => srpBucketPortable(col(vc), planes, lit(42L) + t.cast("long") * 1000L))))
        .withColumnRenamed("pos", "t").withColumnRenamed("col", "b")
    val cb = bucketed(c, "cv")
    // multiprobe fan-out on the (small, broadcast) query side only:
    // pp = 0 is the query's own bucket, pp = 1..nProbes flips bit pp-1
    val qb = bucketed(q, "qv")
      .select(col("query_id"), col("qv"), col("t"), explode(
        transform(sequence(lit(0), lit(nProbes)),
          pp => when(pp === 0, col("b")).otherwise(
            col("b").bitwiseXOR(
              graft.core.Cols.shiftLeftC(lit(1L), pp - 1))))).as("b"))
    // dedup on the ID PAIR ONLY, then re-join the vectors: a candidate
    // can surface from several (table, probe) buckets, and a distinct
    // over rows that still carry both embeddings would shuffle ~d x 16
    // bytes per candidate where 16 bytes (two longs) suffice — same
    // ids-first shape as embeddingNearDups
    val cands = cb.select("neighbor_id", "t", "b")
      .join(broadcast(qb.select("query_id", "t", "b")), Seq("t", "b"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val scored = cands
      .join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")) * 1e6, 0).cast("long")
          .as("cosine_micro"))
    topKByCosine(scored, k)
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer
    * sibling of the SRP-LSH path. The quantizer is TRAINING-FREE and
    * deterministic: the `nlist` corpus vectors with the smallest
    * md5(vec_id) digests serve as centroids (a reproducible uniform
    * sample — both engines order the same hex strings identically, so
    * the DuckDB oracle rebuilds the exact index). Corpus vectors join
    * their single nearest centroid's inverted list; each query probes
    * its `nprobe` nearest centroids and scores only those lists.
    *
    * Scale shape: centroid assignment is one broadcast pass over the
    * corpus (nlist x d floats broadcast — KB to MB); the candidate join
    * is an equi-join on centroid id, so per query ~nprobe/nlist of the
    * corpus is scored instead of all of it; the final top-k is the
    * bounded-heap aggregate (no Window). At 10^9 vectors with
    * nlist=65536 / nprobe=32 a query scores ~0.05% of the corpus.
    * Assignment ties break toward the smaller centroid id (micro-cosine
    * equality), keeping Spark and the SQL mirror bit-identical.
    *
    * Assignment FLOP bound (flat, `coarseProbe = 0`): every corpus
    * vector scores every centroid — `2 * n * nlist * d` FLOPs. That is
    * the term that blows up first at web scale: 10^9 vectors x
    * nlist=65536 x d=768 is ~10^17 FLOPs (days of single-node compute;
    * hours even across a large cluster). Recommended flat-assignment
    * ceilings: nlist <= 4096 at n = 10^6 (~6*10^12 FLOPs, seconds/core
    * at d=768) and nlist <= 1024 at n = 10^9 (~1.6*10^15) — beyond
    * that, switch on the two-level quantizer.
    *
    * Two-level quantizer (`coarseProbe` = w > 0): the first
    * ceil(sqrt(nlist)) centroids of the SAME md5 ordering double as a
    * coarse level; every fine centroid belongs to its nearest coarse
    * cell. A corpus vector scores the sqrt(nlist) coarse centroids,
    * keeps its `w` nearest coarse cells, and scores only the fine
    * centroids in those cells — `~2 * n * d * sqrt(nlist) * (1 + w)`
    * FLOPs (expected sqrt(nlist) fine per cell), a 28x FLOP cut at
    * nlist=65536 / w=8. With `w >= ceil(sqrt(nlist))` every cell is
    * probed and the assignment is IDENTICAL to the flat path (same
    * max-struct tie-break) — the parity test exploits this. The
    * broadcast stays nlist x d either way; only compute shrinks.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 64, nprobe: Int = 8,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              coarseProbe: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val centroids = c
      .orderBy(md5(col("neighbor_id").cast("string")), col("neighbor_id"))
      .limit(nlist)
      .select(col("neighbor_id").as("cid"), col("cv").as("centroid"))
    val cassign = assignToCentroids(c, centroids, nlist, coarseProbe)
    // nprobe nearest centroids per query (query side is small)
    // BoundedTopKAgg's sort key (first struct field) must be DOUBLE
    val qprobe = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("cid"),
        struct((-round(cosine(col("qv"), col("centroid")) * 1e6, 0))
          .as("negcm"), col("cid").as("pcid")).as("sc"))
      .groupBy("query_id")
      .agg(first(col("qv")).as("qv"),
        graft.functions.BoundedTopKAgg.topK(col("sc"), nprobe).as("probes"))
      .select(col("query_id"), col("qv"),
        explode(col("probes")).as("p"))
      .select(col("query_id"), col("qv"), col("p.pcid").as("cid"))
    val scored = cassign.join(broadcast(qprobe), "cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")) * 1e6, 0).cast("long")
          .as("cosine_micro"))
    topKByCosine(scored, k)
  }

  /** Nearest-centroid assignment for `ivfTopK`: flat crossJoin when
    * `coarseProbe = 0`, the two-level coarse->fine hierarchy otherwise
    * (see ivfTopK scaladoc for the FLOP accounting). Both paths share
    * the max(struct(cosine_micro, -cid)) reduction, so ties always
    * break toward the smaller centroid id. Output: (neighbor_id, cv,
    * cid).
    */
  private def assignToCentroids(c: DataFrame, centroids: DataFrame,
                                nlist: Int, coarseProbe: Int): DataFrame = {
    def bestOf(scoredCells: DataFrame): DataFrame = scoredCells
      .select(col("neighbor_id"), col("cv"),
        struct(round(cosine(col("cv"), col("centroid")) * 1e6, 0)
          .cast("long").as("cm"), (-col("cid")).as("negcid")).as("sc"))
      .groupBy("neighbor_id")
      .agg(first(col("cv")).as("cv"), max(col("sc")).as("best"))
      .select(col("neighbor_id"), col("cv"), (-col("best.negcid")).as("cid"))
    if (coarseProbe <= 0) {
      bestOf(c.crossJoin(broadcast(centroids)))
    } else {
      val ncoarse = math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)
      // rank the (tiny, <= nlist rows) centroid set in its md5 order;
      // a single-partition window over nlist rows costs nothing and the
      // first ncoarse ranks double as the coarse level
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(md5(col("cid").cast("string")), col("cid"))
      val ranked = centroids.withColumn("rk", row_number().over(w))
      val coarse = ranked.where(col("rk") <= ncoarse)
        .select(col("cid").as("ccid"), col("centroid").as("ccentroid"))
      // fine -> coarse cell map (nlist x sqrt(nlist) scoring — trivial)
      val fineCells = ranked.select(col("cid"), col("centroid"))
        .crossJoin(broadcast(coarse))
        .select(col("cid"), col("centroid"),
          struct(round(cosine(col("centroid"), col("ccentroid")) * 1e6, 0)
            .cast("long").as("cm"), (-col("ccid")).as("negccid")).as("sc"))
        .groupBy("cid")
        .agg(first(col("centroid")).as("centroid"), max(col("sc")).as("best"))
        .select(col("cid"), col("centroid"),
          (-col("best.negccid")).as("ccid"))
      // corpus -> top-coarseProbe coarse cells (bounded heap, no window
      // on the big side), then score only the fine centroids there
      val probed = c.crossJoin(broadcast(coarse))
        .select(col("neighbor_id"), col("cv"), col("ccid"),
          struct((-round(cosine(col("cv"), col("ccentroid")) * 1e6, 0))
            .as("negcm"), col("ccid").as("pccid")).as("sc"))
        .groupBy("neighbor_id")
        .agg(first(col("cv")).as("cv"),
          graft.functions.BoundedTopKAgg.topK(col("sc"), coarseProbe)
            .as("cells"))
        .select(col("neighbor_id"), col("cv"),
          explode(col("cells")).as("cell"))
        .select(col("neighbor_id"), col("cv"),
          col("cell.pccid").as("ccid"))
      bestOf(probed.join(broadcast(fineCells), "ccid"))
    }
  }

  /** Embedding-cosine near-duplicate pairs over a corpus — the
    * embedding-space sibling of the text dedup family: SRP-LSH bucketed
    * candidate generation (corpus SELF-join on (table, bucket), OR
    * amplification across `tables`) followed by exact cosine
    * verification >= threshold. Returns (id_a, id_b, cosine_micro).
    *
    * Scale guards mirror Dedup.minHashNearDups: per-(table, bucket)
    * candidate caps (`maxBucket`, counted and logged when tripped — a
    * degenerate corpus of identical vectors lands in ONE bucket per
    * table and would otherwise go quadratic). Near-identical vectors
    * (cosine >= 0.9, angle <= 26 deg) share a 12-bit bucket with
    * p ~ 0.15 per table; across 8 tables overall recall is ~0.72,
    * rising fast with the threshold (~0.93 at 0.95) — the standard
    * LSH recall/cost dial, tunable via (planes, tables).
    */
  def embeddingNearDups(corpus: DataFrame, threshold: Double,
                        planes: Int = 12, tables: Int = 8,
                        maxBucket: Int = 10000,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = c.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(tables - 1)),
          t => srpBucketPortable(col("v"), planes, lit(42L) + t.cast("long") * 1000L))))
      .select(col("id"), col("pos").as("t"), col("col").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketCounts = cb.groupBy("t", "b").agg(count(lit(1)).as("_bc"))
    val dropped = bucketCounts.where(col("_bc") > maxBucket).count()
    if (dropped > 0)
      System.err.println(s"[graft.ann] embeddingNearDups: dropped $dropped " +
        s"bucket(s) larger than maxBucket=$maxBucket; pairs only in those " +
        "buckets are not emitted")
    val pruned = cb.join(
      bucketCounts.where(col("_bc") <= maxBucket).select("t", "b"),
      Seq("t", "b"), "left_semi")
    val cands = pruned.as("x").join(pruned.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val verified = cands
      .join(c.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(c.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")) * 1e6, 0).cast("long")
          .as("cosine_micro"))
      .where(col("cosine_micro") >= (threshold * 1e6).toLong)
    val out = graft.core.Lineage.truncate(verified)
    cb.unpersist(false)
    c.unpersist(false)
    out
  }
}
