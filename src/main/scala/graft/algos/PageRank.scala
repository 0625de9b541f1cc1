package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{CheckpointManager, Lineage, LoopConf, Route}
import graft.functions.DoubleParam
import graft.graph.{Edges, Skew}

/** Distributed PageRank with NetworkX-compatible semantics (the
  * reference delegates to nx.pagerank, /root/reference/graphem/benchmark.py:74-77):
  *
  *   x_{t+1}(v) = alpha * ( sum_{u->v} x_t(u)/outdeg(u) + danglesum_t/n )
  *              + (1-alpha)/n
  *   danglesum_t = sum of x_t over vertices with outdeg 0
  *   converged when sum_v |x_{t+1}(v) - x_t(v)| < n * tol
  *
  * Each superstep is one Catalyst-planned join (gather: rank to out-edges)
  * + hash aggregation (scatter: sum contributions per destination) — the
  * SpMV of the north_star. Scale posture:
  *   - `links` is persisted once, pre-shuffled on `src`, so the per-step
  *     gather join reuses the exchange instead of reshuffling 100 TB of
  *     edges every iteration;
  *   - partial aggregation + AQE skew-join absorb hub skew; an optional
  *     salted two-phase aggregation (Skew.saltedSum) is available for
  *     extreme hubs;
  *   - vertex state is checkpointed (Parquet + manifest, CheckpointManager)
  *     every `checkpointInterval` iterations, truncating plan lineage and
  *     making runs resumable mid-algorithm.
  */
object PageRank {

  case class Config(
      alpha: Double = 0.85,
      tol: Double = 1e-6,
      maxIter: Int = 100,
      checkpoint: Option[CheckpointManager] = None,
      checkpointInterval: Int = 1,
      saltedAgg: Boolean = false,
      salts: Int = 16,
      // "auto" routes dense-id graphs whose V-row state fits a broadcast
      // to the CSR engine (see runUndirected); "rel" pins the relational
      // join+agg superstep (parity tests, ScalingBench's `rel` rows,
      // and any caller that wants the shuffle plan regardless of size)
      engine: String = "auto",
      // broadcast-state vertex cap for the auto route (Route.CsrVertexCap):
      // data-derived, not core-count derived, so on a cluster a
      // 10^9-vertex web graph routes to the relational plan unchanged
      csrMaxVertices: Long = Route.CsrVertexCap)

  case class Result(ranks: DataFrame, iterations: Int, err: Double,
                    edgesPerSecPerSuperstep: Double,
                    engine: String = "rel")

  /** Undirected PageRank over a canonical edge table (src<dst distinct):
    * message passing along both directions.
    *
    * Engine routing (optimization round 6, guide §3.1 "broadcast the
    * small side"): when the per-vertex state is small enough to
    * broadcast (maxId < cfg.csrMaxVertices) and the id space is dense,
    * the superstep needs NO shuffle at all — PageRankCsr streams
    * per-partition CSR blocks against the contribution vector (measured
    * 4-5x the relational engine on the bench graph, parity 3e-20). Three
    * tiers, by the held edge projection's [[Route.gate]]:
    *
    *  - at most [[Route.LocalEdgeCap]] edges: the gate collects the rows
    *    (or finds them shared by an earlier call), density and the
    *    `csrMaxVertices` bound are read off their sorted ids, and the
    *    blocks are built and run on the driver — no shuffle and no job
    *    per superstep, and the CC, LPA, triangle and spectral calls that
    *    follow read the same collect;
    *  - above it, up to `csrMaxVertices` vertices by [[Route.stats]]'
    *    id range (the gate's aggregate, read again): the blocks are
    *    built on the executors by one shuffle and each superstep is one
    *    job (the density check rides the block build: it falls back if
    *    any id slot is empty);
    *  - everything else runs the relational join+agg plan: sparse id
    *    spaces (n enters the teleport base, so density is semantic),
    *    checkpointed/resumable runs, salted aggregation, or V beyond the
    *    broadcast cap.
    *
    * Both CSR tiers give the same ranks to the bit. The CSR builds and
    * the relational fallback read the same projection ([[Route.hold]]),
    * so an uncached caller pipeline runs once.
    */
  def runUndirected(spark: SparkSession, edges: DataFrame,
                    cfg: Config = Config()): Result = {
    require(cfg.engine == "auto" || cfg.engine == "rel",
      s"""Config.engine must be "auto" or "rel", got "${cfg.engine}"""")
    val tryRoute = cfg.engine != "rel" && cfg.checkpoint.isEmpty && !cfg.saltedAgg
    val held = Route.hold(edges)
    // both directions of every edge: the relational plan's link rows
    def relational() = run(spark, Edges.neighbors(held.edges).toDF("src", "dst"),
      2L * Route.stats(held).count, cfg)
    try {
      if (!tryRoute) return relational()
      // the id range gives both CSR bounds: maxId under the broadcast
      // cap AND no negative ids (a negative id would index outside the
      // CSR arrays; the relational plan handles any id). Dense ids are
      // 0..n-1, so on the driver n is the bound
      val csr = Route.gate(held, Route.LocalEdgeCap) match {
        case local: Route.Local if local.dense._1.length <= cfg.csrMaxVertices =>
          PageRankCsr.runLocalIfDense(spark, local, cfg.maxIter, cfg.tol, cfg.alpha)
        case _: Route.Local => None
        case Route.Distributed(_, _) => Route.stats(held).idRange match {
          case Some((lo, hi)) if lo >= 0L && hi < cfg.csrMaxVertices =>
            PageRankCsr.runIfDense(spark, held.edges, cfg.maxIter, cfg.tol, cfg.alpha)
          case _ => None
        }
      }
      csr.map(c => Result(c.ranks, c.iterations, c.err,
          c.edgesPerSecPerSuperstep, engine = "csr"))
        .getOrElse(relational())
    } finally held.release()
  }

  /** Directed PageRank over a (src, dst) link table (duplicates allowed =
    * parallel edges, matching nx.DiGraph after dedup — pass distinct
    * links for exact nx parity).
    *
    * The call runs in one [[LoopConf.withLoop]] scope sized by the link
    * count: [[Route.stats]] of the held links, which a caller-cached
    * input has after its first call and any other input gets from one
    * aggregate that also fills the hold the link table is read from.
    */
  def run(spark: SparkSession, linksRaw: DataFrame, cfg: Config): Result = {
    val held = Route.hold(linksRaw)
    try run(spark, held.edges, Route.stats(held).count, cfg) finally held.release()
  }

  /** The relational supersteps over `linksRaw`, which has `linkRows`
    * rows, in one loop scope sized by them; none when the latest
    * checkpoint was committed at convergence ([[convergedResume]]).
    */
  private def run(spark: SparkSession, linksRaw: DataFrame, linkRows: Long,
                  cfg: Config): Result =
    convergedResume(cfg).getOrElse(LoopConf.withLoop(spark, LoopConf.smallRegime(spark, linkRows)) {
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // Pre-shuffle the big immutable side once; every superstep's gather
    // join then reuses this exchange.
    val links = linksRaw.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(p, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // vertex set + out-degree in ONE aggregation over the exploded
    // endpoints (the old verts-distinct + outDeg-groupBy + left-join
    // shape shuffled the link table three times for the same result):
    // outdeg = #src-side rows, NULL for pure-dangling vertices, exactly
    // as the join produced. groupBy leaves vertsDeg id-hash partitioned.
    val vertsDeg = links.select(explode(array(
        struct(col("src").as("id"), lit(1L).as("o")),
        struct(col("dst").as("id"), lit(0L).as("o")))).as("e"))
      .select(col("e.id").as("id"), col("e.o").as("o"))
      .groupBy("id").agg(sum(col("o")).as("oc"))
      .select(col("id"), when(col("oc") > 0, col("oc").cast("double")).as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // n and dangling detection folded into one materializing job
    val initRow = vertsDeg.agg(count(lit(1)),
      count(when(col("outdeg").isNull, lit(1)))).head()
    val n = initRow.getLong(0)
    val anyDangling = initRow.getLong(1) > 0

    // Start from the latest committed snapshot if one exists, else from
    // the persisted vertex table itself: either is already held, so the
    // first superstep reads it with no copy made
    val start = vertsDeg.select(col("id"), lit(1.0 / n).as("rank"), col("outdeg"))
    val (startIter, startState) = cfg.checkpoint.flatMap(_.resume()) match {
      case Some((k, snap)) => (k + 1, snap)
      case None => (0, start)
    }

    // Lineage discipline: the state DataFrame is referenced twice per
    // superstep (gather join + delta join), so without truncation the
    // logical plan DOUBLES every iteration — 2^k nodes by iteration k,
    // OOMing the driver long before the data does. Parquet checkpoints
    // truncate it; between them, eager localCheckpoint does.
    var state = startState
    var iter = startIter
    var err = Double.MaxValue
    var converged = false
    val t0 = System.nanoTime()
    var steps = 0

    while (!converged && iter < cfg.maxIter) {
      val dangleSum = if (!anyDangling) 0.0
        else state.where(col("outdeg").isNull)
          .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)

      val msgs = links.join(state, links("src") === state("id"))
        .select(col("dst").as("mid"), (col("rank") / col("outdeg")).as("contrib"))
      val gathered =
        if (cfg.saltedAgg)
          Skew.saltedSum(msgs.withColumnRenamed("mid", "gid"), "gid", "contrib",
            spark_partition_id().cast("long"), cfg.salts)
            .withColumnRenamed("gid", "mid").withColumnRenamed("contrib", "msum")
        else
          msgs.groupBy(col("mid")).agg(sum(col("contrib")).as("msum"))

      val base = cfg.alpha * dangleSum / n + (1.0 - cfg.alpha) / n
      // single join per superstep: state carries (id, old rank, outdeg),
      // so the gather output joins state directly — no second pass over
      // a vertex table. `base` moves with the dangling mass, so it is
      // passed as data: a `lit` would compile new classes each superstep
      val stepped = state
        .join(gathered, state("id") === gathered("mid"), "left")
        .select(state("id"),
          (lit(cfg.alpha) * coalesce(col("msum"), lit(0.0)) + DoubleParam(base)).as("rank"),
          col("outdeg"), state("rank").as("old"))

      val prevState = state
      var newState = stepped.select(col("id"), col("rank"), col("outdeg"))
      if (cfg.tol > 0) {
        // Materialize new state + convergence delta in ONE job: the err
        // aggregate is the first action on the lazily-checkpointed frame.
        val joinedOld = Lineage.truncateLazy(stepped)
        err = joinedOld.agg(sum(abs(col("rank") - col("old")))).head().getDouble(0)
        newState = joinedOld.select(col("id"), col("rank"), col("outdeg"))
        converged = err < n * cfg.tol
      }
      val doCkpt = cfg.checkpoint.isDefined &&
        ((iter + 1) % cfg.checkpointInterval == 0 || converged)
      if (doCkpt) {
        // the commit's re-read cuts the lineage, so in fixed-superstep
        // mode (tol <= 0) the stepped frame is written directly
        newState = cfg.checkpoint.get.commit(iter,
          newState, Map("err" -> err, "n" -> n.toDouble))
      } else if (cfg.tol <= 0) {
        // fixed-superstep mode: no convergence pass at all
        newState = Lineage.truncate(newState)
      }
      state = newState
      Lineage.release(prevState) // successor is materialized
      iter += 1
      steps += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val eps = if (steps > 0) linkRows.toDouble * steps / secs else 0.0
    // no superstep ran from the start: copy it out of the caches released below
    if (state eq start) state = Lineage.truncate(state)
    links.unpersist(false)
    vertsDeg.unpersist(false)
    Result(state.select(col("id"), col("rank")), iter, err, eps)
  })

  /** The result of a run whose latest snapshot was committed at
    * convergence: its manifest's `err` is below `n * tol`, so resuming
    * from it runs no superstep. Reads the manifest on the driver and
    * builds no frame but the snapshot's; None with `tol <= 0`.
    */
  private def convergedResume(cfg: Config): Option[Result] = for {
    cm <- cfg.checkpoint if cfg.tol > 0
    k <- cm.latestIteration()
    m = cm.metrics(k)
    err <- m.get("err") if err < m.getOrElse("n", 0.0) * cfg.tol
  } yield Result(cm.load(k).select(col("id"), col("rank")), k + 1, err, 0.0)

  /** Fixed-iteration undirected PageRank with no dangling handling —
    * the DuckDB-oracle-checkable query variant (every vertex in a
    * canonical edge table has degree >= 1, so dangling mass is zero by
    * construction).
    *
    * Each gather addend (rank/deg <= 1, scale 1e15) is quantized through
    * [[graft.core.PortableSum]], so the per-vertex sums are
    * order-independent and bit-identical to the DuckDB mirror — closing
    * the latent nano-rounding hazard on the oracle queries.
    *
    * Plan shape (optimization round 6): the old formulation referenced
    * `ranks` TWICE per iteration (gather join + new-rank join), so the
    * logical plan doubled per step — the k=5 driver query carried 34
    * copies of the edge scan+distinct subtree and 58 Exchanges, all
    * re-executed (no ReusedExchange fired). Now the adjacency is
    * pre-shuffled ONCE on the per-iteration join key and materialized
    * (localCheckpoint, partitioning preserved), the iteration-invariant
    * degree table is derived from it without a further exchange, and
    * each step's new rank joins `deg` (invariant) instead of `ranks` —
    * the state is referenced exactly once per step, the plan grows
    * linearly, and each superstep's only Exchange is the gather
    * aggregation itself (the state/deg joins reuse the id-hash
    * partitioning end to end).
    *
    * Below `localEdgeCap` edges the chain runs on the driver over a
    * collected CSR ([[Route.gate]]). Every gather addend is quantized
    * through [[graft.functions.PortableRound]] and summed as a LONG — the
    * per-vertex sum is order-INDEPENDENT by construction, so the local
    * kernel that replays the identical double ops (rank/deg,
    * halfUp(c*scale), long sum, base + alpha*(s/scale)) is bit-identical
    * to the distributed plan, not merely close (parity-tested with ==).
    * Above the cap the pre-shuffled relational chain runs — the 100 TB
    * path.
    */
  def fixedIterUndirected(edges: DataFrame, iters: Int,
                          alpha: Double = 0.85,
                          localEdgeCap: Long = Route.LocalEdgeCap): DataFrame = {
    val spark = edges.sparkSession
    // the gate's held projection serves the adjacency build too, so the
    // edge pipeline runs once whichever path runs
    val held = Route.gate(edges, localEdgeCap) match {
      case l: Route.Local => return fixedIterPortableLocal(spark, l, iters, alpha)
      case Route.Distributed(h, _) => h
    }
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nbrs = graft.core.Lineage.truncatePartitioned(
      Edges.neighbors(held.edges).repartition(p, col("id")))
    held.release()
    // deg inherits the id-hash partitioning (no exchange); materialized
    // so the per-iteration joins scan a pinned RDD instead of
    // re-aggregating
    val deg = graft.core.Lineage.truncatePartitioned(
      nbrs.groupBy("id").agg(count(lit(1)).cast("double").as("deg")))
    val n = deg.count()
    // same doubles as the old crossJoin(count(*)) form: 1.0 / n and
    // (1 - alpha) / n evaluated in the identical order
    var ranks = deg.select(col("id"), (lit(1.0) / lit(n.toDouble)).as("rank"),
      col("deg"))
    for (_ <- 1 to iters) {
      val msgs = nbrs.join(ranks, Seq("id"))
        .select(col("nbr").as("mid"), (col("rank") / col("deg")).as("c"))
      val gathered = msgs.groupBy(col("mid"))
        .agg(graft.core.PortableSum.fixedSumLong(col("c"), 1e15).as("s"))
      ranks = deg.join(gathered.select(col("mid").as("id"), col("s")),
          Seq("id"), "left")
        .select(col("id"),
          ((lit(1.0) - lit(alpha)) / lit(n.toDouble) +
            lit(alpha) * coalesce(col("s"), lit(0.0))).as("rank"),
          col("deg"))
    }
    ranks.select(col("id"), col("rank"))
  }

  /** Driver-local replay of the portable fixed-iteration chain —
    * BIT-IDENTICAL to the distributed plan by construction:
    *
    *   c_u   = rank_u / deg_u                  (same double division)
    *   q_u   = halfUp(c_u * 1e15).toLong       (PortableRound + ANSI cast)
    *   s_v   = sum of q_u over neighbors       (long adds — exact,
    *                                            order-independent)
    *   rank' = (1-alpha)/n + alpha*(s/1e15)    (same op order)
    *
    * Chunk-parallelism cannot perturb anything: the only reductions are
    * exact integer sums. Sorted-id binary search, primitive arrays.
    */
  private def fixedIterPortableLocal(spark: SparkSession, local: Route.Local,
                                     iters: Int, alpha: Double): DataFrame = {
    val ids = local.dense._1
    val n = ids.length
    val (rowPtr, colIdx) = local.csr
    // degree of v = its undirected CSR row length — the identical
    // integer the relational count() produced
    val degI = Array.tabulate(n)(v => rowPtr(v + 1) - rowPtr(v))
    val nD = n.toDouble
    val base = (1.0 - alpha) / nD
    val scale = 1e15
    var rank = Array.fill(n)(1.0 / nD)
    var it = 0
    while (it < iters) {
      val q = new Array[Long](n)
      var v = 0
      while (v < n) {
        q(v) = graft.functions.PortableRound
          .halfUp((rank(v) / degI(v).toDouble) * scale).toLong
        v += 1
      }
      val next = new Array[Double](n)
      java.util.stream.IntStream.range(0, n).parallel().forEach { u =>
        var s = 0L
        var p = rowPtr(u)
        while (p < rowPtr(u + 1)) { s += q(colIdx(p)); p += 1 }
        next(u) = base + alpha * (s.toDouble / scale)
      }
      rank = next
      it += 1
    }
    Route.frame(spark, ids, Route.Doubles("rank", rank))
  }
}
