package graft.embed

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{CheckpointManager, Ids, Lineage, Route}
import graft.functions.SampleKnnAgg
import graft.graph.{CsrBlocks, PackedCsr}

/** Force-directed refinement of a spectral embedding — the Spark
  * re-expression of GraphEmbedder.update_positions / run_layout
  * (/root/reference/graphem/embedder.py:252-273), preserving the
  * reference's exact semantics (SURVEY §2.13 quirks):
  *
  *  - spring force per edge: dist = |p2-p1| + 1e-6,
  *    f = -k_attr * (dist - L_min) * (p2-p1)/dist, applied +f to src
  *    and -f to dst (embedder.py:174-187);
  *  - intersection forces on a FIXED sample of edge midpoints — the
  *    reference samples with PRNGKey(0) every iteration (quirk #1), so
  *    the subset never changes; we take the sample_size smallest
  *    xxhash64(eid) which is likewise iteration-independent;
  *  - kNN of sampled midpoints against all midpoints, self dropped
  *    (embedder.py:146-170);
  *  - candidate pair validity: i < j and no shared endpoint; 2D
  *    orientation intersection test on dims 0,1 ONLY regardless of d
  *    (quirk #2, embedder.py:215-224);
  *  - repulsion k_inter*(v-mid)/d^2 with d = |v-mid| + 1e-6 from the
  *    4-point midpoint (embedder.py:227-237);
  *  - per-dimension z-score normalization with +1e-6 eps each iteration
  *    (quirk #4, embedder.py:263) — population stddev.
  *
  * Two routes run the supersteps, picked by `Config.broadcastVertices`:
  *
  *  - broadcast state (V <= broadcastVertices): the driver holds the
  *    V x d positions. Int-packed per-partition CSR blocks of the edges
  *    are built once per run and cached; each superstep broadcasts the
  *    position array and makes ONE executor pass over the blocks
  *    ([[CsrBlocks.pass]], the kernel PageRankCsr runs on), in which
  *    every block gathers the spring force of its rows and fills the
  *    sample's top-(k+1) midpoint heaps over its edges. The driver
  *    merges the partials in partition order, scores the <= sample x k
  *    candidate pairs, and applies the move and the z-score: O(V +
  *    sample k) driver work, all O(E) work on the executors.
  *  - relational (above it): 2 gather joins + fused kNN aggregate + 1
  *    scatter aggregation per superstep, all Catalyst-planned; positions
  *    are checkpointed (manifest lineage) or localCheckpoint'ed every
  *    iteration.
  *
  * Both share the init bookkeeping (edge ordinals, the fixed sample),
  * the checkpoint cadence and the progress callback, and agree to float
  * summation order (~1e-15 on the radii).
  */
object ForceLayout {

  case class Config(
      d: Int = 2,
      lMin: Double = 1.0,
      kAttr: Double = 0.2,
      kInter: Double = 0.5,
      nNeighbors: Int = 10,
      sampleSize: Int = 256,
      // picks the route: a position frame of at most this many rows
      // runs the broadcast-state superstep; a larger one runs the
      // relational superstep, whose joins shuffle
      broadcastVertices: Long = Route.LayoutVertexCap,
      checkpoint: Option[CheckpointManager] = None,
      checkpointInterval: Int = 5,
      // caller-pluggable per-iteration progress callback — the engine's
      // analogue of the reference's GraphEmbedder(logger=...) ctor hook
      // (/root/reference/graphem/embedder.py ctor;
      // tests/test_embedder.py:178-192). Invoked AFTER each superstep's
      // state is materialized with (completed iteration index, metrics);
      // deliberately free of extra Spark actions.
      progress: Option[(Int, Map[String, Double]) => Unit] = None,
      // up to this edge count the INIT bookkeeping — dense edge
      // ordinals and the fixed-sample identity — is computed on the
      // driver from the edge list Route.gate collects: the eids are the
      // identical (src, dst)-sort dense ranks Ids.dense produces and the
      // sample is the identical smallest-(xxhash64(eid), eid) set
      // (XXH64.hashLong replica, same bits), so positions are
      // unchanged. The LAYOUT LOOP itself is never local-gated — the
      // supersteps stay distributed at every scale. Above the cap the
      // Ids.dense + top-k jobs run unchanged.
      localInitEdgeCap: Long = Route.LocalEdgeCap)

  /** What both routes start from: the edges with their ordinals, and the
    * fixed sample's (eid, src, dst), ascending by eid. `release` frees
    * what the edges frame holds.
    */
  private case class Init(edges: DataFrame, edgeCount: Long,
                          sEids: Array[Long], sSrcs: Array[Long], sDsts: Array[Long],
                          release: () => Unit)

  private def norm2(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (s, x) => s + x * x))

  /** One run: `positions` (id, pos array<double>[d]) refined for
    * `iterations` supersteps over canonical `edges`.
    */
  def run(spark: SparkSession, edges: DataFrame, positions: DataFrame,
          iterations: Int, cfg: Config = Config()): DataFrame = {
    require(cfg.d >= 2, s"the intersection test reads dims 0 and 1, so d must be >= 2, got ${cfg.d}")
    // Resume from the latest committed layout snapshot, if any: the
    // layout is fully deterministic (fixed hash-ordered sample, quirk
    // #1), so a run killed at iteration k and resumed here produces
    // positions identical to an uninterrupted run.
    val (startIter, startPos) = cfg.checkpoint.flatMap(_.resume()) match {
      case Some((k, snap)) => (math.min(k + 1, iterations), snap)
      case None => (0, positions)
    }
    // The route: a start frame of at most broadcastVertices rows reaches
    // the driver in this one collect (a local relation — SpectralInit's
    // local output — needs no job for it); a larger one stops at cap + 1
    // rows, which only say that it is larger.
    val cap = math.max(0L, math.min(cfg.broadcastVertices, Int.MaxValue - 1L)).toInt
    val state =
      if (startIter < iterations) startPos.select("id", "pos").limit(cap + 1).collect()
      else Array.empty[Row]
    // empty layout or nothing left to run: no state to iterate; returns
    // the start frame unchanged
    if (state.isEmpty) return Lineage.truncate(startPos)
    val broadcastRoute = state.length <= cap && state.length.toLong * cfg.d < Int.MaxValue
    val init = initOf(spark, edges, cfg, cacheEdges = !broadcastRoute)
    try {
      if (broadcastRoute) broadcastState(spark, init, state, startIter, iterations, cfg)
      else relational(spark, init, startPos, startIter, iterations, cfg)
    } finally init.release()
  }

  /** Edge ordinals and the fixed sample. Stable edge ordinals are
    * deterministic across parallelism — the ids depend only on the
    * (src, dst) sort order, so the shuffle width changes nothing. The
    * sampled-edge IDENTITY is iteration-independent (quirk #1: the
    * reference samples with PRNGKey(0) every iteration, so the subset
    * never changes) — the sample_size smallest xxhash64(eid), selected
    * ONCE before the loop; per iteration only the sample's POSITIONS are
    * refreshed. Under the local-init gate the ordinal assignment and the
    * sample pick both run on the driver from one collected edge list;
    * above it Ids.dense + a top-k job produce the identical values. The
    * edges frame is built at the FULL session width: every pass over it
    * inherits its parallelism from its partitions, so the compute-bound
    * passes stay wide even when the relational loop narrows the shuffle
    * width to the data. `cacheEdges` asks for it to be cached (the
    * relational route reads it every superstep; the distributed init's
    * frame is always cached, since the sample pick reads it too).
    */
  private def initOf(spark: SparkSession, edges: DataFrame, cfg: Config,
                     cacheEdges: Boolean): Init = {
    val sessP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Route.gate(edges, cfg.localInitEdgeCap) match {
      case Route.Local(srcs, dsts) =>
        val n = srcs.length
        val sampleSize = math.min(cfg.sampleSize, n)
        // dense eids in (src, dst) sort order — exactly Ids.dense's
        // two-phase range rank (rows are distinct, so the order is total).
        // Each pair is keyed by (rank of src among the srcs) << 32 | (rank
        // of dst among the dsts): the keys sort in the pairs' order, and
        // ranks < n < 2^31, so one primitive sort replaces a boxed one.
        val us = Route.distinct(srcs)
        val ud = Route.distinct(dsts)
        val keys = Array.tabulate(n)(e =>
          (java.util.Arrays.binarySearch(us, srcs(e)).toLong << 32) |
            java.util.Arrays.binarySearch(ud, dsts(e)).toLong)
        java.util.Arrays.sort(keys)
        val srcSorted = keys.map(k => us((k >>> 32).toInt))
        val dstSorted = keys.map(k => ud(k.toInt))
        // ship the sorted edge list as TWO PRIMITIVE ARRAYS behind a
        // broadcast + range map: parallelize of (Long,Long,Long) tuples
        // would pin hundreds of MB of boxed tuples on the driver for the
        // whole layout run at the 5M-edge cap (ParallelCollectionRDD
        // keeps its seq alive for cache rebuilds); the broadcast holds
        // ~16 B/edge and is released with the run
        import spark.implicits._
        val bc = spark.sparkContext.broadcast((srcSorted, dstSorted))
        val df = spark.sparkContext
          .parallelize(0 until n, math.max(1, sessP))
          .map(i => (bc.value._1(i), bc.value._2(i), i.toLong))
          .toDF("src", "dst", "eid")
        if (cacheEdges) df.persist(StorageLevel.MEMORY_AND_DISK)
        // sample: the sampleSize smallest (xxhash64(eid), eid) —
        // XXH64.hashLong(eid, 42) is Spark's xxhash64(col) bit-for-bit
        // (the DetRandom.uniformLocal replica argument). Every eid hashing
        // below the sampleSize-th smallest hash is in; at that hash the
        // smallest eids fill the rest.
        import org.apache.spark.sql.catalyst.expressions.XXH64
        val hashes = Array.tabulate(n)(e => XXH64.hashLong(e.toLong, 42L))
        val picked = new Array[Int](sampleSize)
        if (sampleSize > 0) {
          val cut = { val h = hashes.clone(); java.util.Arrays.sort(h); h(sampleSize - 1) }
          var atCut = sampleSize - hashes.count(_ < cut)
          var w = 0
          var e = 0
          while (w < sampleSize) {
            if (hashes(e) < cut || (hashes(e) == cut && atCut > 0)) {
              if (hashes(e) == cut) atCut -= 1
              picked(w) = e
              w += 1
            }
            e += 1
          }
        }
        Init(df, n.toLong, picked.map(_.toLong), picked.map(srcSorted(_)),
          picked.map(dstSorted(_)), () => { df.unpersist(false); bc.unpersist(false) })
      case Route.Distributed(held, edgeCount) =>
        val sampleSize = math.min(cfg.sampleSize, edgeCount).toInt
        // Ids.dense returns a materialized checkpoint, so the held
        // projection is read for the last time here
        val df = try Ids.dense(spark, held.edges, Seq("src", "dst"), "eid")
            .persist(StorageLevel.MEMORY_AND_DISK)
          finally held.release()
        val s = df.orderBy(xxhash64(col("eid")), col("eid")).limit(sampleSize)
          .select("eid", "src", "dst").collect().sortBy(_.getLong(0))
        Init(df, edgeCount, s.map(_.getLong(0)), s.map(_.getLong(1)), s.map(_.getLong(2)),
          () => df.unpersist(false))
    }
  }

  private def progressMetrics(init: Init, iterations: Int, t0: Long): Map[String, Double] =
    Map(
      "iterations_total" -> iterations.toDouble,
      "edges" -> init.edgeCount.toDouble,
      "sample_size" -> init.sEids.length.toDouble,
      "elapsed_secs" -> (System.nanoTime() - t0) / 1e9)

  /** The broadcast-state route. Vertex index = rank of the id among the
    * position frame's ids; every edge is two CSR entries, one per
    * endpoint row, tagged eid on the src row and ~eid on the dst row so
    * the midpoint heaps see each edge once, in its (src, dst)
    * orientation.
    */
  private def broadcastState(spark: SparkSession, init: Init, start: Array[Row],
                             startIter: Int, iterations: Int, cfg: Config): DataFrame = {
    import spark.implicits._
    val d = cfg.d
    val rows = start.sortBy(_.getLong(0))
    val n = rows.length
    val ids = new Array[Long](n)
    var p = new Array[Double](n * d)
    var v = 0
    while (v < n) {
      ids(v) = rows(v).getLong(0)
      val xs = rows(v).getSeq[Double](1)
      require(xs.length == d, s"vertex ${ids(v)} has a ${xs.length}-d position, want d = $d")
      var j = 0
      while (j < d) { p(v * d + j) = xs(j); j += 1 }
      v += 1
    }
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    // a sampled edge with an endpoint outside the position frame is not
    // a query (the relational route's inner-join semantics)
    val live = init.sEids.indices
      .filter(i => indexOf(init.sSrcs(i)) >= 0 && indexOf(init.sDsts(i)) >= 0).toArray
    val qEid = live.map(init.sEids(_))
    val qSrc = live.map(i => indexOf(init.sSrcs(i)))
    val qDst = live.map(i => indexOf(init.sDsts(i)))

    val idsBc = spark.sparkContext.broadcast(ids)
    val entries = init.edges.select("src", "dst", "eid").as[(Long, Long, Long)]
      .flatMap { case (s, t, e) =>
        val a = java.util.Arrays.binarySearch(idsBc.value, s)
        val b = java.util.Arrays.binarySearch(idsBc.value, t)
        // an edge with an endpoint outside the position frame is
        // dropped, as the relational route's inner gather joins drop it
        if (a < 0 || b < 0) Nil
        else Seq((a.toLong, b.toLong, e), (b.toLong, a.toLong, ~e))
      }
      .toDF("id", "nbr", "tag")
    val blocks = CsrBlocks.packed(spark, entries)

    // plain values for the kernel closure: `cfg` holds the
    // CheckpointManager, which is not serializable
    val (k, kAttr, lMin) = (cfg.nNeighbors + 1, cfg.kAttr, cfg.lMin)
    var iter = startIter
    var committed: Option[DataFrame] = None
    val t0 = System.nanoTime()
    try {
      while (iter < iterations) {
        val pos = p
        // the sample's midpoints: the identical (p1+p2)*0.5 double op
        // the relational route evaluates
        val qvecs = Array.tabulate(live.length)(q =>
          Array.tabulate(d)(j => (pos(qSrc(q) * d + j) + pos(qDst(q) * d + j)) * 0.5))
        val parts = CsrBlocks.pass(blocks, pos) { (b, pv) =>
          ForceLayout.blockPass(b, pv, qvecs, k, d, kAttr, lMin)
        }
        val force = new Array[Double](n * d)
        val heaps = new SampleKnnAgg.Bufs(live.length, k)
        parts.foreach { case (rowIds, f, h) =>
          var i = 0
          while (i < rowIds.length) { System.arraycopy(f, i * d, force, rowIds(i) * d, d); i += 1 }
          heaps.absorb(h)
        }
        repulse(pos, force, heaps, qEid, qSrc, qDst, d, cfg.kInter)
        p = zScore(pos, force, n, d)

        val isLast = iter == iterations - 1
        committed = cfg.checkpoint match {
          case Some(cm) if (iter + 1) % cfg.checkpointInterval == 0 || isLast =>
            Some(cm.commit(iter, frame(spark, ids, p, d), Map("iteration" -> iter.toDouble)))
          case _ => None
        }
        cfg.progress.foreach(_(iter, progressMetrics(init, iterations, t0)))
        iter += 1
      }
    } finally {
      blocks.unpersist(blocking = true) // ~20 B/entry of cache — release NOW, not at next GC
      idsBc.unpersist(false)
    }
    committed.getOrElse(frame(spark, ids, p, d))
  }

  /** One block's share of a superstep: the spring force of each of its
    * rows, gathered over the row, and the sample's top-k midpoint heaps
    * over its src-side entries (tag >= 0, each edge once). Every spring
    * term is `diff = p(nbr) - p(row)`, `dist = sqrt(sum diff^2) + 1e-6`,
    * `((-kAttr * (dist - lMin)) * diff) / dist` — on the src row the
    * relational route's +f term, on the dst row its -f term bit for bit
    * (negating diff negates the product exactly).
    */
  private def blockPass(b: PackedCsr, p: Array[Double], qvecs: Array[Array[Double]],
                        k: Int, d: Int, kAttr: Double,
                        lMin: Double): (Array[Int], Array[Double], SampleKnnAgg.Bufs) = {
    val force = new Array[Double](b.vertexIds.length * d)
    val edges = b.tags.count(_ >= 0)
    val mids = new Array[Double](edges * d)
    val eids = new Array[Long](edges)
    val ends = new Array[Long](edges)
    val diff = new Array[Double](d)
    var f = 0
    var i = 0
    while (i < b.vertexIds.length) {
      val row = b.vertexIds(i)
      val vo = row * d
      var e = b.rowPtr(i)
      while (e < b.rowPtr(i + 1)) {
        val nbr = b.colIdx(e)
        val uo = nbr * d
        var s = 0.0
        var j = 0
        while (j < d) { val x = p(uo + j) - p(vo + j); diff(j) = x; s += x * x; j += 1 }
        val dist = math.sqrt(s) + 1e-6
        val c = -kAttr * (dist - lMin)
        j = 0
        while (j < d) { force(i * d + j) += c * diff(j) / dist; j += 1 }
        if (b.tags(e) >= 0) {
          j = 0
          while (j < d) { mids(f * d + j) = (p(vo + j) + p(uo + j)) * 0.5; j += 1 }
          eids(f) = b.tags(e)
          ends(f) = (row.toLong << 32) | nbr
          f += 1
        }
        e += 1
      }
      i += 1
    }
    (b.vertexIds, force, nearest(mids, eids, ends, qvecs, k, d))
  }

  /** The queries' top-k (d2, eid) heaps over `mids`, filled without
    * scoring every pair. The midpoints are sorted by dim 0, and each
    * query walks outward from its own dim-0 value, nearer side first.
    * d2's first term is `(q0 - m0)^2`, the rest are >= 0, and float
    * rounding is monotone, so once a full heap's root is below that
    * term no further midpoint on that side can enter: the heaps hold
    * exactly what offering every pair would leave in them.
    */
  private def nearest(mids: Array[Double], eids: Array[Long], ends: Array[Long],
                      qvecs: Array[Array[Double]], k: Int, d: Int): SampleKnnAgg.Bufs = {
    val heaps = new SampleKnnAgg.Bufs(qvecs.length, k)
    val m = eids.length
    val byX = Array.range(0, m).sortBy(o => mids(o * d))(Ordering.Double.TotalOrdering)
    val xs = byX.map(o => mids(o * d))
    var q = 0
    while (q < qvecs.length && k > 0) {
      val qv = qvecs(q)
      def gap(j: Int): Double = { val a = qv(0) - xs(j); a * a }
      // first midpoint with x >= the query's: the walk's right side
      var r = 0
      var hi = m
      while (r < hi) { val mid = (r + hi) >>> 1; if (xs(mid) < qv(0)) r = mid + 1 else hi = mid }
      var l = r - 1
      while (l >= 0 || r < m) {
        val right = r < m && (l < 0 || gap(r) <= gap(l))
        val j = if (right) r else l
        if (heaps.closed(q, gap(j))) { if (right) r = m else l = -1 }
        else {
          val o = byX(j)
          heaps.offer(q, qv, mids, o * d, eids(o), ends(o))
          if (right) r += 1 else l -= 1
        }
      }
      q += 1
    }
    heaps
  }

  /** Adds the intersection repulsion of the merged heaps to `force`:
    * entry 0 of each heap is the query's own (or a coincident, smaller
    * eid) midpoint and is dropped; a candidate counts if its eid is
    * larger, it shares no endpoint with the query, and the two segments
    * cross in dims 0 and 1.
    */
  private def repulse(p: Array[Double], force: Array[Double], heaps: SampleKnnAgg.Bufs,
                      qEid: Array[Long], qSrc: Array[Int], qDst: Array[Int],
                      d: Int, kInter: Double): Unit = {
    def orient(a: Int, b: Int, c: Int): Double =
      (p(b * d) - p(a * d)) * (p(c * d + 1) - p(a * d + 1)) -
        (p(b * d + 1) - p(a * d + 1)) * (p(c * d) - p(a * d))
    val imid4 = new Array[Double](d)
    val diff = new Array[Double](d)
    var q = 0
    while (q < qEid.length) {
      val (is, it) = (qSrc(q), qDst(q))
      val order = heaps.order(q)
      var r = 1
      while (r < order.length) {
        val slot = order(r)
        val js = (heaps.aux(q)(slot) >>> 32).toInt
        val jt = heaps.aux(q)(slot).toInt
        if (qEid(q) < heaps.ties(q)(slot) && is != js && is != jt && it != js && it != jt &&
            orient(is, it, js) * orient(is, it, jt) < 0 &&
            orient(js, jt, is) * orient(js, jt, it) < 0) {
          var j = 0
          while (j < d) {
            imid4(j) = ((p(is * d + j) + p(it * d + j)) + (p(js * d + j) + p(jt * d + j))) / 4.0
            j += 1
          }
          for (w <- Array(is, it, js, jt)) {
            var s = 0.0
            j = 0
            while (j < d) { val x = p(w * d + j) - imid4(j); diff(j) = x; s += x * x; j += 1 }
            val dc = math.sqrt(s) + 1e-6
            j = 0
            while (j < d) { force(w * d + j) += kInter * diff(j) / (dc * dc); j += 1 }
          }
        }
        r += 1
      }
      q += 1
    }
  }

  /** `pos + force`, then per dimension (x - mean) / (population std +
    * 1e-6) over all n vertices.
    */
  private def zScore(pos: Array[Double], force: Array[Double], n: Int, d: Int): Array[Double] = {
    val moved = new Array[Double](n * d)
    var i = 0
    while (i < n * d) { moved(i) = pos(i) + force(i); i += 1 }
    var j = 0
    while (j < d) {
      var sum = 0.0
      var v = 0
      while (v < n) { sum += moved(v * d + j); v += 1 }
      val mean = sum / n
      var ss = 0.0
      v = 0
      while (v < n) { val x = moved(v * d + j) - mean; ss += x * x; v += 1 }
      val scale = math.sqrt(ss / n) + 1e-6
      v = 0
      while (v < n) { moved(v * d + j) = (moved(v * d + j) - mean) / scale; v += 1 }
      j += 1
    }
    moved
  }

  /** The driver's state as an (id, pos) frame: a few partitions of
    * primitive-array chunks, expanded to rows on the executors — one
    * partition per 50k vertices, at most one per core, so a frame at the
    * 1M cap is read in parallel and a small one is not split into
    * near-empty tasks.
    */
  private def frame(spark: SparkSession, ids: Array[Long], p: Array[Double], d: Int): DataFrame = {
    import spark.implicits._
    val n = ids.length
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, n / 50000))
    val chunks = (0 until slices).map { c =>
      val lo = (n.toLong * c / slices).toInt
      val hi = (n.toLong * (c + 1) / slices).toInt
      (java.util.Arrays.copyOfRange(ids, lo, hi), java.util.Arrays.copyOfRange(p, lo * d, hi * d))
    }
    spark.sparkContext.parallelize(chunks, slices).flatMap { case (is, ps) =>
      Iterator.tabulate(is.length)(i => (is(i), java.util.Arrays.copyOfRange(ps, i * d, (i + 1) * d)))
    }.toDF("id", "pos")
  }

  /** The relational route: the superstep as DataFrame joins and
    * aggregations, for position frames too large to broadcast.
    */
  private def relational(spark: SparkSession, init: Init, start: DataFrame,
                         startIter: Int, iterations: Int, cfg: Config): DataFrame = {
    val d = cfg.d
    val Init(eidEdges, edgeCount, sEids, sSrcs, sDsts, _) = init
    val sampleSize = sEids.length
    var pos = Lineage.truncate(start)
    var iter = startIter
    val runT0 = System.nanoTime()
    // fixed-shape superstep tuning: AQE off + data-sized shuffle width
    // in the small regime (graft.core.LoopConf; data-derived gate). The
    // compute-bound passes keep full parallelism regardless: they read
    // the eidEdges/ep caches, which are built at the session width.
    val small = graft.core.LoopConf.smallRegime(spark, 2L * edgeCount)
    graft.core.LoopConf.withLoop(spark, small) {
    // the ≤2*sampleSize state rows the per-superstep refresh needs;
    // after the first iteration the refresh rides the state
    // materialization action (see the end of the loop)
    val sampleEndpointIds: Seq[Long] = (sSrcs ++ sDsts).distinct.sorted.toSeq
    // with no sample (an empty edge table) the isin() filter folds to an
    // empty relation that never reads `state`, so count it instead: the
    // old state is released right after, and a lazy truncation left
    // unmaterialized would then lose its blocks
    def collectSamplePositions(state: DataFrame): Map[Long, Array[Double]] =
      if (sampleEndpointIds.isEmpty) { state.count(); Map.empty }
      else state.where(col("id").isin(sampleEndpointIds: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    var posMap: Map[Long, Array[Double]] = collectSamplePositions(pos)
    while (iter < iterations) {
      // gather endpoint positions + midpoint in ONE cached E-row frame
      // (the old shape cached `ep` and a derived `mids` separately —
      // two E-row cache writes per superstep for the same rows; readers
      // that don't need `mid` prune it from the shared cache scan)
      val ep = eidEdges
        .join(pos.select(col("id").as("src"), col("pos").as("p1")), "src")
        .join(pos.select(col("id").as("dst"), col("pos").as("p2")), "dst")
        .select(col("eid"), col("src"), col("dst"), col("p1"), col("p2"),
          zip_with(col("p1"), col("p2"), (a, b) => (a + b) * 0.5).as("mid"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // spring forces (2 rows per edge) — one explode pass per edge
      // (optimization round 6): the old two-branch union scanned the
      // cached endpoint table twice and evaluated the force arithmetic
      // twice per edge. Identical +f / -f values; only the union order
      // of the scatter-sum addends changes (~1e-15 on the radii, far
      // inside the committed fixture's 1e-6 drift bound).
      val diff = zip_with(col("p2"), col("p1"), (a, b) => a - b)
      val springRows = ep.select(col("src"), col("dst"),
        diff.as("diff"), (norm2(diff) + lit(1e-6)).as("dist"))
        .select(col("src"), col("dst"),
          transform(col("diff"), x =>
            lit(-cfg.kAttr) * (col("dist") - cfg.lMin) * x / col("dist"))
            .as("f"))
        .select(explode(array(
          struct(col("src").as("id"), col("f").as("f")),
          struct(col("dst").as("id"),
            transform(col("f"), x => -x).as("f")))).as("e"))
        .select(col("e.id").as("id"), col("e.f").as("f"))

      val mids = ep
      // refresh the fixed sample's positions from the ≤2*sampleSize
      // state rows collected when the previous state materialized (see
      // the end of the loop): the (p1+p2)*0.5 midpoint arithmetic is
      // the identical double op zip_with evaluated, so qvecs are
      // bit-identical to the old broadcast-join sample job — which this
      // replaces outright (one fewer action per superstep).
      // a sampled edge whose endpoint is absent from the state frame is
      // dropped for the iteration — the old broadcast-join refresh's
      // inner-join semantics (callers passing a position frame that
      // covers every vertex, i.e. all engine paths, never hit this)
      val live = (0 until sampleSize)
        .filter(i => posMap.contains(sSrcs(i)) && posMap.contains(sDsts(i)))
        .toArray
      val qids = live.map(sEids(_))
      val qvecs = live.map { i =>
        val p1 = posMap(sSrcs(i)); val p2 = posMap(sDsts(i))
        Array.tabulate(d)(j => (p1(j) + p2(j)) * 0.5)
      }
      // kNN: fused multi-query bounded top-(k+1) — every E-row midpoint
      // updates ALL `sample` heaps inside ONE SampleKnnAgg update()
      // (squared-distance arithmetic and (d2, j_eid) comparator
      // bit-identical to the crossJoin + per-query BoundedTopKAgg plan
      // this replaces, which materialized E x sample candidate rows per
      // iteration — the row traffic, not the flops, dominated the
      // superstep). The shuffle carries one sample x (k+1) partial per
      // input partition; a row_number window here would shuffle ALL
      // E x sample pairs into at most `sample` reducer keys (a hard
      // parallelism ceiling at web scale). The partial aggregation's
      // parallelism comes from the ep cache partitions, built at the
      // session width above — no per-superstep E-row repartition.
      val sampledT = {
        import spark.implicits._
        live.toSeq.zipWithIndex.map { case (i, li) =>
          (sEids(i), sSrcs(i), sDsts(i),
            posMap(sSrcs(i)).toSeq, posMap(sDsts(i)).toSeq, qvecs(li).toSeq)
        }.toDF("i_eid", "i_src", "i_dst", "ip1", "ip2", "imid")
      }
      val topk = mids.select(col("eid"), col("mid"))
        .agg(graft.functions.SampleKnn.knn(col("mid"), col("eid"),
          qids, qvecs, cfg.nNeighbors + 1).as("all"))
        .select(explode(col("all")).as("e"))
        .select(col("e.i_eid").as("i_eid"), col("e.nn").as("nn"))
      // element 0 is the nearest midpoint (self at d2=0, or an exactly
      // coincident midpoint with a smaller eid — same drop rule as the
      // old rn=1 filter); keep elements 1..k
      // the exploded candidate list is sample x k rows (KBs) against the
      // E-row midpoint table: broadcast it EXPLICITLY — with AQE off in
      // the small regime the static size estimate of an agg+explode
      // subtree is huge, and the planner would otherwise shuffle+sort
      // all E midpoints per superstep in a SortMergeJoin
      val knn = broadcast(topk.join(broadcast(sampledT), "i_eid")
        .select(col("i_eid"), col("i_src"), col("i_dst"),
          col("ip1"), col("ip2"), posexplode(col("nn")))
        .where(col("pos") >= 1)
        .select(col("i_eid"), col("i_src"), col("i_dst"),
          col("ip1"), col("ip2"), col("col.j_eid").as("j_eid")))
        .join(mids.select(col("eid").as("j_eid"), col("src").as("j_src"),
          col("dst").as("j_dst"), col("p1").as("jp1"), col("p2").as("jp2")),
          "j_eid")

      // candidate validity + 2D intersection test
      val valid = knn.where(col("i_eid") < col("j_eid"))
        .where(col("i_src") =!= col("j_src") && col("i_src") =!= col("j_dst") &&
          col("i_dst") =!= col("j_src") && col("i_dst") =!= col("j_dst"))
      def ox(p: String): Column = element_at(col(p), 1)
      def oy(p: String): Column = element_at(col(p), 2)
      def orient(a: String, b: String, c: String): Column =
        (ox(b) - ox(a)) * (oy(c) - oy(a)) - (oy(b) - oy(a)) * (ox(c) - ox(a))
      val inter = (valid
        .withColumn("o1", orient("ip1", "ip2", "jp1"))
        .withColumn("o2", orient("ip1", "ip2", "jp2"))
        .withColumn("o3", orient("jp1", "jp2", "ip1"))
        .withColumn("o4", orient("jp1", "jp2", "ip2"))
        .where(col("o1") * col("o2") < 0 && col("o3") * col("o4") < 0)
        .withColumn("imid4",
          zip_with(zip_with(col("ip1"), col("ip2"), (a, b) => a + b),
            zip_with(col("jp1"), col("jp2"), (a, b) => a + b),
            (s1, s2) => (s1 + s2) / 4.0)))

      // repulsion rows for the 4 endpoints of each intersecting pair
      def repulse(vid: Column, vpos: Column): Column = {
        val dcol = norm2(zip_with(vpos, col("imid4"), (a, b) => a - b)) + lit(1e-6)
        transform(zip_with(vpos, col("imid4"), (a, b) => a - b),
          x => lit(cfg.kInter) * x / (dcol * dcol))
      }
      // one explode pass instead of a 4-branch union: each intersecting
      // pair emits its 4 endpoint forces in a single traversal, so the
      // kNN pipeline upstream executes ONCE without `inter` needing its
      // own materialization job (the union formulation re-read it 4x)
      val interRows = inter.select(explode(array(Seq(
        ("i_src", "ip1"), ("i_dst", "ip2"), ("j_src", "jp1"), ("j_dst", "jp2"))
        .map { case (idc, pc) =>
          struct(col(idc).as("id"), repulse(col(idc), col(pc)).as("f"))
        }: _*)).as("e"))
        .select(col("e.id").as("id"), col("e.f").as("f"))

      // scatter: sum forces per vertex per dimension
      val allRows = springRows.union(interRows)
      val agged = allRows.groupBy("id").agg(
        array((0 until d).map(j =>
          sum(element_at(col("f"), j + 1))): _*).as("force"))

      val moved = pos.join(agged, Seq("id"), "left")
        .select(col("id"), zip_with(col("pos"),
          coalesce(col("force"), array((0 until d).map(_ => lit(0.0)): _*)),
          (p, f) => p + f).as("pos"))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // z-score normalize per dimension (population std + 1e-6).
      // `moved` is persisted and the stats aggregate is its
      // materializing action: the old crossJoin(broadcast(stats)) shape
      // computed the ENTIRE force pipeline twice per superstep — once
      // for the stats broadcast job, once again for the state
      // materialization, since `moved` was never cached. The collected
      // stats are re-injected as literals (the identical doubles the
      // broadcast carried), so the normalization arithmetic — and the
      // committed radii drift fixture — is unchanged.
      val statCols = (0 until d).flatMap(j => Seq(
        avg(element_at(col("pos"), j + 1)).as(s"m$j"),
        stddev_pop(element_at(col("pos"), j + 1)).as(s"s$j")))
      val statRow = moved.agg(statCols.head, statCols.tail: _*).head()
      val normalized = moved
        .select(col("id"), array((0 until d).map(j =>
          (element_at(col("pos"), j + 1) - lit(statRow.getDouble(2 * j))) /
            (lit(statRow.getDouble(2 * j + 1)) + lit(1e-6))): _*).as("pos"))

      // state materialization + next iteration's sample refresh in ONE
      // action: the ≤2*sampleSize-row filtered collect is the first
      // action on the lazily-truncated frame, so it materializes the
      // checkpoint AND returns the refreshed positions — the old
      // separate broadcast-join sample job per superstep is gone.
      val isLast = iter == iterations - 1
      val next = cfg.checkpoint match {
        case Some(cm) if (iter + 1) % cfg.checkpointInterval == 0 || isLast =>
          val c = cm.commit(iter, normalized, Map("iteration" -> iter.toDouble))
          if (!isLast) posMap = collectSamplePositions(c)
          c
        case _ =>
          if (isLast) Lineage.truncate(normalized)
          else {
            val nx = Lineage.truncateLazy(normalized)
            posMap = collectSamplePositions(nx)
            nx
          }
      }
      ep.unpersist(false)
      moved.unpersist(false)
      Lineage.release(pos) // next is materialized; old state is dead
      pos = next
      cfg.progress.foreach(_(iter, progressMetrics(init, iterations, runT0)))
      iter += 1
    }
    }
    pos
  }

  /** Radial distances — the centrality proxy
    * (/root/reference/graphem/benchmark.py:110-111).
    */
  def radii(positions: DataFrame): DataFrame =
    positions.select(col("id"), norm2(col("pos")).as("radius"))
}
