package graft.embed

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{DetRandom, LoopConf, Route}
import graft.graph.Edges

/** Spectral initialization: the d+1 smallest eigenvectors of the
  * normalized Laplacian, dropping the trivial one — the Spark
  * re-expression of `eigsh(laplacian(adj, normed=True), d+1, 'SM')`
  * (/root/reference/graphem/embedder.py:134-144).
  *
  * ARPACK is replaced by distributed orthogonal iteration on
  * P = (I + D^-1/2 A D^-1/2)/2, whose TOP d+1 eigenvectors are exactly
  * the smallest-eigenvalue eigenvectors of the normalized Laplacian
  * (L = I - M, P = (2I - L)/2, spectrum mapped to [0,1] so iteration
  * converges monotonically).
  *
  * Per iteration: one SpMV = gather join (neighbor states) + hash
  * aggregation, on all d+1 columns at once; then a (d+1)x(d+1) Gram
  * matrix (one tiny aggregate) is Cholesky-factorized on the DRIVER and
  * the inverse factor applied as a broadcast linear combination — the
  * distributed tall-skinny QR. Eigenvector sign/rotation is ambiguous
  * exactly as in ARPACK (reference quirk #5): consumers must be
  * sign-invariant.
  */
object SpectralInit {

  /** Returns (id, pos: array<double>[d]).
    *
    * `gramTol` is the relative Gram-matrix-delta stop: 1e-9 drives the
    * subspace to numerical stagnation (right for standalone spectral
    * embeddings); callers that feed a force-layout REFINEMENT loop can
    * pass ~1e-6 — the layout iterations dominate the final geometry and
    * the extra spectral supersteps past 1e-6 are pure fixed cost.
    *
    * Up to `localEdgeCap` edges and `localCap` vertices the SAME
    * orthogonal iteration runs on the driver (the reference's own
    * spectral init is host-local ARPACK, embedder.py:141): the V x (d+1)
    * state is megabytes while the distributed loop pays ~0.6 s of job
    * latency per superstep. Identical algorithm, init hashes, Gram stop,
    * and per-row arithmetic, so the two paths agree to float-merge
    * jitter (parity-tested). The edge list is collected by [[Route.gate]]
    * first and the vertex count derived from it; a graph with more than
    * `localCap` vertices under the edge cap runs the distributed loop.
    */
  def run(spark: SparkSession, edges: DataFrame, d: Int,
          maxIter: Int = 60, seed: Long = 42,
          gramTol: Double = 1e-9, localCap: Int = Route.SpectralVertexCap,
          localEdgeCap: Long = Route.LocalEdgeCap): DataFrame = {
    // empty edge table: the distributed loop's Gram aggregate over zero
    // rows returns an all-null row and NPEs on getDouble — return the
    // empty positions frame
    def empty =
      Route.frame(spark, Array.emptyLongArray, Route.Vectors("pos", Array.emptyDoubleArray, d))
    val (input, eCount, held) = Route.gate(edges, localEdgeCap) match {
      case l: Route.Local =>
        if (l.src.isEmpty) return empty
        if (l.dense._1.length <= localCap)
          return runLocal(spark, l, d, maxIter, seed, gramTol)
        (edges, l.src.length.toLong, None)
      case Route.Distributed(h, rows) =>
        if (rows == 0) { h.release(); return empty }
        (h.edges, rows, Some(h))
    }
    distributed(spark, input, eCount, d, maxIter, seed, gramTol, held)
  }

  /** The distributed orthogonal iteration over `edges` (`eCount` rows);
    * `held`, if any, is released once the adjacency is cached.
    */
  private def distributed(spark: SparkSession, edges: DataFrame, eCount: Long,
                          d: Int, maxIter: Int, seed: Long, gramTol: Double,
                          held: Option[Route.Held]): DataFrame = {
    val k = d + 1
    val nbrs = Edges.neighbors(edges)
    val deg = Edges.degrees(edges)
      .select(col("id"), col("degree").cast("double").as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // pre-shuffled ONCE on the per-iteration join key: every SpMV's
    // gather join then reuses this exchange instead of reshuffling the
    // (big) weighted adjacency each iteration. The shuffle width is
    // sized to the DATA (~250k adjacency rows per partition, capped at
    // the session setting): this loop runs O(maxIter) tiny jobs, and at
    // test/bench graph sizes full-width shuffles make per-superstep task
    // scheduling the dominant cost. At web scale the cap is the session
    // width — same plan, full parallelism.
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pEff = math.max(1, math.min(p, (2 * eCount / 250000L).toInt + 1))
    val adj = nbrs.join(deg.select(col("id").as("nbr"), col("deg").as("ndeg")), "nbr")
      .join(deg, "id")
      .select(col("id"), col("nbr"),
        (lit(1.0) / sqrt(col("deg") * col("ndeg"))).as("w"))
      .repartition(pEff, col("nbr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()
    held.foreach(_.release())

    // deterministic random init, column 0 seeded toward the trivial
    // eigenvector direction (sqrt(deg)) to speed convergence
    var x = graft.core.Lineage.truncate(deg.select(col("id"), array(
      (0 until k).map { j =>
        if (j == 0) sqrt(col("deg"))
        else DetRandom.uniform(seed + j, col("id")) - lit(0.5)
      }: _*).as("x")))

    var iter = 0
    var prevGram: Option[DenseMatrix[Double]] = None
    var done = false
    // AQE re-plans and materializes every Exchange as its own job —
    // ~6 scheduler round-trips per superstep for a loop whose plan
    // shape never changes. Fixed-shape iterations run with AQE off
    // (the adj side is already explicitly pre-partitioned) and the
    // loop's exchanges at the data-sized width pEff (AQE's coalescing
    // is exactly what pEff precomputes here), through LoopConf.withLoop.
    // ONE job per iteration: y and the previous iteration's lazy x
    // checkpoint both materialize inside the Gram aggregate action;
    // frames superseded before that action are released right after it
    var toRelease: List[DataFrame] = Nil
    LoopConf.withLoop(spark, Some(pEff)) {
    while (iter < maxIter && !done) {
      // y = P x = (x + M x)/2 ; M x via gather join + agg
      val msgs = adj.join(x.withColumnRenamed("id", "nbr"), "nbr")
        .select(col("id"), transform(col("x"), v => v * col("w")).as("m"))
      val gathered = msgs.groupBy("id").agg(
        array((0 until k).map(j =>
          sum(element_at(col("m"), j + 1))): _*).as("mx"))
      val y = graft.core.Lineage.truncateLazy(x.join(gathered, Seq("id"), "left")
        .select(col("id"), zip_with(col("x"),
          coalesce(col("mx"), array((0 until k).map(_ => lit(0.0)): _*)),
          (xi, mi) => (xi + mi) * 0.5).as("x")))

      // Gram matrix G = Y^T Y (k x k, tiny) -> driver Cholesky
      val gramCols = for (a <- 0 until k; b <- a until k) yield
        sum(element_at(col("x"), a + 1) * element_at(col("x"), b + 1))
          .as(s"g_${a}_$b")
      val g = y.agg(gramCols.head, gramCols.tail: _*).head()
      toRelease.foreach(graft.core.Lineage.release)
      val gm = DenseMatrix.zeros[Double](k, k)
      var idx = 0
      for (a <- 0 until k; b <- a until k) {
        gm(a, b) = g.getDouble(idx); gm(b, a) = gm(a, b); idx += 1
      }
      // X := Y * (L^T)^-1  with G = L L^T  => X^T X = I
      val lInvT = cholInvT(gm, k)
      val coefCols = (0 until k).map { j =>
        (0 to j).map(i =>
          element_at(col("x"), i + 1) * lInvT(i, j))
          .reduce(_ + _).as(s"c$j")
      }
      val xn = graft.core.Lineage.truncateLazy(
        y.select((col("id") +: coefCols): _*)
          .select(col("id"),
            array((0 until k).map(j => col(s"c$j")): _*).as("x")))
      toRelease = List(x, y)
      x = xn
      // convergence: Gram matrix (pre-orthonormalization) stabilizes
      val delta = prevGram.map(pg => gramMaxAbsDelta(gm, Some(pg), k))
        .getOrElse(Double.MaxValue)
      val scale = gramMaxAbsDelta(gm, None, k)
      done = delta < gramTol * math.max(scale, 1e-12)
      prevGram = Some(gm)
      iter += 1
    }
    }
    // drop the trivial leading eigenvector: columns 1..d. Materialize
    // before releasing the frames the lazy x still depends on.
    val out = graft.core.Lineage.truncate(
      x.select(col("id"), slice(col("x"), 2, d).as("pos")))
    toRelease.foreach(graft.core.Lineage.release)
    graft.core.Lineage.release(x)
    deg.unpersist(false)
    adj.unpersist(false)
    out
  }

  /** (L^-1)^T for G = L L^T — the orthonormalization coefficient matrix
    * both iteration paths apply. Hand-rolled k x k (k = d+1, tiny)
    * Cholesky + forward-substitution inverse: the breeze
    * `inv(cholesky(gm))` it replaces dispatched through the netlib
    * LAPACK fallback at ~15 ms PER CALL on a 3x3 — ~0.9 s of every
    * 60-iteration local solve. Shared by the local and distributed
    * loops, so cross-path parity is preserved by construction.
    */
  /** max |gm - pg| entrywise (pg = None: max |gm|) — the Gram
    * convergence check. Plain loops: the breeze
    * `max(abs(gm - pg))` chain it replaces cost ~14 ms per CALL in
    * generic UFunc dispatch on a 3x3, dominating the local solve after
    * the Cholesky fix below. Same max over the same entries.
    */
  private def gramMaxAbsDelta(gm: DenseMatrix[Double],
                              pg: Option[DenseMatrix[Double]],
                              k: Int): Double = {
    var m = 0.0
    var a = 0
    while (a < k) {
      var b = 0
      while (b < k) {
        val d = pg match {
          case Some(p) => math.abs(gm(a, b) - p(a, b))
          case None => math.abs(gm(a, b))
        }
        if (d > m) m = d
        b += 1
      }
      a += 1
    }
    m
  }

  private def cholInvT(gm: DenseMatrix[Double], k: Int): DenseMatrix[Double] = {
    val L = Array.ofDim[Double](k, k)
    var j = 0
    while (j < k) {
      var s = gm(j, j)
      var p = 0
      while (p < j) { s -= L(j)(p) * L(j)(p); p += 1 }
      L(j)(j) = math.sqrt(s)
      var i = j + 1
      while (i < k) {
        var t = gm(i, j)
        p = 0
        while (p < j) { t -= L(i)(p) * L(j)(p); p += 1 }
        L(i)(j) = t / L(j)(j)
        i += 1
      }
      j += 1
    }
    val M = Array.ofDim[Double](k, k) // M = L^-1, lower triangular
    j = 0
    while (j < k) {
      M(j)(j) = 1.0 / L(j)(j)
      var i = j + 1
      while (i < k) {
        var t = 0.0
        var p = j
        while (p < i) { t -= L(i)(p) * M(p)(j); p += 1 }
        M(i)(j) = t / L(i)(i)
        i += 1
      }
      j += 1
    }
    val out = DenseMatrix.zeros[Double](k, k)
    var a = 0
    while (a < k) {
      var b = 0
      while (b < k) { out(a, b) = M(b)(a); b += 1 }
      a += 1
    }
    out
  }

  /** Driver-local execution of the identical orthogonal iteration over
    * the dense collected edges: same sqrt(deg)/hash init, same
    * y = (x + Mx)/2 update, same Gram/Cholesky orthonormalization and
    * stop.
    */
  private def runLocal(spark: SparkSession, local: Route.Local, d: Int,
                       maxIter: Int, seed: Long, gramTol: Double): DataFrame = {
    val k = d + 1
    val ids = local.dense._1
    val n = ids.length
    val (rowPtr, colIdx) = local.csr
    val degA = Array.tabulate(n)(v => rowPtr(v + 1) - rowPtr(v))
    // NOTE: 1/sqrt(deg_v * deg_u) as ONE sqrt, exactly like the
    // distributed path's `w` column (sqrt(a*b) != sqrt(a)*sqrt(b) in
    // the last ulp; parity matters for the cross-path test). The weight
    // is hoisted into a per-CSR-entry array (optimization round 6): the
    // old loop recomputed the sqrt per edge per column per iteration —
    // ~2E*k*iters sqrt+div, the bulk of the local route's compute. Same
    // double computed once, bit-identical accumulation.
    val degD = degA.map(_.toDouble)
    val wCsr: Array[Double] = {
      val w = new Array[Double](rowPtr(n))
      var v = 0
      while (v < n) {
        var e = rowPtr(v)
        while (e < rowPtr(v + 1)) {
          w(e) = 1.0 / math.sqrt(degD(v) * degD(colIdx(e)))
          e += 1
        }
        v += 1
      }
      w
    }

    // state is ROW-MAJOR FLAT (x(v*k + c)): the old n x k nested arrays
    // cost a pointer chase per SpMV access and the column-outer loop
    // re-walked the CSR k times per vertex — ~2E*k*iters dependent
    // loads, the bulk of the local route's wall. The fused edge loop
    // below accumulates all k columns per edge; each column's sum still
    // adds the identical terms in the identical edge order, so the
    // result is bit-identical (the cross-path parity test pins this).
    val x0 = new Array[Double](n * k)
    locally {
      var v = 0
      while (v < n) {
        x0(v * k) = math.sqrt(degA(v).toDouble)
        var j = 1
        while (j < k) {
          x0(v * k + j) =
            graft.core.DetRandom.uniformLocal(seed + j, ids(v)) - 0.5
          j += 1
        }
        v += 1
      }
    }
    var x = x0
    var iter = 0
    var prevGram: Option[DenseMatrix[Double]] = None
    var done = false
    // SpMV vertex-range chunks, balanced by EDGE count: each vertex's
    // accumulators are chunk-private, so running chunks on parallel
    // driver threads leaves every per-vertex, per-column sum adding the
    // identical terms in the identical edge order — bit-identical to
    // the serial loop (the cross-path parity test pins this). Only the
    // SpMV is parallelized; the Gram reduction stays serial because a
    // partial-sum split WOULD change its addition order.
    val chunkBounds = graft.graph.CsrBlocks.rowRanges(rowPtr, 64)
    while (iter < maxIter && !done) {
      // y = (x + Mx)/2, M = D^-1/2 A D^-1/2. k == 3 (d = 2) is the
      // engine's layout default — unrolled registers instead of the
      // k-length accumulator loop; term order per column is identical.
      val y = new Array[Double](n * k)
      val xc = x
      java.util.stream.IntStream.range(0, chunkBounds.length - 1).parallel()
        .forEach { ci =>
          var v = chunkBounds(ci)
          val vEnd = chunkBounds(ci + 1)
          if (k == 3) {
            while (v < vEnd) {
              var a0 = 0.0; var a1 = 0.0; var a2 = 0.0
              var e = rowPtr(v)
              val end = rowPtr(v + 1)
              while (e < end) {
                val u = colIdx(e) * 3
                val w = wCsr(e)
                a0 += xc(u) * w; a1 += xc(u + 1) * w; a2 += xc(u + 2) * w
                e += 1
              }
              val b = v * 3
              y(b) = (xc(b) + a0) * 0.5
              y(b + 1) = (xc(b + 1) + a1) * 0.5
              y(b + 2) = (xc(b + 2) + a2) * 0.5
              v += 1
            }
          } else {
            val acc = new Array[Double](k)
            while (v < vEnd) {
              var c = 0
              while (c < k) { acc(c) = 0.0; c += 1 }
              var e = rowPtr(v)
              while (e < rowPtr(v + 1)) {
                val u = colIdx(e) * k
                val w = wCsr(e)
                var c2 = 0
                while (c2 < k) { acc(c2) += xc(u + c2) * w; c2 += 1 }
                e += 1
              }
              c = 0
              while (c < k) { y(v * k + c) = (xc(v * k + c) + acc(c)) * 0.5; c += 1 }
              v += 1
            }
          }
        }
      val gm = DenseMatrix.zeros[Double](k, k)
      for (a <- 0 until k; b <- a until k) {
        var s = 0.0
        var vv = 0
        while (vv < n) { s += y(vv * k + a) * y(vv * k + b); vv += 1 }
        gm(a, b) = s; gm(b, a) = s
      }
      val lInvT = cholInvT(gm, k)
      val xn = new Array[Double](n * k)
      var vv = 0
      while (vv < n) {
        var j = 0
        while (j < k) {
          var s = 0.0
          var i2 = 0
          while (i2 <= j) { s += y(vv * k + i2) * lInvT(i2, j); i2 += 1 }
          xn(vv * k + j) = s
          j += 1
        }
        vv += 1
      }
      x = xn
      val delta = prevGram.map(pg => gramMaxAbsDelta(gm, Some(pg), k))
        .getOrElse(Double.MaxValue)
      val scale = gramMaxAbsDelta(gm, None, k)
      done = delta < gramTol * math.max(scale, 1e-12)
      prevGram = Some(gm)
      iter += 1
    }
    // drop the trivial column: row v's d coordinates, flat
    val pos = new Array[Double](n * d)
    var v = 0
    while (v < n) { System.arraycopy(x, v * k + 1, pos, v * d, d); v += 1 }
    Route.frame(spark, ids, Route.Vectors("pos", pos, d))
  }
}
