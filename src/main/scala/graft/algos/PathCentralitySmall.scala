package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession

/** Driver-local kernels behind the gated small-graph fast paths of
  * [[ApproxCloseness]] and [[ApproxBetweenness]].
  *
  * These are NOT separate algorithms: each replicates its distributed
  * twin's arithmetic exactly so the two paths are value-identical —
  * the closeness estimator is a long distance-sum plus a fixed double
  * expression (order-independent by construction), and the betweenness
  * backward pass reuses the same portable fixed-point quantization
  * ([[graft.functions.PortableRound.halfUp]] per addend, exact integer
  * sum, one double division per level) that makes the distributed
  * aggregation order-independent. Parity is asserted with EXACT
  * equality in Round5Spec (portable path), so the driver oracle rows
  * keep verifying the same semantics whichever path the gate routes.
  */
private[algos] object PathCentralitySmall {

  /** Dense-index CSR adjacency over collected neighbor rows (two
    * parallel primitive long arrays — no per-row tuple boxing, which at
    * the 2M-row local-gate cap cost hundreds of MB of transient driver
    * heap; round-5 advice item). The rows are a MULTISET — duplicates
    * are kept because the betweenness sigma accumulation adds once per
    * row, exactly like the distributed frontier join against the
    * neighbor table.
    */
  final class Adj(srcA: Array[Long], dstA: Array[Long]) {
    private val (idArr, sIdx, dIdx) = graft.core.Route.dense(srcA, dstA)
    val ids: Array[Long] = idArr
    def nV: Int = ids.length
    def indexOf(id: Long): Int = math.max(-1, java.util.Arrays.binarySearch(ids, id))
    val (offsets, targets) = {
      val deg = new Array[Int](nV)
      var i = 0
      while (i < sIdx.length) { deg(sIdx(i)) += 1; i += 1 }
      val off = new Array[Int](nV + 1)
      i = 0; while (i < nV) { off(i + 1) = off(i) + deg(i); i += 1 }
      val pos = off.clone()
      val tgt = new Array[Int](sIdx.length)
      i = 0
      while (i < sIdx.length) {
        tgt(pos(sIdx(i))) = dIdx(i); pos(sIdx(i)) += 1
        i += 1
      }
      (off, tgt)
    }
  }

  /** Level-synchronous BFS: returns (dist, levels) with dist(v) = -1
    * for unreached vertices and levels(l) = vertices at depth l. Depth
    * is capped at maxLevels expansions like the distributed loop.
    */
  private def bfs(adj: Adj, src: Int, maxLevels: Int,
                  sigma: Array[Double]): (Array[Int], Array[Array[Int]]) = {
    val dist = Array.fill(adj.nV)(-1)
    dist(src) = 0
    if (sigma ne null) sigma(src) = 1.0
    val levels = scala.collection.mutable.ArrayBuffer(Array(src))
    var frontier = levels.head
    var level = 0
    while (frontier.nonEmpty && level < maxLevels) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Int]
      frontier.foreach { v =>
        var e = adj.offsets(v)
        while (e < adj.offsets(v + 1)) {
          val w = adj.targets(e)
          if (dist(w) == -1) { dist(w) = level + 1; next += w }
          // sigma(w) += sigma(v) once per neighbor ROW, for w exactly
          // one level deeper — the distributed join+sum shape
          if ((sigma ne null) && dist(w) == level + 1) sigma(w) += sigma(v)
          e += 1
        }
      }
      if (next.nonEmpty) { frontier = next.toArray; levels += frontier; level += 1 }
      else frontier = Array.empty
    }
    (dist, levels.toArray)
  }

  /** Driver-local twin of [[ApproxCloseness.run]]'s estimator. */
  def closenessLocal(spark: SparkSession, adjRows: (Array[Long], Array[Long]),
                     sources: Array[Long], n: Long, kEff: Long,
                     maxLevels: Int): DataFrame = {
    val adj = new Adj(adjRows._1, adjRows._2)
    val sd = new Array[Long](adj.nV)
    val r = new Array[Long](adj.nV)
    sources.foreach { s =>
      val si = adj.indexOf(s)
      // a source outside the vertex set only ever reaches itself; its
      // (s, s, 0) row is dropped by the verts join in the distributed
      // plan, so it contributes nothing here either (kEff still counts it)
      if (si >= 0) {
        val (dist, _) = bfs(adj, si, maxLevels, null)
        var v = 0
        while (v < adj.nV) {
          if (dist(v) >= 0) { sd(v) += dist(v); r(v) += 1L }
          v += 1
        }
      }
    }
    // EXACT double shape of the distributed estimator expression
    val ratio = n.toDouble / math.max(kEff, 1L).toDouble
    val nm1 = (n - 1).toDouble
    val out = new Array[(Long, Double)](adj.nV)
    var v = 0
    while (v < adj.nV) {
      val c =
        if (sd(v) > 0) {
          val rhat = r(v).toDouble * ratio
          ((rhat - 1.0) / nm1) * ((rhat - 1.0) / (sd(v).toDouble * ratio))
        } else 0.0
      out(v) = (adj.ids(v), c)
      v += 1
    }
    import spark.implicits._
    out.toSeq.toDF("id", "closeness")
  }

  /** Driver-local twin of [[ApproxBetweenness.run]]: identical forward
    * sigma (integer-valued double sums — exact under any order) and
    * identical backward quantization points on the portable path.
    */
  def betweennessLocal(spark: SparkSession, adjRows: (Array[Long], Array[Long]),
                       sources: Array[Long], n: Long, kEff: Long,
                       maxLevels: Int, normalized: Boolean,
                       portableSum: Boolean): DataFrame = {
    val adj = new Adj(adjRows._1, adjRows._2)
    val SCALE = 1e12
    def quant(x: Double): BigInt =
      BigDecimal(graft.functions.PortableRound.halfUp(x * SCALE)).toBigInt
    def fromQuant(s: BigInt): Double =
      new java.math.BigDecimal(s.bigInteger).doubleValue() / SCALE

    // final per-vertex accumulation (one addend per (source, vertex))
    val rawQ = Array.fill(adj.nV)(BigInt(0))
    val rawD = new Array[Double](adj.nV)
    val seen = new Array[Boolean](adj.nV)

    sources.foreach { s =>
      val si = adj.indexOf(s)
      if (si >= 0) {
        val sigma = new Array[Double](adj.nV)
        val (dist, levels) = bfs(adj, si, maxLevels, sigma)
        val delta = new Array[Double](adj.nV)
        // backward: deepest level keeps delta = 0; each lower level's
        // delta is the quantized sum over successor neighbor ROWS
        var l = levels.length - 2
        while (l >= 0) {
          val contribQ = new java.util.HashMap[Integer, BigInt]()
          val contribD = new java.util.HashMap[Integer, java.lang.Double]()
          levels(l + 1).foreach { w =>
            val inc = 1.0 + delta(w)
            var e = adj.offsets(w)
            while (e < adj.offsets(w + 1)) {
              val v = adj.targets(e)
              if (dist(v) == l) {
                // (sigma_v / sigma_w) * inc — the distributed column order
                val addend = sigma(v) / sigma(w) * inc
                if (portableSum)
                  contribQ.merge(v, quant(addend), _ + _)
                else
                  contribD.merge(v, addend, (a, b) => a + b)
              }
              e += 1
            }
          }
          levels(l).foreach { v =>
            delta(v) =
              if (portableSum) {
                val q = contribQ.get(v)
                if (q == null) 0.0 else fromQuant(q)
              } else {
                val d = contribD.get(v)
                if (d == null) 0.0 else d.doubleValue()
              }
          }
          l -= 1
        }
        // fold this source's deltas into the final per-vertex sum,
        // excluding v == s exactly like the distributed filter
        var v = 0
        while (v < adj.nV) {
          if (dist(v) >= 0 && v != si) {
            seen(v) = true
            if (portableSum) rawQ(v) += quant(delta(v))
            else rawD(v) += delta(v)
          }
          v += 1
        }
      }
    }

    // nx _rescale semantics (same Scala expressions as the distributed
    // path so the driver-side doubles are identical)
    val base: Option[Double] =
      if (normalized) { if (n > 2) Some(1.0 / ((n - 1.0) * (n - 2.0))) else None }
      else Some(0.5)
    val scale = base
      .map(_ * (n.toDouble / math.max(kEff, 1L).toDouble))
      .getOrElse(1.0)
    val out = new Array[(Long, Double)](adj.nV)
    var v = 0
    while (v < adj.nV) {
      val raw =
        if (!seen(v)) 0.0
        else if (portableSum) fromQuant(rawQ(v))
        else rawD(v)
      out(v) = (adj.ids(v), raw * scale)
      v += 1
    }
    import spark.implicits._
    out.toSeq.toDF("id", "betweenness")
  }
}
