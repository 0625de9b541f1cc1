package linkbench

/** A canonical undirected graph (src < dst, distinct) held as plain
  * arrays: `ids` ascending, every edge as dense indices into `ids`, and
  * a sorted adjacency list per vertex.
  */
final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {
  val n: Int = ids.length
  def edges: Int = src.length

  val (rowPtr: Array[Int], adj: Array[Int]) = {
    val deg = new Array[Int](n)
    var i = 0
    while (i < src.length) { deg(src(i)) += 1; deg(dst(i)) += 1; i += 1 }
    val ptr = new Array[Int](n + 1)
    i = 0
    while (i < n) { ptr(i + 1) = ptr(i) + deg(i); i += 1 }
    val a = new Array[Int](ptr(n))
    val fill = ptr.clone()
    i = 0
    while (i < src.length) {
      a(fill(src(i))) = dst(i); fill(src(i)) += 1
      a(fill(dst(i))) = src(i); fill(dst(i)) += 1
      i += 1
    }
    i = 0
    while (i < n) { java.util.Arrays.sort(a, ptr(i), ptr(i + 1)); i += 1 }
    (ptr, a)
  }

  def degree(v: Int): Int = rowPtr(v + 1) - rowPtr(v)
}

object Graph {

  /** Canonicalize arbitrary (a, b) pairs the way `Edges.canonicalize`
    * does: least/greatest, no self-loops, distinct. Ids must lie in
    * [0, 2^31), which every benchmark input does.
    */
  def fromPairs(a: Array[Long], b: Array[Long]): Graph = {
    val limit = 1L << 31
    val keys = new Array[Long](a.length)
    var m = 0
    for (i <- a.indices if a(i) != b(i)) {
      require(a(i) >= 0 && a(i) < limit && b(i) >= 0 && b(i) < limit, "id out of range")
      keys(m) = (math.min(a(i), b(i)) << 31) | math.max(a(i), b(i))
      m += 1
    }
    val edges = sortedDistinct(java.util.Arrays.copyOf(keys, m))
    val lo = edges.map(_ >>> 31)
    val hi = edges.map(_ & (limit - 1))
    val ids = sortedDistinct(lo ++ hi)
    def idx(xs: Array[Long]) = xs.map(x => java.util.Arrays.binarySearch(ids, x))
    new Graph(ids, idx(lo), idx(hi))
  }

  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var w = 0
    for (x <- xs) if (w == 0 || xs(w - 1) != x) { xs(w) = x; w += 1 }
    java.util.Arrays.copyOf(xs, w)
  }
}

/** Single-threaded reference answers the engine's outputs are checked
  * against. Written for clarity, not speed, and sharing no code with the
  * engine.
  */
object Reference {

  /** Connected components by union-find: component = minimum vertex id
    * of the component, per dense vertex index.
    */
  def components(g: Graph): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    for (i <- 0 until g.edges) {
      val a = find(g.src(i))
      val b = find(g.dst(i))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    // indices ascend with ids, so the smallest index is the smallest id
    Array.tabulate(g.n)(v => g.ids(find(v)))
  }

  /** Undirected PageRank with NetworkX semantics: uniform start 1/n,
    * x'(v) = alpha * (sum over neighbours u of x(u)/deg(u) + dangling/n)
    * + (1 - alpha)/n. Runs until the L1 change drops below n * tol
    * (never, for tol <= 0) or `maxIter` supersteps, whichever is first.
    * Returns every iterate: element k is the state after k supersteps,
    * so the last index is the superstep count.
    */
  def pagerank(g: Graph, alpha: Double, tol: Double, maxIter: Int): IndexedSeq[Array[Double]] = {
    val n = g.n
    val out = scala.collection.mutable.ArrayBuffer(Array.fill(n)(1.0 / n))
    var done = false
    while (!done && out.length <= maxIter) {
      val x = out.last
      var dangling = 0.0
      for (v <- 0 until n if g.degree(v) == 0) dangling += x(v)
      val base = alpha * dangling / n + (1.0 - alpha) / n
      val next = new Array[Double](n)
      var err = 0.0
      for (v <- 0 until n) {
        var s = 0.0
        var p = g.rowPtr(v)
        while (p < g.rowPtr(v + 1)) { val u = g.adj(p); s += x(u) / g.degree(u); p += 1 }
        next(v) = alpha * s + base
        err += math.abs(next(v) - x(v))
      }
      out += next
      done = tol > 0 && err < n * tol
    }
    out.toIndexedSeq
  }

  /** Synchronous label propagation: every vertex starts with its own id
    * and each superstep takes the most frequent label among its
    * neighbours' previous labels, ties to the smallest label.
    */
  def labelPropagation(g: Graph, iterations: Int): Array[Long] = {
    var labels = g.ids.clone()
    for (_ <- 1 to iterations) {
      val prev = labels
      labels = Array.tabulate(g.n) { v =>
        val seen = Array.tabulate(g.degree(v))(k => prev(g.adj(g.rowPtr(v) + k)))
        java.util.Arrays.sort(seen)
        // runs ascend by label, so only a strictly longer run replaces
        // the best one and ties keep the smaller label
        var best = prev(v)
        var bestCount = 0
        var start = 0
        while (start < seen.length) {
          var end = start
          while (end < seen.length && seen(end) == seen(start)) end += 1
          if (end - start > bestCount) { best = seen(start); bestCount = end - start }
          start = end
        }
        best
      }
    }
    labels
  }

  /** Triangle count: for every edge (u, v) with u < v, the common
    * neighbours w > v, found by merging the two sorted adjacency lists.
    */
  def triangles(g: Graph): Long = {
    var total = 0L
    for (i <- 0 until g.edges) {
      val u = g.src(i)
      val v = g.dst(i)
      var a = g.rowPtr(u)
      var b = g.rowPtr(v)
      while (a < g.rowPtr(u + 1) && b < g.rowPtr(v + 1)) {
        val x = g.adj(a)
        val y = g.adj(b)
        if (x < y) a += 1
        else if (y < x) b += 1
        else { if (x > v) total += 1; a += 1; b += 1 }
      }
    }
    total
  }

  /** Spearman rank correlation with average ranks for ties (the SciPy
    * convention); NaN when either side is constant.
    */
  def spearman(a: Array[Double], b: Array[Double]): Double = {
    def ranks(xs: Array[Double]): Array[Double] = {
      val order = xs.indices.sortBy(xs(_)).toArray
      val r = new Array[Double](xs.length)
      var i = 0
      while (i < order.length) {
        var j = i
        while (j + 1 < order.length && xs(order(j + 1)) == xs(order(i))) j += 1
        val avg = (i + j) / 2.0 + 1.0
        for (k <- i to j) r(order(k)) = avg
        i = j + 1
      }
      r
    }
    val ra = ranks(a)
    val rb = ranks(b)
    val ma = ra.sum / ra.length
    val mb = rb.sum / rb.length
    var sab = 0.0
    var saa = 0.0
    var sbb = 0.0
    for (i <- ra.indices) {
      val da = ra(i) - ma
      val db = rb(i) - mb
      sab += da * db; saa += da * da; sbb += db * db
    }
    if (saa == 0 || sbb == 0) Double.NaN else sab / math.sqrt(saa * sbb)
  }
}
