package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Deterministic, retry-safe randomness for distributed generation.
  *
  * The reference derives all stochastic structure from seeded numpy /
  * networkx generators (/root/reference/graphem/generators.py:48,94-95).
  * Spark's `rand()` is NOT reproducible across task retries or
  * partitioning changes, so every "random" quantity in this engine is a
  * pure function of (row identity, seed) via xxhash64 — identical on
  * local[8], local[32], and a 1000-executor cluster.
  */
object DetRandom {

  private val Mask52 = (1L << 52) - 1
  private val Inv52 = 1.0 / (1L << 52).toDouble

  /** Uniform double in [0, 1) as a pure function of (seed, cols*). */
  def uniform(seed: Long, cols: Column*): Column =
    (xxhash64((lit(seed) +: cols): _*).bitwiseAND(lit(Mask52)))
      .cast("double") * lit(Inv52)

  /** Uniform long in [0, n) as a pure function of (seed, cols*). */
  def uniformLong(seed: Long, n: Long, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: cols): _*), lit(n))

  /** Driver-local replica of Spark's `xxhash64(cols...)` over bigint
    * columns: it chains XXH64.hashLong through the fields in order,
    * starting from seed 42, so this returns the column's bits exactly.
    */
  def xxhash64Local(fields: Long*): Long =
    fields.foldLeft(42L)((h, v) => XXH64.hashLong(v, h))

  /** Driver-local replica of `uniform(seed, lit(id))` for the
    * small-graph fast paths: the same bits as the column, so the same
    * doubles for the same (seed, id).
    */
  def uniformLocal(seed: Long, id: Long): Double =
    (xxhash64Local(seed, id) & Mask52) * Inv52

  /** Indices of the k smallest `(hashes(i), i)` (k at most
    * `hashes.length`), ascending by index: the driver-side set of
    * `orderBy(hash, index).limit(k)`. Every index hashing below the k-th
    * smallest hash is in; at that hash the smallest indices fill the
    * rest.
    */
  def smallestByHash(hashes: Array[Long], k: Int): Array[Int] = {
    if (k <= 0) return Array.empty[Int]
    val cut = { val h = hashes.clone(); java.util.Arrays.sort(h); h(k - 1) }
    var atCut = k - hashes.count(_ < cut)
    val picked = new Array[Int](k)
    var w = 0
    var i = 0
    while (w < k) {
      if (hashes(i) < cut || (hashes(i) == cut && atCut > 0)) {
        if (hashes(i) == cut) atCut -= 1
        picked(w) = i
        w += 1
      }
      i += 1
    }
    picked
  }
}
