package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for web-scale corpora: exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard verification.
  *
  * Scale shape: exact dedup is one hash aggregation over the corpus;
  * MinHash-LSH turns the O(n^2) near-dup problem into a band-bucket
  * equi-join (shuffle keyed on (band, bucket-hash), heavily skew-tolerant
  * because bucket ids are hashes); candidate pairs are then verified with
  * exact Jaccard over shingle sets. No driver-side state anywhere.
  */
object Dedup {

  /** Exact duplicate groups by content hash: (fingerprint, keep_id =
    * min id, n_copies) for groups with more than one member.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .where(col("n_copies") > 1)

  /** Keep one representative row (min id) per distinct text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df.groupBy(col(textCol).as("_t"))
      .agg(min(col(idCol)).as(idCol))
    df.join(keep, df(idCol) === keep(idCol), "left_semi")
  }

  /** Portable seeded hash over a precomputed rolling-hash fingerprint:
    * (fp * (2k+3) + k) mod 1e9+7 — exactly reproducible in DuckDB
    * BIGINT arithmetic (fp < 1e9+7, so no overflow), which xxhash64 is
    * not. It is the one seeded hash of the MinHash pipeline and of
    * `simHashPortable`; only `simHash` keeps xxhash64.
    */
  private[text] def seededPortable(fp: Column, k: Column): Column =
    (fp * (k.cast("long") * 2L + 3L) + k.cast("long")) % 1000000007L

  /** The one MinHash signature fold: for each of `numHashes` seeds k,
    * the minimum seededPortable(f, k) over the per-shingle fingerprints
    * `fps`. Pure column expressions: one array column of size numHashes
    * per row.
    */
  private def signature(fps: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      k => aggregate(fps, lit(Long.MaxValue),
        (acc, f) => least(acc, seededPortable(f, k))))

  /** DuckDB-mirrorable MinHash signature of a shingle array (see
    * seededPortable). The fingerprint fold is inlined into every seed's
    * lambda, so standalone it runs numHashes times per row; the
    * near-dup pipeline materializes the fingerprints once instead (see
    * the barrier note on bandedBuckets).
    */
  def minHashSignaturePortable(shingleCol: Column, numHashes: Int): Column =
    signature(transform(shingleCol, s => TextOps.rollingHash(s)), numHashes)

  /** LSH banding of an (id, sh, fps) frame — `fps` the per-shingle
    * rolling-hash fingerprints — into (id, band, bucket) rows: documents
    * sharing any (band, bucket) are near-dup candidates. A band's
    * bucket is the rolling hash (a * 31 + v) mod 1e9+7 of its signature
    * slice, mirrored in DuckDB BIGINT arithmetic.
    *
    * Documents with an EMPTY shingle set (fewer than k tokens) are
    * excluded: their signature is the all-MaxValue vector, so on a web
    * corpus millions of near-empty docs would otherwise share ONE bucket
    * in every band and the candidate self-join would go quadratic. They
    * can only be exact duplicates of each other — `exactGroups` covers
    * them.
    *
    * Evaluation-count note (optimization round 6): Catalyst COLLAPSES
    * adjacent projections, re-inlining a derived column's expression
    * into every use — a plain `.withColumn("fps", ...)` ends up
    * duplicated into each of the numHashes aggregate lambdas, so the
    * per-character fingerprint fold runs numHashes times per document
    * (and the shingle construction with it, measured 6x wall on the
    * sf0.1 corpus). Only a MATERIALIZATION BARRIER stops the
    * re-inlining: minHashNearDups passes a frame whose `fps` is a cached
    * column.
    */
  private def bandedBuckets(sh: DataFrame, numHashes: Int,
                            bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    def bandBucket(b: Column): Column =
      aggregate(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
        lit(0L), (a, v) => (a * 31L + v) % 1000000007L)
    sh.where(size(col("sh")) > 0)
      .select(col("id"), signature(col("fps"), numHashes).as("sig"))
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), b => bandBucket(b))))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Near-duplicate pairs via MinHash-LSH candidates verified with exact
    * shingle Jaccard >= threshold. Returns (id_a, id_b, jaccard_micro).
    *
    * Scale guards: docs with an empty shingle set are excluded from
    * banding (see bandedBuckets — they'd all share one hot bucket), and
    * buckets larger than `maxBucket` are dropped before the candidate
    * self-join (a bucket of B docs contributes B^2/2 pairs; a single
    * boilerplate-heavy bucket would otherwise dominate the job). Pairs
    * lost to a capped bucket still surface through the other bands-1
    * buckets, so the recall cost is marginal — it's the standard
    * LSH-at-scale knob.
    */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7, numHashes: Int = 16,
                      bands: Int = 8, maxBucket: Int = 10000): DataFrame = {
    // The shingle/fingerprint evaluation is ~16 string hashes per
    // shingle — far heavier per row than the (id, text) scan feeding
    // it. A small corpus arrives as 1-2 scan splits, which would
    // serialize the whole pass on 1-2 cores; widen to the session width
    // first (a few MB of text shuffled once). Gated on the scan
    // actually being narrower — a big corpus already scans wide and
    // skips the exchange. Row placement cannot affect the output: the
    // signature min-fold, band buckets, bucket counts and Jaccard are
    // all per-row/per-pair deterministic.
    val sessP = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val docs0 = df.select(col(idCol).as("id"), col(textCol).as("_text"))
    val docs = if (docs0.rdd.getNumPartitions < sessP)
      docs0.repartition(sessP) else docs0
    // Shingles and their per-shingle fingerprints are materialized ONCE
    // into a cache: the cache is a hard materialization barrier, which
    // is what actually guarantees single evaluation — see the collapse
    // note on bandedBuckets. Both the banding and the candidate
    // verification read this cache.
    val sh = docs.select(col("id"), TextOps.shingles(col("_text")).as("sh"))
      .select(col("id"), col("sh"),
        transform(col("sh"), s => TextOps.rollingHash(s)).as("fps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = bandedBuckets(sh, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketCounts = buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("_bc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // No silent truncation: a dropped hot bucket is an explicit, counted
    // event (the DuckDB oracle mirrors the same cap, so oracle runs stay
    // comparable even on a corpus that trips it).
    val dropped = bucketCounts.where(col("_bc") > maxBucket).count()
    if (dropped > 0)
      System.err.println(s"[graft.dedup] minHashNearDups: dropped $dropped " +
        s"LSH bucket(s) larger than maxBucket=$maxBucket; pairs only in " +
        "those buckets are not emitted (other bands still cover them)")
    val smallBuckets = bucketCounts.where(col("_bc") <= maxBucket)
      .select("band", "bucket")
    val pruned = buckets.join(smallBuckets, Seq("band", "bucket"), "left_semi")
    val cands = pruned.as("x").join(pruned.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val verified = cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(TextOps.jaccard(col("sh_a"), col("sh_b")) * 1e6, 0)
          .cast("long").as("jaccard_micro"))
      .where(col("jaccard_micro") >= (threshold * 1e6).toLong)
    // materialize the (small) verified-pair table so the big shingle and
    // bucket caches can be released before returning
    val out = graft.core.Lineage.truncate(verified)
    bucketCounts.unpersist(false)
    buckets.unpersist(false)
    sh.unpersist(false)
    out
  }

  /** 64-bit SimHash over whitespace tokens: bit b is 1 iff the sum of
    * (+1/-1 for bit b of xxhash64(token)) over tokens is positive.
    */
  def simHash(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val sums = aggregate(toks,
      transform(sequence(lit(0), lit(63)), _ => lit(0L)),
      (acc, t) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          b => when(graft.core.Cols.shiftRightC(xxhash64(t), b)
            .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))),
        (x, y) => x + y))
    aggregate(
      zip_with(sums, sequence(lit(0), lit(63)),
        (s, b) => when(s > 0, graft.core.Cols.shiftLeftC(lit(1L), b))
          .otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** DuckDB-mirrorable 64-bit SimHash: bit b's per-token sign is the
    * parity of the portable seeded hash of the token's rolling-hash
    * fingerprint (see seededPortable) instead of a bit of xxhash64.
    * Same banding/pigeonhole machinery applies; production paths use
    * `simHash`.
    */
  def simHashPortable(text: Column): Column = {
    val fps = transform(TextOps.tokens(text), t => TextOps.rollingHash(t))
    val sums = aggregate(fps,
      transform(sequence(lit(0), lit(63)), _ => lit(0L)),
      (acc, f) => zip_with(acc, sequence(lit(0), lit(63)),
        (x, b) => x + when(seededPortable(f, b) % 2 === 1, lit(1L))
          .otherwise(lit(-1L))))
    aggregate(
      zip_with(sums, sequence(lit(0), lit(63)),
        (s, b) => when(s > 0, graft.core.Cols.shiftLeftC(lit(1L), b))
          .otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Hamming distance between two 64-bit SimHash columns. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxHamming`, candidate-limited by
    * matching any of 4 16-bit chunks (pigeonhole: dist <= 3 implies at
    * least one identical chunk).
    *
    * Web-scale guards (the same two its MinHash sibling has):
    *
    *  1. Identical-simhash docs are collapsed to ONE representative (min
    *     id) BEFORE the chunk self-join. B copies of a boilerplate
    *     template share all four chunks, so without this they contribute
    *     4*B^2/2 candidate rows; instead each group emits B-1 linear
    *     (keep_id, dup_id, hamming=0) link rows, and only representatives
    *     enter the join. The full near-dup relation is the transitive
    *     closure of the returned pairs (standard dedup-graph contract).
    *  2. A per-(chunk, value) candidate-bucket cap (`maxBucket`), counted
    *     and logged when tripped — a hot 16-bit chunk value shared by
    *     near-boilerplate NON-identical docs would otherwise still go
    *     quadratic. Pairs in a capped bucket can still surface through
    *     their other three chunks.
    */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    // the 4-chunk pigeonhole only guarantees a shared chunk for pairs
    // within hamming distance 3; a larger threshold would silently miss
    // qualifying pairs (one flipped bit per chunk shares nothing)
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4-chunk candidate recall, got $maxHamming")
    val sh = df.select(col(idCol).as("id"), simHash(col(textCol)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact-simhash groups -> linear link rows + one representative each
    val reps = sh.groupBy("sh").agg(min(col("id")).as("id"))
    val groupLinks = sh.join(reps.select(col("sh"), col("id").as("id_a")), "sh")
      .where(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"), lit(0L).as("hamming"))
    val chunked = reps.select(col("id"), col("sh"), posexplode(
      transform(sequence(lit(0), lit(3)),
        c => graft.core.Cols.shiftRightC(col("sh"), c * 16)
          .bitwiseAND(lit(0xFFFFL)))))
      .select(col("id"), col("sh"), col("pos").as("chunk"), col("col").as("ck"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunkCounts = chunked.groupBy("chunk", "ck")
      .agg(count(lit(1)).as("_bc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val droppedBuckets = chunkCounts.where(col("_bc") > maxBucket).count()
    if (droppedBuckets > 0)
      System.err.println(s"[graft.dedup] simHashNearDups: dropped " +
        s"$droppedBuckets chunk bucket(s) larger than maxBucket=$maxBucket; " +
        "pairs only in those buckets are not emitted")
    val pruned = chunked.join(
      chunkCounts.where(col("_bc") <= maxBucket).select("chunk", "ck"),
      Seq("chunk", "ck"), "left_semi")
    val pairs = pruned.as("x").join(pruned.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        hamming(col("x.sh"), col("y.sh")).as("hamming")).distinct()
      .where(col("hamming") <= maxHamming && col("hamming") >= 1)
    val out = graft.core.Lineage.truncate(pairs.union(groupLinks))
    chunkCounts.unpersist(false)
    chunked.unpersist(false)
    sh.unpersist(false)
    out
  }
}
