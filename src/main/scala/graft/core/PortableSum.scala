package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Order-independent, ENGINE-PORTABLE floating-point summation for
  * oracle-checked aggregates.
  *
  * The driver's correctness gate hashes query output against a DuckDB
  * mirror. A plain `sum(double)` is shuffle-order-dependent in Spark
  * and differently ordered in DuckDB, so a last-ULP difference landing
  * exactly on a rounding boundary of the nano/micro output units flips
  * one unit and fails the exact hash (the "latent rounding hazard"
  * documented since round 1). Naive decimal widening does NOT fix it:
  * DuckDB's CAST(double AS DECIMAL(38,18)) disagrees with Spark's
  * BigDecimal HALF_UP in ~50% of cases (measured: 2001/4000 mismatches
  * — DuckDB scales in double precision first).
  *
  * What IS portable: quantize each ADDEND with round(x * scale, 0) —
  * both engines evaluate the same double product and round half away
  * from zero, giving bit-identical integer-valued doubles (measured:
  * 0/4000 mismatches) — then sum exactly as DECIMAL(38,0) (exact in
  * both engines), and convert back with a deterministic double cast +
  * division by the scale. The sum becomes order-INDEPENDENT and
  * engine-IDENTICAL, at the cost of a deterministic quantization of
  * |x| <= 0.5/scale per addend (pick `scale` so x*scale stays below
  * 2^53 ~ 9e15 for exact rounding).
  *
  * Scale posture: the quantized sum is still one map-side-combinable
  * hash aggregation — decimal(38,0) partials are 16 bytes, and the
  * round/cast are codegen'd scalar ops. It is the only sum of the
  * fixed-iteration PageRank and eigenvector operators
  * (`PageRank.fixedIterUndirected`, `EigenvectorCentrality.fixedIter`)
  * and an opt-in one in `ApproxBetweenness`; the convergent engines
  * keep native double sums.
  */
object PortableSum {

  /** sum(x) with addends quantized at 1/scale. Null-skipping like sum;
    * returns null on an empty/all-null group (callers coalesce).
    *
    * The quantization runs through [[graft.functions.PortableRound]] —
    * bit-identical to `round(x*scale, 0)` (and therefore to the DuckDB
    * mirror) without Spark Round's per-row BigDecimal boxing.
    */
  def fixedSum(x: Column, scale: Double): Column =
    sum(graft.functions.PortableRound(x, scale).cast("decimal(38,0)"))
      .cast("double") / lit(scale)

  /** [[fixedSum]] with a native LONG accumulator instead of
    * decimal(38,0) — ~2x faster aggregation, usable ONLY where the
    * caller can bound the per-group quantized sum under 2^53 (so the
    * long sum cannot overflow — ANSI mode would error hard — AND the
    * final double cast is exact, keeping the DuckDB HUGEINT-summed
    * mirror bit-identical). PageRank qualifies: gather addends are
    * rank/deg with Sigma rank = 1, so each group's sum is <= scale * 1
    * plus <= 0.5 * deg quantization slop — <= ~1.000001e15 at scale
    * 1e15 even for a 10^9-degree hub. Betweenness deltas and the
    * relational price sums do NOT qualify (group sums unbounded);
    * they stay on the decimal accumulator.
    */
  def fixedSumLong(x: Column, scale: Double): Column =
    sum(graft.functions.PortableRound(x, scale).cast("long"))
      .cast("double") / lit(scale)

  /** The DuckDB mirror of [[fixedSum]] — identical arithmetic shape.
    * Also mirrors [[fixedSumLong]]: DuckDB sums BIGINT into HUGEINT
    * (exact, like DECIMAL(38,0)), and under the fixedSumLong bound the
    * double cast of either is exact.
    */
  def fixedSumSql(x: String, scale: String): String =
    s"CAST(sum(CAST(round($x * $scale, 0) AS DECIMAL(38,0))) AS DOUBLE) / $scale"
}
