package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine-exact numeric helpers.
  *
  * The driver's correctness gate hash-compares our result values
  * against DuckDB's. A plain `sum(double)` is order-dependent in the
  * last ulp, so any shuffle-order difference (or engine difference)
  * breaks the hash. Routing the aggregation through decimals makes it
  * exact and associative: `double → decimal(18,s)` rounds to the same
  * decimal in both engines (the inputs are generated with ≤2 decimal
  * digits, far from tie boundaries), the decimal sum is exact, and the
  * final `decimal → double` cast is deterministic. Per-row double
  * arithmetic (e.g. `a * (1-b)` both computed as doubles) is IEEE-754
  * deterministic and safe without this detour.
  *
  * At scale this costs nothing material: decimal sums still get
  * map-side partial aggregation and whole-stage codegen.
  */
object Exact {
  def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(18, scale))

  /** Exact sum of a double column, returned as double. */
  def dsum(c: Column, scale: Int = 2): Column = sum(dec(c, scale)).cast(DoubleType)

  /** Exact average of a double column, returned as double
    * (exact decimal sum, then one double division — both engines
    * divide the same two doubles).
    */
  def davg(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast(DoubleType) / count(c).cast(DoubleType)

  /** Exact discounted-revenue sum: SUM(dec(price) * (1 - dec(disc))),
    * returned as double — lives here (with its SQL twin below) so the
    * Spark and oracle spellings cannot drift apart across call sites.
    */
  def dsumDisc(price: Column, disc: Column): Column =
    sum(dec(price) * (lit(1) - dec(disc))).cast(DoubleType)

  /** Exact integer cents of a NON-NEGATIVE ≤2-decimal money double —
    * the allocation-free fast path the bench pipelines sum with
    * (codegen `Math.floor` + long cast vs [[dec]]'s BigDecimal-
    * allocating cast; r17's range_join/join_agg win, hoisted here in
    * r18 so the spelling the exactness specs pin and the spelling the
    * bench runs cannot drift apart — the [[dsumDisc]] anti-drift
    * discipline).
    *
    * PRECONDITIONS (both hold for every fixture money column, and
    * RangeJoinSpec asserts the sign):
    *  - `c` carries at most 2 decimal digits: the nearest double to
    *    k/100 satisfies |c·100 − k| < 0.5 for |k| < 2^51, so the
    *    +0.5-floor recovers exactly k and no rounding tie can occur
    *    (a tie would need a true half-cent value);
    *  - `c >= 0`: floor(x+0.5) rounds half-up toward +∞ while
    *    [[dec]]'s HALF_UP rounds away from zero — they agree on every
    *    non-tie value of either sign, but a future SIGNED caller
    *    should know ties (impossible under the 2-decimal contract)
    *    would diverge.
    */
  def cents(c: Column): Column = floor(c * 100.0 + 0.5).cast(LongType)

  /** [[dsum]] routed through integer cents (r18, VERDICT item 5): the
    * per-row double→decimal(18,2) cast (a BigDecimal allocation per
    * row, summed into a non-compact decimal(28,2) buffer that
    * serializes a JavaBigDecimal per update) becomes a codegen
    * `Math.floor` long ([[cents]]) cast to a COMPACT Decimal, summed
    * in decimal(38,0), with ONE exact ×0.01 decimal multiply at the
    * end. Measured 1.5–1.6× faster on q1_agg's five aggregates (an
    * isolated A/B of the two spellings, local[32] sf0.1, r18; that
    * one-off probe is deleted — `graft.bench.Probe --entries q1_agg`
    * times the shipped route).
    *
    * BIT-IDENTICAL to [[dsum]] at EVERY scale, not just Σ < 2^53:
    *  1. per row, cents(c) = k exactly where dec(c,2) = k/100 exactly
    *     (the ≤2-decimal money contract — [[cents]]'s precondition;
    *     sign-safe because a rounding tie needs a true half-cent,
    *     impossible under the contract);
    *  2. Σk is exact in decimal(38,0) (nulls past 10^36 cents; the
    *     [[dsum]] buffer decimal(28,2) nulls past 10^26 dollars — the
    *     headroom GROWS);
    *  3. Σk × 0.01 is an exact decimal multiply (scale 0+2, no
    *     rounding), so the closing decimal→double cast rounds the same
    *     rational Σk/100 once — exactly [[dsum]]'s single rounding
    *     (a double division by 100.0 instead would double-round past
    *     2^53; this spelling does not).
    * BenchExactnessSpec pins q1's five aggregates to raw-bits equality
    * with the decimal route over the real fixture.
    */
  def dsumCents(c: Column): Column =
    (sum(cents(c).cast(DecimalType(38, 0))) * lit(BigDecimal("0.01")))
      .cast(DoubleType)

  /** [[davg]] through the cents route — same two closing doubles. */
  def davgCents(c: Column): Column =
    dsumCents(c) / count(c).cast(DoubleType)

  /** [[dsumDisc]] through the cents route: dec(p)·(1−dec(d)) =
    * pc·(100−dc)/10⁴ exactly per row (pc < 2^47 · factor ≤ 100 keeps
    * the long multiply far from overflow), Σ exact in decimal(38,0),
    * one exact ×0.0001 multiply, one correctly-rounded cast — the
    * [[dsumCents]] argument verbatim at scale 4.
    */
  def dsumDiscCents(price: Column, disc: Column): Column =
    (sum((cents(price) * (lit(100L) - cents(disc))).cast(DecimalType(38, 0)))
      * lit(BigDecimal("0.0001"))).cast(DoubleType)

  /** DuckDB SQL spellings of the same helpers, for oracle strings. */
  def sqlDec(e: String, scale: Int = 2): String = s"CAST($e AS DECIMAL(18,$scale))"
  def sqlDsum(e: String, scale: Int = 2): String =
    s"CAST(SUM(${sqlDec(e, scale)}) AS DOUBLE)"
  def sqlDavg(e: String, scale: Int = 2): String =
    s"CAST(SUM(${sqlDec(e, scale)}) AS DOUBLE) / CAST(COUNT($e) AS DOUBLE)"
  def sqlDsumDisc(price: String, disc: String): String =
    s"CAST(SUM(${sqlDec(price)} * (1 - ${sqlDec(disc)})) AS DOUBLE)"
}
