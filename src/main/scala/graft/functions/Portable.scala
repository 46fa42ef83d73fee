package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic expression helpers.
  *
  * Every query in the registry is verified against a DuckDB oracle by
  * exact value comparison, so all arithmetic that could differ between
  * engines (float accumulation order, hash functions, rounding modes) is
  * funneled through these combinators, each of which has a documented
  * DuckDB-SQL equivalent producing bit-identical results.
  */
object Portable {

  /** 32-bit portable string hash: big-endian integer value of the first
    * 8 hex chars of md5(s). Non-negative, fits in a long.
    * DuckDB: `CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)`
    * Engine side: ONE codegen'd md5-prefix call ([[Hash32.h32Col]]) —
    * value-identical to the former md5→substring→conv(16) chain, minus
    * its three per-row string intermediates (round 16).
    */
  def h32(c: Column): Column = Hash32.h32Col(c)

  /** Exact sum of a 2-decimal double column, returned as double.
    * Accumulates in DECIMAL(28,2) so partial-aggregation order cannot
    * change the result; the single final decimal->double conversion is
    * identical in both engines.
    * DuckDB: `CAST(sum(CAST(x AS DECIMAL(28,2))) AS DOUBLE)`
    */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(28,2)")).cast("double")

  /** Exact sum of an arbitrary double expression: each row value is first
    * rounded into DECIMAL(28,6) (deterministic given identical input
    * doubles), then summed exactly.
    * DuckDB: `CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE)`
    *
    * 17-digit caveat: once the exact decimal needs more significant
    * digits than a double holds, the two engines' decimal→double
    * conversions must BOTH be correctly rounded for the driver's typed
    * hash to match. Spark's (BigDecimal.doubleValue) is; DuckDB's cast
    * was observed 1 ULP off on GROUPING-SETS supergroup rows at the
    * sf1 scale (q105's grand total, the only affected site). Oracles
    * whose sums can cross ~2^53 route the final cast through VARCHAR —
    * `CAST(CAST(sum(...) AS VARCHAR) AS DOUBLE)` — which is strtod and
    * correctly rounded.
    */
  def dsum6(c: Column): Column =
    sum(c.cast("decimal(28,6)")).cast("double")

  /** Order-insensitive mean: exact decimal sum / count, in doubles.
    * DuckDB: `CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / count(*)`
    */
  def davg(c: Column): Column =
    dsum6(c) / count(lit(1))

  /** Whitespace tokens. DuckDB: `string_split(s, ' ')`. */
  def tokens(c: Column): Column = split(c, " ")

  /** Driver-side twin of [[h32]]: first 8 hex chars of md5, as a long.
    * Used to pre-compute deterministic parameters (e.g. LSH hyperplane
    * signs) that must agree bit-for-bit with what the DuckDB oracle
    * derives from the same md5 formula.
    */
  def h32s(s: String): Long = Hash32.h32(s)

  /** Dot product of two double arrays, sequential left-to-right fold —
    * evaluated by the codegen'd [[DotProduct]] expression (identical
    * IEEE op order to the HOF `aggregate(zip_with(...))` fold it
    * replaces). Pair with round(..., 6) before any comparison.
    */
  def dot(a: Column, b: Column): Column = VecOps.dot(a, b)

  /** Squared L2 norm of a double array ([[SquaredNorm]], same fold). */
  def norm2(a: Column): Column = VecOps.norm2(a)

  /** Array[Float] -> Array[Double] elementwise. */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Cosine similarity of two double arrays, rounded to 6 decimals for
    * cross-engine determinism.
    */
  def cos6(a: Column, b: Column): Column =
    round(dot(a, b) / sqrt(norm2(a) * norm2(b)), 6)
}
