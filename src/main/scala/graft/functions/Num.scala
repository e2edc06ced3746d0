package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Numeric canonicalization helpers.
  *
  * Cross-engine float discipline (see QueryDef scaladoc): element-wise
  * double arithmetic is bit-identical across engines when the expression
  * tree is identical (IEEE 754, no FMA), so it is left unrounded. Doubles
  * produced by AGGREGATION (sum/avg) differ in final ulps because the
  * summation order differs — those are canonicalized with `qround`,
  * a floor-based quantizer whose semantics are expressible identically
  * in ANSI SQL (`FLOOR(x * 10^s + 0.5) / 10^s`), unlike ROUND whose
  * tie-breaking differs between engines (Spark: BigDecimal HALF_UP on
  * the exact binary value; DuckDB: multiply-round-divide in doubles).
  */
object Num {
  /** Quantize a double to `scale` decimals: FLOOR(x*10^s + 0.5)/10^s.
    * Mirror the exact same formula in the oracle SQL. */
  def qround(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * p + 0.5) / p
  }

  /** The same quantizer for a driver-side double. `math.pow(10, s)` is
    * exact for every power of ten a double holds exactly, so this is
    * bit-identical to the literal `floor(x * 1e6 + 0.5) / 1e6`. */
  def qround(x: Double, scale: Int): Double = {
    val p = math.pow(10, scale)
    math.floor(x * p + 0.5) / p
  }

  /** The oracle-side SQL for qround, kept adjacent so both sides stay
    * in sync. */
  def qroundSql(expr: String, scale: Int): String = {
    val p = math.pow(10, scale).toLong
    s"FLOOR(($expr) * $p + 0.5) / $p"
  }
}
