package graft.ops

import graft.functions.LayoutFunctions.zValue
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order data layout: bin each dimension into 2^bits dense ranks
  * from its global bounds, Morton-interleave the bins, and sort/
  * partition on the z-key — rows close in BOTH dimensions land in the
  * same file, so per-file min/max stats prune scans on either
  * predicate (the multi-dimensional generalization of sorting by one
  * column, after public lakehouse OPTIMIZE ZORDER designs).
  *
  * The bounds are a single min/max aggregation collected to the
  * driver — metadata-sized by contract (4 longs), the same pattern as
  * the dictionary rows and IVF training sample. Binning from fixed
  * bounds keeps the key a pure per-row function: deterministic,
  * oracle-replayable, and shuffle-free to compute.
  */
object Layout {

  final case class Bounds(aLo: Long, aHi: Long, bLo: Long, bHi: Long)

  /** One tiny reduction: global min/max of both layout dimensions. */
  def bounds(df: DataFrame, colA: String, colB: String): Bounds = {
    val r = df.agg(min(col(colA)), max(col(colA)),
      min(col(colB)), max(col(colB))).collect().head
    Bounds(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** floor((v − lo) · 2^bits / (hi − lo + 1)) — dense rank bins in
    * [0, 2^bits); exact-integer numerator, one IEEE divide + floor,
    * so any engine reproduces the bin. */
  private def bin(c: Column, lo: Long, hi: Long, bits: Int): Column =
    floor(((c - lit(lo)) * lit(1L << bits)).cast("double") /
      lit((hi - lo + 1).toDouble)).cast("long")

  /** The z-key column for fixed bounds (use with sortWithinPartitions
    * / repartitionByRange when writing). */
  def zKey(colA: Column, colB: Column, b: Bounds, bits: Int): Column =
    zValue(bin(colA, b.aLo, b.aHi, bits), bin(colB, b.bLo, b.bHi, bits),
      bits)

  /** Write `df` hash-bucketed AND per-bucket-sorted on `key` as an
    * external parquet table, and return the re-read table. Joining two
    * tables bucketed on their join keys with the SAME bucket count
    * plans a SortMergeJoin with ZERO exchanges — the co-location was
    * paid once at write time, so at 100 TB every subsequent join /
    * aggregation on the key is shuffle-free. The `repartition` on the
    * key uses the same Murmur3-pmod hash as the bucketing layer, so
    * each task holds exactly one bucket's rows → one file per bucket.
    * (Stock Spark only trusts the per-bucket sort under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering`, so a LOCAL
    * per-bucket Sort remains in the join plan — already-sorted input,
    * no exchange; the cross-partition shuffle is what's eliminated.) */
  def bucketed(df: DataFrame, table: String, dir: String, key: String,
      buckets: Int): DataFrame = {
    val s = df.sparkSession
    df.repartition(buckets, col(key))
      .write.mode("overwrite").option("path", s"$dir/$table")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
    s.table(table)
  }

  /** Per-z-bucket extent stats: the data-skipping evidence. Each
    * bucket maps to exactly one (binA, binB) pair, so both dimensions
    * are bounded inside every bucket — the property file-level min/max
    * pruning relies on. */
  def zorderStats(df: DataFrame, colA: String, colB: String,
      bits: Int): DataFrame = {
    val b = bounds(df, colA, colB)
    df.groupBy(zKey(col(colA), col(colB), b, bits).as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(colA)).as("a_min"), max(col(colA)).as("a_max"),
        min(col(colB)).as("b_min"), max(col(colB)).as("b_max"))
  }

  /** Hilbert-curve index of two `bits`-bit bins (X187 — the
    * locality-BETTER alternative to the Morton/Z key: consecutive
    * Hilbert indices are always Manhattan-adjacent cells, where the
    * Z curve takes long diagonal jumps at quadrant seams, so range
    * scans touch fewer files; the curve public lakehouse engines
    * added after Z-order for exactly this reason). The standard xy2d
    * bit transform (flip + swap per level) UNROLLED at plan-build
    * time into pure integer CASE arithmetic — no custom expression,
    * no loop at runtime, and the SQL twin unrolls the identical
    * levels, so the key replays exactly on any engine. */
  def hilbertKey(xb: Column, yb: Column, bits: Int): Column = {
    var x = xb
    var y = yb
    var d = lit(0L)
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = when(x.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(y.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      d = d + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry)
      // rotate the quadrant: flip (only when rx=1 in the ry=0 half),
      // then swap x/y (only in the ry=0 half)
      val xf = when(ry === 0 && rx === 1, lit(s - 1) - x).otherwise(x)
      val yf = when(ry === 0 && rx === 1, lit(s - 1) - y).otherwise(y)
      val nx = when(ry === 0, yf).otherwise(xf)
      val ny = when(ry === 0, xf).otherwise(yf)
      x = nx
      y = ny
      s >>= 1
    }
    d
  }

  /** [[hilbertKey]] as a STAGED projection chain (r20 — guide §7.3 /
    * VERDICT r19 #5: the single-Column form substitutes x and y into
    * themselves per level, so the expression tree grows ~4^levels —
    * q_hilbert_stats carried a 149 KB Project and its 4 s wall was
    * ~all driver planning/codegen, 0.1 s of task time. Here each
    * level lands in its own projection: CollapseProject will not
    * inline a non-cheap alias referenced more than once, so the plan
    * stays linear in `bits`, and whole-stage codegen evaluates every
    * level once into a local. Arithmetic is IDENTICAL per level —
    * the Column form stays (HilbertSpec pins it on the 16×16 grid)
    * and feeds the equivalence test against this one. */
  def hilbertKeyed(df: DataFrame, xb: Column, yb: Column, bits: Int,
      out: String): DataFrame = {
    // the staging columns are overwritten and dropped: a caller column
    // of the same name would silently vanish
    val staging = Seq("__hx", "__hy", "__rx", "__ry", "__xf", "__yf")
    require(!staging.contains(out) &&
      !staging.exists(df.columns.contains),
      s"hilbertKeyed: `$out` and the input columns must avoid " +
        staging.mkString(", "))
    var cur = df.withColumn("__hx", xb).withColumn("__hy", yb)
      .withColumn(out, lit(0L))
    var s = 1L << (bits - 1)
    while (s > 0) {
      cur = cur
        .withColumn("__rx",
          when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("__ry",
          when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn(out, col(out) +
          lit(s * s) * (lit(3L) * col("__rx")).bitwiseXOR(col("__ry")))
        .withColumn("__xf",
          when(col("__ry") === 0 && col("__rx") === 1,
            lit(s - 1) - col("__hx")).otherwise(col("__hx")))
        .withColumn("__yf",
          when(col("__ry") === 0 && col("__rx") === 1,
            lit(s - 1) - col("__hy")).otherwise(col("__hy")))
        .withColumn("__hx",
          when(col("__ry") === 0, col("__yf")).otherwise(col("__xf")))
        .withColumn("__hy",
          when(col("__ry") === 0, col("__xf")).otherwise(col("__yf")))
        .drop("__rx", "__ry", "__xf", "__yf")
      s >>= 1
    }
    cur.drop("__hx", "__hy")
  }

  /** [[zorderStats]]'s Hilbert twin: per-hilbert-bucket extents. */
  def hilbertStats(df: DataFrame, colA: String, colB: String,
      bits: Int): DataFrame = {
    val b = bounds(df, colA, colB)
    val ak = bin(col(colA), b.aLo, b.aHi, bits)
    val bk = bin(col(colB), b.bLo, b.bHi, bits)
    hilbertKeyed(df, ak, bk, bits, "hbucket")
      .groupBy("hbucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col(colA)).as("a_min"), max(col(colA)).as("a_max"),
        min(col(colB)).as("b_min"), max(col(colB)).as("b_max"))
  }
}
