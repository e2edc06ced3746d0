package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Contracts of the X195 CUPED readout: θ/uplift identities against
  * a driver recompute from the per-user frame, and the variance
  * properties the adjustment exists for. */
class CupedSpec extends SparkSuite {

  private lazy val row = DiagnosticsQueries.cuped.fn(spark, Sf0001)
    .head()

  private lazy val users = {
    val ev = graft.Tables.events(spark, Sf0001)
    val b = ev.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).head()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val us = unix_micros(col("ts"))
    ev.groupBy(col("user_id"),
        graft.ops.Bloom.hashMod("cuped:", col("user_id"), 2)
          .as("cohort"))
      .agg(
        graft.functions.Num
          .qround(sum(when(us < mid, col("value")).otherwise(0.0)), 6)
          .as("x"),
        graft.functions.Num
          .qround(sum(when(us >= mid, col("value")).otherwise(0.0)), 6)
          .as("y"))
      .collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
  }

  test("theta and the raw uplift match a driver recompute") {
    val n = users.length.toDouble
    val mx = q6(users.map(_._2).sum / n)
    val my = q6(users.map(_._3).sum / n)
    val exy = q6(users.map(u => u._2 * u._3).sum / n)
    val ex2 = q6(users.map(u => u._2 * u._2).sum / n)
    val theta = (exy - mx * my) / (ex2 - mx * mx)
    assert(math.abs(row.getAs[Double]("theta") - theta) < 1e-6)
    val a = users.filter(_._1 == 0L)
    val b = users.filter(_._1 == 1L)
    val uplift = b.map(_._3).sum / b.length - a.map(_._3).sum / a.length
    assert(math.abs(row.getAs[Double]("uplift_raw") - uplift) < 1e-4)
    assert(row.getAs[Long]("n_a") === a.length.toLong)
    assert(row.getAs[Long]("n_b") === b.length.toLong)
  }

  test("the pooled adjustment never inflates variance") {
    // theta is the OLS minimizer of pooled var(y - theta*x), so the
    // POOLED reduction is >= 0 up to the qround(6) lanes. Per-cohort
    // SEs carry no such guarantee — on this near-zero-correlation
    // corpus (rho^2 ~ 0.005) one cohort's variance can tick up by
    // chance — so the SE pin is agreement-shaped, not an inequality.
    assert(row.getAs[Double]("var_reduction") > -1e-3)
    val ratio = row.getAs[Double]("se_cuped") /
      row.getAs[Double]("se_raw")
    assert(ratio > 0.9 && ratio < 1.01,
      s"se ratio $ratio outside the near-no-op band")
  }
}
