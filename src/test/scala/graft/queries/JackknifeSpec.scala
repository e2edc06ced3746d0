package graft.queries

import graft.SparkSuite

/** Contracts of the X196 grouped jackknife: leave-one-out ratios and
  * the variance formula against a driver recompute. */
class JackknifeSpec extends SparkSuite {

  private lazy val out = StatsQueries.jackknife.fn(spark, Sf0001)
    .collect()

  test("leave-one-out ratios and se match a driver recompute") {
    val xs = out.map(_.getAs[Long]("n_docs"))
    val ys = out.map(_.getAs[Long]("n_en"))
    val (tx, ty, g) = (xs.sum, ys.sum, out.length)
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("r_loo") ===
        (ty - ys(i)).toDouble / (tx - xs(i)).toDouble)
      assert(r.getAs[Double]("r_full") === ty.toDouble / tx.toDouble)
    }
    val loos = out.map(_.getAs[Double]("r_loo"))
    val rbar = q6(loos.sum / g)
    val ss = q6(loos.map(v => (v - rbar) * (v - rbar)).sum)
    val se = math.sqrt((g - 1).toDouble / g * ss)
    assert(math.abs(out.head.getAs[Double]("se_jack") - se) < 1e-9)
    // CI brackets the point estimate
    out.foreach { r =>
      assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("r_full"))
      assert(r.getAs[Double]("ci_hi") >= r.getAs[Double]("r_full"))
    }
  }
}
