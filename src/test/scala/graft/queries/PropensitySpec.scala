package graft.queries

import graft.SparkSuite

/** Contracts of the X202 propensity stratification: effect lanes
  * recompute from the stratum rows, and stratification removes
  * confounded association the naive difference carries. */
class PropensitySpec extends SparkSuite {

  private lazy val rows = DiagnosticsQueries.propensityStrat
    .fn(spark, Sf0001).collect().sortBy(_.getAs[Long]("stratum"))

  test("ate/att recompute from the per-stratum cells") {
    val cells = rows.map(r => (r.getAs[Long]("n1"),
      r.getAs[Long]("n0"),
      Option(r.getAs[Any]("diff")).map(_.asInstanceOf[Double])))
    val tn = cells.map(c => c._1 + c._2).sum.toDouble
    val tn1 = cells.map(_._1).sum.toDouble
    val ate = q6(cells.collect { case (n1, n0, Some(d)) =>
      (n1 + n0).toDouble / tn * d }.sum)
    val att = q6(cells.collect { case (n1, _, Some(d)) =>
      n1.toDouble / tn1 * d }.sum)
    assert(rows.head.getAs[Double]("ate_strat") === ate)
    assert(rows.head.getAs[Double]("att") === att)
  }

  test("strata partition the population and the effect lanes are " +
      "constant across rows") {
    // NOTE: |ate_strat| < |naive| is NOT pinned — bias reduction
    // holds in expectation, and sf0.01 shows it (naive 1.59 → ate
    // 0.09), but the 150-user sf0.001 slice realizes a near-zero
    // naive gap by chance, so only structural properties are pinned
    // at this scale.
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("n0") + r.getAs[Long]("n1") > 0L)
      assert(r.getAs[Double]("ate_strat") ===
        rows.head.getAs[Double]("ate_strat"))
      assert(r.getAs[Double]("att") === rows.head.getAs[Double]("att"))
      assert(r.getAs[Double]("naive_diff") ===
        rows.head.getAs[Double]("naive_diff"))
    }
    val total = rows.map(r =>
      r.getAs[Long]("n0") + r.getAs[Long]("n1")).sum
    val users = graft.Tables.events(spark, Sf0001)
      .select("user_id").distinct().count()
    assert(total === users)
  }
}
