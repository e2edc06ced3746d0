package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Contracts of the X194 ALS stack: the closed-form 2×2 solve
  * against a driver recompute, the deterministic start, and the
  * variance-explained property on the real ratings matrix. */
class AlsSpec extends SparkSuite {
  import spark.implicits._

  test("solve: matches the driver closed form on one entity") {
    // one user, two rated items with factors (1, .2) and (1, -.1)
    val j = Seq(
      (7L, 3.0, 1.0, 0.2),
      (7L, 5.0, 1.0, -0.1))
      .toDF("u", "r", "f1", "f2")
    val out = Als.solve(j, "u", lambda = 0.1).head()
    val (a11, a12, a22) = (q6(1.0 + 1.0), q6(0.2 - 0.1),
      q6(0.04 + 0.01))
    val (b1, b2) = (q6(3.0 + 5.0), q6(0.6 - 0.5))
    val det = (a11 + 0.1) * (a22 + 0.1) - a12 * a12
    assert(out.getAs[Double]("f1") ===
      q6(((a22 + 0.1) * b1 - a12 * b2) / det))
    assert(out.getAs[Double]("f2") ===
      q6(((a11 + 0.1) * b2 - a12 * b1) / det))
  }

  test("initFactors: pinned deterministic start") {
    val f = Als.initFactors(Seq(0L, 3L, 10L).toDF("i"), "i")
      .orderBy("i").collect()
    assert(f.map(_.getAs[Double]("f1")).toSeq === Seq(1.0, 1.0, 1.0))
    assert(f.map(_.getAs[Double]("f2")).toSeq ===
      Seq(-0.3, 0.0, 0.0)) // 10 % 7 = 3 -> (3-3)/10 = 0
  }

  test("run on the corpus: finite factors, reconstruction beats the " +
      "global-mean baseline") {
    val ratings = graft.Tables.lineitem(spark, Sf0001)
      .join(graft.Tables.orders(spark, Sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .agg(graft.functions.Num.qround(sum("l_quantity"), 6).as("r"))
      .localCheckpoint(true)
    val (uF, vF) = Als.run(ratings, "u", "i",
      graft.Tables.part(spark, Sf0001).select(col("p_partkey").as("i")),
      iters = 3, lambda = 0.1)
    assert(uF.filter(col("f1").isNull || col("f2").isNull ||
      isnan(col("f1")) || isnan(col("f2"))).count() === 0L)
    assert(vF.filter(col("f1").isNull || col("f2").isNull).count() === 0L)
    val pr = ratings
      .join(uF.select(col("u"), col("f1").as("uf1"), col("f2").as("uf2")),
        "u")
      .join(vF.select(col("i"), col("f1").as("vf1"), col("f2").as("vf2")),
        "i")
      .select(col("r"),
        (col("uf1") * col("vf1") + col("uf2") * col("vf2")).as("pred"))
    val row = pr.agg(
      sqrt(avg((col("r") - col("pred")) * (col("r") - col("pred")))),
      stddev_pop(col("r"))).head()
    val (rmse, sd) = (row.getDouble(0), row.getDouble(1))
    assert(rmse < sd, s"rmse $rmse does not beat baseline sd $sd")
  }
}
