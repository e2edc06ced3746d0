package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The one Lloyd round loop: a multi-lane PQ fit ([[Lloyd.fitL2]]
  * with one lane per subspace — one exploded aggregate per round)
  * must be BIT-IDENTICAL per subspace to a 1-lane run of that
  * subspace, on the real embedding corpus and the real subspace
  * slices the PQ family uses; the spherical [[Lloyd.fit]] is pinned
  * to exact centroids on a small frame. */
class LloydSpec extends SparkSuite {

  test("fitL2: a 4-lane run ≡ each subspace as a 1-lane run " +
      "(codebooks exactly equal)") {
    val frame = graft.Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val subs = 0 until 4
    val solo = subs.map { sub =>
      val Seq(book) = Lloyd.fitL2(frame,
        Seq(slice(col("v"), 16 * sub + 1, 16)),
        "vec_id", k = 4, dim = 16, iters = 2)
      book
    }
    val fused = Lloyd.fitL2(frame,
      subs.map(sub => slice(col("v"), 16 * sub + 1, 16)),
      "vec_id", k = 4, dim = 16, iters = 2)
    assert(fused.length === solo.length)
    subs.foreach { sub =>
      assert(fused(sub).length === solo(sub).length)
      fused(sub).zip(solo(sub)).zipWithIndex.foreach {
        case ((f, s), c) =>
          assert(f.toSeq === s.toSeq, s"sub $sub centroid $c")
      }
    }
  }

  test("fit: exact spherical centroids on a small 3-dim frame") {
    import spark.implicits._
    val frame = Seq(
      (1L, Seq(1.0, 0.2, 0.1)), (2L, Seq(0.1, 1.0, 0.3)),
      (3L, Seq(0.9, 0.4, 0.0)), (4L, Seq(0.2, 0.8, 0.6)),
      (5L, Seq(0.0, 0.3, 1.0)), (6L, Seq(0.7, 0.1, 0.5)),
      (7L, Seq(0.3, 0.9, 0.1)), (8L, Seq(0.1, 0.2, 0.9)))
      .toDF("id", "v").repartition(3)
    val cents = Lloyd.fit(frame, "v", "id", k = 3, dim = 3, iters = 3)
    assert(cents.map(_.toSeq).toSeq === Seq(
      Seq(0.9301986137797909, 0.16415269654937484, 0.3283053930987497),
      Seq(0.16000261230887305, 0.731440513411991, 0.6628679652796169),
      Seq(0.9138115486202572, 0.4061384660534476, 0.0)))
  }

  test("fit: duplicate ids among the init rows are rejected, not " +
      "broken silently") {
    import spark.implicits._
    val frame = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (0L, Seq(0.0, 1.0, 0.0)),
      (1L, Seq(0.0, 0.0, 1.0)), (2L, Seq(0.5, 0.5, 0.0)))
      .toDF("id", "v")
    val ex = intercept[IllegalArgumentException] {
      Lloyd.fit(frame, "v", "id", k = 2, dim = 3, iters = 1)
    }
    assert(ex.getMessage.contains("duplicate id"))
  }
}
