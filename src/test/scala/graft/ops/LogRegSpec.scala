package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Contracts of the X189 logistic-regression stack: GD against a
  * driver recompute on a tiny separable problem, the loss-descent
  * property the standardization exists to buy, and genuine learning
  * (accuracy above the majority rate) on the real corpus. */
class LogRegSpec extends SparkSuite {
  import spark.implicits._

  private def sigmoid(z: Double) = 1.0 / (1.0 + math.exp(-z))

  test("fit: matches a driver-side replay of the same pinned rounds " +
      "on a small frame") {
    val rows = Seq(
      (1L, 1.0, Seq(1.0, 2.0, 0.5)),
      (2L, 0.0, Seq(1.0, -1.0, 0.25)),
      (3L, 1.0, Seq(1.0, 1.5, -0.5)),
      (4L, 0.0, Seq(1.0, -2.0, 1.0)),
      (5L, 0.0, Seq(1.0, -0.5, 0.75)))
    val df = rows.toDF("doc_id", "y", "xs").repartition(3)
    val got = LogReg.fit(df, "xs", "y", dims = 3, iters = 6,
      lrs = Seq(1.0)).head._1
    // driver replay with the identical qround(6) lanes
    var w = Array(0.0, 0.0, 0.0)
    for (_ <- 1 to 6) {
      val g = Array.fill(3)(0.0)
      rows.foreach { case (_, y, xs) =>
        val p = sigmoid(xs.zip(w).map { case (x, ww) => x * ww }.sum)
        for (j <- 0 until 3) g(j) += (p - y) * xs(j)
      }
      w = Array.tabulate(3)(j => q6(w(j) - 1.0 * q6(g(j) / rows.size)))
    }
    assert(got.toSeq === w.toSeq)
  }

  test("fit on the corpus: loss descends monotonically across rounds " +
      "and the final model beats the majority-class rate") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val feats = LogReg.hashedStdFeatures(docs, k = 128)
      .localCheckpoint(true)
    val collected = feats.select("y", "xs").collect()
      .map(r => (r.getDouble(0), r.getSeq[Double](1).toArray))
    val n = collected.length.toDouble
    def loss(w: Array[Double]): Double =
      -collected.map { case (y, xs) =>
        val p = sigmoid(xs.zip(w).map { case (x, ww) => x * ww }.sum)
        val pc = math.max(1e-12, math.min(1.0 - 1e-12, p))
        y * math.log(pc) + (1 - y) * math.log(1 - pc)
      }.sum / n
    val losses = (0 to 16 by 4).map { t =>
      loss(LogReg.fit(feats, "xs", "y", dims = 129, iters = t,
        lrs = Seq(1.0)).head._1)
    }
    assert(losses.sliding(2).forall { case Seq(a, b) => b < a },
      s"loss not descending: $losses")
    val w = LogReg.fit(feats, "xs", "y", dims = 129, iters = 16,
      lrs = Seq(1.0)).head._1
    val scored = LogReg.score(feats, "doc_id", "xs", "y", w)
    val agg = scored.agg(
      avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)),
      avg(col("label").cast("double"))).head()
    val acc = agg.getDouble(0)
    val posRate = agg.getDouble(1)
    val majority = math.max(posRate, 1 - posRate)
    assert(acc > majority + 0.02,
      s"accuracy $acc does not beat majority $majority")
  }

  test("fit: loss lane rides the gradient pass — round-1 loss " +
      "is ln 2 and the curve descends at a conservative rate") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val feats = LogReg.hashedStdFeatures(docs, k = 128)
      .localCheckpoint(true)
    val Seq((_, losses)) = LogReg.fit(feats, "xs", "y", 129,
      iters = 6, lrs = Seq(0.25))
    // w0 = 0 -> p = 0.5 everywhere -> loss = ln 2 (qround 6)
    assert(losses.head === math.floor(math.log(2.0) * 1e6 + 0.5) / 1e6)
    assert(losses.sliding(2).forall { case Seq(a, b) => b < a },
      s"curve not descending at lr=0.25: $losses")
  }

  test("fit: a 3-rate run ≡ each rate as a 1-rate run " +
      "(weights and losses exactly equal)") {
    val docs = graft.Tables.documents(spark, Sf0001)
    val feats = LogReg.hashedStdFeatures(docs, k = 128)
      .localCheckpoint(true)
    val lrs = Seq(0.25, 1.0, 4.0)
    val fused = LogReg.fit(feats, "xs", "y", 129,
      iters = 4, lrs = lrs)
    lrs.zip(fused).foreach { case (lr, (wF, lossF)) =>
      val Seq((wS, lossS)) = LogReg.fit(feats, "xs", "y", 129,
        iters = 4, lrs = Seq(lr))
      assert(wF.toSeq === wS.toSeq, s"weights differ at lr=$lr")
      assert(lossF === lossS, s"losses differ at lr=$lr")
    }
  }

  test("score: floored sigmoid, pred thresholds at 0.5") {
    val df = Seq((1L, 1.0, Seq(1.0)), (2L, 0.0, Seq(-1.0)))
      .toDF("doc_id", "y", "xs")
    val out = LogReg.score(df, "doc_id", "xs", "y", Array(2.0))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("pred") === 1L)
    assert(out(1).getAs[Long]("pred") === 0L)
    val s0 = out(0).getAs[Double]("score")
    assert(s0 === math.floor(sigmoid(2.0) * 1e6 + 0.5) / 1e6)
  }
}
