package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col

/** The buffer codec and merge DoubleVecSum and DoubleVecAxpy share:
  * a serialized partial decodes to the same doubles, bit for bit, and
  * both aggregates survive partition merges. */
class VecAggregatesSpec extends SparkSuite {
  import spark.implicits._

  private val buf = Array(1.5, -0.0, Double.MaxValue,
    Double.MinPositiveValue, Double.NegativeInfinity, Double.NaN)

  private def bits(a: Array[Double]) =
    a.map(java.lang.Double.doubleToRawLongBits).toSeq

  test("DoubleVecSum: serialize then deserialize returns the buffer") {
    val agg = DoubleVecSum(Literal(null), buf.length)
    assert(bits(agg.deserialize(agg.serialize(buf.clone()))) === bits(buf))
  }

  test("DoubleVecAxpy: serialize then deserialize returns the buffer") {
    val agg = DoubleVecAxpy(Literal(null), Literal(null), buf.length)
    assert(bits(agg.deserialize(agg.serialize(buf.clone()))) === bits(buf))
  }

  test("DoubleVecAxpy: sum of scalar times array survives partition " +
      "merges (integer-valued doubles, exact under any fold order)") {
    val rows = (1 to 100).map(i => (
      Array(i.toDouble, (2 * i).toDouble, (i % 7).toDouble),
      (i % 3).toDouble))
    val df = spark.sparkContext.parallelize(rows, 8).toDF("v", "s")
    val got = df.agg(VecAggregates.vecAxpy(col("v"), col("s"), 3))
      .head().getSeq[Double](0)
    val want = rows.map { case (v, s) => v.map(_ * s) }.transpose.map(_.sum)
    assert(got.toSeq === want.toSeq)
  }
}
