package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._

/** Contracts of the X175/X176 graph additions beyond the oracle hash:
  * link-prediction scores against a driver-side brute force, and the
  * warm-start claim of incremental PageRank (a warm 2-round run must
  * land closer to the fixed point than a cold 2-round run). */
class GraphPredictSpec extends SparkSuite {

  private def carve(d: String) =
    graft.Tables.documents(spark, d).select(
      (col("doc_id") % 50).as("src"),
      (conv(substring(md5(concat(lit("pr:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 50).as("dst"))

  test("q_link_predict: scores match a driver-side brute force") {
    val edges = carve(Sf0001).filter(col("src") =!= col("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toSet
    val nb = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, s) => v -> s.map(_._2) }
    val want = (for {
      a <- nb.keys; b <- nb.keys
      if a < b && !und.contains((a, b))
      common = nb(a).intersect(nb(b))
      if common.nonEmpty
    } yield {
      val aa = q6(common.toSeq.map(z => 1.0 / q6(math.log(
        nb(z).size.toDouble))).sum)
      val j = common.size.toDouble / (nb(a).size + nb(b).size -
        common.size)
      (a, b) -> ((common.size.toLong, aa, j))
    }).toMap
    val got = SparkEntry.queries("q_link_predict")(spark, Sf0001)
      .collect()
    assert(got.nonEmpty && got.length <= 25)
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (cn, aa, j) = want(key)
      assert(r.getLong(2) === cn, key)
      assert(math.abs(r.getDouble(3) - aa) < 1e-9, key)
      assert(math.abs(r.getDouble(4) - j) < 1e-12, key)
    }
    // the emitted 25 are the TOP 25 under (aa desc, id_a, id_b)
    val topWant = want.toSeq
      .map { case ((a, b), (_, aa, _)) => (aa, a, b) }
      .sortBy { case (aa, a, b) => (-aa, a, b) }
      .take(got.length)
    assert(got.map(r => (r.getDouble(3), r.getLong(0), r.getLong(1)))
      .toSeq === topWant)
  }

  test("q_pagerank_delta: warm 2-round ranks beat a cold 2-round run " +
      "toward the fixed point, and delta is self-consistent") {
    val rows = SparkEntry.queries("q_pagerank_delta")(spark, Sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.0) // pr_inc
      if (!r.isNullAt(1))
        assert(math.abs(r.getDouble(3) -
          (r.getDouble(2) - r.getDouble(1))) < 1e-12)
      else assert(r.isNullAt(3))
    }
    // total incremental mass stays ≈ 1 (qround drift only)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    // the warm-start CLAIM: vs a 20-round reference on the new graph,
    // 2 warm rounds must be at least as close as 2 cold rounds
    val docs = graft.Tables.documents(spark, Sf0001)
    def carveOf(f: org.apache.spark.sql.DataFrame) = f.select(
      (col("doc_id") % 50).as("src"),
      (conv(substring(md5(concat(lit("pr:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 50).as("dst"))
    val nE = carveOf(docs.filter(col("doc_id") % 10 =!= 3))
    def toMapPr(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = toMapPr(graft.ops.PageRank.run(nE, "src", "dst", 20,
      CurationQueries.PrDamping))
    val cold = toMapPr(graft.ops.PageRank.run(nE, "src", "dst", 2,
      CurationQueries.PrDamping))
    val warm = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def dist(m: Map[Long, Double]) =
      ref.map { case (v, p) => math.abs(m.getOrElse(v, 0.0) - p) }.sum
    assert(dist(warm) <= dist(cold) + 1e-9,
      s"warm=${dist(warm)} cold=${dist(cold)}")
  }
}
