package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one graph-ANN walk (`SimilarityQueries.beamWalk`): the two
  * claims every lane-batched and continued serve row rests on, pinned
  * on the exact kNN scaffold (no index dir) — lanes are independent,
  * and a continued walk is the same walk run longer. */
class BeamWalkSpec extends SparkSuite {

  import SimilarityQueries.{beamScore, beamWalk}

  private lazy val e = SimilarityQueries.simEmbFrame(spark, Sf0001)
  private lazy val ug = SimilarityQueries.symmetrized(
    SimilarityQueries.exactGraphEdges(e, 16))
  private lazy val qs = e.filter(col("id") >= 100L && col("id") < 120L)
    .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))

  /** Scored entry-0 seeds, tagged with `lane` when given. */
  private def seen0(lane: Option[Int]): DataFrame = {
    val seeds = qs.select(col("qid"), lit(0L).as("node"))
      .filter(col("node") =!= col("qid"))
    beamScore(e, qs, lane.fold(seeds)(l =>
      seeds.select(lit(l).as("lane"), col("qid"), col("node"))))
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("qid", "node", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("beamWalk: a two-lane walk is each lane walked alone") {
    val alone = Map(1 -> (4, 3), 2 -> (8, 5)).map { case (l, (b, h)) =>
      l -> rows(beamWalk(e, ug, qs, seen0(None),
        beam = Map(0 -> b), hops = Map(0 -> h)))
    }
    val both = beamWalk(e, ug, qs,
      seen0(Some(1)).unionByName(seen0(Some(2))),
      beam = Map(1 -> 4, 2 -> 8), hops = Map(1 -> 3, 2 -> 5))
      .localCheckpoint(true)
    assert(alone(1) != alone(2), "lanes must differ for the pin to bite")
    Seq(1, 2).foreach { l =>
      val lane = rows(both.filter(col("lane") === l))
      assert(lane.nonEmpty)
      assert(lane == alone(l), s"lane $l diverged from its solo walk")
    }
  }

  test("beamWalk: continuing from top-beam(seen) = the same walk run longer") {
    val beam = 8
    val short = beamWalk(e, ug, qs, seen0(None),
      beam = Map(0 -> beam), hops = Map(0 -> 2))
    val top = short.withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("node"))))
      .filter(col("rn") <= beam).select("qid", "node")
    val continued = rows(beamWalk(e, ug, qs, short,
      beam = Map(0 -> beam), hops = Map(0 -> 3), frontier0 = Some(top)))
    val longer = rows(beamWalk(e, ug, qs, seen0(None),
      beam = Map(0 -> beam), hops = Map(0 -> 5)))
    assert(continued.size > rows(short).size, "the continuation added nothing")
    assert(continued == longer)
  }
}
