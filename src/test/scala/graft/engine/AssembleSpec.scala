package graft.engine

import graft.SparkSuite
import org.apache.spark.sql.functions._

class AssembleSpec extends SparkSuite {

  test("joinClaims on 200 shared columns: keys, lunch, breakfast with _b suffixes") {
    val shared = (0 until 200).map(i => s"m$i")
    // one row per side; district ids differ only in zero padding
    def side(district: String, tag: String, own: String) =
      spark.range(1).select(Seq(lit("Alpha").as("school name"),
          lit("2017-10-01").as("claim date"), lit(district).as("district id")) ++
        shared.map(c => lit(s"$tag$c").as(c)) :+ lit(tag).as(own): _*)
    val out = Assemble.joinClaims(side("77", "L", "lunch only"),
      side("000077", "B", "breakfast only"))
    assert(out.columns.toSeq ===
      Seq("school name", "claim date", "district id") ++ shared ++
        Seq("lunch only", "district id_b") ++ shared.map(_ + "_b") ++
        Seq("breakfast only"))
    val row = out.collect().toSeq
    assert(row.size === 1)
    assert(row.head.getAs[String]("m7") === "Lm7")
    assert(row.head.getAs[String]("m7_b") === "Bm7")
    assert(row.head.getAs[String]("district id_b") === "000077")
  }
}
