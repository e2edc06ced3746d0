package graft.engine

import graft.SparkSuite

class CleanPipelineSpec extends SparkSuite {
  import spark.implicits._

  test("clean: single-projection drop+rename (replaces ref WHILE loops :143-270)") {
    val df = Seq(("1", "x", "y"), ("2", "p", "q"))
      .toDF("id", "raw_a", "raw_b")
    val out = CleanPlan(drops = Seq("raw_b"),
      renames = Map("raw_a" -> "Clean A")).select(df)
    assert(out.columns.toSeq === Seq("id", "Clean A"))
    assert(out.orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("x", "p"))
  }

  test("readTsv strips BOM and quotes from header names (ref F1 :35-37)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bom")
    val f = dir.resolve("bom.txt")
    java.nio.file.Files.write(f,
      "\uFEFF\"AGENCY_CODE\"\tName\nA1\tfoo\n".getBytes("UTF-8"))
    val df = Ingest.readTsv(spark, f.toString)
    assert(df.columns.toSeq === Seq("AGENCY_CODE", "Name"))
    assert(df.collect().head.getString(0) === "A1")
  }

  test("clean handles metachar column names (SURVEY §7 hygiene risk)") {
    val df = Seq(("1", "v")).toDF("id", "School Level-Original")
    val out = CleanPlan(Seq.empty,
      Map("School Level-Original" -> "Level/Std Name")).select(df)
    assert(out.columns.toSeq === Seq("id", "Level/Std Name"))
  }
}
