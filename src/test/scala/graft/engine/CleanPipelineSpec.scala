package graft.engine

import graft.SparkSuite
import org.apache.spark.sql.functions.col

class CleanPipelineSpec extends SparkSuite {
  import spark.implicits._

  test("clean: single-projection drop+rename (replaces ref WHILE loops :143-270)") {
    val df = Seq(("1", "x", "y"), ("2", "p", "q"))
      .toDF("id", "raw_a", "raw_b")
    val out = CleanPipeline.clean(df,
      CleanPlan(drops = Seq("raw_b"), renames = Map("raw_a" -> "Clean A")))
    assert(out.columns.toSeq === Seq("id", "Clean A"))
    assert(out.orderBy("id").collect().map(_.getString(1)).toSeq ===
      Seq("x", "p"))
  }

  test("globalRowNumber: dense 1..N in order-column order (ref :163)") {
    val df = Seq("c", "a", "b").toDF("k")
    val out = CleanPipeline.globalRowNumber(df, "k")
      .orderBy("row_num").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("scalableRowKey: unique dense 1..N without a global window") {
    val df = spark.range(0, 1000).toDF("k").repartition(7)
    val out = CleanPipeline.scalableRowKey(df, "k")
    val keys = out.select("row_num").collect().map(_.getLong(0)).sorted
    assert(keys.toSeq === (1L to 1000L))
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

  test("scalableRowKey reproduces global numbering for range-disjoint partitions") {
    // repartitionByRange gives partitions with disjoint ranges but in
    // nondeterministic partition-id order relative to values
    val df = spark.range(0, 500).toDF("k").repartitionByRange(5,
      org.apache.spark.sql.functions.col("k").desc)
    val got = CleanPipeline.scalableRowKey(df, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    // k ascending must map to row_num 1..500 exactly
    assert(got.toSeq === (0L until 500L).map(k => (k, k + 1)))
  }

  test("clean handles metachar column names (SURVEY §7 hygiene risk)") {
    val df = Seq(("1", "v")).toDF("id", "School Level-Original")
    val out = CleanPipeline.clean(df, CleanPlan(Seq.empty,
      Map("School Level-Original" -> "Level/Std Name")))
    assert(out.columns.toSeq === Seq("id", "Level/Std Name"))
  }
}
