package graft.engine

import graft.SparkSuite
import org.apache.spark.sql.Row

/** Golden-file test: the synthetic WI fixtures (FIXTURES.md A1-A3)
  * through the full clean pipeline (SURVEY §5 test plan). */
class PipelineGoldenSpec extends SparkSuite {

  lazy val result = Pipeline.run(spark, Pipeline.Config(
    dict1Path = fixture("data_dictionary_template_1.txt"),
    dict2Path = fixture("data_dictionary_template_2.txt"),
    breakfastPath = fixture("2017_2018_SBP_MEAL_PARTICIPATION.txt"),
    lunchPath = fixture("2017_2018_NSLP_MEAL_PARTICIPATION.txt")))

  lazy val rows: Map[String, Row] =
    result.collect().map(r => r.getAs[String]("school name") -> r).toMap

  test("inner join keeps only schools present in both files, pad-normalized") {
    // Gamma (lunch-only) and Epsilon (breakfast-only) drop out; Alpha
    // joins across '1234' vs '001234' via zero-pad normalization.
    assert(rows.keySet === Set("Alpha School", "Beta School", "Delta School"))
  }

  test("dictionary drops: AGENCY_NAME (NOT USED) and JUNK_COL (unmatched)") {
    val cols = result.columns.toSet
    assert(!cols.contains("AGENCY_NAME"))
    assert(!cols.exists(_.startsWith("JUNK_COL")))
    // 1:1 rename applied (both sides; breakfast copy suffixed on overlap)
    assert(cols.contains("Agency Code"))
  }

  /** The wide table's column order: the join keys, the lunch side (its
    * cleaned file order, then the derived columns in the order the
    * pipeline adds them), then the breakfast side likewise, with every
    * non-key name it shares with the lunch side suffixed `_b`. */
  private def wideColumns(lunchFile: Seq[String], breakfastFile: Seq[String]) =
    Seq("school name", "claim date") ++ lunchFile ++ Seq(
      "School Type-Original", "FR Lunch Meals", "FR Lunch ADP", "Unique ID",
      "NCES ID", "School_Year", "Target Area", "FR Enrollment",
      "FR Enrollment Percentage", "School Level-Standardized",
      "School Type-Standardized") ++ breakfastFile ++ Seq(
      "TRADITIONAL_MODEL", "MID_MORNING_MODEL", "CLASSROOM_MODEL",
      "REDUCED_PRICE_MODEL", "GRAB_N_GO_MODEL", "FREE_MODEL",
      "Breakfast Meals-Free", "Breakfast Meals-Reduced",
      "Breakfast Meals-Free and Reduced", "Operating Days-Breakfast Only",
      "Operating Days_b", "Breakfast Delivery Model from State Agency-Original",
      "FR Breakfast Meals", "FR Breakfast ADP")

  private val lunchMeasures = Seq("Lunch Meals-Free", "Lunch Meals-Reduced",
    "Lunch Meals-Free and Reduced", "Lunch Meals-Paid",
    "Operating Days-Lunch Only", "Operating Days", "Enrollment-Free",
    "Enrollment-Reduced", "Enrollment-Free and Reduced", "Enrollment-Total",
    "School Year")

  test("WI wide table: full ordered column list") {
    assert(result.columns.toSeq === wideColumns(
      Seq("Agency Code", "district id", "School ID", "PUBLIC", "SCHOOL TYPE",
        "School Level-Original", "CEP (Y/N)") ++ lunchMeasures,
      Seq("Agency Code_b", "district id_b", "School ID_b")))
  }

  test("MN wide table: full ordered column list (raw columns reordered)") {
    val mn = Pipeline.run(spark, Pipeline.Config(
      dict1Path = fixture("data_dictionary_template_1.txt"),
      dict2Path = fixture("data_dictionary_template_2.txt"),
      breakfastPath = fixture("MN_2017_2018_SBP_MEAL_PARTICIPATION.txt"),
      lunchPath = fixture("MN_2017_2018_NSLP_MEAL_PARTICIPATION.txt"),
      state = "MN"))
    assert(mn.columns.toSeq === wideColumns(
      Seq("Agency Code", "School ID", "district id", "PUBLIC", "SCHOOL TYPE",
        "CEP (Y/N)", "School Level-Original") ++ lunchMeasures,
      Seq("Agency Code_b", "district id_b", "School ID_b")))
  }

  test("derived measures: split sum + specific days (Alpha)") {
    val a = rows("Alpha School")
    assert(a.getAs[Double]("FR Lunch Meals") === 120.0)
    assert(a.getAs[Double]("FR Lunch ADP") === 120.0 / 20.0)
    assert(a.getAs[Double]("FR Breakfast Meals") === 50.0)
    assert(a.getAs[Double]("FR Breakfast ADP") === 50.0 / 18.0)
    assert(a.getAs[Double]("FR Enrollment") === 200.0)
    assert(a.getAs[Double]("FR Enrollment Percentage") === 0.5) // CEP=N
    assert(a.getAs[String]("Unique ID") === "WI-077-1234")
    assert(a.getAs[String]("NCES ID") === "001234")
    assert(a.getAs[String]("School_Year") === "17-18") // backfilled
    assert(a.getAs[String]("School Type-Original") === "Public")
    assert(a.getAs[String]("School Type-Standardized") === "Public")
    assert(a.getAs[String]("School Level-Standardized") === "High")
  }

  test("spec'd coalesce fallbacks: combined meals + generic days (Beta)") {
    val b = rows("Beta School")
    assert(b.getAs[Double]("FR Lunch Meals") === 80.0)  // fallback column
    assert(b.getAs[Double]("FR Lunch ADP") === 80.0 / 20.0) // generic days
    assert(b.getAs[Double]("FR Breakfast Meals") === 60.0)
    assert(b.getAs[Double]("FR Breakfast ADP") === 60.0 / 20.0)
    assert(b.getAs[Double]("FR Enrollment") === 90.0)
    assert(b.getAs[Double]("FR Enrollment Percentage") === 60.0 / 70.0) // CEP=Y
    assert(b.getAs[String]("School_Year") === "16-17") // not backfilled
    assert(b.getAs[String]("School Type-Original") === "Nonpublic-RCCI")
    assert(b.getAs[String]("School Type-Standardized") === "RCCI")
    assert(b.getAs[String]("School Level-Standardized") === "Other")
  }

  test("edge semantics: div-by-zero days → NULL ADP; unknown CEP → NULL pct (Delta)") {
    val d = rows("Delta School")
    assert(d.getAs[Double]("FR Lunch Meals") === 15.0)
    assert(d.isNullAt(d.fieldIndex("FR Lunch ADP")))
    assert(d.isNullAt(d.fieldIndex("FR Enrollment Percentage")))
    assert(d.getAs[String]("School Level-Standardized") === "Other")
    assert(d.getAs[String]("Breakfast Delivery Model from State Agency-Original")
      === "O=Y, P=Y, C=Y, R=Y, G=Y, T=Y")
  }

  test("QA agreement harness on the produced table (ref :1116-1126 shape)") {
    val ag = Qa.agreement(result, result)
    assert(ag.countA === 3 && ag.countCommon === 3 && ag.ratio === 1.0)
  }

  private lazy val ncesCfg = Pipeline.Config(
    dict1Path = fixture("data_dictionary_template_1.txt"),
    dict2Path = fixture("data_dictionary_template_2.txt"),
    breakfastPath = fixture("2017_2018_SBP_MEAL_PARTICIPATION.txt"),
    lunchPath = fixture("2017_2018_NSLP_MEAL_PARTICIPATION.txt"),
    ncesPath = Some(fixture("WI_NCES_School_Data_SY15-16.txt")))

  test("cleanedNces: quoted headers stripped, dictionary drop/rename applied (A4)") {
    val nces = Pipeline.cleanedNces(spark, ncesCfg).get
    // quote-wrapped raw headers arrive clean; School Name renamed to
    // the claims-side clean name; NOT-USED (State School ID) and
    // unmatched (Junk Notes) columns dropped
    assert(nces.columns.toSeq ===
      Seq("school name", "NCES School ID", "District Name", "Grade Range"))
    val byName = nces.collect()
      .map(r => r.getAs[String]("school name") -> r).toMap
    assert(byName.keySet === Set("Alpha School", "Beta School",
      "Gamma School", "Epsilon School", "Zeta School"))
    assert(byName("Alpha School").getAs[String]("NCES School ID")
      === "550001000077")
    assert(byName("Zeta School").getAs[String]("District Name")
      === "Unused District")
  }

  test("runWithNcesJoin: intended NCES id joined, coded fallback where absent") {
    val joined = Pipeline.runWithNcesJoin(spark, ncesCfg)
    val byName = joined.collect()
      .map(r => r.getAs[String]("school name") -> r).toMap
    // same final row set as the plain pipeline (left join adds no rows)
    assert(byName.keySet === Set("Alpha School", "Beta School",
      "Delta School"))
    // in the NCES file → real school/site id
    assert(byName("Alpha School").getAs[String]("NCES ID") === "550001000077")
    assert(byName("Beta School").getAs[String]("NCES ID") === "550002000088")
    // Delta absent from the NCES file → coded zero-padded district id
    assert(byName("Delta School").getAs[String]("NCES ID") === "000042")
  }

  test("plain run is unaffected by configuring an NCES path (ref ignores it)") {
    val plain = Pipeline.run(spark, ncesCfg)
    assert(plain.columns.sameElements(result.columns))
    assert(plain.exceptAll(result).isEmpty && result.exceptAll(plain).isEmpty)
  }
}
