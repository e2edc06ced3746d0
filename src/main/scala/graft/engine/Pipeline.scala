package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end orchestration of the reference pipeline (SURVEY §3):
  * dynamic ingest → dictionary clean → derived columns → wide join →
  * distinct. One lazy plan per input file; the only materialization
  * is whatever sink the caller picks.
  *
  * Mirrors `shareOurStrengthSQLCodev4.sql` end-to-end but collapses its
  * ~45 intermediate `SELECT INTO` tables into a single Catalyst plan
  * (SURVEY §4: CollapseProject/ColumnPruning/PushDownPredicates do the
  * materialization-elimination for free).
  */
object Pipeline {

  final case class Config(
      dict1Path: String,
      dict2Path: String,
      breakfastPath: String, // SBP claims (FIXTURES.md A2)
      lunchPath: String,     // NSLP claims (FIXTURES.md A3)
      ncesPath: Option[String] = None, // A4; loaded+cleaned, unjoined (ref :650-654)
      state: String = "WI")

  /** Both dictionaries of a run, loaded and collected ONCE — every
    * file's plan is then driver-local and costs no Spark jobs. */
  private def loadDicts(spark: SparkSession, cfg: Config)
      : Dictionary.DictRows =
    Dictionary.collectDicts(Ingest.readTsv(spark, cfg.dict1Path),
      Ingest.readTsv(spark, cfg.dict2Path))

  /** Ingest one raw file and apply its dictionary plan (E1+E2). */
  private def ingestAndClean(spark: SparkSession, path: String,
      dicts: Dictionary.DictRows): DataFrame = {
    val raw = Ingest.readTsv(spark, path)
    Dictionary.planLocal(raw.columns.toSeq, dicts).select(raw)
  }

  /** The cleaned NCES file for callers that DO want to join it — the
    * reference loads + renames it but never joins (ref :650-654
    * commented out, :926-928); `run` follows the reference and ignores
    * it, so it is exposed separately instead of cleaned-and-discarded
    * inside the pipeline. */
  def cleanedNces(spark: SparkSession, cfg: Config): Option[DataFrame] =
    cfg.ncesPath.map(ingestAndClean(spark, _, loadDicts(spark, cfg)))

  /** The *intended* NCES-ID pipeline (DIVERGENCES.md #3 demonstration):
    * the reference documents that "NCES ID" should be fetched from the
    * third raw file (ref `:926-928`) but codes it as the zero-padded
    * district id (`:930-936`) and leaves the NCES join commented out
    * (`:650-654`). This variant performs that intended join — the
    * cleaned NCES file keyed by school name supplies the real NCES
    * school/site id, falling back to the coded padded district id for
    * schools the NCES file lacks. The NCES school list is a small
    * dimension (one row per school in a state) → broadcast join. */
  def runWithNcesJoin(spark: SparkSession, cfg: Config): DataFrame = {
    val dicts = loadDicts(spark, cfg)
    val base = runWithDicts(spark, cfg, dicts)
    cfg.ncesPath.map(ingestAndClean(spark, _, dicts)) match {
      case None => base
      case Some(nces) =>
        val n = nces.select(col("`school name`").as("__nces_school"),
          col("`NCES School ID`").as("__nces_id"))
        base.join(broadcast(n),
            base("`school name`") === n("__nces_school"), "left")
          .withColumn("NCES ID",
            coalesce(col("__nces_id"), col("`NCES ID`")))
          .drop("__nces_school", "__nces_id")
    }
  }

  /** Full run → the reference's "Final 64 column table" analog
    * (ref `:1044-1089`). */
  def run(spark: SparkSession, cfg: Config): DataFrame =
    runWithDicts(spark, cfg, loadDicts(spark, cfg))

  private def runWithDicts(spark: SparkSession, cfg: Config,
      dicts: Dictionary.DictRows): DataFrame = {

    val breakfast0 = ingestAndClean(spark, cfg.breakfastPath, dicts)
    val lunch0 = ingestAndClean(spark, cfg.lunchPath, dicts)

    // E3 step 1-2: conditional columns on each side (ref :800-825).
    val lunch = lunch0
      .withColumn("School Type-Original",
        Derive.schoolTypeOriginal(col("`PUBLIC`"), col("`SCHOOL TYPE`")))
      .withColumn("FR Lunch Meals",
        Derive.frMeals(col("`Lunch Meals-Free`"), col("`Lunch Meals-Reduced`"),
          col("`Lunch Meals-Free and Reduced`")))
      .withColumn("FR Lunch ADP",
        Derive.frAdp(col("`FR Lunch Meals`"),
          col("`Operating Days-Lunch Only`"), col("`Operating Days`")))
      .withColumn("Unique ID",
        Derive.uniqueId(lit(cfg.state), col("`School ID`"),
          col("`district id`")))
      .withColumn("NCES ID", Derive.ncesId(col("`district id`")))
      .withColumn("School_Year",
        Derive.backfill(col("`School Year`"), "17-18"))
      .withColumn("Target Area", lit(null).cast("string")) // ref :959-960
      .withColumn("FR Enrollment",
        Derive.frEnrollment(col("`Enrollment-Free`"),
          col("`Enrollment-Reduced`"), col("`Enrollment-Free and Reduced`")))
      .withColumn("FR Enrollment Percentage",
        Derive.frEnrollmentPct(col("`CEP (Y/N)`"), col("`FR Enrollment`"),
          col("`Enrollment-Total`"), col("`Enrollment-Free`"),
          col("`Lunch Meals-Paid`")))
      .withColumn("School Level-Standardized",
        Derive.schoolLevelStandardized(col("`School Level-Original`")))
      .withColumn("School Type-Standardized",
        Derive.schoolTypeStandardized(col("`School Type-Original`")))

    val breakfast = breakfast0
      .withColumn("Breakfast Delivery Model from State Agency-Original",
        Derive.breakfastDeliveryModel(col("`TRADITIONAL_MODEL`"),
          col("`MID_MORNING_MODEL`"), col("`CLASSROOM_MODEL`"),
          col("`REDUCED_PRICE_MODEL`"), col("`GRAB_N_GO_MODEL`"),
          col("`FREE_MODEL`")))
      .withColumn("FR Breakfast Meals",
        Derive.frMeals(col("`Breakfast Meals-Free`"),
          col("`Breakfast Meals-Reduced`"),
          col("`Breakfast Meals-Free and Reduced`")))
      .withColumn("FR Breakfast ADP",
        Derive.frAdp(col("`FR Breakfast Meals`"),
          col("`Operating Days-Breakfast Only`"), col("`Operating Days`")))

    // E3 steps 3-5: three-part-key join + the final DISTINCT wide table
    // (ref :846-856, :1079).
    Assemble.joinClaims(lunch, breakfast).distinct()
  }
}
