package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.util.Try

import org.apache.hadoop.fs.Path
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

  /** Both dictionaries of a run, collected once per version of the two
    * files — every file's plan is then driver-local and costs no Spark
    * jobs, and a batch of states over the same templates (ref `:8`
    * loads them once, then loops) reads them once. An entry is keyed by
    * the path pair and re-read when either file's length or
    * modification time changes; the new version replaces the old one,
    * so the cache holds one entry per path pair. */
  private def loadDicts(spark: SparkSession, cfg: Config)
      : Dictionary.DictRows = {
    val key = (cfg.dict1Path, cfg.dict2Path)
    // A path that cannot be stat'ed (missing, a glob) is read uncached,
    // so the reader reports it as before.
    val version = Try(Seq(cfg.dict1Path, cfg.dict2Path).map { path =>
      val p = new Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      (st.getLen, st.getModificationTime)
    }).toOption
    version.flatMap(v => Option(dictCache.get(key)).collect {
      case (`v`, dicts) => dicts
    }).getOrElse {
      val dicts = Dictionary.collectDicts(Ingest.readTsv(spark, cfg.dict1Path),
        Ingest.readTsv(spark, cfg.dict2Path))
      version.foreach(v => dictCache.put(key, (v, dicts)))
      dicts
    }
  }

  /** (dict1, dict2) path pair → ((length, mtime) of each, their rows). */
  private val dictCache = new ConcurrentHashMap[(String, String),
    (Seq[(Long, Long)], Dictionary.DictRows)]()

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

    // E3 step 1-2: conditional columns on each side (ref :800-825), one
    // projection per side: a field that depends on another derived field
    // reuses that field's Column, so every expression resolves against
    // the cleaned input.
    val frLunchMeals = Derive.frMeals(col("`Lunch Meals-Free`"),
      col("`Lunch Meals-Reduced`"), col("`Lunch Meals-Free and Reduced`"))
    val frEnrollment = Derive.frEnrollment(col("`Enrollment-Free`"),
      col("`Enrollment-Reduced`"), col("`Enrollment-Free and Reduced`"))
    val schoolTypeOriginal =
      Derive.schoolTypeOriginal(col("`PUBLIC`"), col("`SCHOOL TYPE`"))
    val lunch = lunch0.withColumns(ListMap(
      "School Type-Original" -> schoolTypeOriginal,
      "FR Lunch Meals" -> frLunchMeals,
      "FR Lunch ADP" -> Derive.frAdp(frLunchMeals,
        col("`Operating Days-Lunch Only`"), col("`Operating Days`")),
      "Unique ID" -> Derive.uniqueId(lit(cfg.state), col("`School ID`"),
        col("`district id`")),
      "NCES ID" -> Derive.ncesId(col("`district id`")),
      "School_Year" -> Derive.backfill(col("`School Year`"), "17-18"),
      "Target Area" -> lit(null).cast("string"), // ref :959-960
      "FR Enrollment" -> frEnrollment,
      "FR Enrollment Percentage" -> Derive.frEnrollmentPct(col("`CEP (Y/N)`"),
        frEnrollment, col("`Enrollment-Total`"), col("`Enrollment-Free`"),
        col("`Lunch Meals-Paid`")),
      "School Level-Standardized" ->
        Derive.schoolLevelStandardized(col("`School Level-Original`")),
      "School Type-Standardized" ->
        Derive.schoolTypeStandardized(schoolTypeOriginal)))

    val frBreakfastMeals = Derive.frMeals(col("`Breakfast Meals-Free`"),
      col("`Breakfast Meals-Reduced`"),
      col("`Breakfast Meals-Free and Reduced`"))
    val breakfast = breakfast0.withColumns(ListMap(
      "Breakfast Delivery Model from State Agency-Original" ->
        Derive.breakfastDeliveryModel(col("`TRADITIONAL_MODEL`"),
          col("`MID_MORNING_MODEL`"), col("`CLASSROOM_MODEL`"),
          col("`REDUCED_PRICE_MODEL`"), col("`GRAB_N_GO_MODEL`"),
          col("`FREE_MODEL`")),
      "FR Breakfast Meals" -> frBreakfastMeals,
      "FR Breakfast ADP" -> Derive.frAdp(frBreakfastMeals,
        col("`Operating Days-Breakfast Only`"), col("`Operating Days`"))))

    // E3 steps 3-5: three-part-key join + the final DISTINCT wide table
    // (ref :846-856, :1079).
    Assemble.joinClaims(lunch, breakfast).distinct()
  }
}
