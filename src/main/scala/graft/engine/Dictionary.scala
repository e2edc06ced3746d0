package graft.engine

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The dictionary-driven schema-cleaning metadata (SURVEY §2 J1/P2/P3/A1,
  * ref `shareOurStrengthSQLCodev4.sql:79-191`).
  *
  * The reference joins a table's column names against two dictionary
  * templates (LEFT JOIN ×2, `:105-107`), coalesces whichever matched
  * (`:100-103`), then derives two instruction sets:
  *   - DROP: clean name is NULL or contains 'NOT USED' (`:128-130`);
  *   - RENAME: clean names that map 1:1 (GROUP BY + COUNT(*)=1, `:175-178`)
  *     and are not 'NOT USED'.
  *
  * Dictionaries are tiny metadata: the joins broadcast, and the final
  * instruction set is collect()ed to the driver to steer plan
  * construction — the Spark replacement for the reference's WHILE loops
  * over `row_num = @count` point lookups (`:143-270`). Nothing here
  * scales with data volume, only with schema width.
  */
final case class CleanPlan(drops: Seq[String], renames: Map[String, String]) {
  /** Columns surviving the plan, in input order, under clean names. */
  def apply(inputColumns: Seq[String]): Seq[(String, String)] =
    inputColumns.filterNot(drops.contains)
      .map(c => c -> renames.getOrElse(c, c))

  /** Apply the plan to `df`: drop + rename in a single projection.
    *
    * The reference's two WHILE loops (ref `:143-270`) — N× `ALTER TABLE
    * DROP COLUMN` and N single-column projections re-joined by a
    * surrogate `row_num` — exist only because T-SQL tables are mutable
    * in place. An immutable DataFrame is never split, so both collapse
    * to this one select, which Catalyst folds into the scan
    * (ColumnPruning): zero extra jobs, zero shuffles. */
  def select(df: DataFrame): DataFrame =
    df.select(apply(df.columns.toSeq).map { case (raw, cleanName) =>
      col(s"`$raw`").as(cleanName)
    }: _*)
}

object Dictionary {
  final val NotUsed = "NOT USED"

  /** The clean-name lookup (ref `:99-107`): one row per input column,
    * clean name coalesced across both templates. Input columns become a
    * local DataFrame (ref reads sys.columns, `:79-87`); dictionary sides
    * are broadcast. This is the T-SQL-faithful catalog-scan form;
    * pipelines plan with `planLocal`, which DictionarySpec pins equal.
    *
    * Matching is case-insensitive like T-SQL's default collation — a
    * header `School Name` matches a dictionary row `school name` in
    * the reference, so it must here too. */
  def lookup(spark: SparkSession, columns: Seq[String],
      dict1: DataFrame, dict2: DataFrame): DataFrame = {
    import spark.implicits._
    val names = columns.toDF("column_name")
    val d1 = dict1.select(col("raw_data_column_name").as("n1"),
      col("equivalent_clean_data_name").as("clean1"))
    val d2 = dict2.select(col("raw_data_column_name").as("n2"),
      col("equivalent_clean_data_name").as("clean2"))
    names
      .join(broadcast(d1),
        lower(names("column_name")) === lower(d1("n1")), "left")
      .join(broadcast(d2),
        lower(names("column_name")) === lower(d2("n2")), "left")
      .select(col("column_name"),
        coalesce(col("clean1"), col("clean2"))
          .as("equivalent_clean_data_name"))
      .distinct()
  }

  /** `instructions` over the collected `lookup` rows. */
  def plan(lookupDf: DataFrame): CleanPlan =
    instructions(lookupDf.collect().toSeq.map { r =>
      (r.getString(0), Option(r.getString(1)))
    })

  /** Instruction derivation (ref `:126-130` drops, `:172-191` renames)
    * from (raw column, coalesced clean name) lookup rows, deduplicated
    * as the lookup's DISTINCT does. Runs on the driver —
    * schema-width-sized, never data-sized. */
  def instructions(lookupRows: Seq[(String, Option[String])]): CleanPlan = {
    val rows = lookupRows.distinct
    val drops = rows.collect {
      case (raw, clean) if clean.forall(_.contains(NotUsed)) => raw
    }.distinct
    // 1:1 detection: clean names appearing exactly once (ref :175-178)
    val usable = rows.collect {
      case (raw, Some(clean)) if !clean.contains(NotUsed) => raw -> clean
    }
    val counts = usable.groupBy(_._2).view.mapValues(_.length).toMap
    val renames = usable.collect {
      case (raw, clean) if counts(clean) == 1 && raw != clean => raw -> clean
    }.toMap
    CleanPlan(drops, renames)
  }

  /** Both dictionaries collected to the driver: (raw lower → list of
    * clean names). Dictionary templates are schema-width metadata (tens
    * of rows), so this is two tiny scan jobs — after which planning any
    * number of files costs zero Spark jobs. Keys are lower-cased under
    * `Locale.ROOT`, as Spark's `lower` does for ASCII (`lookup`). */
  final case class DictRows(d1: Map[String, Seq[String]],
      d2: Map[String, Seq[String]])

  def collectDicts(dict1: DataFrame, dict2: DataFrame): DictRows = {
    def toMap(df: DataFrame): Map[String, Seq[String]] =
      df.select(col("raw_data_column_name"),
          col("equivalent_clean_data_name"))
        .collect()
        .groupBy(r =>
          Option(r.getString(0)).getOrElse("").toLowerCase(Locale.ROOT))
        .view.mapValues(_.map(r => r.getString(1)).toSeq).toMap
    DictRows(toMap(dict1), toMap(dict2))
  }

  /** Driver-side equivalent of `lookup` → `plan`: per input column,
    * every (d1 match × d2 match) combination contributes
    * coalesce(clean1, clean2) — exactly the LEFT JOIN ×2 + DISTINCT
    * rows of the DataFrame path, fed to the same `instructions`. */
  def planLocal(columns: Seq[String], dicts: DictRows): CleanPlan =
    instructions(columns.flatMap { c =>
      val k = c.toLowerCase(Locale.ROOT)
      val m1 = dicts.d1.getOrElse(k, Seq(null))
      val m2 = dicts.d2.getOrElse(k, Seq(null))
      for (c1 <- m1; c2 <- m2)
        yield c -> Option(if (c1 != null) c1 else c2)
    })
}
