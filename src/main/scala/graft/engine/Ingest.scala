package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dynamic header-schema ingestion (SURVEY §2a S1-S3).
  *
  * The reference bulk-loads tab-delimited files twice — once reading only
  * row 1 to harvest column names (`shareOurStrengthSQLCodev4.sql:26-28`),
  * once loading data rows into a dynamically `CREATE TABLE`d all-varchar
  * table (`:49-64`). Spark's CSV reader does both in one pass:
  * `header=true` derives the schema from row 1 and, with `inferSchema`
  * left off, every column is `StringType` — exactly the reference's
  * all-varchar standardization (`:42`).
  *
  * At 100 TB: the CSV scan is splittable (no multiline), so a directory
  * of state files parallelizes across executors for free; pass a glob.
  */
object Ingest {

  /** Load a tab-delimited file: header row → column names (BOM/quote
    * cleaned, ref F1 `:35-37`), all columns string-typed (ref `:50-53`
    * semantics, minus the dynamic DDL). */
  def readTsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("sep", "\t")
      .option("header", "true")
      // no inferSchema: all-varchar is the reference contract (:42)
      .csv(path)
    val cleaned = raw.columns.map(cleanName)
    if (cleaned.sameElements(raw.columns)) raw else raw.toDF(cleaned: _*)
  }

  /** BOM / stray-quote cleanup the reference does with REPLACE on the
    * header string (ref F1 `:35-37`, `:538-540`). */
  def cleanName(raw: String): String =
    raw.replace("\uFEFF", "").replace("\"", "").trim
}
