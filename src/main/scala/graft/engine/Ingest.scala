package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.CsvHeader
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Dynamic header-schema ingestion (SURVEY §2a S1-S3).
  *
  * The reference bulk-loads tab-delimited files twice — once reading only
  * row 1 to harvest column names (`shareOurStrengthSQLCodev4.sql:26-28`),
  * once loading data rows into a dynamically `CREATE TABLE`d all-varchar
  * table (`:49-64`). Here row 1 is read on the driver through Spark's own
  * CSV helpers (`graftshim.CsvHeader`: the same line, parser and name
  * sanitizing that Spark's schema inference uses), with no Spark job, and
  * handed to the reader as an all-`StringType` schema with `header=true`
  * — exactly the reference's all-varchar standardization (`:42`). A
  * directory or glob, where only a scan can pick the header line, is
  * left to Spark's inference (one job). One case differs from inference:
  * when the first line holds only tabs, inference names the columns
  * `_c0..` from it, while its reader skips that line as blank and drops
  * the next one as the header; here the header is always the line the
  * reader drops (IngestSpec).
  *
  * At 100 TB: the CSV scan is splittable (no multiline), so a directory
  * of state files parallelizes across executors for free; pass a glob.
  */
object Ingest {

  private val TsvOptions = Map("sep" -> "\t", "header" -> "true")

  /** Load a tab-delimited file: header row → column names (BOM/quote
    * cleaned, ref F1 `:35-37`), all columns string-typed (ref `:50-53`
    * semantics, minus the dynamic DDL). */
  def readTsv(spark: SparkSession, path: String): DataFrame = {
    // no inferSchema: all-varchar is the reference contract (:42)
    val reader = spark.read.options(TsvOptions)
    val raw = CsvHeader.read(spark, path, TsvOptions) match {
      case Some(header) =>
        reader.schema(StructType(header.map(StructField(_, StringType))))
          .csv(path)
      case None => reader.csv(path)
    }
    val cleaned = raw.columns.map(cleanName)
    if (cleaned.sameElements(raw.columns)) raw else raw.toDF(cleaned: _*)
  }

  /** BOM / stray-quote cleanup the reference does with REPLACE on the
    * header string (ref F1 `:35-37`, `:538-540`). */
  def cleanName(raw: String): String =
    raw.replace("\uFEFF", "").replace("\"", "").trim
}
