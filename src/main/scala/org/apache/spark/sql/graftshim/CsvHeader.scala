package org.apache.spark.sql.graftshim

import scala.util.Try

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils

/** The column names Spark's CSV schema inference gives one file, read
  * on the driver with no Spark job. The calls are the ones inference
  * makes (`TextInputCSVDataSource.inferFromDataset`): the header line,
  * here the first line the reader does not skip as blank
  * (`CSVUtils.readHeaderLine`), parsed by univocity with the reader's
  * own settings, then `CSVUtils.makeSafeHeader` (empty cells become
  * `_c<i>`, duplicates get their index appended).
  * The session state and the Hadoop configuration it builds are
  * `private[sql]`, hence the shim. */
object CsvHeader {

  /** `path`'s header under the reader `options`: empty for an empty
    * file, None when `path` is not one existing file (a directory or a
    * glob), where only a scan can say which line is the header. */
  def read(spark: SparkSession, path: String,
      options: Map[String, String]): Option[Seq[String]] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val file = new Path(path)
    val fs = file.getFileSystem(hadoopConf)
    if (!Try(fs.getFileStatus(file).isFile).getOrElse(false)) None
    else {
      val csv = new CSVOptions(options, conf.csvColumnPruning,
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      Some(CSVUtils.readHeaderLine(file, csv, hadoopConf)
        .flatMap(line => Option(new CsvParser(csv.asParserSettings).parseLine(line)))
        .map(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, csv).toSeq)
        .getOrElse(Nil))
    }
  }
}
