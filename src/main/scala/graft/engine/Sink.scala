package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Canonical-table sinks (SURVEY §4 physical-execution notes: at
  * 100 TB the cleaned table checkpoints as partitioned parquet keyed
  * by the columns downstream reads prune on — state/year for the
  * reference corpus).
  */
object Sink {

  /** Write (overwrite) a partitioned parquet table. `partitionCols` become
    * directory-level partitions (partition pruning on read);
    * `sortCols` order rows within each file (min/max page stats make
    * range predicates cheap). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Seq.empty)
      : Unit = {
    val sorted =
      if (sortCols.isEmpty) df
      else df.sortWithinPartitions(sortCols.map(c => df(s"`$c`")): _*)
    val writer = sorted.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty)
      writer.partitionBy(partitionCols: _*) else writer)
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
