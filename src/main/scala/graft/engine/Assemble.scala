package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Final wide-table assembly (SURVEY §3 E3, ref `:846-856`).
  *
  * The reference joins the lunch and breakfast claim files on
  * (school name, claim date, zero-padded district id), computing the
  * padding INSIDE the join predicate. Here the normalized key is
  * precomputed as a column so Catalyst plans a plain equi-join
  * (sort-merge or broadcast-hash) and the padded key is computed once
  * per row, not once per comparison (SURVEY §4).
  */
object Assemble {

  /** Equi-join two claim files on the reference's three-part key.
    * Column names are the *clean* (post-dictionary) names. At 100 TB:
    * both sides shuffle-partition on the composite key once; AQE
    * handles skew (many rows per school-date only under data errors).
    */
  def joinClaims(lunch: DataFrame, breakfast: DataFrame): DataFrame = {
    val keys = Seq("school name", "claim date", "__jk_district")
    val l = lunch.withColumn("__jk_district",
      Derive.zeroPad(col("`district id`"), 6))
    val b0 = breakfast.withColumn("__jk_district",
      Derive.zeroPad(col("`district id`"), 6))
    // Disambiguate overlapping non-key columns: suffix the breakfast side
    // (the reference's SELECT a.*, b.* keeps both copies; parquet needs
    // unique names). One projection renames them all: a rename per column
    // would re-analyze a growing plan once per overlap.
    val overlap = (l.columns.toSet intersect b0.columns.toSet) -- keys
    val b = b0.toDF(b0.columns.map(c =>
      if (overlap(c)) s"${c}_b" else c): _*)
    l.join(b, keys, "inner").drop("__jk_district")
  }
}
