package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's QA harness (SURVEY §2g SO1 + §5, ref `:1094-1127`):
  * golden-output agreement measured as |produced ∩ expected| against
  * the two row counts, with set (deduplicating) INTERSECT semantics.
  *
  * All three counts come from one grouped count over both tables: each
  * row is tagged with its side, and the union is grouped by every
  * column. A group is one distinct row; it is common when both sides
  * contribute to it. Grouping treats NULLs as equal, as INTERSECT does,
  * and normalizes NaN and -0.0 as Spark's `intersect` does, so the
  * answer is the INTERSECT one, in one action that runs each input
  * once.
  */
object Qa {
  final case class Agreement(countA: Long, countB: Long, countCommon: Long) {
    /** matching rows / produced rows (PDF p.25 agreement metric). */
    def ratio: Double =
      if (countA == 0) 0.0 else countCommon.toDouble / countA
  }

  /** Compare two tables the reference way (ref `:1116-1126`). Columns
    * are aligned by position, as INTERSECT does: both sides are renamed
    * to positional names, which also makes duplicate names safe. */
  def agreement(a: DataFrame, b: DataFrame): Agreement = {
    val names = a.columns.indices.map(i => s"c$i")
    def tagged(df: DataFrame, na: Int, nb: Int): DataFrame =
      df.toDF(names: _*).select(names.map(col) :+
        lit(na).as("na") :+ lit(nb).as("nb"): _*)
    val r = tagged(a, 1, 0).union(tagged(b, 0, 1))
      .groupBy(names.map(col): _*)
      .agg(sum("na").as("na"), sum("nb").as("nb"))
      .agg(sum("na"), sum("nb"), count_if(col("na") > 0 && col("nb") > 0))
      .head()
    def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Agreement(long(0), long(1), long(2))
  }
}
