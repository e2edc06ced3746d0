package graft.ops

import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining — assign documents to fixed
  * token-budget bins, GPT-style concat-and-chunk: documents are laid
  * end to end in a deterministic order and the stream is cut every
  * `budget` tokens (documents may straddle a cut; offset_in_bin says
  * where each one starts). The standard packing approximation: zero
  * padding waste, O(1) decision per document, and — because it's just
  * a running sum — fully expressible as a window aggregate that any
  * SQL engine reproduces exactly.
  *
  * At 100 TB: one shuffle per `streamCol` partition (e.g. source) and
  * a per-partition sort — the same shape as any windowed query; no
  * driver-side packing loop. Bins are per-stream so streams pack
  * independently and in parallel.
  */
object Packing {

  /** @param streamCol  independent packing streams (one window
    *   partition each — e.g. source/shard); rows within a stream are
    *   packed in `orderCol` order.
    * @return input + (n_tokens, start_offset, bin, offset_in_bin) —
    *   bin = which budget-sized chunk this document STARTS in. */
  def packBins(df: DataFrame, textCol: String, streamCol: String,
      orderCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(streamCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens",
        size(Text.tokens(col(textCol))).cast("long"))
      .withColumn("start_offset",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", floor(col("start_offset") / lit(budget)))
      .withColumn("offset_in_bin", col("start_offset") % lit(budget))
  }

  /** [[packBins]] plus the attention-mask metadata a trainer consumes:
    * within each (stream, bin), `segment_id` numbers the documents
    * (the per-sequence segment ids that keep attention from crossing
    * document boundaries when sequences are packed) and `truncated`
    * flags documents that straddle the bin's end under the concat-
    * and-chunk cut. Window partitions are (stream, bin) — real keys
    * that shrink as the budget does, so no partition-less window ever
    * appears (the QueriesSpec plan sweep). */
  def packSegments(df: DataFrame, textCol: String, streamCol: String,
      orderCol: String, budget: Long): DataFrame = {
    val seg = Window.partitionBy(col(streamCol), col("bin"))
      .orderBy(orderCol)
    packBins(df, textCol, streamCol, orderCol, budget)
      .withColumn("segment_id", row_number().over(seg).cast("long"))
      .withColumn("truncated",
        col("offset_in_bin") + col("n_tokens") > lit(budget))
  }
}
