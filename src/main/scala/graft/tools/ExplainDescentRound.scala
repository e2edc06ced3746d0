package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only plan dump: ONE NN-descent round's pre-checkpoint physical
  * plan (the lifecycle rows' readout plans never show the rounds, so
  * the per-round exchange-count evidence lives here).
  * Run: sbt "runMain graft.tools.ExplainDescentRound" */
object ExplainDescentRound {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id").as("id"), col("embedding").as("v"),
        graft.ops.Similarity.norm(col("embedding")).as("nrm"))
      .localCheckpoint(true)
    val n = e.count()
    val g0 = graft.ops.AnnGraph.score(e,
      graft.ops.AnnGraph.latticeEdges(e, n, 16, 37L))
      .localCheckpoint(true)
    println("========== one descendFrom round (pre-checkpoint plan) ==========")
    graft.ops.AnnGraph.descendRound(e, g0, 16).explain("formatted")
    spark.stop()
  }
}
