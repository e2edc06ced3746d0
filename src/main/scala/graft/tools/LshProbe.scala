package graft.tools

import org.apache.spark.sql.functions._
import graft.{Session, Tables}
import graft.ops.Similarity

/** Scratch dev probe: mean recall@10 of the LSH ANN path at different
  * multiprobe settings (drives the q_ann_lsh operating point — X74). */
object LshProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(e, q,
        "vec_id", "embedding", "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").cache()
    for (planes <- Seq(4, 5, 6); flips <- Seq(0, 1, 2)) {
      val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding",
          "vec_id", "embedding", k = 10, planes = planes, maxFlips = flips)
        .select("query_id", "neighbor_id")
      val hits = truth.join(lsh, Seq("query_id", "neighbor_id")).count()
      val nMasks = Similarity.probeMasks(planes, flips).size
      println(f"[lshprobe] planes=$planes flips=$flips masks=$nMasks " +
        f"recall=${hits / 50.0}%.3f")
    }
    spark.stop()
  }
}
