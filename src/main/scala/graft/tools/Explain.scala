// Plan audit: print formatted physical plans for selected queries.
// Run: sbt -batch "runMain graft.tools.Explain q_scan_project q1_agg ..."
package graft.tools

object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .explain("formatted")
    }
    spark.stop()
  }
}
