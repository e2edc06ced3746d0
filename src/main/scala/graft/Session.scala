package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Bench, Verify, the tools and
  * the test suites all get the reference semantics from here:
  *  - ANSI off: bad casts give NULL, not errors (SURVEY §7; Spark 4
  *    defaults ANSI on);
  *  - UTC: the NTZ→TZ normalization in `Tables.events` is
  *    value-preserving only under UTC;
  *  - shuffle partitions = cores: one task wave per shuffle stage;
  *  - UI off. */
object Session {
  /** `SPARK_GRAFT_CPUS`, else the box's cores capped at the gate's 32. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  def local(cpus: Int = Session.cpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
