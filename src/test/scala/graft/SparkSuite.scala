package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (one JVM-wide session in practice —
  * getOrCreate reuses). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  val Sf0001 = "/root/testdata/sf0.001"

  /** A registered query built on the sf0.001 testdata. */
  def query(name: String): DataFrame = SparkEntry.queries(name)(spark, Sf0001)

  /** The job description of every job `body` submits, in job-id order
    * (None for a job without one). */
  def jobDescriptions(body: => Any): Seq[Option[String]] =
    graft.obs.Ledger.measure(spark)(body)._2.jobs.map(_.description)

  // half-up to 6 decimals (the twin of Num.qround(_, 6)) for expected values
  def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
}
