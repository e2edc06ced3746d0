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

  // half-up to 6 decimals (the twin of Num.qround(_, 6)) for expected values
  def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
}
