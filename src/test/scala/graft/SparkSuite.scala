package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (one JVM-wide session in practice —
  * getOrCreate reuses). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  val Sf0001 = "/root/testdata/sf0.001"
}
