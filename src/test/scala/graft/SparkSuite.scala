package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Bus
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
    * (None for a job without one). The listener bus is drained before
    * and after `body`, so no earlier job is counted and no job of
    * `body` is missed. */
  def jobDescriptions(body: => Any): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(Int, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(j.jobId -> Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))))
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try { body; Bus.drain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  // half-up to 6 decimals (the twin of Num.qround(_, 6)) for expected values
  def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
}
