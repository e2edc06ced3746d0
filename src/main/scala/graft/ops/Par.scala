package graft.ops

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Locals

/** Overlap INDEPENDENT eager Spark chains from driver threads (r20 —
  * guide §2.6 "overlap independent jobs"): the rank rows run PageRank
  * and HITS, whose per-round actions are tiny, on two threads, so the
  * wall is max(a, b) instead of a + b with each kernel's computation
  * untouched. Each thunk runs under the caller's Spark local
  * properties and active session (a reused pool thread holds stale
  * ones), and the first thunk to fail fails the call at once. */
object Par {
  def two[A, B](a: => A, b: => B): (A, B) = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val spark = SparkSession.active
    // captured here, on the caller's thread
    val (ra, rb) = (Locals.captured(spark)(a), Locals.captured(spark)(b))
    Await.result(Future(ra()).zip(Future(rb())), Duration.Inf)
  }
}
