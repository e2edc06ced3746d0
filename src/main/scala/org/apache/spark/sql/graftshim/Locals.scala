package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.Utils

/** Spark local properties (job description, job group, scheduler
  * pool) live in an inheritable thread-local that a pooled thread
  * copies once, when it is created; the getter, setter and cloner are
  * `private[spark]`, hence the shim. `SQLExecution.withThreadLocalCaptured`
  * is the model. */
object Locals {

  /** Captures the calling thread's local properties and `spark` as the
    * active session, and returns `body` wrapped to run under them on
    * another thread; the running thread's own properties and active
    * session are back afterwards, also when `body` throws. Each call
    * takes its own copy, so two wrapped bodies never share one
    * properties object. */
  def captured[T](spark: SparkSession)(body: => T): () => T = {
    val sc = spark.sparkContext
    val props = Utils.cloneProperties(sc.getLocalProperties)
    () => {
      val ownProps = sc.getLocalProperties
      val ownSession = SparkSession.getActiveSession
      sc.setLocalProperties(props)
      SparkSession.setActiveSession(spark)
      try body
      finally {
        sc.setLocalProperties(ownProps)
        ownSession.fold(SparkSession.clearActiveSession())(
          SparkSession.setActiveSession)
      }
    }
  }
}
