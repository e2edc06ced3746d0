package graft.obs

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftshim.Bus

/** What one block of driver code cost in Spark: every job it submitted,
  * every stage attempt that completed, and the SQL executions it started.
  * `startMs`/`endMs` bracket the block on the clock of Spark's own event
  * times (epoch ms), so a job's window can be compared with the block's;
  * `nanos` is the block's wall on the monotonic clock. */
final case class Ledger(startMs: Long, endMs: Long, nanos: Long,
    jobs: Seq[Ledger.Job], stages: Seq[Ledger.Stage], sqlExecutions: Int) {
  def wallS: Double = nanos / 1e9
  def tasks: Int = jobs.map(_.tasks).sum
  def runMs: Long = jobs.map(_.runMs).sum
  def shuffleReadBytes: Long = jobs.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = jobs.map(_.shuffleWriteBytes).sum
}

object Ledger {
  /** One job. `label` is its description when one is set (the `Rounds`
    * labels, e.g. "pagerank round 3"), else the call site of the SQL
    * execution it runs for (an AQE query stage's own last stage is named
    * after the AQE thread, not the operator line), else, outside any SQL
    * execution, its last stage's short call site. Start and end are the
    * scheduler's event times, so bus delivery lag is not in the wall.
    * Stages, tasks, executor run time and shuffle bytes are those of the
    * stages this job was the first to list. */
  final case class Job(id: Int, description: Option[String], label: String,
      startMs: Long, endMs: Long, stages: Int, tasks: Int, runMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    def wallMs: Long = endMs - startMs
  }

  /** One completed stage attempt, under its job's label. */
  final case class Stage(label: String, runMs: Long)

  /** Runs `body` with one listener attached. The bus is drained before
    * the listener is attached, so no earlier job is recorded, and again
    * after `body`, so none of its jobs is missed; the listener is
    * detached whether `body` returns or throws. */
  def measure[T](spark: SparkSession)(body: => T): (T, Ledger) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    Bus.drain(sc)
    sc.addSparkListener(rec)
    try {
      val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
      val r = body
      val (ns1, ms1) = (System.nanoTime(), System.currentTimeMillis())
      Bus.drain(sc)
      (r, rec.ledger(ms0, ms1, ns1 - ns0))
    } finally sc.removeSparkListener(rec)
  }

  private final class Acc(val id: Int, val description: Option[String],
      val label: String, val startMs: Long) {
    var endMs: Long = startMs
    var stages, tasks = 0
    var runMs, shuffleRead, shuffleWrite = 0L
  }

  private final class Recorder extends SparkListener {
    private val jobs = mutable.HashMap.empty[Int, Acc]
    private val stageJob = mutable.HashMap.empty[Int, Acc]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private val sqlSites = mutable.HashMap.empty[Long, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { sqlSites(s.executionId) = s.description }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val description = prop("spark.job.description")
      val label = description
        .orElse(prop("spark.sql.execution.id")
          .flatMap(id => sqlSites.get(id.toLong)))
        .getOrElse(e.stageInfos.lastOption.map(s => site(s.name)).getOrElse("?"))
      val job = new Acc(e.jobId, description, label, e.time)
      jobs(e.jobId) = job
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, job))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        val job = stageJob.get(info.stageId)
        job.foreach(_.stages += 1)
        stages += Stage(job.map(_.label).getOrElse(site(info.name)),
          info.taskMetrics.executorRunTime)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    def ledger(startMs: Long, endMs: Long, nanos: Long): Ledger = synchronized {
      Ledger(startMs, endMs, nanos,
        jobs.values.toSeq.sortBy(_.id).map(j => Job(j.id, j.description,
          j.label, j.startMs, j.endMs, j.stages, j.tasks, j.runMs,
          j.shuffleRead, j.shuffleWrite)),
        stages.toSeq, sqlSites.size)
    }
  }

  /** A stage name's short call site ("map at X.scala:12"). */
  private def site(stageName: String): String = stageName.takeWhile(_ != '+').trim
}
