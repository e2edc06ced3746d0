package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into the program, made by the benchmark: the public function
  * (`name`), the unit it served, its layer (`construct` for building the
  * result, `execute` for running it), and its window — epoch ms to match
  * Spark's job times, nanoTime for its own duration. */
final case class Span(unit: String, name: String, layer: String,
    startMs: Long, endMs: Long, nanos: Long)

/** Collects Spark's own statistics while the traced pass runs: every job
  * with its call site and the metrics of its tasks, and the planning
  * phases of every action's QueryExecution. Jobs are matched to spans by
  * time window afterwards, not by job group, because the program runs
  * some jobs on helper threads that do not carry the caller's local
  * properties. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // The result stage carries the action's call site, "<op> at File.scala:n".
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val job = new Job(e.time, site)
    jobs(e.jobId) = job
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
    plans += Plan(phases.values.map(_.endTimeMs).foldLeft(0L)(math.max),
      ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Per-layer metrics of one traced pass over `spans` on `cores` cores.
    * Call after the listener bus has drained. */
  def layers(spans: Seq[Span], cores: Int): Map[String, Double] = synchronized {
    val sorted = spans.sortBy(_.startMs)
    // The last span that had started when the job did; a job starting in
    // the millisecond one span ends and the next begins goes to the next.
    def spanOf(j: Job): Option[Span] =
      sorted.takeWhile(_.startMs <= j.startMs).lastOption
        .filter(_.endMs >= j.startMs)
    val owned = jobs.values.toSeq.flatMap(j => spanOf(j).map(j -> _))
    def jobsOf(p: Span => Boolean) = owned.collect { case (j, s) if p(s) => j }
    def secs(ms: Long) = ms / 1e3
    def spanSecs(p: Span => Boolean) = spans.filter(p).map(_.nanos).sum / 1e9
    def jobSecs(js: Seq[Job]) = secs(js.map(j => j.endMs - j.startMs).sum)
    def mb(b: Long) = b / 1048576.0
    val isConstruct = (s: Span) => s.layer == "construct"
    val construct = jobsOf(isConstruct)
    val execute = jobsOf(s => !isConstruct(s))
    // Construct time no job covers: the span minus the union of its jobs.
    val covered = spans.filter(isConstruct).map { s =>
      val iv = owned.collect { case (j, `s`) =>
        (j.startMs max s.startMs, j.endMs min s.endMs) }.sortBy(_._1)
      iv.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        val from = a max reach
        (sum + (b - from).max(0L), reach max b)
      }._1
    }.sum
    val constructS = spanSecs(isConstruct)
    val executeS = spanSecs(s => !isConstruct(s))
    val window = (spans.map(_.startMs).min, spans.map(_.endMs).max)
    val passPlans = plans.filter(p => p.endMs >= window._1 && p.endMs <= window._2)
    def site(file: String) = owned.map(_._1).filter(_.site.contains(file))
    val taskS = secs(execute.map(_.runMs).sum)
    Map(
      "construct.s" -> constructS,
      "construct.jobs" -> construct.size.toDouble,
      "construct.job_s" -> jobSecs(construct),
      "construct.task_s" -> secs(construct.map(_.runMs).sum),
      "construct.driver_s" -> (constructS - secs(covered)).max(0.0),
      "engine.ingest.jobs" -> site("Ingest.scala").size.toDouble,
      "engine.ingest.s" -> jobSecs(site("Ingest.scala")),
      "engine.dictionary.jobs" -> site("Dictionary.scala").size.toDouble,
      "engine.dictionary.s" -> jobSecs(site("Dictionary.scala")),
      "plan.s" -> secs(passPlans.map(p =>
        p.analysisMs + p.optimizationMs + p.planningMs).sum),
      "plan.analysis_s" -> secs(passPlans.map(_.analysisMs).sum),
      "plan.optimization_s" -> secs(passPlans.map(_.optimizationMs).sum),
      "plan.planning_s" -> secs(passPlans.map(_.planningMs).sum),
      "execute.s" -> executeS,
      "execute.jobs" -> execute.size.toDouble,
      "execute.stages" -> execute.map(_.stages).sum.toDouble,
      "execute.tasks" -> execute.map(_.tasks).sum.toDouble,
      "execute.task_s" -> taskS,
      "execute.cpu_s" -> execute.map(_.cpuNs).sum / 1e9,
      "execute.task_gc_s" -> secs(execute.map(_.gcMs).sum),
      "execute.core_util" -> (if (executeS > 0) taskS / (executeS * cores) else 0.0),
      "execute.shuffle_write_mb" -> mb(execute.map(_.shuffleWrite).sum),
      "execute.shuffle_read_mb" -> mb(execute.map(_.shuffleRead).sum),
      "execute.spill_mb" -> mb(execute.map(_.spill).sum),
      "execute.input_mb" -> mb(execute.map(_.inputBytes).sum),
      "execute.input_records" -> execute.map(_.inputRecords).sum.toDouble,
      "execute.peak_exec_mem_mb" -> mb(execute.map(_.peakMem).foldLeft(0L)(_ max _)),
      "execute.tasks_failed" -> owned.map(_._1.tasksFailed).sum.toDouble,
      "engine.sink.s" -> spanSecs(_.name == "Sink.writePartitioned"),
      "engine.sink.mb" -> mb(jobsOf(_.name == "Sink.writePartitioned")
        .map(_.outputBytes).sum),
      "engine.qa.s" -> spanSecs(_.name == "Qa.agreement"))
  }
}

object Tracer {
  final class Job(val startMs: Long, val site: String) {
    var endMs: Long = startMs
    var stages, tasks, tasksFailed = 0
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var inputBytes, inputRecords, outputBytes, peakMem = 0L
  }

  /** The planning phases of one action, ending at `endMs`. */
  final case class Plan(endMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)
}
