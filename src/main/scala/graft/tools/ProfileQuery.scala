package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.Bus.drain

/** Per-query timing and execution profile for plan iteration (dev
  * tool — the gate-facing figure stays Bench, which runs the whole
  * surface). Each query runs twice on Bench's discipline (noop sink,
  * q1_agg warmup): both walls and their best are printed, and the
  * second run is profiled — listener-derived job/stage/task counts,
  * summed task time and shuffle bytes, the numbers that separate "slow
  * because of real compute" from "slow because of orchestration"
  * (guide §1: measure first; §2.2: count the exchanges). After each
  * `[profile]` line a `[profile-jobs]` table lists the top 20 job
  * descriptions / call sites and stages by wall: a job without a
  * description is listed under its SQL execution's call site, and a
  * stage under its job's label.
  *
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileQuery q_a q_b"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev-only A/B hook: SPARK_GRAFT_CONF="k=v;k2=v2" extra confs
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';'))
      .map(_.split("=", 2))
      .collect { case Array(k, v) if k.nonEmpty => k.trim -> v.trim }.toMap
    val spark = graft.Session.local(extra = extra)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val shufR = new AtomicLong(0L)
    val shufW = new AtomicLong(0L)
    // per-job breakdown: sums job wall + task time by the job's
    // description when one is set (the `Rounds` labels, e.g.
    // "pagerank round 3"), else by the call site of the SQL execution
    // it runs for (an AQE query stage's last stage is named after the
    // AQE thread, not the operator line), else, for a job outside any
    // SQL execution, by its last stage's short call site — the map from
    // wall seconds back to the round or operator line that paid them
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    // a stage of a job keyed by description or SQL execution is keyed
    // alike (an AQE stage's own name is the AQE thread's call site)
    val stageSites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val siteAgg = new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlSites.put(s.executionId, s.description)
        case s: SparkListenerSQLExecutionEnd => sqlSites.remove(s.executionId)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        def prop(k: String) =
          Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val label = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id")
            .flatMap(id => Option(sqlSites.get(id.toLong))))
        label.foreach(l => j.stageIds.foreach(stageSites.putIfAbsent(_, l)))
        val key = label.getOrElse(j.stageInfos.lastOption
          .map(_.name.takeWhile(_ != '+').trim).getOrElse("?"))
        jobStartNs.put(j.jobId, (key, System.nanoTime()))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val v = jobStartNs.remove(j.jobId)
        if (v != null) {
          val ms = (System.nanoTime() - v._2) / 1000000L
          siteAgg.merge(v._1, (ms, 1),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val info = s.stageInfo
        val ms = info.taskMetrics.executorRunTime
        val site = Option(stageSites.remove(info.stageId))
          .getOrElse(info.name.takeWhile(_ != '+').trim)
        siteAgg.merge("stage: " + site,
          (ms, 1), (a, b) => (a._1 + b._1, a._2 + b._2))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run("q1_agg"); run("q1_agg") // session warmup (JIT + FS caches)
    args.foreach { name =>
      // second run profiled: steady-state, fits/indices warm — the
      // shape Bench's best-of-2 measures
      val first = run(name)
      drain(spark.sparkContext)
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(taskMs, shufR, shufW).foreach(_.set(0L))
      siteAgg.clear()
      stageSites.clear()
      val wall = run(name)
      drain(spark.sparkContext)
      println(f"[time] $name%-32s best ${math.min(first, wall)}%6.2f s  (runs: $first%.2f, $wall%.2f)")
      println(f"[profile] $name%-34s wall ${wall}%7.2f s  jobs ${jobs.get()}%4d  stages ${stages.get()}%5d  tasks ${tasks.get()}%6d  taskTime ${taskMs.get() / 1000.0}%8.1f s  shufR ${shufR.get() / 1048576.0}%8.1f MiB  shufW ${shufW.get() / 1048576.0}%8.1f MiB")
      siteAgg.asScala.toSeq.sortBy(-_._2._1).take(20).foreach {
        case (site, (ms, n)) =>
          println(f"[profile-jobs]   ${ms / 1000.0}%7.2f s  x$n%-4d $site")
      }
    }
    spark.stop()
  }
}
