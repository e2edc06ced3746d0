package graft.tools

import graft.obs.Noop

/** Per-query timing and execution profile for plan iteration (dev
  * tool — the gate-facing figure stays Bench, which runs the whole
  * surface). Each query runs twice on Bench's discipline (noop sink,
  * q1_agg warmup): both walls and their best are printed, and the
  * second run's ledger is profiled — job/stage/task counts, summed task
  * time and shuffle bytes, the numbers that separate "slow because of
  * real compute" from "slow because of orchestration" (guide §1:
  * measure first; §2.2: count the exchanges), and the SQL executions
  * started, which AQE's query-stage jobs do not jitter. After each
  * `[profile]` line a `[profile-jobs]` table lists the top 20 job labels
  * and stages by wall (see `Ledger.Job` for the label rule).
  *
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileQuery q_a q_b"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    Noop.warm(spark, sfDir)
    args.foreach { name =>
      // second run profiled: steady-state, fits/indices warm — the
      // shape Bench's best-of-2 measures
      val first = Noop.run(spark, name, sfDir).wallS
      val l = Noop.run(spark, name, sfDir)
      val wall = l.wallS
      println(f"[time] $name%-32s best ${math.min(first, wall)}%6.2f s  (runs: $first%.2f, $wall%.2f)")
      println(f"[profile] $name%-34s wall ${wall}%7.2f s  jobs ${l.jobs.size}%4d  stages ${l.stages.size}%5d  tasks ${l.tasks}%6d  taskTime ${l.runMs / 1000.0}%8.1f s  shufR ${l.shuffleReadBytes / 1048576.0}%8.1f MiB  shufW ${l.shuffleWriteBytes / 1048576.0}%8.1f MiB  execs ${l.sqlExecutions}%4d")
      // job walls and stage run times summed by label: the map from wall
      // seconds back to the round or operator line that paid them
      val byLabel = l.jobs.map(j => (j.label, j.wallMs)) ++
        l.stages.map(s => ("stage: " + s.label, s.runMs))
      byLabel.groupMapReduce(_._1)(p => (p._2, 1)) {
        case ((a, m), (b, n)) => (a + b, m + n)
      }.toSeq.sortBy(-_._2._1).take(20).foreach { case (site, (ms, n)) =>
        println(f"[profile-jobs]   ${ms / 1000.0}%7.2f s  x$n%-4d $site")
      }
    }
    spark.stop()
  }
}
