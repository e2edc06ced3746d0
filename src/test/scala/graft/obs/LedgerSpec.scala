package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.BusListeners

import graft.SparkSuite

class LedgerSpec extends SparkSuite {

  test("a described job is labelled with its description") {
    val sc = spark.sparkContext
    val (_, l) = Ledger.measure(spark) {
      sc.setJobDescription("ledger probe")
      try sc.parallelize(1 to 10, 2).count()
      finally sc.setJobDescription(null)
    }
    assert(l.jobs.map(j => (j.description, j.label)) ===
      Seq((Some("ledger probe"), "ledger probe")))
  }

  test("an undescribed DataFrame shuffle under AQE is labelled with its " +
      "SQL execution's call site; its jobs lie inside the block") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val (_, l) = Ledger.measure(spark) {
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .collect()
    }
    // the shuffle runs as its own AQE query-stage job, submitted from
    // the AQE thread: its last stage is named after that thread
    assert(l.jobs.size >= 2, l.jobs)
    assert(l.jobs.forall(_.description.isEmpty), l.jobs)
    val labels = l.jobs.map(_.label) ++ l.stages.map(_.label)
    assert(labels.forall(_.startsWith("collect at LedgerSpec.scala:")), labels)
    assert(!labels.exists(_.contains("CompletableFuture")), labels)
    assert(l.sqlExecutions === 1)
    // each job's wall, on the scheduler's clock, lies inside the block's
    l.jobs.foreach(j =>
      assert(j.startMs >= l.startMs && j.endMs <= l.endMs, (j, l)))
  }

  test("an RDD job outside SQL: its last stage's call site, exact counts") {
    val (_, l) = Ledger.measure(spark) {
      spark.sparkContext.parallelize(1 to 100, 4).map(x => (x % 3, x))
        .reduceByKey(_ + _).collect()
    }
    assert(l.jobs.size === 1)
    val j = l.jobs.head
    assert(j.label.startsWith("collect at LedgerSpec.scala:"), j.label)
    assert(j.description === None)
    assert((j.stages, l.stages.size) === ((2, 2)))
    assert(l.stages.forall(_.label == j.label), l.stages)
    assert((j.tasks, l.tasks) === ((8, 8)))
    assert(j.shuffleWriteBytes > 0 && j.shuffleReadBytes > 0)
    assert(l.sqlExecutions === 0)
  }

  test("a DataFrame count() starts one SQL execution") {
    assert(Ledger.measure(spark)(spark.range(0, 100).count())._2
      .sqlExecutions === 1)
  }

  test("no job before, or after a return or a throw, is recorded") {
    val sc = spark.sparkContext
    val listeners = BusListeners.count(sc)
    // a slow listener keeps this job's last events queued on the bus when
    // `measure` starts: only its drain before attaching keeps them out
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(300)
    }
    sc.addSparkListener(slow)
    try sc.parallelize(1 to 4, 1).count()
    finally sc.removeSparkListener(slow)
    val (_, empty) = Ledger.measure(spark)(())
    assert(empty.jobs.isEmpty && empty.stages.isEmpty)
    val (_, l) = Ledger.measure(spark)(sc.parallelize(1 to 4, 1).count())
    sc.parallelize(1 to 4, 1).count()
    assert(l.jobs.size === 1)
    assert(BusListeners.count(sc) === listeners)
    val e = intercept[IllegalStateException] {
      Ledger.measure(spark) {
        sc.parallelize(1 to 4, 1).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(BusListeners.count(sc) === listeners)
  }
}
