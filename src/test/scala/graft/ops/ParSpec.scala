package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSuite

class ParSpec extends SparkSuite {

  test("each Par.two call's jobs carry that call's job description") {
    val sc = spark.sparkContext
    def twoJobs(): Long = spark.range(10).count() + spark.range(20).count()
    try {
      Seq("par call one", "par call two").foreach { d =>
        sc.setJobDescription(d)
        val descs = jobDescriptions(Par.two(twoJobs(), twoJobs()))
        assert(descs.size >= 4)
        assert(descs.forall(_.contains(d)), descs)
      }
    } finally sc.setJobDescription(null)
  }

  test("a failing thunk fails Par.two at once, not after the other one") {
    spark // Par.two runs its thunks under the active session
    val latch = new CountDownLatch(1)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Par.two(latch.await(30, TimeUnit.SECONDS),
          throw new IllegalStateException("boom"))
      }
      assert(e.getMessage === "boom")
      assert((System.nanoTime() - t0) / 1e9 < 10)
    } finally latch.countDown()
  }
}
