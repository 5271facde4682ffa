package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.JobCounter
import org.apache.spark.scheduler.{JobFailed, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** `Par`'s contract: results in input order; the first failing chain
  * fails the call at once and cancels its siblings' Spark jobs. */
class ParSpec extends SparkSpec {

  test("parN: every chain's result, in input order") {
    val got = Par.parN((1 to 5).map(i => () =>
      spark.range(i).agg(sum("id")).head().getLong(0)), parallelism = 2)
    assert(got == (1 to 5).map(i => (0 until i).sum.toLong))
  }

  test("parN: a failing chain returns at once and cancels a sleeping " +
      "sibling's job") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.CountDownLatch(1)
    val job = new AtomicReference[Integer]
    val ended = new AtomicReference[SparkListenerJobEnd]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id", "")
            .startsWith("graft-par-")) {
          job.set(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (job.get == e.jobId) ended.set(e)
    }
    sc.addSparkListener(listener)
    val sibling = new AtomicReference[Throwable]
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException](Par.par2(
        try sc.parallelize(1 to 2, 2).map { i =>
          Thread.sleep(120000L); i
        }.count()
        catch { case t: Throwable => sibling.set(t); throw t },
        {
          assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException("chain failed")
        }))
      assert(e.getMessage == "chain failed")
      val waited = (System.nanoTime() - t0) / 1e9
      assert(waited < 30, s"parN returned after $waited s")
      // the sibling's job ends cancelled well before its tasks' sleep
      val deadline = System.nanoTime() + 30e9.toLong
      while (sibling.get == null && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(sibling.get != null, "sibling job still running")
      assert(sibling.get.getMessage.toLowerCase.contains("cancel"),
        sibling.get.getMessage)
      JobCounter.drain(sc)
      assert(ended.get != null && ended.get.jobResult.isInstanceOf[JobFailed])
      assert((System.nanoTime() - t0) / 1e9 < 60)
    } finally sc.removeSparkListener(listener)
  }
}
