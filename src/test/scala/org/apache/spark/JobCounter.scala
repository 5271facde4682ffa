package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code launches. Lives in
  * Spark's package to flush the listener bus (`private[spark]`), so
  * the count includes every job submitted before the block returned. */
object JobCounter {
  /** Waits until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def jobsDuring[A](sc: SparkContext)(f: => A): (A, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }
}
