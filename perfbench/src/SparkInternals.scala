package org.apache.spark.lakebench

import org.apache.spark.{SparkContext, SparkEnv}

/** Bridges to Spark internals the benchmark reads but Spark keeps
  * private to its package. */
object SparkInternals {
  /** Waits until the listener bus has delivered every posted event, so
    * counters read after it include all work submitted before it. */
  def drainBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** RDD blocks the local block manager still holds. */
  def rddBlocks(): Int = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).size
}
