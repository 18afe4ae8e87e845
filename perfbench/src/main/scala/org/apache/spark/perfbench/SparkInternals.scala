package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** The two Spark-internal reads the benchmark needs and Spark keeps
  * package-private: draining the listener bus before metrics are read, and
  * counting the broadcast variables whose blocks are still resident. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Distinct broadcast variables with at least one block in the block
    * manager (in local mode the driver's block manager is the only one). */
  def residentBroadcasts(): Int =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case b: BroadcastBlockId => b.broadcastId }
      .distinct.size
}
