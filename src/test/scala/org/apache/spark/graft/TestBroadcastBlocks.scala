package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test-only view of the broadcast variables still resident in the block
  * manager (`BlockManager` is private[spark]). In local mode the driver's
  * block manager is the only one, so this is every live broadcast of the
  * session: the ids that still hold a block, each with the class name of
  * its value (empty when only pieces remain), so a spec can tell the
  * engine's own broadcasts from Spark's plan relations and Hadoop-conf
  * broadcasts, which the ContextCleaner frees after a GC. */
object TestBroadcastBlocks {
  def resident(): Map[Long, String] = {
    val bm = SparkEnv.get.blockManager
    bm.master.getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case b: BroadcastBlockId => b.broadcastId }.distinct
      .map { id =>
        // draining the iterator releases the read lock getLocalValues takes
        id -> bm.getLocalValues(BroadcastBlockId(id))
          .flatMap(_.data.toList.headOption.map(_.getClass.getName))
          .getOrElse("")
      }.toMap
  }
}
