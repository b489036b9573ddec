package org.apache.spark.sql.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test view of the broadcasts this JVM's block manager holds
  * (`private[spark]`). */
object BroadcastBlocks {
  /** Ids of every broadcast with a block in this JVM's block manager. */
  def ids(): Set[Long] = SparkEnv.get.blockManager
    .getMatchingBlockIds(_.isBroadcast)
    .collect { case b: BroadcastBlockId => b.broadcastId }.toSet
}
