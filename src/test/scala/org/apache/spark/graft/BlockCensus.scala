package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Counts of the driver block manager's blocks, for specs that check a
  * session is left as it was found (the block manager is Spark-private). */
object BlockCensus {
  def broadcastBlocks(sc: SparkContext): Int =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast).size
}
