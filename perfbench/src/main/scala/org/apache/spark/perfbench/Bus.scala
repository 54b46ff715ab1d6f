package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** Lives under `org.apache.spark` only to reach two `private[spark]`
  * members: the listener bus's drain, so the tracer reads every event of
  * a call before it attributes the next one, and the block manager's list
  * of cached RDD blocks.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)

  def rddBlocks(): Int = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).size
}
