package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test-side reads of Spark internals that are `private[spark]`: the RDD
  * blocks the block managers hold, and draining the listener bus. */
object SparkProbe {
  /** Every RDD block the cluster's block managers report. */
  def rddBlocks(sc: SparkContext): Seq[RDDBlockId] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case b: RDDBlockId => b }.toSeq

  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
