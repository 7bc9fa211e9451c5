package org.apache.spark.graftbridge

import org.apache.spark.{SparkContext, SparkEnv}

/** The listener bus's drain and the block manager are Spark-internal;
  * this object sits in Spark's package namespace only to reach them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Removes every block of RDD `rddId` through the block manager master,
    * and waits until they are gone: the local-mode stand-in for losing
    * the executors that held them. */
  def dropRddBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
