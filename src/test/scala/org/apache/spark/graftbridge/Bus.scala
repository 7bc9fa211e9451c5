package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus's drain is Spark-internal; this object sits in
  * Spark's package namespace only to reach it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
