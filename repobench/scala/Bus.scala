package org.apache.spark.repobench

import org.apache.spark.SparkContext

/** Access to Spark's private listener bus, so listener-derived counts
  * are read only after every queued event has been delivered (no
  * polling on partially delivered state). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
