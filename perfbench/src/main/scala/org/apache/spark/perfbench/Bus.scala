package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark. */
object Bus {
  /** Block until every posted listener event has been delivered, so
    * counters read right after an action include that action. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
