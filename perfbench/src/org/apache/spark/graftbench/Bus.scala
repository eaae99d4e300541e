package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; a traced run needs
  * it so that each unit's events are counted before the unit closes. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
