package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a
  * spec that reads what a listener collected sees every action it ran.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
