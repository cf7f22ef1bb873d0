package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`: a listener's
  * counts for an action are complete only once the bus has delivered
  * every event that action posted.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
