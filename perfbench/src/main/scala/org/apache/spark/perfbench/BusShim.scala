package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: listener events are
  * delivered asynchronously, so a pass's counters are read only after
  * the bus has drained every event of the jobs that just returned.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
