package org.apache.spark.e2ebench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. The harness closes an
  * op's trace only after every event the op posted has been delivered,
  * which needs the scheduler's own listener bus. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
