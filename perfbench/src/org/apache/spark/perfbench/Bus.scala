package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after the bus has delivered everything posted so far.
  * `waitUntilEmpty` is `private[spark]`, hence this same-package shim.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
