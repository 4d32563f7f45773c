package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark drains it
  * before reading the counters its listeners collected for an op.
  * Lives in the org.apache.spark package solely for visibility.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
