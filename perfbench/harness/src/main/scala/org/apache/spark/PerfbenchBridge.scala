package org.apache.spark

/** The one `private[spark]` call the harness needs: listener events are
  * delivered asynchronously, so counters are read only after the bus has
  * delivered everything posted so far.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
