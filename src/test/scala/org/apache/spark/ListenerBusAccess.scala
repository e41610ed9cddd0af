package org.apache.spark

/** Test-side access to the driver's listener bus. Listener events —
  * `QueryExecutionListener` callbacks among them — are delivered
  * asynchronously, so a spec that asserts on captured executions first
  * drains the bus. Lives in this package because the bus is
  * `private[spark]`.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
