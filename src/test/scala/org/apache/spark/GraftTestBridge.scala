package org.apache.spark

/** Test-only access to the `private[spark]` listener bus: listener events
  * (query executions, task ends) are delivered asynchronously, so a test
  * that counts them drains the bus first. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
