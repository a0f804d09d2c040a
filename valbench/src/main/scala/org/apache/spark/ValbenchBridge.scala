package org.apache.spark

/** The listener bus is package-private; the traced run drains it at the end
  * of each span so every task and query event is attributed before the
  * span closes. */
object ValbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
