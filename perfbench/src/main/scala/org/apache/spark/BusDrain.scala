package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete at a span boundary. The bus is
  * `private[spark]`; this one-line bridge is the only code that reaches it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
