package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run drains it
  * after every operation so each listener event is attributed to the
  * operation that caused it. */
object MedbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
