package org.apache.spark

/** The listener bus is private to Spark; the tracer drains it before it
  * reads what the listeners attributed, so no late event is lost.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
