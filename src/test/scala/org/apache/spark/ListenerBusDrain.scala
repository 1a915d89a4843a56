package org.apache.spark

/** Spark keeps its listener bus private, hence this package. */
object ListenerBusDrain {

  /** Waits until every posted event has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
