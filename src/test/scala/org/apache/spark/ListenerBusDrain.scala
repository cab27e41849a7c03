package org.apache.spark

/** The listener bus drain, which Spark keeps package-private. Specs that
  * count jobs or read the status tracker drain the bus first, so every
  * event posted so far has reached the listeners and the status store.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
