package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer drains the bus at span boundaries so that every task-end
  * event of a call is counted inside that call's span.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
