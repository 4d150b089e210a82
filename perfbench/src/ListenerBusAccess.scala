package org.apache.spark

/** Lets the benchmark wait until Spark's asynchronous listener bus has
  * delivered every queued event, so stage and query callbacks for a timed
  * execution are all recorded before the benchmark reads them. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
