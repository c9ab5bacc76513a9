package org.apache.spark

/** The listener bus's flush is package-private; the benchmark needs it so
  * that every job, task and progress event is counted before it reports.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
