package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark's job counters are complete before they are read.
  */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
