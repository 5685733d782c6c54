package org.apache.spark.graftprobe

import org.apache.spark.executor.ProcfsMetricsGetter

/** Spark's one process start after session start-up: the
  * `ProcfsMetricsGetter` initializer (`private[spark]`) forks
  * `getconf PAGESIZE` once per JVM, first reached from the driver
  * heartbeat's executor-metrics poll, 10–20 s after the context starts.
  * `init()` runs it now, so a process-start recording opened afterwards
  * cannot catch it.
  */
object ProcfsPageSize {
  def init(): Unit = ProcfsMetricsGetter.pTreeInfo: Unit
}
