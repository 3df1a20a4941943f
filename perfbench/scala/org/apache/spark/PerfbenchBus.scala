package org.apache.spark

/** Drains the asynchronous listener bus so that every task, stage, job and
  * query-execution event of the work submitted so far has been delivered
  * to the benchmark's listeners. The bus is `private[spark]`, hence the
  * package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
