package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * a listener's counters are complete when the benchmark reads them
  * after an operation. The bus is `private[spark]`; this is the one
  * reason the benchmark has a file in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
