package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so a test listener's counters are complete when the test reads
  * them. The bus is `private[spark]`, hence this object's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
