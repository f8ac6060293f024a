package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so that a
  * span's counters are complete before they are read. The bus drain is
  * `private[spark]`, hence this one-method bridge in Spark's package. */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
