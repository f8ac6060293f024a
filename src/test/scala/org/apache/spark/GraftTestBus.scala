package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so that a
  * spec reads complete listener state. The bus drain is `private[spark]`,
  * hence this one-method bridge in Spark's package. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
