package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event. The bus is
  * `private[spark]`, hence this package.
  */
object ListenerBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
