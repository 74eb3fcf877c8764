package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event.
  *
  * The traced run calls this between operations, outside their latency,
  * so that the listener records of one operation are complete before
  * the next one starts. The bus itself is `private[spark]`, hence this
  * one accessor in Spark's package namespace.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
