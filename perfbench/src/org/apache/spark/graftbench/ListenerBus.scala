package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the trace collector
  * drains it before reading the job and task events of a pass.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
