package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; job-counting specs
  * drain it so every event of the jobs they ran has been delivered.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
