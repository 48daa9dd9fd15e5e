package org.apache.spark

/** Bridge into `private[spark]` members: drains the async listener bus
  * so per-call job/stage/task counts are complete before they are read.
  */
object BenchListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
