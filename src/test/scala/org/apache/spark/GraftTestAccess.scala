package org.apache.spark

/** Test access to `private[spark]` hooks: waiting for the listener bus
  * lets a spec count the jobs an action launched without racing the
  * asynchronous event delivery. */
object GraftTestAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
