package org.apache.spark

/** Test access to the listener bus: the status tracker is fed
  * asynchronously, so drain the bus before asserting on it. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
