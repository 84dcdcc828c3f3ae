package org.apache.spark

/** Specs' one reach into Spark internals: `listenerBus` is `private[spark]`,
  * so only code in this package can wait for the asynchronous listener bus
  * to deliver every event already posted. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
