package org.apache.spark

/** The one Spark-internal hook the traced run needs: wait until the
  * asynchronous listener bus has delivered every posted event, so a
  * counter read right after an operation includes all of that
  * operation's task and query events. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
