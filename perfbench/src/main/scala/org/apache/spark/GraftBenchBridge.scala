package org.apache.spark

/** Access to the listener bus, which is private to Spark: a traced run
  * waits for every event of an operation to be delivered before it reads
  * the listeners, so each event is charged to the right operation. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
