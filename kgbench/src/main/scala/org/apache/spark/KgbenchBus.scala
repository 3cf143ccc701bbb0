package org.apache.spark

/** Drains the listener bus so counters read after a Spark action include
  * every event of that action (the bus delivers events asynchronously and
  * its drain method is package-private).
  */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
