package org.apache.spark

/** Drains the listener bus so a spec's listener has seen every event of the
  * actions before it (the bus delivers events asynchronously and its drain
  * method is package-private).
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
