package org.apache.spark

/** Spark posts listener events asynchronously and offers no public way
  * to wait for them, so the harness reaches the (package-private) bus
  * from this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
