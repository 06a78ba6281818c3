package org.apache.spark

/** Package-private Spark hooks for specs: wait until the listener bus has
  * delivered every posted event, so a listener's counts are complete. */
object TestAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
