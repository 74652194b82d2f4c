package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered. `listenerBus` is `private[spark]`, hence this package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
