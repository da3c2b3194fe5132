package org.apache.spark

/** The listener bus delivers events on its own thread. The benchmark reads
  * its counters only after the bus has caught up, so every task of a pass
  * is counted in that pass; the drain is `private[spark]`, hence this
  * package. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
