package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its span listener only after every posted event has been handled.
  * `listenerBus` is package-private, hence this one-line shim. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
