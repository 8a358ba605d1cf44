package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs reads its listener only after every posted event has been
  * handled. `listenerBus` is package-private, hence this one-line shim. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
