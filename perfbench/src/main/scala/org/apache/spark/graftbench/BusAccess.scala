package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; work counters are
 *  read only after it has drained. `listenerBus` is `private[spark]`,
 *  so the accessor lives in a sub-package of `org.apache.spark`. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
