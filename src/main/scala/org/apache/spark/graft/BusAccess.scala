package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The listener bus delivers events asynchronously; whatever reads
 *  what a listener recorded waits for it to drain first. `listenerBus`
 *  is `private[spark]`, so the accessor lives in a sub-package of
 *  `org.apache.spark`. */
object BusAccess {
  /** Posts `event` to every listener, as Spark posts its own. */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)

  /** Returns once every event posted before the call has been
   *  delivered to every listener (60 s bound). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
