package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The live conf of a running context, for a spec that changes a conf
 *  the scheduler reads per job (`getConf` returns a copy, which
 *  changes nothing). `conf` is `private[spark]`, so the accessor lives
 *  in a sub-package of `org.apache.spark`. */
object ConfAccess {
  /** `body` with `key` set to `value` in `sc`'s conf, then restored. */
  def withConf[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val old = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body finally old.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
