package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The live conf of a running context, for a spec that changes a conf
 *  the scheduler or a new session reads (`getConf` returns a copy,
 *  which changes nothing). `conf` is `private[spark]`, so the accessor lives
 *  in a sub-package of `org.apache.spark`. */
object ConfAccess {
  /** `body` with `key` set to `value` in `sc`'s conf, then restored. */
  def withConf[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val old = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body finally old.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }

  /** `body` with `key` removed from `sc`'s conf, then restored. */
  def without[T](sc: SparkContext, key: String)(body: => T): T = {
    val old = sc.conf.getOption(key)
    sc.conf.remove(key)
    try body finally old.foreach(sc.conf.set(key, _))
  }
}
