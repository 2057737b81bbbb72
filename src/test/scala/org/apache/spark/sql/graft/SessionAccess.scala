package org.apache.spark.sql.graft

import org.apache.spark.graft.ConfAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Sessions a spec cannot build through the public builder, which
 *  returns the running session. The session constructor is
 *  `private[sql]`, so the accessor lives in a sub-package of
 *  `org.apache.spark.sql`. */
object SessionAccess {
  /** A new session on `spark`'s context that applies no session
   *  extension, whatever `spark.sql.extensions` names. */
  def withoutExtensions(spark: SparkSession): SparkSession = {
    val sc = spark.sparkContext
    ConfAccess.without(sc, "spark.sql.extensions")(new ClassicSession(sc))
  }
}
