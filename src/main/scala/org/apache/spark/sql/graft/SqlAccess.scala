package org.apache.spark.sql.graft

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions}
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst entry points graft's native expressions and sources use
 *  without a session extension. Each is `private[sql]` in Spark, so
 *  the accessor lives in a sub-package of `org.apache.spark.sql`. */
object SqlAccess {
  /** A Column that holds `e` as it is: no function-registry lookup, so
   *  it resolves in any session. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Jackson factory `from_json` parses with under default options
   *  (quoting, number and nesting rules, read constraints). */
  def jsonFactory(): JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC", "_corrupt_record").buildJsonFactory()

  /** The parser `from_json` opens on a string: a char `Reader` over its
   *  UTF-8 bytes (malformed bytes decode to U+FFFD). `s` is on-heap. */
  def readerParser(factory: JsonFactory, s: UTF8String): JsonParser =
    CreateJacksonParser.utf8String(factory, s)

  /** A frame over rows already in Catalyst's format: no encoder is
   *  derived and no row is converted. */
  def internalFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rows, schema)
}
