package graft.util

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.StructType

/** A Column formula over the columns of `inputs`, evaluated one row at
 *  a time outside any query: the Catalyst expression a projection of
 *  `formula` runs, analysed over an empty `LocalRelation` of `inputs`
 *  (so its type coercion and its error behaviour are Catalyst's own)
 *  and bound to the input ordinals. `eval` of an `InternalRow` of
 *  `inputs` gives what the projection gives for that row, or throws
 *  what it throws. The bound expression is serializable, so a task can
 *  evaluate it too.
 *
 *  A formula is analysed once per ANSI mode, the one conf that changes
 *  what arithmetic does (a division by zero, an overflow); a formula
 *  whose meaning turns on another conf does not belong here. */
final class Formula(inputs: StructType, formula: Column) {
  private val bound = new ConcurrentHashMap[java.lang.Boolean, Expression]

  /** The bound expression under `spark`'s ANSI mode. */
  def apply(spark: SparkSession): Expression =
    bound.computeIfAbsent(spark.sessionState.conf.ansiEnabled, _ => {
      val plan = spark.createDataFrame(java.util.List.of[Row](), inputs)
        .select(formula.as("value")).queryExecution.analyzed
      plan match {
        case Project(Seq(Alias(e, _)), relation) =>
          BindReferences.bindReference(e, relation.output)
        case other => throw new IllegalStateException(s"not a projection: $other")
      }
    })
}
