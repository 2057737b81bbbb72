package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: `winnow_fps(text, n, w) -> array<bigint>`
 * — the COMPLETE winnowing fingerprint selection
 * (Schleimer-Wilkerson-Aiken, SIGMOD'03) of a document in one in-row
 * loop: hash every word n-gram with [[PolyHash]], slide a window of
 * `w` consecutive gram hashes, keep the minimum PACKED value
 * (`hash * 2^20 + pos` — the leftmost-tie packing the DuckDB
 * oracle uses), distinct, in position order.
 *
 * Why: winnowing is per-document LOCAL by construction, yet a
 * DataFrame formulation must posexplode every gram and pay a
 * doc-partitioned exchange + sort just to run the sliding-window min.
 * This expression keeps the whole selection inside whole-stage
 * codegen — scan → project → explode of the SELECTED set only
 * (~2/(w+1) of the grams), with NO exchange until a consumer
 * aggregates. It is the one Spark spelling of the selection
 * (`TextAnalysis.winnowFingerprints` and every winnow key run it);
 * the DuckDB oracle re-derives it with that window, and WinnowFpsSpec
 * checks it per doc against an independent Scala reference.
 *
 * Documents with fewer than n + w - 1 tokens have no full window and
 * yield an empty array (the oracle's `pos <= n_grams - w` filter
 * drops them identically). Null text gives null.
 */
case class WinnowFps(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
        if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"winnow_fps expects (string, int literal, int literal), got " +
          s"(${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
          s"${third.dataType.catalogString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(s: Any, n: Any, w: Any): Any =
    WinnowFps.compute(s.asInstanceOf[UTF8String],
      n.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n, w) =>
      s"${ev.value} = graft.functions.WinnowFps.compute($s, $n, $w);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WinnowFps =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowFps {
  val PosPack = 1048576L // 2^20, matches the DataFrame path's packing

  /** Shared by interpreted eval and codegen ([[PolyHash.compute]]
   *  static-invoke pattern). Tokenization matches `split(text, ' ')`
   *  ([[WordNGrams]] contract); gram hashes are [[PolyHash]] over the
   *  space-joined gram. Returns the distinct window minima in
   *  position order. */
  def compute(s: UTF8String, n: Int, w: Int): ArrayData = {
    val toks = s.toString.split(" ", -1)
    val g = toks.length - n + 1
    if (n <= 0 || w <= 0 || g < w)
      return new GenericArrayData(Array.empty[Any])
    // packed gram keys in position order
    val pk = new Array[Long](g)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < g) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      pk(i) = PolyHash.compute(UTF8String.fromString(sb.toString)) * PosPack + i
      i += 1
    }
    // sliding-window min, distinct, position order: consecutive windows
    // reselect the same minimum, so "new selection differs from the
    // previous" IS the distinct rule and the output stays pos-sorted
    val out = new java.util.ArrayList[Any]()
    var prev = -1L
    var p = 0
    while (p <= g - w) {
      var m = pk(p)
      var q = p + 1
      while (q < p + w) {
        if (pk(q) < m) m = pk(q)
        q += 1
      }
      if (m != prev) { out.add(m); prev = m }
      p += 1
    }
    new GenericArrayData(out.toArray)
  }
}
