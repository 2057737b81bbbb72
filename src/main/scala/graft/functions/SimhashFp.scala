package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * Native Catalyst expression: `simhash_fp(array<string>) -> bigint` —
 * the WHOLE 32-bit SimHash fingerprint of a (distinct) gram array in
 * one in-row loop over [[PolyHash]] gram ids (bit votes
 * `((gid * (37 + 101 b) + 17 + 257 b) mod P) mod 2`, bit set when the
 * ±1 vote sum is positive).
 *
 * This collapses the fingerprint STAGE of the simhash pipeline
 * (explode grams → per-(doc, bit) votes → 32-column partial agg →
 * doc-keyed exchange) into a pure projection: at 100 TB the signature
 * pass becomes scan → project with NO explode, NO aggregation and NO
 * exchange — rows stay where the scan put them until banding. The
 * arithmetic is bit-for-bit the aggregation path's
 * (`Dedup.simhashFpWide`), so the existing banded-parity DuckDB
 * oracle verifies this path unchanged. It is the fingerprint pass of
 * every 32-bit simhash caller (`Dedup.simhashFingerprints`); the
 * 64-bit width keeps the aggregation.
 *
 * Empty arrays fingerprint to 0 — the caller must filter gram-less
 * docs (< n tokens) out first, exactly as the aggregation path drops
 * them by producing no vote rows (`Dedup.simhashFingerprints` does).
 * Null input gives null; null array ELEMENTS are skipped (the
 * `word_ngrams` producer never emits them).
 */
case class SimhashFp(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_fp expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_fp"

  override def nullSafeEval(arr: Any): Any =
    SimhashFp.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.SimhashFp.compute($arr);")

  override protected def withNewChildInternal(newChild: Expression): SimhashFp =
    copy(child = newChild)
}

object SimhashFp {
  val Bits = 32

  /** Shared by interpreted eval and codegen (static-invoke pattern,
   *  [[PolyHash.compute]] precedent). The vote constants and modulus
   *  mirror `Dedup.simhashFpWide` exactly — parity is asserted
   *  per-document in SimhashFpSpec and end-to-end by the shared
   *  banded oracle. */
  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](Bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val gid = PolyHash.compute(arr.getUTF8String(i))
        var b = 0
        while (b < Bits) {
          val bit = ((gid * (37L + 101L * b) + (17L + 257L * b)) % PolyHash.P) % 2L
          votes(b) += (if (bit == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < Bits) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}
