package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * Native Catalyst expression: `minhash_sig(array<string>[, width]) ->
 * array<bigint>` — the whole `width`-hash MinHash signature of a
 * (distinct) gram array in one in-row loop over [[PolyHash]] gram
 * ids: `sig[j] = min over grams of ((37 + 101 j) * poly_hash(gram)
 * + 17 + 257 j) mod P`.
 *
 * The signature STAGE of the MinHash pipeline (gram explode →
 * per-hash min-column partial agg → doc-keyed exchange) becomes a pure
 * projection — the [[SimhashFp]] collapse applied to the sketch
 * family. The affine constants and modulus mirror
 * `Dedup.minhashSigWide` exactly at every width, so
 * `dedup_minhash_expr` shares `dedup_minhash`'s banded-parity oracle
 * verbatim (candidate buckets are identical; the exact-Jaccard verify
 * was never signature-dependent).
 *
 * `width` defaults to 16 (the family default `Dedup.NumHashes`); a
 * deployment at a higher-similarity bar passes a wider signature (32
 * hashes halves the estimator's standard error) without forking the
 * library — the same affine family just extends to more rows
 * (MinhashSigSpec asserts width-32 parity with the aggregation path).
 *
 * An EMPTY gram array yields NULL (the aggregation path emits no
 * signature row for a gram-less doc; callers filter nulls, keeping
 * the two paths' document sets identical). Null array elements are
 * skipped (the `word_ngrams` producer never emits them).
 */
case class MinhashSig(child: Expression, numHashes: Int = 16)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if numHashes > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig width must be positive, got $numHashes")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true // empty input -> null signature

  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(arr: Any): Any =
    MinhashSig.compute(arr.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"""
      ${ev.value} = graft.functions.MinhashSig.compute($arr, $numHashes);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  val NumHashes = 16

  /** Shared by interpreted eval and codegen ([[PolyHash.compute]]
   *  static-invoke pattern). Returns null when the array holds no
   *  non-null gram. */
  def compute(arr: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill[Long](numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val gid = PolyHash.compute(arr.getUTF8String(i))
        var j = 0
        while (j < numHashes) {
          val h = (gid * (37L + 101L * j) + (17L + 257L * j)) % PolyHash.P
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (!any) null else new GenericArrayData(mins)
  }
}
