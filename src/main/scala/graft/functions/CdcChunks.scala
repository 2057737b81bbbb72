package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: `cdc_chunks(text, avg) ->
 * array<struct<fp: bigint, len: bigint>>` — the COMPLETE
 * content-defined-chunking chain of one document in one in-row loop:
 * [[PolyHash]] every whitespace token, cut BEFORE each token whose
 * hash is ≡ 0 (mod `avg`) (the gear-style rule — boundaries are
 * content-anchored, so an insertion re-synchronizes within one
 * chunk), and emit each chunk's order-encoding fingerprint
 * `sum(gh_i * i)` (i = 1-based offset within the chunk) plus its
 * token length, in position order.
 *
 * Why: a DataFrame formulation must posexplode every token and pay a
 * doc-partitioned exchange + sort TWICE (the running cut-count
 * window, then the within-chunk offset window) before the (fp, len)
 * aggregate. Chunking is per-document local by construction — the
 * [[WinnowFps]] precedent — so this expression keeps the whole chain
 * inside whole-stage codegen: scan → project → explode of the CHUNK
 * set only (~1/avg of the tokens), with NO exchange before a
 * consumer's partial agg. It is the one Spark spelling of the chunk
 * chain ([[graft.pipeline.Dedup]]'s `cdcOccurrences` builds every CDC
 * key on it); the DuckDB oracles re-derive the chunks with those two
 * windows, and CdcChunksSpec checks it per doc against an
 * independent Scala reference.
 *
 * Every token lands in exactly one chunk (token mass is conserved);
 * an empty string is ONE token (`split` semantics) and yields one
 * chunk of len 1. Null text gives null.
 */
case class CdcChunks(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks expects (string, int literal), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  override def dataType: DataType = CdcChunks.OutType

  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(s: Any, avg: Any): Any =
    CdcChunks.compute(s.asInstanceOf[UTF8String], avg.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, avg) =>
      s"${ev.value} = graft.functions.CdcChunks.compute($s, $avg);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CdcChunks =
    copy(left = newLeft, right = newRight)
}

object CdcChunks {
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("fp", LongType, nullable = false),
    StructField("len", LongType, nullable = false))),
    containsNull = false)

  /** Shared by interpreted eval and codegen ([[PolyHash.compute]]
   *  static-invoke pattern). Tokenization matches `split(text, ' ')`
   *  with trailing empties kept (the [[WordNGrams]] contract); the
   *  cut rule and fingerprint mirror the oracles' window chain: a
   *  token with `poly_hash % avg == 0` STARTS a new chunk (the
   *  running cut-count window includes the current row). */
  def compute(s: UTF8String, avg: Int): ArrayData = {
    val toks = s.toString.split(" ", -1)
    val out = new java.util.ArrayList[Any]()
    val m = if (avg <= 0) 1L else avg.toLong
    var fp = 0L
    var len = 0L
    var i = 0
    while (i < toks.length) {
      val gh = PolyHash.compute(UTF8String.fromString(toks(i)))
      if (gh % m == 0L && len > 0L) {
        out.add(new GenericInternalRow(Array[Any](fp, len)))
        fp = 0L
        len = 0L
      }
      len += 1L
      fp += gh * len
      i += 1
    }
    if (len > 0L) out.add(new GenericInternalRow(Array[Any](fp, len)))
    new GenericArrayData(out.toArray)
  }
}
