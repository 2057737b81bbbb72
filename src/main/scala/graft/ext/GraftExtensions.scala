package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CdcChunks, Int8Milli, MinhashSig, PolyHash, QDot, QuantizeMilli, SimhashFp, WinnowFps, WordNGrams, WordNGramsAll}

/**
 * SparkSessionExtensions entry point registering graft's native
 * functions — install with
 * `.config("spark.sql.extensions", "graft.ext.GraftExtensions")`
 * (or `SparkSession.builder.withExtensions(new GraftExtensions)`).
 *
 * Registered SQL functions:
 *  - `qdot(array<bigint>, array<bigint>) -> bigint` — codegen'd
 *    integer dot product ([[graft.functions.QDot]]).
 *  - `word_ngrams(string, int) -> array<string>` — codegen'd distinct
 *    word n-gram shingling ([[graft.functions.WordNGrams]]).
 *  - `word_ngrams_all(string, int) -> array<string>` — multiplicity-
 *    preserving variant for n-gram statistics
 *    ([[graft.functions.WordNGramsAll]]).
 *  - `poly_hash(string) -> bigint` — codegen'd polynomial rolling
 *    hash mod 1000003, the SQL-reproducible scale-mode gram-id family
 *    ([[graft.functions.PolyHash]]).
 *  - `simhash_fp(array<string>) -> bigint` — codegen'd whole
 *    32-bit SimHash fingerprint of a gram array over `poly_hash`
 *    gram ids ([[graft.functions.SimhashFp]]).
 *  - `minhash_sig(array<string>[, width]) -> array<bigint>` —
 *    codegen'd whole MinHash signature over `poly_hash` gram ids, width
 *    literal defaulting to 16 ([[graft.functions.MinhashSig]]).
 *  - `winnow_fps(string, int, int) -> array<bigint>` — codegen'd
 *    complete winnowing fingerprint selection (packed hash*2^20+pos)
 *    ([[graft.functions.WinnowFps]]).
 *  - `cdc_chunks(string, int) -> array<struct<fp,len>>` — codegen'd
 *    complete content-defined chunking of a document under the poly
 *    family ([[graft.functions.CdcChunks]]).
 *  - `quantize_milli(array<float|double>) -> array<bigint>` —
 *    codegen'd milli-unit round-half-up quantization, the embedding
 *    family's entry projection ([[graft.functions.QuantizeMilli]]).
 *  - `int8_milli(array<bigint>) -> array<bigint>` — codegen'd
 *    symmetric per-vector int8 quantization of a milli-quantized
 *    vector ([[graft.functions.Int8Milli]]).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("qdot"),
      new ExpressionInfo(classOf[QDot].getName, "qdot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "qdot expects exactly 2 arguments")
        QDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "word_ngrams expects exactly 2 arguments")
        WordNGrams(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams_all"),
      new ExpressionInfo(classOf[WordNGramsAll].getName, "word_ngrams_all"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "word_ngrams_all expects exactly 2 arguments")
        WordNGramsAll(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "poly_hash expects exactly 1 argument")
        PolyHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_fp"),
      new ExpressionInfo(classOf[SimhashFp].getName, "simhash_fp"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash_fp expects exactly 1 argument")
        SimhashFp(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 1 || children.length == 2,
          "minhash_sig expects 1 or 2 arguments")
        if (children.length == 1) MinhashSig(children.head)
        else children(1) match {
          // match on the literal's TYPE, not just foldability: a
          // string or null literal would otherwise surface as a raw
          // ClassCastException/NPE at plan time instead of an
          // analysis error naming the function
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
            MinhashSig(children.head, v)
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) =>
            MinhashSig(children.head, v.toInt)
          case other => throw new IllegalArgumentException(
            "minhash_sig width must be a non-null integer literal, got: " +
              other.sql)
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "winnow_fps expects exactly 3 arguments")
        WinnowFps(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cdc_chunks expects exactly 2 arguments")
        CdcChunks(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("quantize_milli"),
      new ExpressionInfo(classOf[QuantizeMilli].getName, "quantize_milli"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "quantize_milli expects exactly 1 argument")
        QuantizeMilli(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("int8_milli"),
      new ExpressionInfo(classOf[Int8Milli].getName, "int8_milli"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "int8_milli expects exactly 1 argument")
        Int8Milli(children.head)
      }))
  }
}
