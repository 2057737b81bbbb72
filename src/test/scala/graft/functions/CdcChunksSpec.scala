package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CdcChunksSpec extends SparkSpec {

  import spark.implicits._

  /** Independent spelling of the whole chain: hash each token, cut
   *  BEFORE a token whose hash ≡ 0 (mod avg), order-encode. */
  private def reference(text: String, avg: Int): Seq[(Long, Long)] = {
    val toks = text.split(" ", -1)
    val hs = toks.map(w => PolyHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(w)))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var fp = 0L; var len = 0L
    for (gh <- hs) {
      if (gh % avg == 0 && len > 0) { out += ((fp, len)); fp = 0L; len = 0L }
      len += 1; fp += gh * len
    }
    if (len > 0) out += ((fp, len))
    out.toSeq
  }

  test("cdc_chunks matches the independent reference, conserves token mass, handles edges") {
    val cases = Seq(
      ("", 8),
      ("one", 8),
      ("the quick brown fox jumps over the lazy dog again and again", 8),
      // avg=1 cuts on EVERY token: one chunk per token
      ("a b c d", 1),
      ("x y z x y z x y z x y z", 4),
      ("unicode ünïcödé ğram ✓ café क्षत्रिय a‍😀 ok", 2))
    for ((text, avg) <- cases) {
      val got = Seq(Tuple1(text)).toDF("text")
        .select(explode(call_function("cdc_chunks", col("text"), lit(avg)))
          .as("ch"))
        .select(col("ch.fp"), col("ch.len"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === reference(text, avg), s"'$text' avg=$avg")
      // every token lands in exactly one chunk
      assert(got.map(_._2).sum === text.split(" ", -1).length.toLong,
        s"'$text' avg=$avg mass")
    }
    // every sf0.001 document through the occurrence builder the CDC
    // keys run: occ_key is doc-major/position-minor, so sorting by it
    // gives each doc's chunk sequence in position order
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val occ = graft.pipeline.Dedup.cdcOccurrences(docs, 8, Nil)
      .orderBy("occ_key").select("doc_id", "fp", "len").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSeq
    val byDoc = occ.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2) }
    assert(texts.nonEmpty)
    assert(byDoc.keySet === texts.keySet)
    for ((d, text) <- texts) {
      assert(byDoc(d) === reference(text, 8), s"doc $d sequence")
      assert(byDoc(d).toSet === reference(text, 8).toSet, s"doc $d set")
    }
  }

  /** The per-token window chain the occurrence builder replaced, kept
   *  here as a second, Spark-side reference: posexplode every token,
   *  a running cut-count window for the chunk ordinal, a within-chunk
   *  row_number for the offset, then (fp, len) per chunk. */
  private def windowChainOccurrences(docs: org.apache.spark.sql.DataFrame,
                                     avgChunk: Int) = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        call_function("poly_hash", col("word")).as("gh"))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wChunk = Window.partitionBy("doc_id", "chunk_idx").orderBy("pos")
    tok
      .withColumn("chunk_idx",
        sum(when(pmod(col("gh"), lit(avgChunk.toLong)) === 0, 1L)
          .otherwise(0L)).over(wDoc))
      .withColumn("off", row_number().over(wChunk).cast("long"))
      .groupBy("doc_id", "chunk_idx")
      .agg(sum(col("gh") * col("off")).as("fp"), count(lit(1)).as("len"))
      .withColumn("occ_key",
        col("doc_id") * lit(graft.pipeline.Dedup.CdcKeyMult) + col("chunk_idx"))
  }

  test("expression path equals the window-chain occurrence frame per doc, in order") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // occ_key is doc-major/position-minor in BOTH spellings, so sorting
    // by it aligns the two sequences doc by doc, chunk by chunk — the
    // per-occurrence parity the shared-oracle contract rests on
    def seqOf(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("occ_key")
      .select("doc_id", "fp", "len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val a = seqOf(windowChainOccurrences(docs, 8))
    val b = seqOf(graft.pipeline.Dedup.cdcOccurrences(docs, 8, Nil))
    assert(a.nonEmpty)
    assert(a === b)
  }

  test("chunking runs inside one codegen span before the explode — no window, no exchange") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.Dedup.cdcOccurrences(docs, 8, Nil)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan) // the chunk-set explode
  }
}
