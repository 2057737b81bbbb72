package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WinnowFpsSpec extends SparkSpec {

  import spark.implicits._

  private def referenceSelection(text: String, n: Int, w: Int): Seq[Long] = {
    // independent spelling: all window minima as a SET (the DataFrame
    // path's distinct), sorted by packed position
    val toks = text.split(" ", -1)
    val g = toks.length - n + 1
    if (g < w) return Seq.empty
    val pk = (0 until g).map { i =>
      val gram = (i until i + n).map(toks).mkString(" ")
      PolyHash.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(gram)) * 1048576L + i
    }
    (0 to g - w).map(p => (p until p + w).map(pk).min)
      .distinct.sortBy(_ % 1048576L)
  }

  test("winnow_fps matches the independent set-distinct reference") {
    val cases = Seq(
      ("", 3, 4),
      ("a b c", 3, 4), // one gram, no full window
      ("a b c d e f", 3, 4),
      ("the quick brown fox jumps over the lazy dog again and again", 3, 4),
      // repeated text forces equal-min runs and re-selections
      ("x y z x y z x y z x y z x y z", 3, 4),
      ("unicode ünïcödé ğram ✓ café क्षत्रिय a‍😀 ok y z w", 3, 2))
    for ((text, n, w) <- cases) {
      val out = Seq(Tuple1(text)).toDF("text")
        .select(call_function("winnow_fps", col("text"), lit(n), lit(w)).as("fps"))
        .collect()(0).getSeq[Long](0)
      assert(out === referenceSelection(text, n, w), s"'$text' n=$n w=$w")
    }
    // every sf0.001 document through the operator the winnow keys
    // run: (fp_pos, fp_hash) re-packs to the reference's packed minima,
    // in position order
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = graft.pipeline.TextAnalysis.winnowFingerprints(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2) * 1048576L + r.getLong(1))).toSeq
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2) }
    assert(got.nonEmpty)
    for ((d, text) <- texts) {
      val want = referenceSelection(text, 3, 4)
      val have = got.getOrElse(d, Seq.empty)
      assert(have === want, s"doc $d sequence")
      assert(have.toSet === want.toSet, s"doc $d set")
    }
    assert(got.keySet.subsetOf(texts.keySet))
  }

  /** The per-gram window chain the in-row selection replaced, kept
   *  here as a second, Spark-side reference: posexplode every gram,
   *  a doc-partitioned sliding-window MIN over the packed key, then
   *  the distinct selected set. */
  private def windowChainFingerprints(docs: org.apache.spark.sql.DataFrame,
                                      n: Int, w: Int) = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"), expr(s"word_ngrams_all(text, $n)").as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        posexplode(col("gs")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("n_grams"), col("pos").cast("long").as("pos"),
        (call_function("poly_hash", col("gram")) * lit(1048576L)
          + col("pos").cast("long")).as("pk"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("wmin", min("pk").over(win))
      .filter(col("pos") <= col("n_grams") - w)
      .select(col("doc_id"), col("wmin")).distinct()
      .select(col("doc_id"),
        (col("wmin") % lit(1048576L)).as("fp_pos"),
        expr("wmin div 1048576").as("fp_hash"))
  }

  test("expression path equals the window-chain path on the corpus") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val a = windowChainFingerprints(docs, 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = graft.pipeline.TextAnalysis.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a.nonEmpty)
    assert(a === b)
  }

  test("selection runs inside one codegen span before the explode — no window, no exchange") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs
      .select(col("doc_id"),
        explode(call_function("winnow_fps", col("text"), lit(3), lit(4)))
          .as("wmin"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }
}
