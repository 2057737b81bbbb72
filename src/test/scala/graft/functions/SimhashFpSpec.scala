package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimhashFpSpec extends SparkSpec {

  import spark.implicits._

  private def referenceFp(grams: Seq[String]): Long = {
    // independent spelling of the poly-family vote rule the DuckDB
    // simhash oracle mirrors: vote +1 when ((a_b*gid + c_b) % P) % 2
    // = 1 else -1, bit set when the sum is positive
    val votes = new Array[Long](32)
    for (g <- grams) {
      val gid = PolyHash.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(g))
      for (b <- 0 until 32) {
        val v = ((gid * (37L + 101L * b) + (17L + 257L * b)) % 1000003L) % 2L
        votes(b) += (if (v == 1L) 1L else -1L)
      }
    }
    (0 until 32).map(b => if (votes(b) > 0) 1L << b else 0L).sum
  }

  test("simhash_fp matches the independent vote-rule reference") {
    val cases = Seq(
      Seq.empty[String],
      Seq("alpha beta gamma"),
      Seq("the quick brown", "quick brown fox", "brown fox jumps"),
      Seq("ünïcödé ğram ✓", "café क्षत्रिय x", "a‍😀 ok y"))
    for (grams <- cases) {
      val out = Seq(Tuple1(grams)).toDF("grams")
        .select(call_function("simhash_fp", col("grams")).as("fp"))
        .collect()(0).getLong(0)
      assert(out === referenceFp(grams), grams)
    }
  }

  test("expression path fingerprints equal the aggregation path's (poly family) per doc") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // the fingerprint pass every 32-bit caller runs vs the bit-vote
    // aggregation that wrote fp stores before it took over
    val exprFp = graft.pipeline.Dedup.simhashFingerprints(docs)
      .withColumnRenamed("fp", "fp_expr")
    val aggFp = graft.pipeline.Dedup.simhashVoteFingerprints(docs,
      graft.pipeline.Dedup.SimBits)
    val joined = exprFp.join(aggFp, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("fp_expr"), col("fp"))
      .collect()
    assert(joined.nonEmpty)
    for (r <- joined) {
      assert(!r.isNullAt(1) && !r.isNullAt(2), s"doc ${r.getLong(0)} present in only one path")
      assert(r.getLong(1) === r.getLong(2), s"doc ${r.getLong(0)}")
    }
  }

  test("whole-stage codegen covers the fingerprint projection (no explode, no aggregate)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs
      .select(col("doc_id"),
        call_function("word_ngrams", col("text"), lit(3)).as("grams"))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), call_function("simhash_fp", col("grams")).as("fp"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker in this format
    assert(plan.contains("*(1) Project"), plan)
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Exchange"), plan)
  }
}
