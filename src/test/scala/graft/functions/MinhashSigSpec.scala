package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinhashSigSpec extends SparkSpec {

  import spark.implicits._

  private def referenceSig(grams: Seq[String]): Option[Seq[Long]] = {
    if (grams.isEmpty) return None
    // independent spelling of sig[j] = min((a_j*gid + c_j) mod P)
    Some((0 until 16).map { j =>
      grams.map { g =>
        val gid = PolyHash.compute(
          org.apache.spark.unsafe.types.UTF8String.fromString(g))
        (gid * (37L + 101L * j) + (17L + 257L * j)) % 1000003L
      }.min
    })
  }

  test("minhash_sig matches the independent min-rule reference; empty input is null") {
    val cases = Seq(
      Seq.empty[String],
      Seq("alpha beta gamma"),
      Seq("the quick brown", "quick brown fox", "brown fox jumps"),
      Seq("ünïcödé ğram ✓", "café क्षत्रिय x"))
    for (grams <- cases) {
      val row = Seq(Tuple1(grams)).toDF("grams")
        .select(call_function("minhash_sig", col("grams")).as("sig"))
        .collect()(0)
      referenceSig(grams) match {
        case None => assert(row.isNullAt(0), grams)
        case Some(ref) => assert(row.getSeq[Long](0) === ref, grams)
      }
    }
  }

  test("expression path signatures equal the aggregation path's (poly family) per doc") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val exprSig = docs
      .select(col("doc_id"),
        call_function("minhash_sig",
          call_function("word_ngrams", col("text"), lit(3))).as("sig"))
      .filter(col("sig").isNotNull)
    val aggSig = graft.pipeline.Dedup.minhashSignatures(docs)
      .select(col("doc_id"),
        array((0 until 16).map(j => col(s"mh$j")): _*).as("sig_agg"))
    val joined = exprSig.join(aggSig, Seq("doc_id"), "full_outer").collect()
    assert(joined.nonEmpty)
    for (r <- joined) {
      assert(!r.isNullAt(1) && !r.isNullAt(2),
        s"doc ${r.getLong(0)} present in only one path")
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
  }

  test("width-32 signature: expression and aggregation paths agree; pairs match at 32/8") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    // per-doc parity of the widened signature
    val exprSig = docs
      .select(col("doc_id"),
        call_function("minhash_sig",
          call_function("word_ngrams", col("text"), lit(3)),
          lit(32)).as("sig"))
      .filter(col("sig").isNotNull)
    val aggSig = graft.pipeline.Dedup.minhashSignatures(docs, numHashes = 32)
      .select(col("doc_id"),
        array((0 until 32).map(j => col(s"mh$j")): _*).as("sig_agg"))
    val joined = exprSig.join(aggSig, Seq("doc_id"), "full_outer").collect()
    assert(joined.nonEmpty)
    for (r <- joined) {
      assert(!r.isNullAt(1) && !r.isNullAt(2),
        s"doc ${r.getLong(0)} present in only one path")
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}")
      assert(r.getSeq[Long](1).size === 32)
    }
    // whole-pipeline parity at the non-default split: same candidate
    // buckets -> same verified pair set in both paths
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val agg = pairs(graft.pipeline.Dedup.dedupMinhash(docs,
      numHashes = 32, bands = 8))
    val ex = pairs(graft.pipeline.Dedup.dedupMinhashExpr(docs,
      numHashes = 32, bands = 8))
    assert(agg === ex)
    assert(agg.nonEmpty)
  }

  test("scurve renders the configured width's factorizations") {
    val s32 = graft.pipeline.Dedup.minhashScurve(spark, numHashes = 32)
    val bands = s32.select("bands").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(bands === Set(1L, 2L, 4L, 8L, 16L, 32L))
    // wider signature, same split geometry: 4 rows/band at width 32
    // means 8 bands -> strictly higher P(candidate) at every s than
    // width 16's 4 bands of 4 (more independent chances)
    val p32 = s32.filter(col("rows_per_band") === 4)
      .select("jaccard", "p_candidate").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val p16 = graft.pipeline.Dedup.minhashScurve(spark)
      .filter(col("rows_per_band") === 4)
      .select("jaccard", "p_candidate").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(p16.keySet === p32.keySet)
    assert(p16.keySet.forall(s => p32(s) >= p16(s)))
  }

  test("signature projection stays in one codegen span — no explode, agg, or exchange") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs
      .select(col("doc_id"),
        call_function("minhash_sig",
          call_function("word_ngrams", col("text"), lit(3))).as("sig"))
      .filter(col("sig").isNotNull)
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Exchange"), plan)
  }
}
