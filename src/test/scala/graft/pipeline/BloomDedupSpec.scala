package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Dedup.dedupExactIncremental]]: the bloom prefilter must be
  * answer-invariant (no false negatives, exact md5 verify behind it)
  * and must actually prune — on a disjoint batch nearly everything
  * should die at the bloom, never reaching the verify join. */
class BloomDedupSpec extends SparkSpec {

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def brute(corpus: DataFrame, batch: DataFrame): Set[(Long, Long, Long)] = {
    val ch = corpus.select(md5(col("text")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
    batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(ch, Seq("h"), "left")
      .select(col("doc_id"),
        when(coalesce(col("n"), lit(0L)) > 0L, 1L).otherwise(0L),
        coalesce(col("n"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("matches the filter-free hash join on mixed dup/non-dup batches") {
    val corpus = frame((0L until 200L).map(i => (i, s"corpus doc number $i body")) ++
      Seq((200L, "twice"), (201L, "twice")))
    val batch = frame(Seq(
      (1000L, "corpus doc number 7 body"),   // single corpus copy
      (1001L, "twice"),                      // two corpus copies
      (1002L, "never seen before"),          // clean
      (1003L, "corpus doc number 7 body")))  // batch-internal repeat of a dup
    val got = Dedup.dedupExactIncremental(Dedup.bloomWords(corpus, mBits = 1 << 12),
        Dedup.contentHashes(corpus), batch, mBits = 1 << 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute(corpus, batch))
    assert(got === Set((1000L, 1L, 1L), (1001L, 1L, 2L), (1002L, 0L, 0L),
      (1003L, 1L, 1L)))
  }

  test("no false negatives at a deliberately saturated bloom") {
    // 500 corpus docs into 256 bits: fp rate is awful, but every true
    // dup must still be flagged and the verify join must kill the fps.
    val corpus = frame((0L until 500L).map(i => (i, s"saturate $i")))
    val batch = frame((0L until 100L).map(i =>
      if (i % 2 == 0) (5000L + i, s"saturate $i") else (5000L + i, s"fresh $i")))
    val got = Dedup.dedupExactIncremental(Dedup.bloomWords(corpus, mBits = 256),
        Dedup.contentHashes(corpus), batch, mBits = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute(corpus, batch))
  }

  test("bloom prunes a disjoint batch before the verify join") {
    val corpus = frame((0L until 1000L).map(i => (i, s"left $i")))
    val batch = frame((0L until 1000L).map(i => (10000L + i, s"right $i")))
    val words = Dedup.bloomWords(corpus, mBits = Dedup.BloomBits)
    assert(words.count() <= Dedup.BloomBits / 64)
    val survivors = Dedup.dedupExactIncremental(words,
      Dedup.contentHashes(corpus), batch)
    assert(survivors.filter(col("is_dup") === 1L).count() === 0L)
    // fp-pruning check on the candidate stage itself: re-run the probe
    // logic by diffing against a corpus that CONTAINS the batch — at
    // 2^20 bits / 1000 keys, ~all of a disjoint batch must bloom-negative.
    val selfWords = Dedup.bloomWords(batch, mBits = Dedup.BloomBits)
    val merged = words.unionByName(selfWords)
    val allDup = Dedup.dedupExactIncremental(
      merged, Dedup.contentHashes(corpus.unionByName(batch)), batch)
    assert(allDup.filter(col("is_dup") === 1L).count() === 1000L)
  }

  test("delta-store fold: appended word frames equal the one-shot bloom") {
    val a = frame((0L until 300L).map(i => (i, s"part a $i")))
    val b = frame((300L until 600L).map(i => (i, s"part b $i")))
    val probe = frame(Seq((9000L, "part a 5"), (9001L, "part b 599"), (9002L, "neither")))
    val hashes = Dedup.contentHashes(a.unionByName(b))
    val oneShot = Dedup.dedupExactIncremental(
      Dedup.bloomWords(a.unionByName(b)), hashes, probe)
    val folded = Dedup.dedupExactIncremental(
      Dedup.bloomWords(a).unionByName(Dedup.bloomWords(b)), hashes, probe)
    assert(oneShot.collect().toSeq === folded.collect().toSeq)
  }
}
