package graft.pipeline

import graft.SparkSpec
import graft.streaming.StreamingDedup
import graft.util.Round.r4
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The per-row kernels of a bounded trigger's batch read
 *  ([[Dedup.ShingleRows]], [[Dedup.HashRows]], [[Dedup.bloomSeeds]],
 *  run in the read's tasks or on the driver) and its driver-side
 *  Jaccard cut ([[Dedup.jaccardCut]], evaluated row by row) against
 *  the Catalyst expressions they stand for, run in generated code:
 *  `word_ngrams`, `md5`, `xxhash64`, [[Dedup.probePos]],
 *  [[Dedup.jaccardOf]] and `r4`. */
class BatchKernelSpec extends SparkSpec {

  /** Every sf0.001 doc, then edge texts with ids past the docs'. */
  private lazy val texts: Seq[(Long, String)] = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val edge = Seq(null, "", "one", "two words", "three word text",
      " leading space here", "  two leading", "doubled  spaces  in  it",
      "trailing space ", "～ full width ～ tilde", "emoji 😀 in 😀 text 😀",
      "～😀 ～😀 ～😀 ～😀")
    docs ++ edge.zipWithIndex.map { case (t, i) => (10000000L + i, t) }
  }

  /** The texts as a three-partition parquet batch, read in tasks, and
   *  as a `LocalRelation`, read on the driver. */
  private lazy val batches: Seq[DataFrame] = {
    import spark.implicits._
    val local = texts.toDF("doc_id", "text")
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val dir = tmpDir("kernel-batch") + "/b"
    local.repartition(3).write.parquet(dir)
    Seq(spark.read.parquet(dir), local)
  }

  test("shingles: a batch read's shingles are word_ngrams(text, 3), in its order") {
    val want = batches.head.select(col("doc_id"), col("text"),
        call_function("word_ngrams", col("text"), lit(3))).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        Option(r.getSeq[String](2)).getOrElse(Nil))).toMap
    assert(want.size === texts.length)
    assert(want.values.count(_._2.isEmpty) >= 4)
    for (b <- batches) {
      val got = Dedup.shingledBatch(b, Int.MaxValue).get
      assert(got.length === texts.length)
      assert(got.map(d => d.id -> (d.text, d.grams.toSeq)).toMap === want)
    }
  }

  test("hashes: a batch read's md5, xxhash64 seeds and probe positions are the Catalyst expressions'") {
    val (h1, h2) = (xxhash64(col("text")), xxhash64(col("text"), lit(1)))
    val seeds = batches.head.select(col("text"), h1, h2).collect()
    assert(seeds.length === texts.length)
    for (r <- seeds)
      assert(Dedup.bloomSeeds(UTF8String.fromString(r.getString(0))) ===
        ((r.getLong(1), r.getLong(2))), String.valueOf(r.getString(0)))
    for ((mBits, probes) <- Seq((Dedup.BloomBits, Dedup.BloomProbes), (64, 3), (192, 7))) {
      val want = batches.head.select(col("doc_id"), col("text"), md5(col("text")),
          array((0 until probes).map(i => Dedup.probePos(h1, h2, lit(i), mBits)): _*))
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getSeq[Long](3)))
        .toMap
      for (b <- batches) {
        val got = Dedup.hashedBatch(b, mBits, probes, Int.MaxValue).get
        assert(got.length === texts.length)
        assert(got.map(d => d.id -> (d.text, d.hash, d.pos.toSeq)).toMap === want,
          s"m = $mBits, probes = $probes")
      }
    }
  }

  /** `(inter_n, n_a, n_b)` as a parquet frame, so Catalyst evaluates
   *  over it in generated code rather than folding it on the driver. */
  private def countFrame(name: String, counts: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    val dir = tmpDir(name) + "/c"
    counts.toDF("inter_n", "n_a", "n_b").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def chain(e: Throwable) =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).toSeq

  private def withoutAnsi[T](body: => T): T = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try body finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  /** The driver's cut of `(inter_n, n_a, n_b)` at `min`. */
  private def cut(c: (Long, Long, Long), min: Double): Option[Double] =
    Option(Dedup.jaccardCut(spark).eval(InternalRow(c._1, c._2, c._3, min)))
      .map(_.asInstanceOf[Double])

  test("jaccard: the driver's cut and rounding are jaccardOf, >= minJaccard and r4") {
    // shares near every 1e-4 rounding boundary, and negative denominators
    val counts = (for {
      inter <- 1L to 40L
      nA <- Seq(inter, inter + 1, 3 * inter, 7L, 13L, 40L)
      nB <- Seq(inter, 2 * inter + 3, 11L, 29L)
      if nA + nB - inter != 0L
    } yield (inter, nA, nB)).distinct
    assert(counts.exists(c => c._2 + c._3 - c._1 < 0))
    val frame = countFrame("kernel-jaccard", counts)
    for (min <- Seq(0.2, 0.0, 0.5, -1.0)) {
      val want = frame.withColumn("jaccard", Dedup.jaccardOf)
        .filter(col("jaccard") >= min)
        .select(col("inter_n"), col("n_a"), col("n_b"), r4(col("jaccard")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
      assert(want.nonEmpty)
      val got = counts.flatMap(c => cut(c, min).map(c -> _)).toMap
      assert(got === want, s"minJaccard $min")
    }
  }

  test("jaccard: a zero denominator is Catalyst's division by zero, with ANSI and without") {
    val frame = countFrame("kernel-zero", Seq((4L, 2L, 2L), (1L, 2L, 2L)))
    def catalyst() = frame.withColumn("jaccard", Dedup.jaccardOf)
      .filter(col("jaccard") >= 0.2).select(col("inter_n")).collect().map(_.getLong(0)).toSeq
    assert(chain(intercept[Exception](catalyst())).exists(_.contains("DIVIDE_BY_ZERO")))
    assert(chain(intercept[ArithmeticException](cut((4L, 2L, 2L), 0.2)))
      .exists(_.contains("DIVIDE_BY_ZERO")))
    withoutAnsi {
      assert(catalyst() === Seq(1L))
      assert(cut((4L, 2L, 2L), 0.2) === None)
      assert(cut((1L, 2L, 2L), 0.2) === Some(0.3333))
    }
  }

  test("n-gram bounded plan equals the distributed plan when two identical batch docs replay onto stores holding them") {
    import spark.implicits._
    val words = (0 until 12).map(w => s"same$w")
    val twin = words.mkString(" ")
    val near = (0 until 12).map(w => s"near$w")
    val batch = Seq((1L, twin), (2L, twin), (5L, near.mkString(" ")),
      (6L, near.updated(11, "other").mkString(" "))).toDF("doc_id", "text")
    // the twins were stored before the replay: each gram counts twice
    // per twin, so their multiset denominator n_a + n_b - inter_n is 0
    val dir = tmpDir("kernel-replay")
    val twins = batch.filter(col("doc_id") < 5L)
    Dedup.shingles(twins).write.parquet(dir + "/sh")
    Dedup.gramDfDelta(Dedup.shingles(twins)).write.parquet(dir + "/df")
    val (sh, df) = (spark.read.parquet(dir + "/sh"), spark.read.parquet(dir + "/df"))
    def plans(localMax: Int) = Seq(
      () => Dedup.dedupNgramIncremental(sh, df, batch, localMax = localMax),
      () => StreamingDedup.triggerPairs(spark, batch, dir + "/sh", dir + "/df", 5L, 0.2,
        localMax = localMax))
    def rows(plan: () => DataFrame) = plan().collect().map(_.toSeq).toSeq
    for ((bounded, distributed) <- plans(Dedup.LocalTriggerMax).zip(plans(-1))) {
      assert(chain(intercept[Exception](rows(distributed))).exists(_.contains("DIVIDE_BY_ZERO")))
      assert(chain(intercept[Exception](rows(bounded))).exists(_.contains("DIVIDE_BY_ZERO")))
      withoutAnsi {
        val got = rows(bounded)
        assert(got === rows(distributed))
        assert(got.map(r => (r(0), r(1))) === Seq((5L, 6L)))
      }
    }
  }
}
