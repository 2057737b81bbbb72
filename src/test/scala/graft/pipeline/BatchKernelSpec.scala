package graft.pipeline

import graft.SparkSpec
import graft.obs.WorkLedger
import graft.streaming.{StreamingDedup, StreamingExactDedup}
import graft.util.Round.r4
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import scala.util.Try

/** A bounded trigger's batch read ([[Dedup.shingledBatch]],
 *  [[Dedup.hashedBatch]], run in the read's tasks or on the
 *  driver) against the distributed plan's own frames over the same
 *  batch ([[Dedup.shingles]], [[Dedup.contentHashes]],
 *  [[Dedup.bloomWords]]), and its driver-side Jaccard cut
 *  ([[Dedup.jaccardCut]], evaluated row by row) against the Catalyst
 *  expressions it stands for, run in generated code:
 *  [[Dedup.jaccardOf]] and `r4`. */
class BatchKernelSpec extends SparkSpec {

  private lazy val ledger = WorkLedger.install(spark)

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

  /** A batch's `(text)` per doc id. */
  private def textsOf(b: DataFrame): Map[Long, String] =
    b.select(col("doc_id"), col("text")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("shingles: a batch read's shingles are the distributed plan's shingle rows, in their order") {
    for (b <- batches) {
      val want = Dedup.shingles(b).collect().toSeq
        .groupMap(_.getLong(0))(_.getString(1))
      assert(texts.count(t => !want.contains(t._1)) >= 4)
      val got = Dedup.shingledBatch(b, Int.MaxValue).get
      assert(got.length === texts.length)
      assert(got.map(d => d.id -> d.text).toMap === textsOf(b))
      assert(got.map(d => d.id -> d.grams.toSeq).toMap ===
        texts.map(t => t._1 -> want.getOrElse(t._1, Nil)).toMap)
    }
  }

  test("hashes: a batch read's hashes are contentHashes and its bloom bits fold to bloomWords") {
    for ((mBits, probes) <- Seq((Dedup.BloomBits, Dedup.BloomProbes), (64, 3), (192, 7));
         b <- batches) {
      val clue = s"m = $mBits, probes = $probes, ${b.queryExecution.optimizedPlan.nodeName}"
      val got = Dedup.hashedBatch(b, mBits, probes, Int.MaxValue).get
      assert(got.length === texts.length, clue)
      assert(got.map(d => d.id -> d.text).toMap === textsOf(b), clue)
      assert(got.map(d => d.id -> d.hash).toMap === Dedup.contentHashes(b).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap, clue)
      // each doc sets one bit per probe, inside the filter
      for (d <- got) {
        assert(d.bits.length === probes, clue)
        assert(d.bits.forall { case (w, mask) =>
          w >= 0 && w < mBits / 64 && java.lang.Long.bitCount(mask) == 1 }, clue)
      }
      assert(got.flatMap(_.bits).groupMapReduce(_._1)(_._2)(_ | _) ===
        Dedup.bloomWords(b, mBits, probes).collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap, clue)
    }
  }

  test("a bloom without probes, or over a width not a multiple of 64, fails before any job in either plan") {
    val root = tmpDir("kernel-geometry")
    for (((mBits, probes), g) <- Seq((Dedup.BloomBits, 0), (Dedup.BloomBits, -1),
           (100, Dedup.BloomProbes)).zipWithIndex;
         (b, i) <- batches.zipWithIndex; localMax <- Seq(Dedup.LocalTriggerMax, -1)) {
      val dir = s"$root/g$g-b$i-$localMax"
      val runs = Seq(
        () => Dedup.bloomWords(b, mBits, probes),
        () => Dedup.dedupExactIncremental(Dedup.bloomWords(b), Dedup.contentHashes(b), b,
          mBits, probes, localMax).collect(),
        () => StreamingExactDedup.processBatch(b, 0L, dir, dir + "_hashes", dir + "_bloom",
          mBits, probes, localMax))
      for (run <- runs) {
        val (result, work) = ledger.measure(Try(run()))
        assert(result.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
          s"m = $mBits, probes = $probes, batch $i, localMax = $localMax: $result")
        assert(work.jobs === 0L, work)
      }
      assert(!new java.io.File(dir).exists())
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
