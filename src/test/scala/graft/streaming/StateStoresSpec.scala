package graft.streaming

import graft.SparkSpec
import graft.pipeline.Dedup
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The local file system under the `faulty` scheme. Creating a file
 *  under [[FaultyFs.failUnder]] fails; reads, listings and renames
 *  behave as on the local FS. */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")

  private def check(f: Path): Unit = FaultyFs.failUnder.foreach { dir =>
    if (f.toUri.getPath.startsWith(dir + "/"))
      throw new java.io.IOException(s"injected fault: create $f")
  }
  override protected def createOutputStream(
      f: Path, append: Boolean): java.io.OutputStream = {
    check(f); super.createOutputStream(f, append)
  }
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    check(f); super.createOutputStreamWithMode(f, append, permission)
  }
}

object FaultyFs {
  @volatile var failUnder: Option[String] = None
}

class StateStoresSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def words(from: Int, n: Int) = (from until from + n).map(i => s"w$i")

  // exact loop: 10 copies stored 0, 12 copies 11 inside the batch
  private lazy val exactA = docs((0L, "alpha beta gamma"),
    (1L, "delta epsilon zeta"), (2L, "eta theta iota"))
  private lazy val exactB = docs((10L, "alpha beta gamma"),
    (11L, "kappa lambda mu"), (12L, "kappa lambda mu"), (13L, "nu xi omicron"))

  // n-gram loop: 10 near-dups stored 0, 12 near-dups 11 inside the batch
  private lazy val ngramA = docs(
    (0L, words(0, 12).mkString(" ")), (1L, words(100, 12).mkString(" ")),
    (2L, words(200, 12).mkString(" ")))
  private lazy val ngramB = docs(
    (10L, (words(0, 11) :+ "x10").mkString(" ")),
    (11L, words(300, 12).mkString(" ")),
    (12L, (words(300, 11) :+ "x12").mkString(" ")),
    (13L, words(400, 12).mkString(" ")))

  private def exactBatch(store: String)(batch: DataFrame, id: Long): Unit =
    StreamingExactDedup.processBatch(batch, id, store, store + "_hashes",
      store + "_bloom", Dedup.BloomBits, Dedup.BloomProbes)

  private def ngramBatch(store: String)(batch: DataFrame, id: Long): Unit =
    StreamingDedup.processBatch(batch, id, store, store + "_pairs",
      store + "_shingles", store + "_gramdf", 5L, 0.2)

  /** Waits until no Spark job has run for half a second: a sibling
   *  write still running after the failed trigger has returned has
   *  committed by then — the worst case for the replay. */
  private def quiesce(): Unit = {
    var idle = 0
    while (idle < 10) {
      Thread.sleep(50)
      idle =
        if (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty) idle + 1
        else 0
    }
  }

  /** Batch A, then batch B — with the append to `failAt` failing and B
   *  replayed once the fault is cleared — on stores under the `faulty`
   *  scheme; returns the store root. */
  private def run(name: String, stores: String => Map[String, String],
                  loop: String => (DataFrame, Long) => Unit,
                  a: DataFrame, b: DataFrame,
                  failAt: Option[String]): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val store = "faulty://" + tmpDir(name) + "/corpus"
    loop(store)(a, 0L)
    failAt.foreach { k =>
      FaultyFs.failUnder = Some(new Path(stores(store)(k)).toUri.getPath)
      val err = try intercept[Exception](loop(store)(b, 1L))
        finally FaultyFs.failUnder = None
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected fault")),
        err.toString)
      quiesce()
    }
    loop(store)(b, 1L)
    store
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet
  private def read(dir: String) = spark.read.parquet(dir)

  private def exactStores(store: String) = Map("docs" -> store,
    "hashes" -> (store + "_hashes"), "bloom" -> (store + "_bloom"))

  /** Every exact-loop store read through its replay-tolerant fold. */
  private def exactFolds(store: String): Map[String, Set[Row]] = Map(
    "docs" -> rows(read(store).select("doc_id").distinct()),
    "hashes" -> rows(read(store + "_hashes").distinct()),
    "bloom" -> rows(read(store + "_bloom").groupBy("word_idx")
      .agg(expr("bit_or(word)"))))

  test("exact loop: a failed append of any store, then a replay, ends in the no-crash stores") {
    val clean = exactFolds(run("xclean", exactStores, exactBatch,
      exactA, exactB, None))
    assert(clean("docs").map(_.getLong(0)) === Set(0L, 1L, 2L, 11L, 13L))
    for (k <- Seq("docs", "hashes", "bloom")) {
      val crashed = exactFolds(run(s"xcrash-$k", exactStores, exactBatch,
        exactA, exactB, Some(k)))
      assert(crashed === clean, s"append to $k failed")
    }
  }

  private def ngramStores(store: String) = Map("pairs" -> (store + "_pairs"),
    "docs" -> store, "shingles" -> (store + "_shingles"),
    "gramdf" -> (store + "_gramdf"))

  private def gramDf(store: String): Map[String, Long] =
    read(store + "_gramdf").groupBy("gram").agg(sum("df_cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("n-gram loop: a failed append of any store, then a replay, ends in the no-crash stores") {
    def folds(store: String) = Map(
      "docs" -> rows(read(store).select("doc_id").distinct()),
      "pairs" -> rows(read(store + "_pairs").select("doc_a", "doc_b").distinct()),
      "shingles" -> rows(read(store + "_shingles").distinct()))
    val cleanStore = run("ngclean", ngramStores, ngramBatch, ngramA, ngramB, None)
    val clean = folds(cleanStore)
    assert(clean("docs").map(_.getLong(0)) === Set(0L, 1L, 2L, 11L, 13L))
    assert(clean("pairs").map(r => (r.getLong(0), r.getLong(1))) ===
      Set((0L, 10L), (11L, 12L)))
    val cleanDf = gramDf(cleanStore)
    // batch B's df delta: the grams of its survivors 11 and 13
    val deltaB = (words(300, 12) ++ words(400, 12)).sliding(3)
      .map(_.mkString(" ")).toSet
    for (k <- Seq("pairs", "docs", "shingles", "gramdf")) {
      val store = run(s"ngcrash-$k", ngramStores, ngramBatch, ngramA, ngramB,
        Some(k))
      assert(folds(store) === clean, s"append to $k failed")
      // The gram-df store is SUM-folded: a replay after B's delta
      // committed counts B's grams twice (the loop's documented
      // at-least-once bias: df only rises). No other gram moves.
      val df = gramDf(store)
      assert(df.keySet === cleanDf.keySet, s"append to $k failed")
      df.foreach { case (g, n) =>
        val expected =
          if (deltaB(g)) Set(cleanDf(g), cleanDf(g) + 1) else Set(cleanDf(g))
        assert(expected(n), s"append to $k failed: df($g) = $n")
      }
    }
  }

  test("a compaction cut between its two renames: the next trigger sees the prior state") {
    val store = tmpDir("swapcrash") + "/corpus"
    val (hashes, bloom) = (store + "_hashes", store + "_bloom")
    exactBatch(store)(exactA, 0L)
    def crashMidSwap(): Unit = for (dir <- Seq(hashes, bloom))
      java.nio.file.Files.move(java.nio.file.Paths.get(dir),
        java.nio.file.Paths.get(dir + ".compact-old"))
    def isDup = StreamingExactDedup.triggerFlags(spark, exactB, hashes, bloom,
        Dedup.BloomBits, Dedup.BloomProbes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def restored = Seq(hashes, bloom).forall(dir =>
      new java.io.File(dir).isDirectory &&
        !new java.io.File(dir + ".compact-old").exists())
    crashMidSwap()
    assert(isDup(10L) === 1L)
    assert(restored)
    crashMidSwap()
    StreamingExactDedup.compactState(spark, store)
    assert(restored)
    assert(isDup(10L) === 1L)
    crashMidSwap()
    exactBatch(store)(exactB, 1L)
    assert(restored)
    assert(read(store).select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(0L, 1L, 2L, 11L, 13L))
  }
}
