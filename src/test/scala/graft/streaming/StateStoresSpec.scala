package graft.streaming

import graft.SparkSpec
import graft.pipeline.Dedup
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The local file system under the `faulty` scheme. Creating a file
 *  under [[FaultyFs.failUnder]] fails, and so does deleting one there
 *  while [[FaultyFs.failDelete]] is set; reads, listings and renames
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
  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (FaultyFs.failDelete) FaultyFs.failUnder.foreach { dir =>
      if (f.toUri.getPath.startsWith(dir + "/"))
        throw new java.io.IOException(s"injected fault: delete $f")
    }
    super.delete(f, recursive)
  }
}

object FaultyFs {
  @volatile var failUnder: Option[String] = None
  @volatile var failDelete: Boolean = false
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

  private val deltaSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("n", IntegerType),
    StructField("score", DoubleType, nullable = false),
    StructField("tags", ArrayType(StringType))))

  private val deltaRows = (0 until 50).map(i => Row(i.toLong,
    if (i % 7 == 0) null else s"text $i",
    if (i % 5 == 0) null else i,
    i / 3.0,
    if (i % 4 == 0) null else Seq.tabulate(i % 3)(j => if (j == 1) null else s"t$j")))

  /** The files of `dir` a reader lists, and the hidden rest. */
  private def files(dir: String): (Seq[String], Seq[String]) =
    Option(new java.io.File(new Path(dir).toUri.getPath).listFiles())
      .map(_.map(_.getName).toSeq).getOrElse(Nil)
      .partition(n => !n.startsWith(".") && !n.startsWith("_"))

  private def footer(dir: String) = {
    val part = files(dir)._1.filter(_.startsWith("part-")).head
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(dir, part),
      spark.sparkContext.hadoopConfiguration))
    try in.getFooter.getFileMetaData finally in.close()
  }

  test("a driver-written delta reads back as DataFrame.write's: rows, nulls, footer schema") {
    val (driver, written) = (tmpDir("rows-driver") + "/s", tmpDir("rows-write") + "/s")
    StateStores.writeRows(spark, driver, deltaRows, deltaSchema)
    StateStores.local(spark, deltaRows, deltaSchema).coalesce(1)
      .write.mode("append").parquet(written)
    assert(read(driver).collect().toSeq === read(written).collect().toSeq)
    assert(read(driver).schema === read(written).schema)
    val (d, w) = (footer(driver), footer(written))
    assert(d.getSchema === w.getSchema)
    assert(d.getSchema.getType(0).isRepetition(
      org.apache.parquet.schema.Type.Repetition.REQUIRED))
    assert(d.getKeyValueMetaData === w.getKeyValueMetaData)
    // an empty delta is a file of the schema alone
    val empty = tmpDir("rows-empty") + "/s"
    StateStores.writeRows(spark, empty, Nil, deltaSchema)
    assert(read(empty).count() === 0L)
    assert(footer(empty).getSchema === w.getSchema)
  }

  test("each driver-written append leaves exactly one visible part- file and nothing hidden") {
    val dir = tmpDir("rows-files") + "/s"
    for (k <- 1 to 3) {
      StateStores.commit(None, dir -> StateStores.Rows(spark,
        deltaRows.take(10 * k), deltaSchema))
      val (visible, hidden) = files(dir)
      assert(visible.length === k && visible.forall(_.startsWith("part-")), visible)
      assert(!hidden.exists(_.endsWith(".tmp")), hidden)
    }
    assert(read(dir).count() === 60L)
  }

  test("a failed driver-written append leaves no file, and the commit error names the store") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val root = "faulty://" + tmpDir("rows-fault")
    val (docs, state) = (root + "/docs", root + "/state")
    FaultyFs.failUnder = Some(new Path(state).toUri.getPath)
    val err = try intercept[java.io.IOException](StateStores.commit(None,
        docs -> StateStores.Rows(spark, deltaRows, deltaSchema),
        state -> StateStores.Rows(spark, deltaRows, deltaSchema)))
      finally FaultyFs.failUnder = None
    assert(err.getMessage.startsWith(s"state commit failed: $state;"), err.getMessage)
    assert(err.getMessage.contains(s"committed: $docs;"), err.getMessage)
    assert(String.valueOf(err.getCause.getMessage).contains("injected fault"))
    assert(files(state) === ((Nil, Nil)))
    assert(files(docs)._1.length === 1)
    assert(read(docs).count() === deltaRows.length.toLong)
  }

  test("a failed driver-written append whose clean-up fails too keeps the write's error") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val state = "faulty://" + tmpDir("rows-fault-delete") + "/state"
    FaultyFs.failUnder = Some(new Path(state).toUri.getPath)
    FaultyFs.failDelete = true
    val err = try intercept[java.io.IOException](
        StateStores.writeRows(spark, state, deltaRows, deltaSchema))
      finally { FaultyFs.failUnder = None; FaultyFs.failDelete = false }
    assert(err.getMessage.contains("injected fault: create"), err.getMessage)
    assert(err.getSuppressed.map(_.getMessage).exists(
      _.contains("injected fault: delete")), err.getSuppressed.toSeq)
    assert(files(state) === ((Nil, Nil)))
  }

  test("a bounded probe collects within its bound and reports a probe past it") {
    import spark.implicits._
    val dir = tmpDir("probe-within") + "/s"
    (1L to 10L).map(i => (i, i % 2)).toDF("doc_id", "label")
      .write.parquet(dir)
    val store = StateStores.Store(spark, dir, read(dir).schema)
    val odd = store.probeRowsWithin("label", Seq(1L), 5)
    assert(odd.map(_.map(_.getLong(0)).sorted.toSeq) === Some(Seq(1L, 3L, 5L, 7L, 9L)))
    assert(store.probeRowsWithin("label", Seq(1L), 4) === None)
    assert(store.probeRowsWithin("label", Seq(0L, 1L), 9) === None)
    assert(store.probeRowsWithin("label", Nil, 0).map(_.length) === Some(0))
  }

  private lazy val ledger = graft.obs.WorkLedger.install(spark)

  private val probeSchema = StructType(Seq(StructField("s", StringType),
    StructField("i", IntegerType), StructField("l", LongType)))

  /** `rows` of [[probeSchema]] appended to `dir` as one file. */
  private def appendRows(dir: String, rows: Seq[Row]): Unit =
    StateStores.writeRows(spark, dir, rows, probeSchema)

  /** `body` with the probe's filter pushed into the files over `bytes`:
   *  it goes only into files over the open cost. */
  private def withOpenCost[T](bytes: Long)(body: => T): T = {
    val conf = "spark.sql.files.openCostInBytes"
    spark.conf.set(conf, bytes)
    try body finally spark.conf.unset(conf)
  }

  /** `body` with the probe's filter pushed into every file (these files
   *  are tiny). */
  private def filteringAll[T](body: => T): T = withOpenCost(0L)(body)

  /** The broadcasts `body` makes, from the ids of two throwaway
   *  broadcasts around it: a probe job broadcasts its task binary, and
   *  each probe reader set-up its Hadoop conf. */
  private def broadcasts(body: => Any): Long = {
    def next() = { val b = spark.sparkContext.broadcast(0); try b.id finally b.destroy() }
    val before = next()
    body
    next() - before - 1
  }

  /** The store probe's rows at `keys`, asserted to be the rows of the
   *  Catalyst filter `isin` over the same store, in any order. */
  private def probeParity(dir: String, key: String, keys: Seq[Any]): Seq[Row] = {
    def sorted(rs: Seq[Row]) = rs.map(_.toSeq.mkString("|")).sorted
    val got = StateStores.Store(spark, dir, probeSchema).probeRows(key, keys).toSeq
    assert(sorted(got) === sorted(read(dir).filter(col(key).isin(keys: _*))
      .collect().toSeq), s"$key in $keys")
    got
  }

  test("store probe: the rows of an isin filter for string, int and long keys, nulls in the store and the keys") {
    val dir = tmpDir("probe-parity") + "/s"
    // three files; null in every column somewhere, duplicate keys too
    for (f <- 0 until 3) appendRows(dir, (0 until 40).map { i =>
      val n = f * 40 + i
      Row(if (n % 9 == 0) null else s"k${n % 25}", if (n % 7 == 0) null else n % 30,
        if (n % 11 == 0) null else n.toLong % 35)
    })
    def checks(): Unit = {
      assert(probeParity(dir, "s", Seq("k1", "k7", null, "absent")).nonEmpty)
      assert(probeParity(dir, "i", Seq(3, null, 29, 99)).nonEmpty)
      assert(probeParity(dir, "l", Seq(0L, 34L, null)).nonEmpty)
      // past the In bound the range is pushed down instead
      assert(probeParity(dir, "s", (0 until 15).map(k => s"k$k") :+ null).nonEmpty)
      assert(probeParity(dir, "i", (5 until 20) :+ null).nonEmpty)
      assert(probeParity(dir, "l", (10L until 30L).map(Long.box) :+ null).nonEmpty)
      assert(probeParity(dir, "s", Seq(null)).isEmpty)
    }
    // with the filter pushed into no file (they are tiny) and into all
    checks()
    filteringAll(checks())
    // a probe builds only the readers its files need: one whether the
    // filter goes into no file or into every file, both when into some
    val probe = () => StateStores.Store(spark, dir, probeSchema).probeRows("s", Seq("k1"))
    val oneReader = broadcasts(probe())
    assert(filteringAll(broadcasts(probe())) === oneReader)
    val mixed = tmpDir("probe-mixed") + "/s"
    appendRows(mixed, Seq(Row("k1", 1, 1L)))
    appendRows(mixed, (0 until 400).map(i => Row(s"k${i % 25}", i, i.toLong)))
    val sizes = new java.io.File(mixed).listFiles().filter(_.getName.startsWith("part-"))
      .map(_.length()).sorted
    withOpenCost(sizes(0)) {
      assert(broadcasts(StateStores.Store(spark, mixed, probeSchema)
        .probeRows("s", Seq("k1"))) === oneReader + 1)
      assert(probeParity(mixed, "s", Seq("k1", "k2", null)).length === 33)
    }
  }

  test("store probe: an absent store gives no rows and runs no job") {
    val dir = tmpDir("probe-absent") + "/s"
    val (rows, w) = ledger.measure(
      StateStores.Store(spark, dir, probeSchema).probeRows("s", Seq("a")))
    assert(rows.isEmpty)
    assert(w.jobs === 0)
    assert(!new java.io.File(dir).exists())
  }

  test("store probe: a store left at <dir>.compact-old is renamed back and read") {
    val dir = tmpDir("probe-old") + "/s"
    appendRows(dir, Seq(Row("a", 1, 1L), Row("b", 2, 2L)))
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir + ".compact-old"))
    val got = StateStores.Store(spark, dir, probeSchema).probeRows("s", Seq("b"))
    assert(got.toSeq === Seq(Row("b", 2, 2L)))
    assert(new java.io.File(dir).isDirectory)
    assert(!new java.io.File(dir + ".compact-old").exists())
  }

  test("store probe: hidden temp files, _SUCCESS and _temporary/ are not read") {
    val dir = tmpDir("probe-hidden") + "/s"
    appendRows(dir, Seq(Row("a", 1, 1L), Row("b", 2, 2L)))
    val part = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head
    // a copy of the part file under each hidden name would double the rows
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, s".${part.getName}.tmp"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    val tmp = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "_temporary", "0"))
    java.nio.file.Files.copy(part.toPath, tmp.resolve(part.getName))
    val got = StateStores.Store(spark, dir, probeSchema).probeRows("s", Seq("a", "b"))
    assert(got.map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
  }

  test("store probe: a file larger than maxPartitionBytes splits across tasks, each row read once") {
    val dir = tmpDir("probe-split") + "/s"
    spark.range(0, 20000, 1, 1)
      .selectExpr("CAST(id % 100 AS STRING) AS s", "CAST(id AS INT) AS i", "id AS l")
      .write.option("parquet.block.size", 4096).parquet(dir)
    val file = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(file.length === 1)
    val conf = "spark.sql.files.maxPartitionBytes"
    val (rows, w) = try {
      spark.conf.set(conf, file.head.length() / 4)
      ledger.measure(StateStores.Store(spark, dir, probeSchema)
        .probeRows("s", Seq("7", "42")))
    } finally spark.conf.unset(conf)
    assert(w.jobs === 1)
    assert(w.tasks >= 4, w)
    val ids = rows.map(_.getLong(2)).toSeq
    assert(ids.distinct.length === ids.length)
    assert(ids.sorted === (0L until 20000L).filter(i => i % 100 == 7 || i % 100 == 42))
  }

  test("store probe: past the In bound no row is lost to the pushed range, strings in UTF-8 order") {
    val dir = tmpDir("probe-range") + "/s"
    // "～" (U+FF5E) sorts below "😀" (U+1F600) in UTF-8 but above it
    // in UTF-16: each in a file of its own, so a range taken in UTF-16
    // order skips the emoji's file on its statistics
    val ascii = (0 until 10).map(k => s"a$k")
    appendRows(dir, ascii.zipWithIndex.map { case (k, i) => Row(k, i, i.toLong) })
    appendRows(dir, Seq(Row("～", 10, 10L)))
    appendRows(dir, Seq(Row("😀", 11, 11L)))
    val keys = ascii ++ Seq("～", "😀")
    assert(keys.length > spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold").toInt)
    filteringAll {
      assert(probeParity(dir, "s", keys).map(_.getInt(1)).sorted === (0 until 12))
      assert(probeParity(dir, "s", Seq("～", "😀")).length === 2)
    }
  }

  test("store probe: WorkLedger.measure bills the probe's input bytes") {
    val dir = tmpDir("probe-input") + "/s"
    appendRows(dir, (0 until 100).map(i => Row(s"k$i", i, i.toLong)))
    val (rows, w) = ledger.measure(
      StateStores.Store(spark, dir, probeSchema).probeRows("i", Seq(5, 6)))
    assert(rows.length === 2)
    assert(w.jobs === 1)
    assert(w.inputBytes > 0, w)
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
