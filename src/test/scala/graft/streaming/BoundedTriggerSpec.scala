package graft.streaming

import graft.{PlanDump, SparkSpec}
import graft.obs.WorkLedger
import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{SparkException, Success}
import org.apache.spark.graft.{BusAccess, ConfAccess}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._

/** The bounded plans of the two dedup triggers
 *  ([[Dedup.ngramPairsBounded]], [[Dedup.exactCopies]] and the
 *  `processBatch` that runs them) against the distributed plans they
 *  stand in for, forced through the `localMax` bound: the same rows in
 *  the same order, the same store contents, a fixed job budget, and
 *  only batch-keyed store probes — Catalyst probes over the DataFrame
 *  API's frames, file probes ([[StateStores.Store]]) of the stores a
 *  trigger names. */
class BoundedTriggerSpec extends SparkSpec {

  private lazy val ledger = WorkLedger.install(spark)

  private def documents(sf: String) =
    spark.read.parquet(s"/root/testdata/$sf/documents.parquet").select("doc_id", "text")

  private def stored(dir: String, frame: DataFrame): DataFrame = {
    frame.write.mode("append").parquet(dir)
    spark.read.parquet(dir)
  }

  private def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  private def isLocal(df: DataFrame) =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The n-gram pairs of both plans, asserted equal; the bounded ones. */
  private def ngramParity(sh: DataFrame, gramDf: DataFrame, batch: DataFrame) = {
    val bounded = Dedup.dedupNgramIncremental(sh, gramDf, batch)
    assert(isLocal(bounded), bounded.queryExecution.optimizedPlan)
    val got = rowsOf(bounded)
    assert(got === rowsOf(Dedup.dedupNgramIncremental(sh, gramDf, batch, localMax = -1)))
    got
  }

  /** The exact verdicts of both plans, asserted equal; the bounded ones. */
  private def exactParity(words: DataFrame, hashes: DataFrame, batch: DataFrame) = {
    val bounded = Dedup.dedupExactIncremental(words, hashes, batch)
    assert(isLocal(bounded), bounded.queryExecution.optimizedPlan)
    val got = rowsOf(bounded)
    assert(got === rowsOf(Dedup.dedupExactIncremental(words, hashes, batch,
      localMax = -1)))
    got
  }

  private def ngramStores(dir: String, corpus: DataFrame) = {
    val sh = stored(dir + "/sh", Dedup.shingles(corpus))
    (sh, stored(dir + "/df", Dedup.gramDfDelta(sh)))
  }

  /** The `(doc_id, text)` arrival harness of the exact keys: verbatim
   *  copies of every 5th doc, tail-perturbed copies of the next residue. */
  private def arrivals(dd: DataFrame) =
    dd.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(dd.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))

  private def novel(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, (0 until 12).map(w => s"novel${i}w$w").mkString(" ")))
      .toDF("doc_id", "text")
  }

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"n-gram bounded plan equals the distributed plan: $sf corpus/batch split") {
      val docs = documents(sf)
      val (sh, df) = ngramStores(tmpDir("bt-split"), docs.filter(col("doc_id") < 400))
      assert(ngramParity(sh, df, docs.filter(col("doc_id") >= 400)).nonEmpty)
    }

  test("n-gram bounded plan equals the distributed plan: replayed batch already in the stores") {
    val docs = documents("sf0.001")
    val batch = docs.filter(col("doc_id") >= 400)
    // the batch's shingles and df deltas were appended before the replay
    val (sh, df) = ngramStores(tmpDir("bt-replay"), docs)
    assert(ngramParity(sh, df, batch).nonEmpty)
  }

  test("n-gram bounded plan equals the distributed plan: gram df split across delta files") {
    val docs = documents("sf0.001")
    val dir = tmpDir("bt-deltas")
    val sh = stored(dir + "/sh", Dedup.shingles(docs.filter(col("doc_id") < 400)))
    for ((lo, hi) <- Seq((0L, 150L), (150L, 300L), (300L, 400L)))
      stored(dir + "/df", Dedup.gramDfDelta(
        sh.filter(col("doc_id") >= lo && col("doc_id") < hi)))
    val df = spark.read.parquet(dir + "/df")
    assert(df.inputFiles.length >= 3)
    val batch = docs.filter(col("doc_id") >= 400)
    val split = ngramParity(sh, df, batch)
    assert(split.nonEmpty)
    // the SUM fold over the split deltas equals one whole delta
    assert(split === ngramParity(sh, stored(dir + "/whole", Dedup.gramDfDelta(sh)), batch))
  }

  test("n-gram bounded plan equals the distributed plan: rare grams over the pushdown bound") {
    import spark.implicits._
    // 100 stored docs of 30 fresh words each; the batch re-uses them
    // with one word changed, so every batch gram is rare
    val words = (d: Long) => (0 until 30).map(w => s"t${d}_$w")
    val corpus = (0L until 100L).map(d => (d, words(d).mkString(" "))).toDF("doc_id", "text")
    val batch = (100L until 200L).map(d => (d, words(d - 100L).updated(29, "changed")
      .mkString(" "))).toDF("doc_id", "text")
    val (sh, df) = ngramStores(tmpDir("bt-overpush"), corpus)
    val rareBatchGrams = Dedup.shingles(batch).select("gram").distinct().count()
    assert(rareBatchGrams > Dedup.RareGramPushdownMax, rareBatchGrams)
    assert(ngramParity(sh, df, batch).length === 100)
  }

  test("n-gram bounded plan equals the distributed plan: empty batch and batch with no candidates") {
    val docs = documents("sf0.001")
    val (sh, df) = ngramStores(tmpDir("bt-empty"), docs.filter(col("doc_id") < 400))
    assert(ngramParity(sh, df, docs.filter(lit(false))).isEmpty)
    assert(ngramParity(sh, df, novel(Seq(1000L, 1001L))).isEmpty)
  }

  test("the bound counts collected rows: shingle rows (n-gram), probe rows (exact)") {
    val docs = documents("sf0.001")
    val dir = tmpDir("bt-bound")
    val (sh, df) = ngramStores(dir, docs.filter(col("doc_id") < 400))
    val batch = docs.filter(col("doc_id") >= 400)
    // a doc without shingles is one row too
    val rows = batch.select(explode_outer(
      call_function("word_ngrams", col("text"), lit(3)))).count().toInt
    assert(isLocal(Dedup.dedupNgramIncremental(sh, df, batch, localMax = rows)))
    assert(!isLocal(Dedup.dedupNgramIncremental(sh, df, batch, localMax = rows - 1)))
    val (words, hashes) = (stored(dir + "/w", Dedup.bloomWords(docs)),
      stored(dir + "/h", Dedup.contentHashes(docs)))
    val probeRows = batch.count().toInt * Dedup.BloomProbes
    assert(isLocal(Dedup.dedupExactIncremental(words, hashes, batch,
      localMax = probeRows)))
    assert(!isLocal(Dedup.dedupExactIncremental(words, hashes, batch,
      localMax = probeRows - 1)))
  }

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"exact bounded plan equals the distributed plan: $sf arrivals") {
      val docs = documents(sf)
      val dir = tmpDir("bt-x-split")
      val got = exactParity(stored(dir + "/w", Dedup.bloomWords(docs)),
        stored(dir + "/h", Dedup.contentHashes(docs)), arrivals(docs))
      assert(got.count(_(1) == 1L) === 100)
    }

  test("exact bounded plan equals the distributed plan: replayed batch already in the stores") {
    val docs = documents("sf0.001")
    val batch = arrivals(docs)
    val all = docs.unionByName(batch)
    val dir = tmpDir("bt-x-replay")
    val got = exactParity(stored(dir + "/w", Dedup.bloomWords(all)),
      stored(dir + "/h", Dedup.contentHashes(all)), batch)
    assert(got.forall(_(1) == 1L))
  }

  test("exact bounded plan equals the distributed plan: bloom and hash deltas in several files") {
    val docs = documents("sf0.001")
    val dir = tmpDir("bt-x-deltas")
    for (r <- 0L until 3L) {
      val part = docs.filter(col("doc_id") % 3L === r)
      stored(dir + "/w", Dedup.bloomWords(part))
      stored(dir + "/h", Dedup.contentHashes(part))
    }
    val words = spark.read.parquet(dir + "/w")
    assert(words.inputFiles.length >= 3)
    exactParity(words, spark.read.parquet(dir + "/h"), arrivals(docs))
  }

  test("exact bounded plan equals the distributed plan: keys over the pushdown bound") {
    val docs = documents("sf0.1")
    val dir = tmpDir("bt-x-overpush")
    // every doc re-arrives: 5 probe words per doc and one candidate
    // hash per doc, both far over RareGramPushdownMax
    val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    assert(docs.count() > Dedup.RareGramPushdownMax)
    val got = exactParity(stored(dir + "/w", Dedup.bloomWords(docs)),
      stored(dir + "/h", Dedup.contentHashes(docs)), batch)
    assert(got.forall(_(1) == 1L))
  }

  test("exact bounded plan equals the distributed plan: empty batch and batch with no candidates") {
    val docs = documents("sf0.001")
    val dir = tmpDir("bt-x-empty")
    val words = stored(dir + "/w", Dedup.bloomWords(docs))
    val hashes = stored(dir + "/h", Dedup.contentHashes(docs))
    assert(exactParity(words, hashes, docs.filter(lit(false))).isEmpty)
    assert(exactParity(words, hashes, novel(Seq(1000L, 1001L)))
      .map(_(1)) === Seq(0L, 0L))
  }

  test("exact distributed plan: the hash store is scanned and semi-joined below its count") {
    val docs = documents("sf0.001")
    val dir = tmpDir("bt-x-dist")
    val words = stored(dir + "/w", Dedup.bloomWords(docs))
    val hashes = stored(dir + "/h", Dedup.contentHashes(docs))
    val batch = arrivals(docs)
    val (flags, plans) = executedPlans(Dedup.dedupExactIncremental(words, hashes,
      batch, localMax = -1))
    assert(rowsOf(flags) === rowsOf(Dedup.dedupExactIncremental(words, hashes, batch)))
    def scansHashes(p: SparkPlan) = p.exists {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName == "h")
      case _ => false
    }
    def storeSemi(p: SparkPlan) = p.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi && scansHashes(j.left) => j
    }
    val semis = plans.flatMap(storeSemi)
    assert(semis.nonEmpty, plans.mkString("\n"))
    // below the semi-join the store is only scanned: no exchange, no fold
    for (j <- semis) assert(!j.left.exists {
      case _: Exchange | _: BaseAggregateExec => true
      case _ => false
    }, j)
    // and every aggregate over the store counts semi-joined rows only
    for (p <- plans; a <- p.collect { case a: BaseAggregateExec if scansHashes(a) => a })
      assert(storeSemi(a).nonEmpty, a)
  }

  /** Every store of the loop rooted at `root`, as sorted row strings. */
  private def contents(root: String, suffixes: Seq[String]) =
    suffixes.map(s => s -> spark.read.parquet(root + s).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq)

  private def partFiles(dir: String) =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))

  // three triggers from an empty store: in-batch and cross-batch
  // near-dups, then a replay of the second batch
  private lazy val triggerBatches = {
    val docs = documents("sf0.001")
    Seq(docs.filter(col("doc_id") < 200), docs.filter(col("doc_id") >= 200),
      docs.filter(col("doc_id") >= 200 && col("doc_id") < 350))
  }

  test("n-gram processBatch: bounded and distributed triggers write the same stores, one file per store per bounded trigger") {
    val (local, dist) = (tmpDir("bt-pb-l") + "/c", tmpDir("bt-pb-d") + "/c")
    for ((b, id) <- triggerBatches.zipWithIndex; (root, max) <- Seq(
        local -> Dedup.LocalTriggerMax, dist -> -1)) {
      StreamingDedup.processBatch(b, id.toLong, root, root + "_pairs",
        root + "_shingles", root + "_gramdf", 5L, 0.2, localMax = max)
      if (max >= 0) for (s <- Seq("", "_pairs", "_shingles", "_gramdf"))
        assert(partFiles(root + s) === id + 1, s)
    }
    val stores = Seq("", "_pairs", "_shingles", "_gramdf")
    val got = contents(local, stores)
    assert(got.forall(_._2.nonEmpty))
    assert(got === contents(dist, stores))
  }

  test("exact processBatch: bounded and distributed triggers write the same stores, one file per store per bounded trigger") {
    val (local, dist) = (tmpDir("bt-xpb-l") + "/c", tmpDir("bt-xpb-d") + "/c")
    val batches = triggerBatches.map(b => b.unionByName(
      b.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))))
    for ((b, id) <- batches.zipWithIndex; (root, max) <- Seq(
        local -> Dedup.LocalTriggerMax, dist -> -1)) {
      StreamingExactDedup.processBatch(b, id.toLong, root, root + "_hashes",
        root + "_bloom", Dedup.BloomBits, Dedup.BloomProbes, localMax = max)
      if (max >= 0) for (s <- Seq("", "_hashes", "_bloom"))
        assert(partFiles(root + s) === id + 1, s)
    }
    val stores = Seq("", "_hashes", "_bloom")
    val got = contents(local, stores)
    assert(got.forall(_._2.nonEmpty))
    assert(got === contents(dist, stores))
  }

  /** One bounded trigger of each loop against a populated store. */
  private def populated(name: String) = {
    val root = tmpDir(name) + "/c"
    val docs = documents("sf0.001")
    StreamingExactDedup.processBatch(docs.filter(col("doc_id") < 400), 0L,
      root + "_xdocs", root + "_hashes", root + "_bloom", Dedup.BloomBits,
      Dedup.BloomProbes)
    StreamingDedup.processBatch(docs.filter(col("doc_id") < 400), 0L,
      root + "_ndocs", root + "_pairs", root + "_shingles", root + "_gramdf",
      5L, 0.2)
    (root, docs.filter(col("doc_id") >= 400).localCheckpoint())
  }

  test("job budget: one bounded trigger of each dedup loop runs a fixed handful of jobs") {
    import spark.implicits._
    val (root, checkpointed) = populated("bt-budget")
    // a batch of several partitions behind an exchange reads in one job too
    for ((batch, i) <- Seq(checkpointed, checkpointed.repartition(3)).zipWithIndex) {
      assert(ledger.measure(Dedup.shingledBatch(batch, Dedup.LocalTriggerMax))._2.jobs === 1)
      assert(ledger.measure(Dedup.hashedBatch(batch, Dedup.BloomBits, Dedup.BloomProbes,
        Dedup.LocalTriggerMax))._2.jobs === 1)
      val (_, ngram) = ledger.measure(StreamingDedup.processBatch(batch, 1L,
        root + s"_n$i", root + "_pairs", root + "_shingles", root + "_gramdf", 5L, 0.2))
      val (_, exact) = ledger.measure(StreamingExactDedup.processBatch(batch, 1L,
        root + s"_x$i", root + "_hashes", root + "_bloom", Dedup.BloomBits,
        Dedup.BloomProbes))
      // n-gram: batch read, three store probes; exact: batch read, two
      // store probes; the appends run no job
      assert(ngram.jobs <= 4, ngram)
      assert(exact.jobs <= 3, exact)
    }
    // a LocalRelation batch is read without a job
    val local = novel(Seq(1000L, 1001L))
    assert(ledger.measure(Dedup.hashedBatch(local, Dedup.BloomBits, Dedup.BloomProbes,
      Dedup.LocalTriggerMax))._2.jobs === 0)
    val (_, exact) = ledger.measure(StreamingExactDedup.processBatch(local, 1L,
      root + "_xl", root + "_hashes", root + "_bloom", Dedup.BloomBits,
      Dedup.BloomProbes))
    assert(exact.jobs <= 2, exact)
    // cluster: clusters {10, 11} and {20, 21} stored; the batch bridges
    // them (20's cluster relabels to 10) and adds the new ids 5 and 30
    val labels = root + "_labels"
    StreamingClusters.processPairs(Seq((10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b"),
      0L, labels)
    // one pairs file, as a bounded n-gram trigger writes its ledger
    val pairs = stored(root + "_cpairs",
      Seq((11L, 20L), (5L, 30L)).toDF("doc_a", "doc_b").coalesce(1))
    val (_, cluster) = ledger.measure(StreamingClusters.processPairs(pairs, 1L, labels))
    assert(StreamingClusters.readLabels(spark, labels).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L, 5L -> 5L, 30L -> 5L))
    // cluster: pairs read, endpoint probe, changed-label probe
    assert(cluster.jobs <= 3, cluster)
  }

  test("an over-bound batch of many partitions stops its read early and folds distributed") {
    // 64 partitions of 4 docs, each doc ~39 KB of text: a task's docs
    // stay within the bound of 30 probe rows, two tasks' pass it, and
    // all 64 tasks' results would pass the result-size limit below
    val batch = spark.range(0L, 256L, 1L, 64).select(col("id").as("doc_id"),
      concat_ws(" ", lit("doc"), col("id").cast("string"),
        repeat(lit("filler words "), 3000)).as("text"))
    val dirs = Seq("over", "dist").map(tmpDir("bt-over") + "/" + _)
    ConfAccess.withConf(spark.sparkContext, "spark.driver.maxResultSize", "3m") {
      assert(intercept[SparkException](batch.rdd.collect()).getMessage
        .contains("maxResultSize"))
      // the bytes of the task results the driver received
      val received = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.reason == Success) received.addAndGet(e.taskMetrics.resultSize)
      }
      spark.sparkContext.addSparkListener(listener)
      val (read, w) = try ledger.measure(
          Dedup.hashedBatch(batch, Dedup.BloomBits, Dedup.BloomProbes, 30))
        finally {
          BusAccess.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
      assert(read.isEmpty)
      // one job, cancelled long before its last task: the driver took
      // a few tasks' results (~160 KB each), not 64 of them
      assert(w.jobs === 1 && w.tasks <= 16, w)
      assert(received.get <= (3L << 20) / 2, received)
      for ((root, max) <- dirs.zip(Seq(30, -1)))
        StreamingExactDedup.processBatch(batch, 0L, root, root + "_hashes",
          root + "_bloom", Dedup.BloomBits, Dedup.BloomProbes, localMax = max)
    }
    val stores = Seq("", "_hashes", "_bloom")
    val got = contents(dirs.head, stores)
    assert(got.head._2.length === 256)
    assert(got === contents(dirs(1), stores))
  }

  test("a negative localMax reads no batch: no job, no query, straight to the distributed plan") {
    import spark.implicits._
    val (root, batch) = populated("bt-negative")
    val (((shingled, hashed), read), w) = ledger.measure(PlanDump.executedPlans(spark)(
      (Dedup.shingledBatch(batch, -1),
        Dedup.hashedBatch(batch, Dedup.BloomBits, Dedup.BloomProbes, -1))))
    assert(shingled.isEmpty && hashed.isEmpty)
    assert(w.jobs === 0 && read.isEmpty, read)
    // the cluster fold runs only the distributed fold's queries: no
    // bounded read of the pairs (a take(0) would be a LocalTableScan)
    val labels = root + "_labels"
    val (_, plans) = PlanDump.executedPlans(spark)(StreamingClusters.processPairs(
      Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"), 0L, labels, localMax = -1))
    assert(plans.nonEmpty && !plans.exists(_.isInstanceOf[LocalTableScanExec]),
      plans.mkString("\n"))
    assert(StreamingClusters.readLabels(spark, labels).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("a bounded trigger of each loop runs no Dataset action") {
    import spark.implicits._
    val (root, checkpointed) = populated("bt-no-action")
    val parquet = stored(root + "_batch", arrivals(documents("sf0.001")))
    for ((batch, i) <- Seq(checkpointed, parquet, novel(Seq(1000L, 1001L))).zipWithIndex) {
      val (_, plans) = PlanDump.executedPlans(spark) {
        StreamingExactDedup.processBatch(batch, 1L, root + s"_x$i", root + "_hashes",
          root + "_bloom", Dedup.BloomBits, Dedup.BloomProbes)
        StreamingDedup.processBatch(batch, 1L, root + s"_n$i", root + "_pairs",
          root + "_shingles", root + "_gramdf", 5L, 0.2)
      }
      assert(plans.isEmpty, plans.mkString("\n"))
    }
    val labels = root + "_labels"
    StreamingClusters.processPairs(Seq((10L, 11L)).toDF("doc_a", "doc_b"), 0L, labels)
    val pairs = stored(root + "_cpairs", Seq((11L, 20L), (5L, 30L)).toDF("doc_a", "doc_b"))
    val (_, plans) = PlanDump.executedPlans(spark)(
      StreamingClusters.processPairs(pairs, 1L, labels))
    assert(plans.isEmpty, plans.mkString("\n"))
    assert(StreamingClusters.readLabels(spark, labels).count() === 5L)
  }

  test("cluster bounded trigger: a changed cluster past localMax folds distributed, to the distributed run's labels") {
    import spark.implicits._
    def rows(dir: String) =
      spark.read.parquet(dir).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val root = tmpDir("bt-cluster-big")
    val (bounded, dist) = (root + "/bounded", root + "/dist")
    // stored: the 12-member cluster 100..111 and the cluster {5, 6}
    val stored = ((100L until 111L).map(i => (i, i + 1)) :+ ((5L, 6L)))
      .toDF("doc_a", "doc_b")
    StreamingClusters.processPairs(stored, 0L, bounded)
    StreamingClusters.processPairs(stored, 0L, dist, localMax = -1)
    // two pairs, within localMax = 2: one bridges the big cluster into
    // the lower label 5, one adds the new ids 3 and 4
    val batch = Seq((6L, 100L), (3L, 4L)).toDF("doc_a", "doc_b")
    StreamingClusters.processPairs(batch, 1L, bounded, localMax = 2)
    StreamingClusters.processPairs(batch, 1L, dist, localMax = -1)
    // past the member bound the whole trigger ran the distributed fold
    assert(rows(bounded) === rows(dist))
    assert(StreamingClusters.readLabels(spark, bounded).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      ((100L to 111L).map(_ -> 5L) ++ Seq(5L -> 5L, 6L -> 5L, 3L -> 3L, 4L -> 3L)).toMap)
  }

  test("cluster distributed fold releases its caches when the label store fails") {
    import spark.implicits._
    // a regular file where the label store belongs: the store read
    // and the append both fail
    val labels = new java.io.File(tmpDir("bt-cluster-fail"), "labels")
    java.nio.file.Files.write(labels.toPath, "not parquet".getBytes("UTF-8"))
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val err = intercept[Exception](
      StreamingClusters.processPairs(pairs, 0L, labels.getPath, localMax = -1))
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(chain.exists(_.contains(labels.getName)), chain.mkString("\n"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** Every executed plan that scans a file scans one of `stores`,
   *  restricted by a batch-keyed `In` or a semi-join against a
   *  `LocalRelation` of batch keys. */
  private def assertStoreProbes(plans: Seq[SparkPlan], stores: Seq[String]): Unit = {
    val scanning = plans.filter(_.exists(_.isInstanceOf[FileSourceScanExec]))
    assert(scanning.nonEmpty, plans.mkString("\n"))
    for (p <- scanning) {
      p.collect { case s: FileSourceScanExec => s }.foreach { s =>
        val paths = s.relation.location.rootPaths.map(_.getName)
        assert(paths.nonEmpty && paths.forall(stores.contains), p)
      }
      val inProbe = p.exists {
        case f: FilterExec => f.condition.exists {
          case _: In | _: InSet => true
          case _ => false
        }
        case _ => false
      }
      val semiProbe = p.exists {
        case j: BroadcastHashJoinExec =>
          j.joinType == LeftSemi && j.right.exists(_.isInstanceOf[LocalTableScanExec])
        case _ => false
      }
      assert(inProbe || semiProbe, p)
    }
  }

  /** The DataFrame API's n-gram trigger over the stores under `root`. */
  private def ngramFrames(root: String, batch: DataFrame) =
    Dedup.dedupNgramIncremental(spark.read.parquet(root + "_shingles"),
      spark.read.parquet(root + "_gramdf"), batch, 5L, 0.2)

  test("n-gram bounded trigger: every file scan is a batch-keyed state-store probe") {
    val (root, batch) = populated("bt-audit-n")
    val (pairs, plans) = executedPlans(ngramFrames(root, batch))
    assert(isLocal(pairs) && pairs.count() > 0)
    assertStoreProbes(plans, Seq("c_shingles", "c_gramdf"))
    // the candidate probes ran: gram-df, rare grams, endpoints
    assert(plans.count(_.exists(_.isInstanceOf[FileSourceScanExec])) === 3)
  }

  test("n-gram bounded trigger over the pushdown bound probes by LocalRelation semi-join") {
    import spark.implicits._
    val words = (d: Long) => (0 until 30).map(w => s"t${d}_$w")
    val root = tmpDir("bt-audit-semi") + "/c"
    StreamingDedup.processBatch((0L until 100L).map(d => (d, words(d).mkString(" ")))
      .toDF("doc_id", "text"), 0L, root, root + "_pairs", root + "_shingles",
      root + "_gramdf", 5L, 0.2)
    val batch = (100L until 200L).map(d => (d, words(d - 100L).updated(29, "changed")
      .mkString(" "))).toDF("doc_id", "text")
    val (pairs, plans) = executedPlans(ngramFrames(root, batch))
    assert(pairs.count() === 100)
    assertStoreProbes(plans, Seq("c_shingles", "c_gramdf"))
    assert(plans.exists(_.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftSemi
      case _ => false
    }), plans.mkString("\n"))
  }

  test("exact bounded trigger: every file scan is a batch-keyed state-store probe") {
    val (root, _) = populated("bt-audit-x")
    val batch = arrivals(documents("sf0.001")).localCheckpoint()
    val (flags, plans) = executedPlans(Dedup.dedupExactIncremental(
      spark.read.parquet(root + "_bloom"), spark.read.parquet(root + "_hashes"),
      batch))
    assert(isLocal(flags))
    assert(flags.filter(col("is_dup") === 1L).count() > 0)
    assertStoreProbes(plans, Seq("c_hashes", "c_bloom"))
    assert(plans.count(_.exists(_.isInstanceOf[FileSourceScanExec])) === 2)
  }

  /** The probe jobs `body` runs, as (store dir name, key column, key
   *  count) from their [[StateStores.probeDescription]], after checking
   *  that every other job is the batch read: exactly `batchJobs` jobs,
   *  all before the first probe. */
  private def storeProbes(batchJobs: Int)(body: => Any): Seq[(String, String, Int)] = {
    val Probe = """state-store probe: (.+) on (\w+), (\d+) keys""".r
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = descs.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    BusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; BusAccess.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    val jobs = descs.asScala.toSeq
    assert(jobs.takeWhile(!Probe.matches(_)).length === batchJobs, jobs)
    assert(jobs.drop(batchJobs).forall(Probe.matches(_)), jobs)
    jobs.collect { case Probe(dir, key, n) => (new Path(dir).getName, key, n.toInt) }
  }

  /** Every probe is of one of `stores` (name -> the key columns it is
   *  probed on), at batch keys, and none reads a docs store of `docs`. */
  private def assertNamedStores(probes: Seq[(String, String, Int)],
                                stores: Map[String, Set[String]],
                                docs: Set[String]): Unit =
    for ((store, key, n) <- probes) {
      assert(!docs(store), probes)
      assert(stores.get(store).exists(_(key)), probes)
      assert(n > 0, probes)
    }

  /** The distinct grams of `batch`'s shingles. */
  private def batchGrams(batch: DataFrame) =
    Dedup.shingles(batch).select("gram").distinct().count().toInt

  test("n-gram bounded trigger, store path: every job but the batch collect probes a named state store") {
    val (root, batch) = populated("bt-store-n")
    val stores = Map("c_shingles" -> Set("gram", "doc_id"), "c_gramdf" -> Set("gram"))
    var pairs: Array[Row] = null
    val viaPairs = storeProbes(batchJobs = 1) {
      pairs = StreamingDedup.triggerPairs(spark, batch, root + "_shingles",
        root + "_gramdf", 5L, 0.2).collect()
    }
    assert(pairs.nonEmpty)
    assert(pairs.toSeq === ngramFrames(root, batch).collect().toSeq)
    val viaBatch = storeProbes(batchJobs = 1)(StreamingDedup.processBatch(batch, 1L, root + "_n",
      root + "_pairs", root + "_shingles", root + "_gramdf", 5L, 0.2))
    for (probes <- Seq(viaPairs, viaBatch)) {
      assertNamedStores(probes, stores, Set("c_ndocs", "c_n"))
      // gram-df at every batch gram, shingles at the rare ones, then at
      // the candidate endpoints
      assert(probes.map(p => (p._1, p._2)) ===
        Seq(("c_gramdf", "gram"), ("c_shingles", "gram"), ("c_shingles", "doc_id")))
      assert(probes.head._3 === batchGrams(batch))
    }
  }

  test("exact bounded trigger, store path: every job but the batch collect probes a named state store") {
    val (root, _) = populated("bt-store-x")
    val batch = arrivals(documents("sf0.001")).localCheckpoint()
    val stores = Map("c_bloom" -> Set("word_idx"), "c_hashes" -> Set("content_hash"))
    var flags: Array[Row] = null
    val viaFlags = storeProbes(batchJobs = 1) {
      flags = StreamingExactDedup.triggerFlags(spark, batch, root + "_hashes",
        root + "_bloom", Dedup.BloomBits, Dedup.BloomProbes).collect()
    }
    assert(flags.count(_.getLong(1) == 1L) > 0)
    assert(flags.toSeq === Dedup.dedupExactIncremental(spark.read.parquet(root + "_bloom"),
      spark.read.parquet(root + "_hashes"), batch).collect().toSeq)
    val viaBatch = storeProbes(batchJobs = 1)(StreamingExactDedup.processBatch(batch, 1L,
      root + "_x", root + "_hashes", root + "_bloom", Dedup.BloomBits,
      Dedup.BloomProbes))
    val docs = batch.count().toInt
    for (probes <- Seq(viaFlags, viaBatch)) {
      assertNamedStores(probes, stores, Set("c_xdocs", "c_x"))
      assert(probes.map(p => (p._1, p._2)) ===
        Seq(("c_bloom", "word_idx"), ("c_hashes", "content_hash")))
      assert(probes.head._3 <= docs * Dedup.BloomProbes && probes(1)._3 <= docs, probes)
    }
  }

  test("cluster bounded trigger, store path: both label probes are file probes of the label store") {
    import spark.implicits._
    val labels = tmpDir("bt-store-c") + "/labels"
    StreamingClusters.processPairs(Seq((10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b"),
      0L, labels)
    val probes = storeProbes(batchJobs = 0)(StreamingClusters.processPairs(
      Seq((11L, 20L), (5L, 30L)).toDF("doc_a", "doc_b"), 1L, labels))
    // the endpoints 11, 20, 5, 30; then the one changed label, 20
    assert(probes === Seq(("labels", "doc_id", 4), ("labels", "label", 1)))
  }
}
