package graft

import graft.analytics._
import graft.events.TestDataAdapter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Scale-design audits: these assert properties of the PHYSICAL PLAN
  * that must hold for the operators to survive 100 TB — filter/column
  * pushdown into the parquet scan, map-side partial aggregation,
  * broadcast (not shuffle) joins for small dimensions, and the absence
  * of cartesian products. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def canon = TestDataAdapter.canonical(spark, sf)

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** [[executedPlans]] as one printout, for the string audits. */
  private def executedPlan(body: => DataFrame): (DataFrame, String) = {
    val (df, plans) = executedPlans(body)
    (df, plans.mkString("\n"))
  }

  test("per-app filter pushes down to the parquet scan") {
    // app_id = 'app-7' <=> user_id = 7: the filter on the derived column
    // must still reach the scan as a pushed filter on the source column
    // once expressed pre-projection.
    val df = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("user_id") === 7)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]"), p)
  }

  test("analytics read only the columns they need (column pruning)") {
    val p = plan(Applications.appList(canon))
    // appList needs ts + user_id only; the scan schema must not include
    // value/props/event_type.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("ts") && readSchema.contains("user_id"), readSchema)
    assert(!readSchema.contains("props"), readSchema)
    assert(!readSchema.contains("value"), readSchema)
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val p = plan(Trends.perfTrends(canon))
    // HashAggregate appears twice around the exchange: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("executor summary joins are broadcast or sort-merge on pre-aggregated inputs, no cartesian") {
    val p = plan(Resources.executorSummary(canon))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("per-app status join in resource_util_metrics is broadcastable") {
    val p = plan(CrossApp.resourceUtilMetrics(canon))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("partitioned store prunes partitions and pushes app_id into the scan") {
    val logs = tmpDir("audit-logs")
    graft.events.EventLogFixture.writeLogs(logs, Seq("app-p1", "app-p2"))
    val store = tmpDir("audit-store")
    graft.sources.EventLogSource.writeStore(
      graft.sources.EventLogSource.readDirectory(spark, logs), store)
    val df = spark.read.parquet(store)
      .filter(col("event_date") === "2023-11-14" && col("app_id") === "app-p1")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(p).isDefined, p)
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(app_id,app-p1\\)".r.findFirstIn(p).isDefined, p)
  }

  test("analytics date window prunes store partitions before any IO") {
    val logs = tmpDir("window-logs")
    graft.events.EventLogFixture.writeLogs(logs, Seq("app-w1"))
    val store = tmpDir("window-store")
    graft.sources.EventLogSource.writeStore(
      graft.sources.EventLogSource.readDirectory(spark, logs), store)
    // the AnalyticsQuery date params are plain event_date predicates,
    // so over the date-partitioned store they must surface as
    // PartitionFilters (directory pruning), not data filters
    val df = Trends.perfTrends(spark.read.parquet(store),
      minDate = Some("2023-11-14"), maxDate = Some("2023-11-14"))
    val p = plan(df)
    assert("PartitionFilters: \\[[^\\]]*event_date".r.findFirstIn(p).isDefined, p)
  }

  test("bucketed store: per-app aggregation runs without an exchange") {
    val logs = tmpDir("bucket-logs")
    graft.events.EventLogFixture.writeLogs(logs, Seq("app-b1", "app-b2"))
    // a previous JVM's managed-table location may linger in the
    // warehouse dir while the fresh metastore has no such table
    spark.sql("DROP TABLE IF EXISTS graft_events_bucketed")
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "graft_events_bucketed")
    if (wh.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(wh)
    }
    graft.sources.EventLogSource.writeBucketedStore(
      graft.sources.EventLogSource.readDirectory(spark, logs),
      "graft_events_bucketed", buckets = 4)
    val agg = spark.table("graft_events_bucketed")
      .groupBy("app_id").count()
    agg.collect()
    val p = agg.queryExecution.executedPlan.toString
    // bucketBy(app_id) satisfies the aggregation's required
    // distribution: no hashpartitioning exchange in the plan
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(agg.count() === 2)
  }

  test("event-log parse: no JsonToStructs; EventLine runs in whole-stage codegen") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import graft.events.EventLine
    // the nodes a codegen stage compiles: its subtree down to its inputs
    def stageNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case o => o.children.flatMap(stageNodes)
    })
    def audit(what: String, plans: Seq[SparkPlan]): Unit = {
      val shown = s"$what:\n${plans.mkString("\n")}"
      val exprs = plans.flatMap(_.collect { case n => n.expressions }.flatten)
      assert(exprs.flatMap(_.collect { case j: JsonToStructs => j }).isEmpty, shown)
      // one parse per line: the expression sits in exactly one project
      assert(exprs.flatMap(_.collect { case e: EventLine => e }).size === 1, shown)
      val parse = plans.flatMap(_.collect {
        case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[EventLine])) => p
      })
      assert(parse.size === 1, shown)
      val compiled = plans.flatMap(_.collect {
        case w: WholeStageCodegenExec => stageNodes(w.child)
      }).flatten
      assert(compiled.exists(_ eq parse.head), shown)
    }
    val logs = tmpDir("parse-once-logs")
    val log = java.nio.file.Paths.get(logs, "app-po1.json")
    val lines = graft.events.EventLogFixture.appLog("app-po1")
    java.nio.file.Files.writeString(log, lines.take(8).mkString("", "\n", "\n"))
    audit("whole-file read",
      executedPlans(graft.sources.EventLogSource.readDirectory(spark, logs))._2)
    // a grown file's tail: the attempt comes as a hint, no window
    val ing = new graft.sources.IncrementalIngest(spark,
      tmpDir("parse-once-ckpt") + "/state.tsv")
    ing.ingest(logs)(_.count())
    java.nio.file.Files.writeString(log, lines.drop(8).mkString("", "\n", "\n"),
      java.nio.file.StandardOpenOption.APPEND)
    val (tail, tailPlans) = PlanDump.executedPlans(spark) {
      var n = 0
      ing.ingest(logs)(df => n = df.collect().length)
      n
    }
    assert(tail === 4)
    audit("tail read", tailPlans)
    // streaming: the event-type filter stays above the parse
    val q = graft.streaming.StreamingIngest.readStream(spark, logs)
      .writeStream.format("noop").start()
    try {
      q.processAllAvailable()
      audit("streaming read", Seq(q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan))
    } finally q.stop()
  }

  test("whole-stage codegen covers the canonical projection") {
    // codegen'd stages carry the `*(n)` prefix in the plan string
    val p = plan(canon)
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, p)
  }

  /** The quantile-family scale audit: every nearest-rank quantile
   *  operator must follow the histogram-rank discipline — NO operator
   *  sorts a frame above histogram cardinality. Concretely: no
   *  row_number window anywhere (the old shape ranked every raw row
   *  inside a per-key partition — a skewed key put tens of millions of
   *  rows through ONE reducer's sort, twice), and every Window's
   *  direct input chain is the bounded per-(key, value) HashAggregate,
   *  never the raw frame. */
  private def assertHistogramRankShape(p: String): Unit = {
    assert(!p.contains("row_number"), p)
    assert(!p.contains("CartesianProduct"), p)
    val lines = p.linesIterator.toSeq
    val winIdxs = lines.zipWithIndex.filter(_._1.contains("Window ")).map(_._2)
    assert(winIdxs.nonEmpty, p)
    // below the DEEPEST window (root-first printout → largest index)
    // the chain must reach the histogram aggregate within the
    // sort/exchange plumbing — a corpus-cardinality window input would
    // show a scan/generate/filter chain here instead
    val deepest = winIdxs.max
    assert(lines.slice(deepest + 1, deepest + 8)
      .exists(_.contains("HashAggregate")),
      lines.slice(deepest, deepest + 8).mkString("\n"))
  }

  test("task quantiles: histogram-rank — no row_number, windows see only the (app, metric, value) histogram") {
    assertHistogramRankShape(plan(JobsStages.taskQuantiles(canon)))
  }

  test("diagnostics windows: single exchange, partial aggregation, no cartesian") {
    for (df <- Seq(Diagnostics.stragglerStages(canon),
      Diagnostics.executorTimeline(canon),
      Diagnostics.userSessions(canon))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("incremental near-dup: batch restriction sits BELOW the pair join (no old-old enumeration)") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val corpusSh = graft.pipeline.Dedup.shingles(corpus)
      .localCheckpoint() // stand-in for the parquet store read
    // the distributed plan, forced through the bound (the bounded plan
    // has no pair join: BoundedTriggerSpec audits its store probes)
    val (_, plans) = executedPlans(graft.pipeline.Dedup.dedupNgramIncremental(
      corpusSh, graft.pipeline.Dedup.gramDfDelta(corpusSh), batch, localMax = -1))
    def joins(p: SparkPlan) = p.collect { case j: BaseJoinExec => j }
    def keyRefs(j: BaseJoinExec) = (j.leftKeys ++ j.rightKeys).flatMap(_.references)
    // The gram-keyed pair join must contain, inside one of its inputs,
    // a doc_id-keyed join (the batch-id restriction). If the batch
    // filter were applied above the pair join — the old-old-enumerating
    // shape — no gram join would have a doc_id join beneath it. The
    // pair join is keyed on gram ALONE: the verify's (doc_b, gram)
    // intersection join sits above the doc_id-keyed endpoint
    // restriction whatever the candidate shape, so it proves nothing.
    val pairJoins = plans.flatMap(joins).filter(j =>
      keyRefs(j).nonEmpty && keyRefs(j).forall(_.name == "gram"))
    assert(pairJoins.nonEmpty, plans.mkString("\n"))
    val pairJoinHasBatchInput = pairJoins.exists(_.children.exists(c =>
      joins(c).exists { j2 =>
        val refs = keyRefs(j2) ++ j2.condition.toSeq.flatMap(_.references)
        refs.nonEmpty && refs.forall(_.name == "doc_id")
      }))
    assert(pairJoinHasBatchInput, plans.mkString("\n"))
  }

  test("stage quantiles: histogram-rank — no row_number, windows see only the (stage, metric, value) histogram") {
    assertHistogramRankShape(plan(JobsStages.stageQuantiles(canon)))
  }

  test("length quantiles: histogram-rank — the per-source window sees the (source, n_tok) histogram, never documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assertHistogramRankShape(plan(
      graft.pipeline.TextAnalysis.lengthQuantiles(docs)))
  }

  test("app duration quantiles: histogram-rank — the global window sees the duration histogram, never per-app rows") {
    assertHistogramRankShape(plan(CrossApp.appDurationQuantiles(canon)))
  }

  test("embedding norm quantiles: histogram-rank — the per-label window sees the (label, norm) histogram, never vectors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assertHistogramRankShape(plan(
      graft.pipeline.Embeddings.embNormQuantiles(emb)))
  }

  test("decontamination broadcasts the benchmark side — corpus shingles never shuffle for the join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Decontamination.benchmarkOverlap(
      graft.pipeline.Dedup.shingles(docs.filter(col("doc_id") % 20 === 0)),
      docs.filter(col("doc_id") % 20 =!= 0)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fuzzy decontamination broadcasts the benchmark band signatures — corpus never self-joins") {
    // r17's withJaccard bracket pins the verify result eagerly, so the
    // band join runs inside the bracket: audit what executed there.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (_, p) = executedPlan(graft.pipeline.Decontamination.contaminationMinhash(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cdc incremental probe: chunk store scanned, never exchanged — batch side broadcasts") {
    // The measured sf10 lesson (STRESS_SF1.md): the shuffled-store
    // membership join grew 2.4x per 4x state; the broadcast shape
    // +43%. Assert no Exchange sits between the chunk-store scan and
    // the first join above it, and that the probe joins broadcast.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val store = graft.pipeline.Dedup.cdcChunkStore(corpus)
      .localCheckpoint() // stand-in for the parquet store read
    val (_, plans) = executedPlans(graft.pipeline.Dedup.cdcChunkDedupIncremental(
      store, docs.filter(col("doc_id") >= 400)))
    val p = plans.mkString("\n")
    assert(plans.exists(q => "BroadcastHashJoin".r.findAllIn(q.toString).size >= 2), p)
    assert(!p.contains("CartesianProduct"), p)
    // the semi probe keyed on (fp, len) must be a broadcast join, not
    // a sort-merge over the store: no SortMergeJoin carrying fp
    assert(!p.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("fp")), p)
  }

  test("hybrid search: both per-list windows run over TakeOrdered tops, never the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.pipeline.Embeddings.hybridSearch(docs, emb))
    // each list collapses through a distributed TakeOrdered before its
    // rank window; the probe sides broadcast
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("matryoshka + bq recall: query side broadcasts, corpus never self-joins") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 2000)
    val (_, pm) = executedPlan(graft.pipeline.Embeddings.matryoshkaRecall(emb, queries))
    val (_, pb) = executedPlan(graft.pipeline.Embeddings.bqRecall(emb, queries))
    assert(!pm.contains("CartesianProduct"), pm)
    assert(pm.contains("BroadcastNestedLoopJoin")
      || pm.contains("BroadcastHashJoin"), pm)
    assert(!pb.contains("CartesianProduct"), pb)
    assert(pb.contains("BroadcastNestedLoopJoin")
      || pb.contains("BroadcastHashJoin"), pb)
  }

  test("shard packing windows per writer lane — no single global partition") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Sampling.shardPack(docs))
    // the lane window must hash-partition on writer, not collapse to
    // one worldwide sort (Exchange SinglePartition above a Window)
    assert(p.contains("Exchange hashpartitioning(writer"), p)
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.trim.startsWith("Window"))
    assert(!lines.take(winIdx + 1).exists(_.contains("SinglePartition")), p)
  }

  test("passage chunking is a pure per-row explode — no shuffle before the fan-out") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.chunkPassages(docs))
    // chunk count/boundaries/content all come from the in-row token
    // array: the only exchange allowed is the final presentation sort
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("passage dedup: in-row explode fans out before the fingerprint-partitioned window — no global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.passageDedup(docs))
    assert(p.contains("Generate explode"), p)
    // the rank window partitions by chunk_fp (hash exchange), never a
    // worldwide SinglePartition sort
    assert(p.contains("Exchange hashpartitioning(chunk_fp"), p)
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(!lines.take(winIdx + 1).exists(_.contains("SinglePartition")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("vocab top-k: partial aggregation then a driver-bounded TakeOrdered cut") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.vocabTopk(docs))
    // count + count-distinct combine map-side; the global cut is
    // TakeOrdered(k), never a worldwide sort of the vocabulary
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pmi terms: corpus explodes into partial aggs; all downstream joins broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.pmiTerms(docs))
    // bigram + unigram counts combine map-side; the vocab-sized count
    // frames join under broadcast — corpus rows never reach a join
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dedup curve / dup quality profile: narrow first-occurrence pass, no text shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (df <- Seq(graft.pipeline.Dedup.dedupCurve(docs),
        graft.pipeline.TextAnalysis.dupQualityProfile(docs))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"), p)
      // the exchanges carry (hash, id)-width rows, never full text
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach {
        l => assert(!l.contains("text#"), l)
      }
    }
  }

  test("topic clusters: broadcast-K assignment, no corpus self-join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.pipeline.Embeddings.topicClusters(emb))
    // the only nested-loop is the deliberate broadcast-K cross join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mix resample broadcasts the weight table and explodes after the copy filter") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Sampling.mixResample(docs))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // dropped docs must be filtered out BEFORE the sequence explode
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0, p)
    assert(lines.drop(genIdx + 1).exists(_.contains("n_copies")), p)
  }

  test("streaming dedup trigger reads ONLY the shingle/gram-df stores — never corpus text") {
    import spark.implicits._
    val base = tmpDir("sdedup-audit")
    val corpusDir = base + "/corpusdocs"
    val shDir = base + "/shinglestore"
    val dfDir = base + "/gramdfstore"
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "completely different content about spark data processing")
    ).toDF("doc_id", "text")
    corpus.write.parquet(corpusDir)
    graft.pipeline.Dedup.shingles(corpus).write.parquet(shDir)
    graft.pipeline.Dedup.shingles(corpus)
      .groupBy("gram").agg(count(lit(1)).as("df_cnt")).write.parquet(dfDir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    // the distributed plan, forced through the bound (BoundedTriggerSpec
    // audits the bounded plan's store probes)
    val (pairs, p) = executedPlan(graft.streaming.StreamingDedup.triggerPairs(
      spark, batch, shDir, dfDir, 5L, 0.2, localMax = -1))
    // the batch is a LocalRelation, so every file scan in the trigger
    // plan is a store read: all of them must point at the shingle or
    // gram-df stores, and none at the corpus documents — re-shingling
    // corpus TEXT per trigger is exactly the O(corpus) term this path
    // exists to eliminate
    val locations = p.linesIterator
      .filter(_.contains("Location")).toSeq
    assert(locations.nonEmpty, p)
    assert(locations.forall(l =>
      l.contains("shinglestore") || l.contains("gramdfstore")), locations.toString)
    assert(!p.contains("corpusdocs"), p)
    // r17: the rare-batch-gram restriction reaches the shingle-store
    // scan as a PUSHED In predicate (row-group skipping on a
    // gram-clustered compacted store), not a broadcast semi-join —
    // the batch here is far below RareGramPushdownMax.
    assert(p.contains("In(gram"), p)
    // and the result is still right: 10 is a near-dup of stored doc 0
    val got = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 10L)))
  }

  test("streaming SIMHASH trigger reads ONLY the fingerprint store — never corpus text") {
    import spark.implicits._
    val base = tmpDir("simdedup-audit")
    val corpusDir = base + "/corpusdocs"
    val fpDir = base + "/fpstore"
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "completely different content about spark data processing")
    ).toDF("doc_id", "text")
    corpus.write.parquet(corpusDir)
    // store written at the streaming surface's default width (WIDE —
    // the default flipped after the sf10 probe; triggerPairs below
    // reads it at its own default, so the two must agree)
    graft.pipeline.Dedup.simhashFingerprints(corpus,
      fpBits = graft.pipeline.Dedup.SimBitsWide).write.parquet(fpDir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val (pairs, p) = executedPlan(graft.streaming.StreamingSimhashDedup.triggerPairs(
      spark, batch, fpDir, 3))
    // the batch is a LocalRelation, so every file scan in the trigger
    // plan is a store read — and the simhash store is ONE long per
    // corpus doc, the smallest per-trigger state in the family
    val locations = p.linesIterator
      .filter(_.contains("Location")).toSeq
    assert(locations.nonEmpty, p)
    assert(locations.forall(_.contains("fpstore")), locations.toString)
    assert(!p.contains("corpusdocs"), p)
    // identical text => identical fingerprint => hamming 0 vs stored 0
    val got = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 10L)))
  }

  test("streaming MINHASH trigger reads ONLY the signature/shingle stores — never corpus text") {
    import spark.implicits._
    val base = tmpDir("mhdedup-audit")
    val corpusDir = base + "/corpusdocs"
    val shDir = base + "/shinglestore"
    val sigDir = base + "/sigstore"
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text")
    corpus.write.parquet(corpusDir)
    graft.pipeline.Dedup.shingles(corpus).write.parquet(shDir)
    graft.pipeline.Dedup.minhashSignatures(corpus).write.parquet(sigDir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank tonight"))
      .toDF("doc_id", "text")
    val (pairs, p) = executedPlan(graft.streaming.StreamingMinhashDedup.triggerPairs(
      spark, batch, shDir, sigDir, 0.2))
    // the batch is a LocalRelation, so every file scan in the trigger
    // plan is a store read: band candidates come from the signature
    // store, exact-Jaccard verify from the shingle store — corpus text
    // appears nowhere
    val locations = p.linesIterator
      .filter(_.contains("Location")).toSeq
    assert(locations.nonEmpty, p)
    assert(locations.forall(l =>
      l.contains("sigstore") || l.contains("shinglestore")), locations.toString)
    assert(!p.contains("corpusdocs"), p)
    val got = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 10L)))
  }

  test("streaming EMBEDDING trigger reads ONLY the quantized index — never corpus embeddings") {
    import spark.implicits._
    val base = tmpDir("embdedup-audit")
    val corpusDir = base + "/corpusvecs"
    val qvDir = base + "/qvstore"
    // Walsh-pattern directions: mutually orthogonal by construction
    val vecA = Array.fill(graft.pipeline.Embeddings.Dims)(0.5f)
    val vecB = Array.tabulate(graft.pipeline.Embeddings.Dims)(
      i => if (i % 2 == 0) 1.0f else -1.0f)
    val corpus = Seq((0L, vecA), (1L, vecB)).toDF("vec_id", "embedding")
    corpus.write.parquet(corpusDir)
    graft.pipeline.Embeddings.quantizedIndex(corpus).write.parquet(qvDir)
    val batch = Seq((10L, vecA)).toDF("vec_id", "embedding")
    val (pairs, p) = executedPlan(graft.streaming.StreamingEmbeddingDedup.triggerPairs(
      spark, batch, qvDir, 0.4))
    // the batch is a LocalRelation, so every file scan in the trigger
    // plan is the quantized index — raw corpus embeddings are never
    // re-quantized per trigger
    val locations = p.linesIterator
      .filter(_.contains("Location")).toSeq
    assert(locations.nonEmpty, p)
    assert(locations.forall(_.contains("qvstore")), locations.toString)
    assert(!locations.exists(_.contains("qvstore_fp")), locations.toString)
    assert(!p.contains("corpusvecs"), p)
    // identical vector => cosine 1.0 vs stored 0
    val got = pairs.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 10L)))
    // the maintained-FP-STORE shape (the scale path — deriving
    // fingerprints per trigger was the measured O(state x planes)
    // term): banding scans the 8-byte fp store, verify the qv store,
    // corpus embeddings still never read. The trigger finds the fp
    // store at its fixed `<qvDir>_fp` sibling.
    graft.pipeline.Embeddings.writeEmbFingerprintStore(corpus, qvDir + "_fp")
    val (pairs2, p2) = executedPlan(graft.streaming.StreamingEmbeddingDedup.triggerPairs(
      spark, batch, qvDir, 0.4))
    val locs2 = p2.linesIterator
      .filter(_.contains("Location")).toSeq
    assert(locs2.exists(_.contains("qvstore_fp")), locs2.toString)
    assert(locs2.forall(_.contains("qvstore")), locs2.toString)
    assert(!p2.contains("corpusvecs"), p2)
    val got2 = pairs2.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 === Set((0L, 10L)))
  }

  test("span dedup and lm surprisal plans are partial-agg joins, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (df <- Seq(graft.pipeline.TextAnalysis.spanDedup(docs),
      graft.pipeline.TextAnalysis.lmSurprisal(docs))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    }
  }

  test("incremental span dedup store path never shingles corpus text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val storeDir = java.nio.file.Files
      .createTempDirectory("span_store").toString
    graft.pipeline.TextAnalysis.spanGramCounts(corpus)
      .write.mode("overwrite").parquet(storeDir)
    val p = plan(graft.pipeline.TextAnalysis.spanDedupIncremental(
      spark.read.parquet(storeDir), docs.filter(col("doc_id") >= 400)))
    // every scan that reads document TEXT carries the batch pushdown
    // (doc_id >= 400) — the corpus store contributes via its parquet
    // scan only
    val textScans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("documents.parquet")
        && l.contains("text")).toList
    assert(textScans.nonEmpty, p)
    assert(textScans.forall(_.contains("GreaterThanOrEqual(doc_id,400)")),
      textScans.mkString("\n"))
    assert(p.contains("span_store"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("span trim and surprisal buckets plans: no cartesian; the bucket window is histogram-scale") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pt = plan(graft.pipeline.TextAnalysis.spanTrim(docs))
    assert(!pt.contains("CartesianProduct"), pt)
    val pb = plan(graft.pipeline.TextAnalysis.surprisalBuckets(docs))
    assert(!pb.contains("CartesianProduct"), pb)
    // the tertile window runs over the (lang, avg_milli) HISTOGRAM —
    // its direct child chain (sort/exchange then input) must be the
    // histogram HashAggregate, never the per-doc frame
    val lines = pb.linesIterator.toArray
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, pb)
    assert(lines.slice(winIdx + 1, winIdx + 7).exists(_.contains("HashAggregate")),
      lines.slice(winIdx, winIdx + 7).mkString("\n"))
  }

  test("dsir weights plan: partial-agg counts, broadcast totals, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.dsirWeights(docs))
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // the 1-row totals frame rides a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dsir select plan: cutoff window is histogram-scale, broadcast frames only, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.dsirSelect(docs))
    assert(!p.contains("CartesianProduct"), p)
    // the cum-above window's child chain is the key histogram
    // aggregate, never the per-doc frame
    val lines = p.linesIterator.toArray
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, p)
    assert(lines.slice(winIdx + 1, winIdx + 7).exists(_.contains("HashAggregate")),
      lines.slice(winIdx, winIdx + 7).mkString("\n"))
  }

  test("ivf probe sweep plan: no cartesian, centroid and sweep frames are broadcast") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val p = plan(graft.pipeline.Embeddings.ivfProbeSweep(emb, queries))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("knn pagerank: no cartesian, the only nested-loop join is the broadcast 1-row count") {
    // r17 pins the pagerank result (the ADVICE cache-bracket fix), so
    // the iteration chain runs inside the bracket: audit what executed.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val (_, p) = executedPlan(graft.pipeline.Embeddings.knnPagerank(emb))
    assert(!p.contains("CartesianProduct"), p)
    // nodes x count(*) is a broadcast of ONE row, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tfidf and novelty plans are partial-agg joins, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (df <- Seq(graft.pipeline.TextAnalysis.tfidfTerms(docs),
      graft.pipeline.TextAnalysis.noveltyScore(docs))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    }
  }

  test("quality sweep: corpus collapses to bucket cardinality BEFORE the cumulative windows") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.qualitySweep(docs))
    // the (benign) unpartitioned windows must sit ABOVE the bucket
    // aggregation — a Window whose input is the raw corpus would be
    // the 100 TB failure mode this shape exists to avoid
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(lines.drop(winIdx + 1).exists(_.contains("HashAggregate")), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embedding label stats: two-level partial aggregation, no join, no window") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.pipeline.Embeddings.labelStats(emb))
    // posexplode fans out in-row, then everything is aggregation —
    // any Join or Window here would mean the integer-sum identity
    // got replaced by a second pass over the vectors
    assert(p.contains("Generate posexplode"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // partial+final x 2 levels
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("critical path: per-stage rollup collapses before the per-app rollup, no join/window") {
    val p = plan(Diagnostics.criticalPath(canon))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("dup source matrix: per-source denominators join broadcast, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Dedup.dupSourceMatrix(docs))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bm25: one corpus scan, broadcast one-row stats, driver-bounded top-k cut") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.bm25Search(docs))
    // the stats side is a single broadcast row — the corpus join to it
    // must be a broadcast nested loop (one row), never an exchange of
    // the corpus; the top-k is a TakeOrdered, not a global sort.
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly one scan of the documents parquet (tf + stats both
    // derive from the same base projection, stats via broadcast)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("context truncation sweep: one corpus pass, unpivot above the partial agg") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.contextTruncationSweep(docs))
    assert(!p.contains("CartesianProduct"), p)
    // all |L| conditional sums are columns of ONE aggregation; the
    // stack unpivot (Generate) must sit ABOVE the map-side partial agg
    // (plan prints root-first, so Generate's line comes earlier) — a
    // Generate below the agg would mean the corpus exploded |L|-fold.
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate"))
    val aggIdxs = lines.zipWithIndex.filter(_._1.contains("HashAggregate")).map(_._2)
    assert(genIdx >= 0 && aggIdxs.size >= 2, p)
    assert(aggIdxs.forall(_ > genIdx), p)
  }

  test("degree hist and embedding sweep: candidate-bounded rollups, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p1 = plan(graft.pipeline.Dedup.dupDegreeHist(docs))
    assert(!p1.contains("CartesianProduct"), p1)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p2 = plan(graft.pipeline.Embeddings.embeddingThresholdSweep(emb))
    assert(!p2.contains("CartesianProduct"), p2)
    // the grid explode fans out the VERIFIED pair frame (its Generate
    // consumes the rc projection, which only exists after the cosine
    // verify) — assert the explode is present and feeds from rc, i.e.
    // the 10x fan-out never touches corpus rows
    val genLine = p2.linesIterator.find(_.contains("Generate explode"))
    assert(genLine.exists(_.contains("rc#")), p2)
  }

  test("gram df spectrum and source overlap: partial-agg shuffles only, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p1 = plan(graft.pipeline.Dedup.gramDfSpectrum(docs))
    assert(!p1.contains("CartesianProduct"), p1)
    assert("HashAggregate".r.findAllIn(p1).size >= 2, p1) // map-side combine
    val p2 = plan(graft.pipeline.Dedup.sourceGramOverlap(docs))
    assert(!p2.contains("CartesianProduct"), p2)
    assert(!p2.contains("BroadcastNestedLoopJoin"), p2)
  }

  test("length-quality matrix: one corpus agg to cell cardinality, window over cells only") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.lengthQualityMatrix(docs))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), p)
    // partial + final agg pair; the band-share window sorts the
    // bounded cell frame, never the corpus (Window above Aggregate in
    // the root-first printout)
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdxs = lines.zipWithIndex.filter(_._1.contains("HashAggregate")).map(_._2)
    assert(winIdx >= 0 && aggIdxs.size >= 2, p)
    assert(aggIdxs.forall(_ > winIdx), p)
  }

  test("knn mutuality: k-bounded edge rollups, no cartesian") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.pipeline.Embeddings.knnMutuality(emb))
    // the printed lineage repeats the deliberate broadcast-K NLJ once
    // per cached-scan block, so only the cartesian absence is asserted
    assert(!p.contains("CartesianProduct"), p)
  }

  test("vocab coverage curve: driver-bounded head, broadcast cutoffs, no shuffled join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.vocabCoverageCurve(docs))
    // the head is TakeOrdered(max k), not a global sort of the vocab
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("encoding quality is a pure per-row projection — no shuffle, no join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.encodingQuality(docs))
    // only the presentation sort exchanges; no aggregation, no join
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("dedup token savings: drop sets at pair cardinality, broadcast totals, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the operator returns a pinned 5-row frame: the drop-set rollup
    // and its totals broadcast run inside the bracket, so audit the
    // plans that executed there, and first show they are present
    val (_, p) = executedPlan(graft.pipeline.Dedup.dedupTokenSavings(docs))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the 1-row corpus-totals broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("emb outliers: broadcast-K assignment and broadcast cell stats, no corpus self-join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.pipeline.Embeddings.embOutliers(emb))
    // the only nested-loop is the deliberate broadcast-K centroid pass;
    // per-cell stats join back broadcast at |cells| rows
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("PQ ANN: codebook and LUT join broadcast; no corpus self-join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val p = plan(graft.pipeline.Embeddings.annPq(emb, queries))
    // encode joins the 128-row codebook broadcast; scoring joins the
    // bounded query LUT broadcast — the corpus never shuffles against
    // itself and never appears on both sides of a shuffled join
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("IVF-PQ: probed candidate set bounds the ADC join; broadcast codebook/LUT") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val p = plan(graft.pipeline.Embeddings.annIvfPq(emb, queries))
    assert(!p.contains("CartesianProduct"), p)
    // centroid assignment + LUT are broadcast; the candidate restriction
    // happens via hash joins on (cent_id)/(vec_id), never a corpus-wide
    // nested loop against the corpus itself
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(p).size >= 3, p)
  }

  test("spill stages / attempt regression: one partial agg to low cardinality, no join") {
    val p1 = plan(Diagnostics.spillStages(canon))
    assert("HashAggregate".r.findAllIn(p1).size >= 2, p1)
    assert(!p1.contains("Join"), p1)
    val p2 = plan(Diagnostics.attemptRegression(canon))
    assert("HashAggregate".r.findAllIn(p2).size >= 2, p2)
    assert(!p2.contains("Join"), p2)
    assert(!p2.contains("Window"), p2)
  }

  test("winnowing: in-row selection, no window, no join, no exchange before the final ordering") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the operator itself (also the fingerprint state of
    // winnow_overlap_incr) has no exchange at all ...
    val op = plan(graft.pipeline.TextAnalysis.winnowFingerprints(docs))
    assert(!op.contains("Exchange"), op)
    // ... and the key that orders its output adds only that ordering:
    // the sliding MIN runs inside winnow_fps, so the fingerprint pass
    // is scan -> project -> explode; the only exchange is the final
    // ORDER BY's range partitioning, above everything else
    val p = plan(SparkEntry.queries("winnow_fingerprints")(spark, sf))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("SinglePartition"), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("rangepartitioning"), p)
  }

  test("winnow overlap: df-capped fingerprint join, no cartesian, no window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.winnowOverlap(docs))
    // pairing is a keyed self-join on rare fingerprints (every key
    // fans out <= maxDf members — the df cap IS the skew guard);
    // the shared-count aggregation partial-aggregates map-side
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial"), p)
  }

  test("cluster canonical: argmax is a commutative partial agg, not a per-cluster window sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Clustering.clusterCanonical(docs))
    // max(struct(...)) must partial-aggregate map-side; a row_number
    // window would sort every cluster's members (boilerplate clusters
    // at scale have millions) — assert no Window at all
    assert(!p.contains("Window ["), p)
    assert(p.contains("partial_max") || p.contains("partial"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("seq pack: lane-partitioned running sum, in-row window explode, no global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Sampling.seqPack(docs))
    assert(p.contains("Exchange hashpartitioning(writer"), p)
    assert(p.contains("Generate explode"), p)
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(!lines.take(winIdx + 1).exists(_.contains("SinglePartition")), p)
    assert(!p.contains("Join"), p)
  }

  test("executor task range: key equi-join (unique build side), no banding, no cartesian") {
    val p = plan(graft.analytics.Diagnostics.executorTaskRange(canon))
    // the build side is one interval per (app, executor), so the right
    // plan is a plain key equi-join with the BETWEEN as the join's
    // residual condition — NOT the banded explode (which would
    // multiply each app-spanning lifetime into thousands of buckets
    // for zero pruning) and never a nested-loop/cartesian
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("__bucket"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("life_start_us") && p.contains("life_end_us"), p)
  }

  test("generic range join: banded equi-join carries the bucket in its keys, no cartesian") {
    import spark.implicits._
    // many intervals per key — the case banding exists for
    val points = Seq(("k1", 10L), ("k1", 250L), ("k2", 30L)).toDF("k", "ts")
    val intervals = Seq(("k1", 0L, 100L), ("k1", 200L, 300L), ("k2", 0L, 50L))
      .toDF("k", "s", "e")
    val out = graft.operators.RangeJoin.rangeJoin(
      points, intervals, Seq("k"), "ts", "s", "e", bucketWidth = 64L)
    val p = plan(out)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("__bucket"), p)
    assert(p.contains("Generate explode"), p)
    val joinKeyLines = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("__bucket")).toSeq
    assert(joinKeyLines.nonEmpty, p)
  }

  test("oov rate: one-row vocab broadcast, in-row counting, no token-explode shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.oovRate(docs))
    // the per-doc side must join the one-row vocab array by broadcast
    // (a nested-loop against ONE row is the broadcast degenerate case,
    // not a corpus cartesian) and count in-row: no exchange keyed on
    // doc_id may exist anywhere in the plan
    assert(p.contains("Broadcast"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(doc_id")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bpe pair stats: in-row explodes feed a partial agg, driver-bounded top-k") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.bpePairStats(docs))
    // the character fan-out must collapse map-side: partial/final
    // HashAggregate pair around the only exchange, and the top-k cut
    // must be TakeOrdered, never a global sort of the pair table
    assert(p.contains("Generate explode"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bloom exact dedup: verify join sees only bloom survivors; word frame joins broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    // the distributed plan, forced through the bound
    val p = plan(graft.pipeline.Dedup.dedupExactIncremental(
      graft.pipeline.Dedup.bloomWords(docs),
      graft.pipeline.Dedup.contentHashes(docs), batch, localMax = -1))
    // the probe side joins the <=m/64-row word frame by broadcast, and
    // the md5 verify join's batch input is gated by the all-probes-set
    // filter (n_hits = probes) — the full batch never reaches it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.exists(l => l.contains("n_hits")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("knn graph: cell-restricted salted pair join, vertex-partitioned rank window") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.pipeline.Embeddings.knnGraph(emb))
    // candidates come from the salted cent_id bucket join — never a
    // corpus self cross-join; the top-k window partitions per vertex
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Exchange hashpartitioning(vec_a"), p)
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    assert(!lines.take(winIdx + 1).exists(_.contains("SinglePartition")), p)
  }

  test("source overlap sketch: partial-agg signature passes, K-row broadcast pairwise stage, no corpus pair join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Dedup.sourceOverlapSketch(docs))
    // two min-rollups (doc then source), then the ONLY non-equi join is
    // the broadcast nested-loop over the K-row source signatures — a
    // SortMergeJoin or CartesianProduct here would mean doc pairs
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("principal direction: in-row fan-out passes, broadcast loading join, no corpus self-join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the d²-row Gram pass collects eagerly (bounded by dimension);
    // the returned plan is the mean pass + the broadcast join of the
    // 64-row driver-computed loadings — no sort-merge join, no
    // cartesian, no self-join of the corpus anywhere
    val p = plan(graft.pipeline.Embeddings.principalDirection(emb))
    assert(p.contains("Generate posexplode"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("diversity sample: broadcast assignment, cell-partitioned rank window, no cartesian") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.pipeline.Embeddings.diversitySample(emb))
    assert(!p.contains("CartesianProduct"), p)
    // cell-count frame joins broadcast; the one Window is partitioned
    // (per-cell), not global
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), p)
    val winLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("cent_id"), winLine)
  }

  test("lang confusion / token fertility: share windows over cell aggregates; fertility is join-free") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pc = plan(graft.pipeline.TextAnalysis.langConfusion(docs))
    // corpus collapses to (gold, guess) cells before the share window
    assert(pc.indexOf("HashAggregate") >= 0, pc)
    assert(!pc.contains("CartesianProduct"), pc)
    val pf = plan(graft.pipeline.TextAnalysis.tokenFertility(docs))
    assert(!pf.contains("Join"), pf)
    assert(!pf.contains("Window"), pf)
    assert("HashAggregate".r.findAllIn(pf).size >= 2, pf) // partial+final
  }

  test("mix temperature: windows run over the source-cardinality aggregate only") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.pipeline.Sampling.mixTemperature(docs)
    val p = plan(df)
    // the corpus collapses to K source rows in one partial agg BEFORE
    // any window; the unpartitioned windows then see K rows, not docs
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pinned MINHASH trigger: each state-store scan EXECUTES a bounded number of times") {
    // The round-10 regression left the candidate frame uncached, so
    // the executed trigger plan contained ~8 copies of the signature-
    // store scan subtree (one per verify reference) and per-trigger
    // cost turned O(corpus). This audit counts scan INSTANCES in the
    // plans the pinned bracket actually EXECUTES — a direct
    // FileSourceScan runs once per plan occurrence; a cached
    // relation's plan runs once no matter how many InMemoryTableScans
    // reference it (PlanDump.executedPlans inlines it once).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val base = tmpDir("mhdedup-pin-audit")
    val corpusDir = base + "/corpusdocs"
    val shDir = base + "/shinglestore"
    val sigDir = base + "/sigstore"
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text")
    corpus.write.parquet(corpusDir)
    graft.pipeline.Dedup.shingles(corpus).write.parquet(shDir)
    graft.pipeline.Dedup.minhashSignatures(corpus).write.parquet(sigDir)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank tonight"))
      .toDF("doc_id", "text")

    def scanPaths(p: SparkPlan): Seq[String] =
      p.collect { case f: FileSourceScanExec => f }
        .map(_.relation.location.rootPaths.mkString(","))

    val (pairs, plans) = executedPlans(graft.streaming.StreamingMinhashDedup
      .triggerPairs(spark, batch, shDir, sigDir, 0.2))
    val got = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 10L)))
    // the pinned bracket's materialization is the plan that reads stores
    val rel = plans.filter(p => scanPaths(p).exists(_.contains(base)))
    assert(rel.nonEmpty, "no captured execution read the state stores — " +
      s"captured ${plans.size} plans")
    for (p <- rel) {
      val paths = scanPaths(p)
      assert(!paths.exists(_.contains("corpusdocs")), paths.toString)
      val sigScans = paths.count(_.contains("sigstore"))
      val shScans = paths.count(_.contains("shinglestore"))
      assert(sigScans <= 2, s"signature store executes $sigScans scans:\n$p")
      assert(shScans <= 3, s"shingle store executes $shScans scans:\n$p")
    }
  }

  test("round-11 per-source rollups (readability / dedup_normalized / media_qa) are partial-agg passes, no cartesian, no corpus window") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (df <- Seq(graft.pipeline.TextAnalysis.readability(docs),
      graft.pipeline.Dedup.dedupNormalized(docs),
      graft.pipeline.Multimodal.mediaQa(docs))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("Window"), p) // rollups only — no rank pass
      assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial+final
    }
  }

  test("scene_cuts: lag window partitions BY VIDEO; only packed halves reach the exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Multimodal.sceneCuts(docs, frameBytes = 64, stride = 2))
    assert(!p.contains("CartesianProduct"), p)
    // the window's required exchange hashes on the video id — a
    // single-partition (unpartitioned) window over all frames would
    // read "SinglePartition" here and die at corpus scale
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")), p)
  }

  test("sentence_dedup: per-doc LEAD window + hash-keyed occurrence agg, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.TextAnalysis.sentenceDedup(docs))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(doc_id"), p) // the per-doc window
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("silhouette / hard negatives / rerank: centroid and LUT sides broadcast — no shuffled cartesian") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    for (df <- Seq(
      graft.pipeline.Embeddings.clusterSilhouette(emb, numCentroids = 32),
      graft.pipeline.Embeddings.hardNegatives(emb, numCentroids = 32),
      graft.pipeline.Embeddings.annRerank(emb,
        emb.filter(col("vec_id") % 100 === 0)))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      // the only nested loop allowed is the broadcast K-row frame
      if (p.contains("NestedLoopJoin"))
        assert(p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("snapshot_diff: id diffs are anti joins, content check a hash-keyed join — no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.pipeline.Dedup.snapshotDiff(
      docs.filter(col("doc_id") % 2 === 0), docs))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
  }
}
