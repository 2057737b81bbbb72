package graft.streaming

import graft.SparkSpec
import graft.events.EventLogFixture
import graft.obs.WorkLedger
import org.apache.spark.sql.functions._

class StreamingIngestSpec extends SparkSpec {

  private lazy val ledger = WorkLedger.install(spark)

  test("streaming ingest materialises the canonical frame incrementally") {
    val logs = tmpDir("stream-logs")
    val out = tmpDir("stream-out")
    val ckpt = tmpDir("stream-ckpt")
    EventLogFixture.writeLogs(logs, Seq("app-s1", "app-s2"))

    val canon = StreamingIngest.readStream(spark, s"file://$logs")
    assert(canon.isStreaming)
    val q = StreamingIngest.sinkToStore(canon, out, ckpt)
    q.awaitTermination(60000)

    val stored = spark.read.parquet(out)
    assert(stored.count() === 24)
    assert(stored.select("app_id").distinct().count() === 2)

    // second batch: a new log lands, AvailableNow picks up only it
    EventLogFixture.writeLogs(logs, Seq("app-s3"))
    val q2 = StreamingIngest.sinkToStore(
      StreamingIngest.readStream(spark, s"file://$logs"), out, ckpt)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() === 36)
  }

  test("flatMapGroupsWithState tracks app lifecycle across batches") {
    val logs = tmpDir("state-logs")
    val ckpt = tmpDir("state-ckpt")
    EventLogFixture.writeLogs(logs, Seq("app-st1", "app-st2"))

    def runBatch(): Map[String, graft.streaming.AppLifecycle] = {
      val updates = scala.collection.mutable.Map[String, graft.streaming.AppLifecycle]()
      val q = AppStateTracker.track(StreamingIngest.readStream(spark, s"file://$logs"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.AppLifecycle], _: Long) =>
          batch.collect().foreach(a => updates(a.app_id) = a)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      updates.toMap
    }

    val first = runBatch()
    assert(first.keySet === Set("app-st1", "app-st2"))
    assert(first("app-st1").completed)
    assert(first("app-st1").n_events === 12L)
    assert(first("app-st1").n_tasks === 2L)
    assert(first("app-st1").started_at_us === 1700000000000000L)

    // a new app lands; state for it accumulates from its own events only
    EventLogFixture.writeLogs(logs, Seq("app-st3"))
    val second = runBatch()
    assert(second.keySet === Set("app-st3"))
    assert(second("app-st3").n_events === 12L)
  }

  test("streaming dedup drops re-delivered duplicate events") {
    val logs = tmpDir("dedup-logs")
    val ckpt = tmpDir("dedup-ckpt")
    // the same app log under two file names = an at-least-once
    // re-delivery (grown-file re-emit, listing race); .log vs .json
    // strip to the SAME app_id, as a real re-delivery would
    EventLogFixture.writeLogs(logs, Seq("app-d1"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(logs, "app-d1.log"),
      EventLogFixture.appLog("app-d1").mkString("\n").getBytes("UTF-8"))

    val rows = scala.collection.mutable.ArrayBuffer[Long]()
    val q = StreamingIngest.dedupedStream(
      StreamingIngest.readStream(spark, s"file://$logs"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        rows += batch.count(); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // 12 events in the log; 24 delivered; dedup keeps one of each
    assert(rows.sum === 12L)
  }

  test("sliding event-rate stream has bounded watermarked state") {
    val logs = tmpDir("rate-logs")
    EventLogFixture.writeLogs(logs, Seq("app-r1"))
    val rate = StreamingIngest.slidingEventRate(
      StreamingIngest.readStream(spark, s"file://$logs"))
    assert(rate.isStreaming)
    assert(rate.columns.toSeq ===
      Seq("window_start", "window_end", "app_id", "event_count"))
  }

  test("streaming near-dup: batches dedup against the growing corpus store") {
    import spark.implicits._
    val src = tmpDir("sdedup-src")
    val store = tmpDir("sdedup-store") + "/corpus"
    val pairsDir = tmpDir("sdedup-pairs") + "/pairs"
    val ckpt = tmpDir("sdedup-ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))

    def runOnce(): Unit = {
      val q = StreamingDedup.dedupedDocStream(
        spark.readStream.schema(schema).parquet(src), store, pairsDir, ckpt)
      q.awaitTermination(60000)
    }

    // batch 1: 0 and 1 are near-dups of each other, 2 unrelated
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (2L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L)) // 1 dropped: dup of 0

    // batch 2: 10 is a near-dup of the STORED doc 0; 11 is novel
    Seq(
      (10L, "a quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "entirely novel prose with no overlap whatsoever against anything before")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    val pairSet = spark.read.parquet(pairsDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((0L, 1L)))  // within-batch dup, batch 1
    assert(pairSet.contains((0L, 10L))) // cross-batch dup vs the store
    assert(!pairSet.exists(p => p._1 == 11L || p._2 == 11L))

    // batch 3: 5 is a near-dup of STORED doc 11 with a SMALLER id, so
    // the pair is (5, 11) and the batch doc is doc_a — it must still
    // be dropped (ids carry no arrival order); 12 is novel
    Seq(
      (5L, "entirely novel prose with no overlap whatsoever against anything after"),
      (12L, "fresh standalone sentences mentioning neither foxes nor any prior topic")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L, 12L)) // 5 dropped as doc_a
    val pairSet3 = spark.read.parquet(pairsDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet3.contains((5L, 11L)))
  }

  test("streaming simhash dedup: fingerprint store grows with survivors, batches dedup against it") {
    import spark.implicits._
    val root = tmpDir("simdedup-stream")
    val src = root + "/src"
    val store = root + "/corpus"
    val pairsDir = root + "/pairs"
    val ckpt = root + "/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = StreamingSimhashDedup.dedupedDocStream(
        spark.readStream.schema(schema).parquet(src), store, pairsDir, ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: 1 is a verbatim copy of 0 (hamming 0 in any family);
    // 2 unrelated
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L))
    // batch 2: 10 copies STORED doc 0 (dropped via the fp store); 5
    // copies STORED doc 2 with a SMALLER id — pair (2, 5)? no: (2, 5)
    // orients 2 < 5, so 5 is doc_b and drops; 11 novel survives
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (5L, "completely different content about spark data processing at massive scale"),
      (11L, "entirely novel prose with no overlap whatsoever against anything before")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    // the fp store tracks the doc store exactly (one long per doc)
    val fpIds = spark.read.parquet(store + "_fp").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(fpIds === Set(0L, 2L, 11L))
    val pairSet = spark.read.parquet(pairsDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((0L, 1L)))
    assert(pairSet.contains((0L, 10L)))
    assert(pairSet.contains((2L, 5L)))
    // batch 3: 7 copies STORED doc 11 with a SMALLER id — the pair is
    // (7, 11), the batch doc is doc_a, and it must still drop (ids
    // carry no arrival order); 12 novel survives
    Seq(
      (7L, "entirely novel prose with no overlap whatsoever against anything before"),
      (12L, "fresh standalone sentences mentioning neither foxes nor any prior topic")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L, 12L))
    assert(spark.read.parquet(pairsDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((7L, 11L)))
    // compaction: distinct + rewrite leaves the same state
    StreamingSimhashDedup.compactState(spark, store)
    val fpAfter = spark.read.parquet(store + "_fp").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(fpAfter === Set(0L, 2L, 11L, 12L))
  }

  test("streaming simhash WIDE (64-bit) scale mode: same dedup verdicts, 16-bit bands, full fp width") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val root = tmpDir("sim64dedup-stream")
    // wide fingerprints populate beyond bit 31 (a 32-bit fp never
    // does) and identical docs still collide at hamming 0
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text")
    val fps = Dedup.simhashFingerprints(docs, Dedup.SimBitsWide)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) === fps(1L))
    assert(fps(0L) !== fps(2L))
    assert(fps.values.exists(fp => (fp >>> 32) != 0L), fps.toString)
    // the trigger under fpBits=64 finds the duplicate against the
    // maintained store and leaves the unrelated doc alone
    val seed = docs.filter($"doc_id" === 0L || $"doc_id" === 2L)
    Dedup.writeSimhashStore(seed.select("doc_id", "text"), root + "/fp",
      fpBits = Dedup.SimBitsWide)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "entirely novel prose with no overlap whatsoever against anything before")
    ).toDF("doc_id", "text")
    StreamingSimhashDedup.processBatch(batch, 0L, root + "/corpus",
      root + "/pairs", root + "/fp", maxHamming = 3,
      fpBits = Dedup.SimBitsWide)
    val pairs = spark.read.parquet(root + "/pairs").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10L)))
    assert(!pairs.exists(p => p._1 == 11L || p._2 == 11L))
    val survivors = spark.read.parquet(root + "/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(11L))
    // the appended store rows carry the wide width too
    val storeFps = spark.read.parquet(root + "/fp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storeFps(11L) === Dedup.simhashFingerprints(batch,
      Dedup.SimBitsWide).collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap.apply(11L))
  }

  test("fingerprints tagged at one width fail fast at another, before any job") {
    import spark.implicits._
    import graft.pipeline.Dedup
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text")
    val tagged = Dedup.TaggedFingerprints(Dedup.simhashFingerprints(docs), Dedup.SimBits)
    val (result, work) = ledger.measure(scala.util.Try(
      Dedup.dedupSimhashIncremental(Dedup.simhashFingerprints(docs, Dedup.SimBitsWide),
        docs, fpBits = Dedup.SimBitsWide, batchFingerprints = Some(tagged))))
    assert(result.failed.get.isInstanceOf[IllegalArgumentException], result)
    assert(work.jobs === 0L, work)
  }

  test("streaming simhash LEGACY 32-bit mode: explicit fpBits=SimBits still serves a 32-bit store") {
    // The default flipped to SimBitsWide (the 32-bit trigger measured
    // linear-in-state at the sf10 probe); an existing 32-bit store
    // keeps working by passing fpBits = Dedup.SimBits explicitly —
    // this pins the legacy path so the default flip can't orphan it.
    import spark.implicits._
    import graft.pipeline.Dedup
    val root = tmpDir("sim32dedup-stream")
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text")
    Dedup.writeSimhashStore(docs, root + "/fp", fpBits = Dedup.SimBits)
    // a 32-bit store never populates beyond bit 31
    val seeded = spark.read.parquet(root + "/fp")
      .collect().map(_.getLong(1))
    assert(seeded.forall(fp => (fp >>> 32) == 0L), seeded.mkString(","))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "entirely novel prose with no overlap whatsoever against anything before")
    ).toDF("doc_id", "text")
    StreamingSimhashDedup.processBatch(batch, 0L, root + "/corpus",
      root + "/pairs", root + "/fp", maxHamming = 3,
      fpBits = Dedup.SimBits)
    val pairs = spark.read.parquet(root + "/pairs").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 10L)))
    assert(!pairs.exists(p => p._1 == 11L || p._2 == 11L))
    val survivors = spark.read.parquet(root + "/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(11L))
    // appended rows stay 32-bit — width consistency end-to-end
    val after = spark.read.parquet(root + "/fp")
      .collect().map(_.getLong(1))
    assert(after.forall(fp => (fp >>> 32) == 0L), after.mkString(","))
  }

  test("streaming minhash dedup: signature+shingle stores grow with survivors, batches dedup against them") {
    import spark.implicits._
    val root = tmpDir("mhdedup-stream")
    val src = root + "/src"
    val store = root + "/corpus"
    val pairsDir = root + "/pairs"
    val ckpt = root + "/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = StreamingMinhashDedup.dedupedDocStream(
        spark.readStream.schema(schema).parquet(src), store, pairsDir, ckpt)
      q.awaitTermination(60000)
    }
    // Verbatim copies: identical signatures match in EVERY band, so
    // the banded-LSH verdict is deterministic (at J ~ 0.5 banded
    // recall is probabilistic — near-identical recall is covered by
    // PipelineSpec's incremental-minhash test, not re-rolled here)
    // batch 1: 1 copies 0; 2 unrelated
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L))
    // batch 2: 10 copies STORED doc 0 (caught via the signature
    // store); 5 copies STORED doc 2 — orientation (2, 5), the batch
    // doc is doc_b and drops; 11 novel survives
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (5L, "completely different content about spark data processing at massive scale"),
      (11L, "entirely novel prose with no overlap whatsoever against anything before")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    // both state stores track the doc store exactly
    assert(spark.read.parquet(store + "_sig").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    assert(spark.read.parquet(store + "_shingles").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    val pairSet = spark.read.parquet(pairsDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((0L, 1L)))
    assert(pairSet.contains((0L, 10L)))
    assert(pairSet.contains((2L, 5L)))
    assert(!pairSet.exists(p => p._1 == 11L || p._2 == 11L))
    // batch 3: 7 copies STORED doc 11 with a SMALLER id — the pair is
    // (7, 11), the batch doc is doc_a, and it must still drop
    Seq(
      (7L, "entirely novel prose with no overlap whatsoever against anything before"),
      (12L, "fresh standalone sentences mentioning neither foxes nor any prior topic")
    ).toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L, 12L))
    assert(spark.read.parquet(pairsDir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((7L, 11L)))
    // compaction: distinct + rewrite leaves the same state
    StreamingMinhashDedup.compactState(spark, store)
    assert(spark.read.parquet(store + "_sig").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L, 12L))
    assert(spark.read.parquet(store + "_shingles").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(0L, 2L, 11L, 12L))
  }

  test("streaming embedding dedup: quantized index grows with survivors, batches dedup against it") {
    import spark.implicits._
    val root = tmpDir("embdedup-stream")
    val src = root + "/src"
    val store = root + "/corpus"
    val pairsDir = root + "/pairs"
    val ckpt = root + "/ckpt"
    // Walsh-pattern directions: mutually orthogonal by construction
    // (period-2/4 sign patterns and the constant vector), so "novel"
    // really means cosine 0 against everything stored
    val dims = graft.pipeline.Embeddings.Dims
    val vecA = Array.fill(dims)(0.5f)
    val vecB = Array.tabulate(dims)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val vecC = Array.tabulate(dims)(i => if (i % 4 < 2) 1.0f else -1.0f)
    val vecD = Array.tabulate(dims)(
      i => if (i % 4 == 0 || i % 4 == 3) 1.0f else -1.0f)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def runOnce(): Unit = {
      val q = StreamingEmbeddingDedup.dedupedVecStream(
        spark.readStream.schema(schema).parquet(src), store, pairsDir, ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: 1 duplicates 0's direction exactly; 2 unrelated
    Seq((0L, vecA), (1L, vecA), (2L, vecB))
      .toDF("vec_id", "embedding").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L))
    // batch 2: 10 duplicates STORED vec 0 (via the index store); 3
    // duplicates STORED vec 2 with a SMALLER id — orientation is
    // (2, 3), the batch doc is vec_b and drops; 11 novel survives
    Seq((10L, vecA), (3L, vecB), (11L, vecC))
      .toDF("vec_id", "embedding").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    assert(spark.read.parquet(store + "_qv").select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    val pairSet = spark.read.parquet(pairsDir).select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((0L, 1L)))
    assert(pairSet.contains((0L, 10L)))
    assert(pairSet.contains((2L, 3L)))
    // batch 3: 4 duplicates STORED vec 11 with a SMALLER id — the pair
    // is (4, 11), the batch doc is vec_a, and it must still drop
    Seq((4L, vecC), (12L, vecD))
      .toDF("vec_id", "embedding").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L, 12L))
    assert(spark.read.parquet(pairsDir).select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((4L, 11L)))
    // the banding fp sibling tracks the index store (one wide
    // fingerprint long per surviving vector, populated beyond bit 31)
    val fpRows = spark.read.parquet(store + "_qv_fp").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(fpRows.map(_._1).toSet === Set(0L, 2L, 11L, 12L))
    assert(fpRows.exists(p => (p._2 >>> 32) != 0L), fpRows.mkString(","))
    // compaction preserves the index and rebuilds the fp sibling
    StreamingEmbeddingDedup.compactState(spark, store)
    assert(spark.read.parquet(store + "_qv").select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L, 12L))
    assert(spark.read.parquet(store + "_qv_fp").select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L, 12L))
  }

  test("streaming embedding auto-width: narrow below the store threshold, wide at it, one stored state serves both") {
    import spark.implicits._
    val root = tmpDir("embwidth")
    val store = root + "/corpus"
    val qvDir = store + "_qv"
    val dims = graft.pipeline.Embeddings.Dims
    val vecA = Array.fill(dims)(0.5f)
    val vecB = Array.tabulate(dims)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val vecC = Array.tabulate(dims)(i => if (i % 4 < 2) 1.0f else -1.0f)
    StreamingEmbeddingDedup.processBatch(
      Seq((0L, vecA), (2L, vecB), (7L, vecC)).toDF("vec_id", "embedding"),
      0L, store, root + "/pairs", qvDir, 0.4)
    val batch = Seq((10L, vecA), (3L, vecB), (11L, vecC))
      .toDF("vec_id", "embedding")
    def pairsAt(planes: Int, autoAt: Long): Set[(Long, Long)] =
      StreamingEmbeddingDedup.triggerPairs(spark, batch, qvDir, 0.4,
          planes, autoAt)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrow = pairsAt(graft.pipeline.Embeddings.NumPlanes, 1L)
    val wide = pairsAt(graft.pipeline.Embeddings.NumPlanesWide, 1L)
    // the 3-vector store sits far below the 100k default: auto = narrow
    assert(pairsAt(StreamingEmbeddingDedup.PlanesAuto,
      StreamingEmbeddingDedup.AutoWideVectors) === narrow)
    // at a 1-vector threshold the same store resolves wide — and the
    // stored 64-plane fingerprints serve the wide banding unchanged
    assert(pairsAt(StreamingEmbeddingDedup.PlanesAuto, 1L) === wide)
    // exact Walsh duplicates collide in every banding width
    assert(narrow === Set((0L, 10L), (2L, 3L), (7L, 11L)))
    assert(wide === narrow)
  }

  test("streaming dedup restart recovery: per-batch restarts equal one continuous run, state stores track the doc store") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // batch 1: 1 dups 0 (0 survives); 2 novel. batch 2: 10 dups the
    // STORED 0 (dropped); 5 novel. Outcome is trigger-split-invariant
    // for this corpus EXCEPT the 0-vs-1 pair, so batch 1 is written as
    // ONE file (one trigger) in both variants.
    val b1 = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (2L, "completely different content about spark data processing at massive scale"))
    val b2 = Seq(
      (10L, "a quick brown fox jumps over the lazy dog near the river bank today"),
      (5L, "entirely novel prose with no overlap whatsoever against anything before"))

    def run(restart: Boolean): (Set[Long], Set[(Long, Long)], String) = {
      val root = tmpDir(s"sdedup-recover")
      val src = root + "/src"
      val store = root + "/corpus"
      val pairsDir = root + "/pairs"
      val ckpt = root + "/ckpt"
      def streamOnce(maxFiles: Option[Int]): Unit = {
        val rd = spark.readStream.schema(schema)
        val q = StreamingDedup.dedupedDocStream(
          maxFiles.fold(rd)(n => rd.option("maxFilesPerTrigger", n.toString))
            .parquet(src), store, pairsDir, ckpt)
        q.awaitTermination(60000)
      }
      if (restart) {
        // "kill" between batches: each stream run terminates
        // (AvailableNow) and a NEW query resumes from the checkpoint
        b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
        streamOnce(None)
        b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
        streamOnce(None)
      } else {
        b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100) // distinct mtimes => deterministic trigger order
        b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
        streamOnce(Some(1)) // one continuous query, one file per trigger
      }
      val survivors = spark.read.parquet(store).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val pairs = spark.read.parquet(pairsDir).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (survivors, pairs, store)
    }

    val (survR, pairsR, storeR) = run(restart = true)
    val (survC, pairsC, _) = run(restart = false)
    assert(survR === Set(0L, 2L, 5L))
    assert(survR === survC)
    assert(pairsR === pairsC)
    assert(pairsR === Set((0L, 1L), (0L, 10L)))

    // after the resumed run, the maintained dedup state must agree
    // with the doc store: same doc ids in the shingle store, and the
    // folded gram-df deltas equal a fresh count over those shingles
    val storedSh = spark.read.parquet(storeR + "_shingles")
    assert(storedSh.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet === survR)
    val folded = spark.read.parquet(storeR + "_gramdf")
      .groupBy("gram").agg(sum("df_cnt").as("df_cnt"))
    val fresh = graft.pipeline.Dedup.shingles(spark.read.parquet(storeR))
      .groupBy("gram").agg(count(lit(1)).as("df_cnt"))
    assert(folded.exceptAll(fresh).isEmpty && fresh.exceptAll(folded).isEmpty)
  }

  test("compactState folds df deltas to one row per gram and preserves trigger semantics") {
    import spark.implicits._
    val root = tmpDir("sdedup-compact")
    val store = root + "/corpus"
    val pairsDir = root + "/pairs"
    val shDir = store + "_shingles"
    val dfDir = store + "_gramdf"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    StreamingDedup.processBatch(batch(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark data processing at massive scale")),
      0L, store, pairsDir, shDir, dfDir, 5L, 0.2)
    StreamingDedup.processBatch(batch(
      (11L, "entirely novel prose with no overlap whatsoever against anything before")),
      1L, store, pairsDir, shDir, dfDir, 5L, 0.2)

    def foldedDf = spark.read.parquet(dfDir)
      .groupBy("gram").agg(sum("df_cnt").as("df_cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    def shingleRows = spark.read.parquet(shDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val probe = batch(
      (20L, "the quick brown fox jumps over the lazy dog near the river bank tonight"))
    def probePairs = StreamingDedup.triggerPairs(spark, probe, shDir, dfDir, 5L, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val (dfBefore, shBefore, pairsBefore) = (foldedDf, shingleRows, probePairs)
    assert(pairsBefore === Seq((0L, 20L))) // probe is a near-dup of stored 0
    // two delta appends for shared grams => more raw rows than grams
    StreamingDedup.compactState(spark, store)
    val raw = spark.read.parquet(dfDir)
    assert(raw.count() === raw.select("gram").distinct().count()) // 1 row/gram
    assert(foldedDf === dfBefore)
    assert(shingleRows === shBefore)
    assert(probePairs === pairsBefore)
  }

  test("streaming exact dedup: verbatim copies drop across and within batches") {
    import spark.implicits._
    val src = tmpDir("sxdedup-src")
    val store = tmpDir("sxdedup-store") + "/corpus"
    val ckpt = tmpDir("sxdedup-ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = StreamingExactDedup.dedupedDocStream(
        spark.readStream.schema(schema).parquet(src), store, ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: 1 is a verbatim in-batch copy of 0 (smaller id wins)
    Seq((0L, "alpha beta gamma"), (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L))
    // batch 2: 10 repeats stored 2 verbatim; near-dup is NOT exact-dup
    Seq((10L, "delta epsilon zeta"), (11L, "delta epsilon zeta eta"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    // the bloom store never outgrows its fixed bit space
    assert(spark.read.parquet(store + "_bloom")
      .groupBy("word_idx").agg(expr("bit_or(word)"))
      .count() <= graft.pipeline.Dedup.BloomBits / 64)
    // compaction preserves trigger verdicts
    val probe = Seq((20L, "alpha beta gamma"), (21L, "new text")).toDF("doc_id", "text")
    def verdicts = StreamingExactDedup.triggerFlags(spark, probe,
        store + "_hashes", store + "_bloom",
        graft.pipeline.Dedup.BloomBits, graft.pipeline.Dedup.BloomProbes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = verdicts
    assert(before === Set((20L, 1L), (21L, 0L)))
    StreamingExactDedup.compactState(spark, store)
    assert(verdicts === before)
    assert(spark.read.parquet(store + "_bloom").count() ===
      spark.read.parquet(store + "_bloom").select("word_idx").distinct().count())
  }

  test("streaming cdc dedup: fully-reconstructible docs drop across and within batches; replays append nothing") {
    import spark.implicits._
    val body = (1 to 64).map(i => s"tok$i").mkString(" ")
    val src = tmpDir("scdc-src")
    val store = tmpDir("scdc-store") + "/corpus"
    val ckpt = tmpDir("scdc-ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = StreamingCdcDedup.dedupedDocStream(
        spark.readStream.schema(schema).parquet(src), store, ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: doc 1 is an in-batch verbatim copy of 0 (keep-first
    // drops it); doc 2 has a novel prefix chunk -> admitted
    Seq((0L, body), (1L, body), (2L, "PREFIX " + body))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L))
    // batch 2: doc 10 is fully covered by stored chunks -> dropped;
    // doc 11 appends a novel suffix -> admitted
    val batch2 = Seq((10L, body), (11L, body + " brand new suffix words"))
      .toDF("doc_id", "text")
    batch2.write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 11L))
    // replay (at-least-once): every chunk of batch 2 is now stored, so
    // a re-run drops the whole batch and appends nothing
    val nDocs = spark.read.parquet(store).count()
    StreamingCdcDedup.processBatch(batch2, 99L, store, store + "_chunks")
    assert(spark.read.parquet(store).count() === nDocs)
    // compaction preserves trigger verdicts and folds the chunk store
    val probe = Seq((20L, body), (21L, "wholly novel probe content"))
      .toDF("doc_id", "text")
    def verdicts = StreamingCdcDedup.triggerFlags(spark, probe, store + "_chunks")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("dup_tokens") == r.getAs[Long]("n_tokens"))).toSet
    val before = verdicts
    assert(before === Set((20L, true), (21L, false)))
    StreamingCdcDedup.compactState(spark, store)
    assert(verdicts === before)
    assert(spark.read.parquet(store + "_chunks").count() ===
      spark.read.parquet(store + "_chunks").distinct().count())
  }

  test("streaming cdc dedup trigger reads ONLY the chunk store — never corpus text") {
    import spark.implicits._
    val body = (1 to 64).map(i => s"tok$i").mkString(" ")
    val base = tmpDir("scdc-audit")
    val corpusDir = base + "/corpusdocs"
    val chunksDir = base + "/chunkstore"
    val corpus = Seq((0L, body), (1L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    corpus.write.parquet(corpusDir)
    graft.pipeline.Dedup.cdcChunkStore(corpus).write.parquet(chunksDir)
    val batch = Seq((10L, body), (11L, "wholly novel probe content"))
      .toDF("doc_id", "text")
    val flags = StreamingCdcDedup.triggerFlags(spark, batch, chunksDir)
    val p = flags.queryExecution.executedPlan.toString
    val locations = p.linesIterator.filter(_.contains("Location")).toSeq
    assert(locations.nonEmpty, p)
    assert(locations.forall(_.contains("chunkstore")), locations.toString)
    assert(!p.contains("corpusdocs"), p)
    val out = flags.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("dup_tokens") == r.getAs[Long]("n_tokens"))).toMap
    assert(out === Map(10L -> true, 11L -> false))
  }

  test("streaming exact dedup trigger reads ONLY the hash/bloom stores — never corpus text") {
    import spark.implicits._
    val base = tmpDir("sxdedup-audit")
    val corpusDir = base + "/corpusdocs"
    val hashDir = base + "/hashstore"
    val wordsDir = base + "/bloomstore"
    val corpus = Seq((0L, "alpha beta gamma"), (1L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    corpus.write.parquet(corpusDir)
    corpus.select(col("doc_id"), md5(col("text")).as("content_hash"))
      .write.parquet(hashDir)
    graft.pipeline.Dedup.bloomWords(corpus).write.parquet(wordsDir)
    val batch = Seq((10L, "alpha beta gamma"), (11L, "novel")).toDF("doc_id", "text")
    // the distributed plan, forced through the bound (BoundedTriggerSpec
    // audits the bounded plan's store probes)
    val flags = StreamingExactDedup.triggerFlags(spark, batch, hashDir, wordsDir,
      graft.pipeline.Dedup.BloomBits, graft.pipeline.Dedup.BloomProbes, localMax = -1)
    val p = flags.queryExecution.executedPlan.toString
    val locations = p.linesIterator.filter(_.contains("Location")).toSeq
    assert(locations.nonEmpty, p)
    assert(locations.forall(l =>
      l.contains("hashstore") || l.contains("bloomstore")), locations.toString)
    assert(!p.contains("corpusdocs"), p)
    assert(flags.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((10L, 1L), (11L, 0L)))
  }

  test("composed trigger: exact gate runs FIRST, near-dup sees only its survivors") {
    import spark.implicits._
    // the deployment StreamingExactDedup's header promises: chain the
    // two processBatch calls inside one trigger — verbatim copies die
    // at the cheap hash gate and never pay shingling; near-dups of
    // stored docs die at the second gate; only genuinely novel docs
    // reach the corpus store, and every store stays in lockstep
    val root = tmpDir("combo-dedup")
    val xstore = root + "/exact"       // exact gate state
    val store = root + "/corpus"       // near-dup corpus + state
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def exactThenNear(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      StreamingExactDedup.processBatch(b, id, xstore,
        xstore + "_hashes", xstore + "_bloom",
        graft.pipeline.Dedup.BloomBits, graft.pipeline.Dedup.BloomProbes)
      // the exact gate's survivors for THIS batch are the appended doc
      // ids intersected with the batch (replay keeps this exact)
      val survivors = b.join(
        spark.read.parquet(xstore).select("doc_id"), "doc_id")
      StreamingDedup.processBatch(survivors, id, store, root + "/pairs",
        store + "_shingles", store + "_gramdf", 5L, 0.2)
    }
    exactThenNear(batch(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark data processing at massive scale")),
      0L)
    // 1 died at the exact gate (verbatim copy of 0), so the near-dup
    // pair store must NOT contain (0, 1) — it never saw doc 1
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L))
    val pairs1 = spark.read.parquet(root + "/pairs").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs1.contains((0L, 1L)))
    exactThenNear(batch(
      (10L, "completely different content about spark data processing at massive scale"),
      (11L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (12L, "entirely novel prose with no overlap whatsoever against anything before")),
      1L)
    // 10 = verbatim copy of stored 2 -> exact gate; 11 = near-dup of
    // stored 0 -> second gate; 12 novel -> survives both
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 2L, 12L))
    val pairs2 = spark.read.parquet(root + "/pairs").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2.contains((0L, 11L)))
    assert(!pairs2.exists(p => p._1 == 10L || p._2 == 10L))
  }

  test("end-to-end streaming curation: exact gate -> decontamination -> near-dup -> cluster folds") {
    import spark.implicits._
    // the full ingest-time curation chain, all four stages inside ONE
    // trigger, each consuming only the previous stage's survivors:
    // verbatim copies die at the hash gate (never pay shingling),
    // benchmark-contaminated docs die at the static-store gate (never
    // reach the corpus), near-dup pairs feed the incremental label
    // fold — so at any moment the corpus store + labels are a curated,
    // clustered snapshot
    val root = tmpDir("e2e-curation")
    val xstore = root + "/exact"
    val benchSh = root + "/bench_shingles"
    val store = root + "/corpus"
    val labels = root + "/labels"
    graft.pipeline.Dedup.writeShingleStore(
      Seq((9000L, "secret eval question about ducks crossing frozen lakes quickly"))
        .toDF("doc_id", "text"), benchSh)
    def trigger(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      StreamingExactDedup.processBatch(b, id, xstore,
        xstore + "_hashes", xstore + "_bloom",
        graft.pipeline.Dedup.BloomBits, graft.pipeline.Dedup.BloomProbes)
      val afterExact = b.join(
        spark.read.parquet(xstore).select("doc_id"), "doc_id")
      StreamingDecontamination.processBatch(afterExact, id,
        root + "/clean", root + "/contamination_ledger", benchSh, 0.3)
      val afterDecon = afterExact.join(
        spark.read.parquet(root + "/clean").select("doc_id"), "doc_id")
      StreamingDedup.processBatch(afterDecon, id, store, root + "/pairs",
        store + "_shingles", store + "_gramdf", 5L, 0.2)
      val pairs = spark.read.parquet(root + "/pairs")
        .filter(col("batch_id") === id).select("doc_a", "doc_b")
      StreamingClusters.processPairs(pairs, id, labels)
    }
    trigger(Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "a page quoting the secret eval question about ducks crossing frozen lakes quickly verbatim"),
      (3L, "completely different content about spark data processing at massive scale")
    ).toDF("doc_id", "text"), 0L)
    // 1 died at exact, 2 died at decontamination, 0 and 3 curated
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 3L))
    assert(spark.read.parquet(root + "/contamination_ledger")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))
    trigger(Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (11L, "entirely novel prose with no overlap whatsoever against anything before")
    ).toDF("doc_id", "text"), 1L)
    // 10 is a near-dup of stored 0: rejected from the corpus store but
    // its pair feeds the label fold -> cluster {0, 10} with survivor 0
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(0L, 3L, 11L))
    val lab = StreamingClusters.readLabels(spark, labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab === Map(0L -> 0L, 10L -> 0L), lab)
  }

  test("watermarked live aggregate plans with bounded state") {
    val logs = tmpDir("stream-agg")
    EventLogFixture.writeLogs(logs, Seq("app-w1"))
    val agg = StreamingIngest.liveAppDayCounts(
      StreamingIngest.readStream(spark, s"file://$logs"))
    assert(agg.isStreaming)
    assert(agg.columns.toSeq ===
      Seq("date", "app_id", "event_count", "total_duration_ms"))
  }

  test("streaming span curation rejects mostly-verbatim docs against the maintained count store") {
    import spark.implicits._
    val root = tmpDir("spancur-stream")
    val src = root + "/src"
    val store = root + "/corpus"
    val statsDir = root + "/stats"
    val ckpt = root + "/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = StreamingSpanDedup.curatedDocStream(
        spark.readStream.schema(schema).parquet(src), store, statsDir, ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: 0 and 1 are identical twins — the span measure is
    // symmetric, BOTH reject (survivor selection is the pair members'
    // job; this is a verbatim-extent quality gate); 2 is novel
    Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "a b c d e f g h i j"),
      (2L, "k l m n o p q r s t")
    ).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(2L))
    // batch 2 vs the STORE: 10 copies stored 2 verbatim (ratio 1.0,
    // rejected); 11 is 10/14 stored tokens (0.7143, rejected); 13
    // overlaps 5/20 (0.25, survives with nonzero ledger stats); 12
    // novel
    Seq(
      (10L, "k l m n o p q r s t"),
      (11L, "k l m n o p q r s t n1 n2 n3 n4"),
      (12L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (13L, "k l m n o w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15")
    ).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(2L, 12L, 13L))
    val ledger = spark.read.parquet(statsDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(ledger(10L).getAs[Double]("dup_ratio") === 1.0)
    assert(ledger(11L).getAs[Long]("dup_tokens") === 10L)
    assert(ledger(13L).getAs[Long]("dup_tokens") === 5L)
    assert(ledger(13L).getAs[Double]("dup_ratio") === 0.25)
    assert(ledger(2L).getAs[Long]("dup_tokens") === 0L)
    // batch 3: a verbatim copy of batch-2 SURVIVOR 12 rejects —
    // survivors' counts advanced the store
    Seq((20L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(2L, 12L, 13L))
    // compaction folds the delta store without changing its fold
    val before = spark.read.parquet(store + "_gramcnt")
      .groupBy("gram").agg(sum("cnt").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    StreamingSpanDedup.compactState(spark, store)
    val after = spark.read.parquet(store + "_gramcnt")
      .collect().map(r => r.getAs[String]("gram") -> r.getAs[Long]("cnt")).toMap
    assert(after === before)
    // the folded store equals a fresh count over exactly the stored docs
    val fresh = graft.pipeline.TextAnalysis.spanGramCounts(
      spark.read.parquet(store))
      .collect().map(r => r.getAs[String]("gram") -> r.getAs[Long]("cnt")).toMap
    assert(after === fresh)
  }

  test("streaming clusters: per-trigger label folds equal full CC; untouched clusters append nothing") {
    import spark.implicits._
    val root = tmpDir("clusters-stream")
    val labels = root + "/labels"
    def currentLabels: Map[Long, Long] =
      StreamingClusters.readLabels(spark, labels)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def fullCC(pairs: Seq[(Long, Long)]): Map[Long, Long] =
      graft.pipeline.Clustering
        .connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // trigger 1: two separate clusters {1,2} and {10,11}
    val b1 = Seq((1L, 2L), (10L, 11L))
    StreamingClusters.processPairs(b1.toDF("doc_a", "doc_b"), 1L, labels)
    assert(currentLabels === fullCC(b1))
    // trigger 2: new doc 20 joins {10,11}; cluster {1,2} untouched —
    // the delta must contain NO rows for 1 or 2
    val b2 = Seq((11L, 20L))
    StreamingClusters.processPairs(b2.toDF("doc_a", "doc_b"), 2L, labels)
    assert(currentLabels === fullCC(b1 ++ b2))
    val delta2 = spark.read.parquet(labels)
      .filter(col("batch_id") === 2L).collect().map(_.getLong(0)).toSet
    assert(delta2 === Set(20L), delta2)
    // trigger 3: a bridge pair MERGES the two clusters — members of the
    // higher-labeled cluster (10, 11, 20) relabel to 1; 1 and 2 keep
    // their label and append nothing
    val b3 = Seq((2L, 10L))
    StreamingClusters.processPairs(b3.toDF("doc_a", "doc_b"), 3L, labels)
    val after3 = currentLabels
    assert(after3 === fullCC(b1 ++ b2 ++ b3))
    assert(after3.values.toSet === Set(1L))
    val delta3 = spark.read.parquet(labels)
      .filter(col("batch_id") === 3L).collect().map(_.getLong(0)).toSet
    assert(delta3 === Set(10L, 11L, 20L), delta3)
    // replay tolerance: re-running trigger 3 recomputes an EMPTY delta
    // (labels already folded) — state unchanged, and the no-op skips
    // the store append entirely (no empty part files accumulating
    // scan cost trigger-over-trigger)
    val rowsBefore = spark.read.parquet(labels).count()
    def partFiles: Int = new java.io.File(labels)
      .listFiles().count(_.getName.startsWith("part-"))
    val filesBefore = partFiles
    StreamingClusters.processPairs(b3.toDF("doc_a", "doc_b"), 3L, labels)
    assert(spark.read.parquet(labels).count() === rowsBefore)
    assert(partFiles === filesBefore)
    assert(currentLabels === after3)
    // compaction folds to one row per doc, same labeling
    StreamingClusters.compactState(spark, labels)
    val compacted = spark.read.parquet(labels)
    assert(compacted.count() === after3.size)
    assert(currentLabels === after3)
  }

  test("streaming decontamination admits only benchmark-clean docs; state never grows") {
    import spark.implicits._
    val root = tmpDir("decon-stream")
    val src = root + "/src"
    val benchSh = root + "/bench_shingles"
    val store = root + "/corpus"
    val ledger = root + "/ledger"
    val ckpt = root + "/ckpt"
    // benchmark: one 10-token eval doc -> 8 trigram shingles
    graft.pipeline.Dedup.writeShingleStore(
      Seq((9000L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text"),
      benchSh)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = StreamingDecontamination.cleanDocStream(
        spark.readStream.schema(schema).parquet(src),
        benchSh, store, ledger, ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: 0 quotes the whole benchmark inside a longer page
    // (containment 1.0 despite low symmetric Jaccard) -> rejected;
    // 1 shares 2/8 benchmark shingles (0.25 < 0.3) -> admitted;
    // 2 is clean
    Seq(
      (0L, "intro words q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 outro words"),
      (1L, "q1 q2 q3 q4 other stuff entirely here"),
      (2L, "nothing shared with the benchmark at all")
    ).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // the ledger records WHICH benchmark doc was hit and how hard
    val led = spark.read.parquet(ledger).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(led(0L).getAs[Long]("bench_id") === 9000L)
    assert(led(0L).getAs[Double]("overlap") === 1.0)
    assert(!led.contains(1L) && !led.contains(2L))
    // batch 2: verdicts depend ONLY on the static benchmark — the
    // batch-1 admissions don't flag later docs (not a dedup gate)
    Seq((10L, "nothing shared with the benchmark at all"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(spark.read.parquet(store).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 10L))
    // state never grows: the benchmark store is byte-identical
    assert(spark.read.parquet(benchSh).count() === 8L)
  }

  test("streaming decontamination trigger plan only file-scans the benchmark store, never corpus text") {
    import spark.implicits._
    val root = tmpDir("decon-plan")
    val benchSh = root + "/bench_shingles"
    graft.pipeline.Dedup.writeShingleStore(
      Seq((9000L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text"),
      benchSh)
    val batch = Seq((100L, "a b c q1 q2 q3 q4 q5 x y")).toDF("doc_id", "text")
    val p = StreamingDecontamination
      .triggerOverlap(spark, batch, benchSh, 0.3)
      .queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("FileScan")).toList
    assert(scans.nonEmpty, p)
    assert(scans.forall(_.contains("bench_shingles")), scans.mkString("\n"))
  }

  test("streaming span curation trigger plan only file-scans the count store, never corpus text") {
    import spark.implicits._
    val root = tmpDir("spancur-plan")
    val store = root + "/corpus"
    val gramCntDir = store + "_gramcnt"
    graft.pipeline.TextAnalysis.spanGramCounts(
      Seq((0L, "a b c d e f g h i j")).toDF("doc_id", "text"))
      .write.parquet(gramCntDir)
    val batch = Seq((100L, "a b c d e x y z w v")).toDF("doc_id", "text")
    val p = StreamingSpanDedup.triggerStats(spark, batch, gramCntDir, 5)
      .queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("FileScan")).toList
    assert(scans.nonEmpty, p)
    assert(scans.forall(_.contains("_gramcnt")), scans.mkString("\n"))
  }
}
