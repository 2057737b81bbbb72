package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR with a noop-sink write (forces full column
  * materialisation — `.count()` would let Spark skip work), after a
  * warmup pass that absorbs JVM/codegen startup. Prints ONE JSON line. */
object Bench {
  /** The core count SURVEY §4's generated numbers claim (`local[32]`):
   *  only a full-suite run at this count writes bench_local_last.json,
   *  the artifact those numbers are generated from. */
  val SurveyCpus = 32

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the bounded-frame global windows in a few
    // operators emit a benign WindowExec WARN per plan, and dozens of
    // them flood the ~2000-char stdout tail the harness keeps,
    // crowding out the one JSON line this main exists to print.
    spark.sparkContext.setLogLevel("ERROR")

    // ONE bench-scoped temp root: every helper's scratch (seeded
    // streaming state, shared stores, synthetic ingest logs) nests
    // under it and the whole tree is deleted before exit — a bench
    // invocation no longer accumulates corpus-scale temp copies on
    // the host (round-8 ADVICE).
    val benchRoot = java.nio.file.Files.createTempDirectory("graft-bench")
    def benchTmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(benchRoot, prefix).toString

    def runNoop(name: String): Double = {
      spark.catalog.clearCache() // operators cache intermediates; isolate queries
      System.gc() // settle heap so one query's garbage isn't billed to the next
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** Median-of-N with (min, max) spread: a single timed run is
      * dominated by where C2/GC land (observed ±2.5 s swings on
      * unchanged code between rounds), so one sample per query carries
      * no regression signal. N samples and the median reports the
      * typical run; the spread bounds how much of any cross-round delta
      * is noise. N defaults to 3; SPARK_GRAFT_REPS=5 is the sf1-run
      * setting (>10 s composites under host drift need the wider
      * median — round-12 sf1 spreads like [12.4, 90.1] s made
      * median-of-3 untrustworthy). */
    // Clamped + parse-guarded (a typo'd value must not crash a 40-min
    // suite); only ODD values give a true median — medianOf/runMedian
    // return the upper-middle sample for even N, fine for spread
    // bounds but document the intent by using 3 or 5.
    val reps = math.max(1, sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(3))
    def runMedian(name: String): (Double, Double, Double) = {
      val ts = (0 until reps).map(_ => runNoop(name))
      if (ts.exists(_ < 0)) (-1.0, -1.0, -1.0)
      else (ts.sorted.apply(ts.size / 2), ts.min, ts.max)
    }
    def medianSpread(ts: Seq[Double]): (Double, Double, Double) =
      if (ts.exists(_ < 0)) (-1.0, -1.0, -1.0)
      else (ts.sorted.apply(ts.size / 2), ts.min, ts.max)

    // Warmup: run every query once at the smallest scale factor so
    // Janino compilation + JIT of the generated code is NOT billed to
    // the timed run (the generated code is identical across scale
    // factors; only the data volume changes). Standard warmup practice
    // — the timed numbers then reflect data-proportional work.
    val warmDir = "/root/testdata/sf0.001"
    // Dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the run to named keys
    // (skips the shared-store scenario unless listed). Round artifacts
    // are always produced with the variable unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // The full-suite artifact a run writes and compares against. A
    // SPARK_GRAFT_ONLY-filtered dev run must not clobber the last
    // FULL-suite artifact: survey_numbers.py falls back to
    // bench_local_last.json when the harness wrapper is unparsed, and
    // a 2-query targeted run overwriting it silently breaks the
    // regenerated SURVEY numbers (observed round 8). Neither may a run
    // at another core count, whose totals SURVEY §4 does not claim: it
    // writes bench_local_c<cpus>.json instead.
    val artifact =
      if (only.isDefined) "bench_local_only.json"
      else if (cpus == SurveyCpus.toString) "bench_local_last.json"
      else s"bench_local_c$cpus.json"
    /** Canary: a pinned set of cheap, code-stable queries timed
      * before AND after the full suite in the same JVM (full rationale
      * at the canary pass below). Declared once, here, because the
      * warm loop below must also cover it — a canary key edited in one
      * list but not the other would run its first timed sample cold
      * and bill Janino/JIT, exactly the artifact it exists to catch. */
    val canaryKeys = Seq("app_list", "resource_usage", "text_stats",
      "quality_score", "lang_id", "split_assign")
    // forced canaries (SPARK_GRAFT_CANARY=1 under an ONLY filter) must
    // warm too, or their first timed sample bills Janino/JIT
    val warmNames = (names ++ (if (sys.env.get("SPARK_GRAFT_CANARY")
      .contains("1")) canaryKeys else Seq.empty)).distinct
    for (n <- warmNames) {
      spark.catalog.clearCache()
      try SparkEntry.queries(n)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    /** Canary: a pinned set of cheap, code-stable queries timed
      * before AND after the full suite in the same JVM. Round 8
      * showed untouched queries drifting ~1.3x round-over-round from
      * long-lived-JVM heap/host noise; the canary pair quantifies
      * exactly that drift WITHIN a run (`canary_drift` ~1.0 = the
      * suite's numbers are comparable front to back; >>1 = later
      * queries ran in a degraded JVM and cross-round deltas on them
      * are noise until re-measured). Cross-round normalization:
      * divide a query's median by the SAME round's canary_before
      * sum before comparing rounds. (canaryKeys declared above the
      * warm loop, which must cover it.) */
    // SPARK_GRAFT_CANARY=1 forces the canary series even under a
    // SPARK_GRAFT_ONLY filter — the sf1 runner's setting (round-12 sf1
    // artifacts had canary_drift -1 and were uninterpretable under
    // host drift).
    val forceCanary = sys.env.get("SPARK_GRAFT_CANARY").contains("1")
    val runCanaries = only.isEmpty || forceCanary
    def canaryPass(): Seq[(String, Double)] =
      if (!runCanaries) Seq.empty
      else canaryKeys.map(k => k -> runMedian(k)._1)
    val canaryBefore = canaryPass()

    /** Shared-shingle-store scenario: materialize the (doc_id, gram)
      * store ONCE, then run the whole near-dup family (ngram + minhash
      * + simhash) from it — the index-at-write-time shape every real
      * corpus pipeline uses. Timed as TWO keys: the one-time store
      * write (`shingle_store_write`, amortized across every consumer
      * of the store, not just these three) and the from-store family
      * run (`dedup_family_shared`, to compare against the sum of the
      * three cold per-query medians that each pay tokenize+gram
      * explode themselves). */
    val sharedStore =
      benchTmp("graft-shstore")
    def sharedFamilyOnce(dir: String): (Double, Double) = {
      spark.catalog.clearCache()
      System.gc()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      try {
        val t0 = System.nanoTime()
        graft.pipeline.Dedup.writeShingleStore(docs, sharedStore)
        val tWrite = (System.nanoTime() - t0) / 1e9
        val sh = Some(spark.read.parquet(sharedStore))
        val t1 = System.nanoTime()
        graft.pipeline.Dedup.dedupNgram(docs, precomputedShingles = sh)
          .write.format("noop").mode("overwrite").save()
        graft.pipeline.Dedup.dedupMinhash(docs, precomputedShingles = sh)
          .write.format("noop").mode("overwrite").save()
        graft.pipeline.Dedup.dedupSimhash(docs, precomputedShingles = sh)
          .write.format("noop").mode("overwrite").save()
        (tWrite, (System.nanoTime() - t1) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] dedup_family_shared failed: ${e.getMessage}")
        (-1.0, -1.0)
      }
    }
    /** Shared-quantized-store scenario, the embedding-family twin of
      * `dedup_family_shared`: materialize the (vec_id, qarr, nq) ANN
      * index ONCE (`quantized_store_write`), then run three consumers
      * (sign-bit near-dup, kNN graph, per-cell outliers) from it
      * (`emb_family_shared`) — vs each cold query re-quantizing the
      * corpus itself. */
    val qStore =
      benchTmp("graft-qstore")
    def embFamilyOnce(dir: String): (Double, Double) = {
      spark.catalog.clearCache()
      System.gc()
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      try {
        val t0 = System.nanoTime()
        graft.pipeline.Embeddings.writeQuantizedStore(emb, qStore)
        val tWrite = (System.nanoTime() - t0) / 1e9
        val qv = Some(spark.read.parquet(qStore))
        val t1 = System.nanoTime()
        graft.pipeline.Embeddings.dedupEmbedding(emb, precomputedQuantized = qv)
          .write.format("noop").mode("overwrite").save()
        graft.pipeline.Embeddings.knnGraph(emb, precomputedQuantized = qv)
          .write.format("noop").mode("overwrite").save()
        graft.pipeline.Embeddings.embOutliers(emb, precomputedQuantized = qv)
          .write.format("noop").mode("overwrite").save()
        (tWrite, (System.nanoTime() - t1) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] emb_family_shared failed: ${e.getMessage}")
        (-1.0, -1.0)
      }
    }

    /** Streaming near-dup trigger cost vs corpus size: seed the state
      * stores (corpus + shingles + gram-df) from a PREFIX of the
      * documents table, then time ONE processBatch of the same fixed
      * tail batch. Run at a quarter-size and a full-size seed — the
      * two timings being ~equal is the measured form of the
      * "per-trigger cost tracks arrival rate, not corpus size" claim
      * (the trigger reads only the maintained stores; nothing
      * re-shingles corpus text). */
    def streamingTriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25) // last ~4%
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-stream-$seedFrac")
        val seed = docs.filter(org.apache.spark.sql.functions.col("doc_id") < seedN)
          .select("doc_id", "text")
        seed.write.mode("overwrite").parquet(s"$base/corpus")
        graft.pipeline.Dedup.writeShingleStore(seed, s"$base/shingles")
        spark.read.parquet(s"$base/shingles").groupBy("gram")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("df_cnt"))
          .write.mode("overwrite").parquet(s"$base/gramdf")
        val batch = docs
          .filter(org.apache.spark.sql.functions.col("doc_id") >= batchStart)
          .select("doc_id", "text")
        val t0 = System.nanoTime()
        graft.streaming.StreamingDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/pairs", s"$base/shingles",
          s"$base/gramdf", maxDf = 5L, minJaccard = 0.2)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_trigger failed: ${e.getMessage}")
        -1.0
      }
    }
    /** Same measurement for the EXACT-dedup ingest loop: seed the
      * hash + bloom state stores from a prefix, time ONE processBatch
      * of the same fixed tail batch at two seed sizes. The bloom
      * store is <= m/64 rows at ANY seed, so the quarter-vs-full gap
      * can only come from the hash-store verify join's columnar
      * scan. */
    def streamingExactTriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25)
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-xstream-$seedFrac")
        val seed = docs.filter(org.apache.spark.sql.functions.col("doc_id") < seedN)
          .select("doc_id", "text")
        seed.select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.md5(
              org.apache.spark.sql.functions.col("text")).as("content_hash"))
          .write.mode("overwrite").parquet(s"$base/hashes")
        graft.pipeline.Dedup.bloomWords(seed)
          .write.mode("overwrite").parquet(s"$base/bloom")
        val batch = docs
          .filter(org.apache.spark.sql.functions.col("doc_id") >= batchStart)
          .select("doc_id", "text")
        val t0 = System.nanoTime()
        graft.streaming.StreamingExactDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/hashes", s"$base/bloom",
          graft.pipeline.Dedup.BloomBits, graft.pipeline.Dedup.BloomProbes)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_exact_trigger failed: ${e.getMessage}")
        -1.0
      }
    }
    /** Same measurement for the CDC chunk-store admission gate: seed
      * the (fp, len) chunk store from a prefix, time ONE processBatch
      * of the fixed tail batch at two seed sizes. The trigger's only
      * file scan is the chunk store, so the quarter-vs-full gap can
      * only come from its columnar scan + the membership join's
      * store-side cardinality. */
    def streamingCdcTriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25)
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-cdcstream-$seedFrac")
        val seed = docs.filter(org.apache.spark.sql.functions.col("doc_id") < seedN)
          .select("doc_id", "text")
        graft.pipeline.Dedup.writeCdcChunkStore(seed, s"$base/chunks")
        val batch = docs
          .filter(org.apache.spark.sql.functions.col("doc_id") >= batchStart)
          .select("doc_id", "text")
        val t0 = System.nanoTime()
        graft.streaming.StreamingCdcDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/chunks")
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_cdc_trigger failed: ${e.getMessage}")
        -1.0
      }
    }
    /** Same measurement for the streaming SPAN member (state = the
      * SUM-folded gram-count delta store): seed the counts from a
      * prefix, time ONE processBatch of the fixed tail batch at two
      * seed sizes. The trigger's only file scan is the gram-count
      * store, so the quarter-vs-full gap can only come from its
      * columnar scan + the count-probe join's store-side
      * cardinality. */
    def streamingSpanTriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25)
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-spstream-$seedFrac")
        val seed = docs.filter(org.apache.spark.sql.functions.col("doc_id") < seedN)
          .select("doc_id", "text")
        graft.pipeline.TextAnalysis.spanGramCounts(seed)
          .write.mode("overwrite").parquet(s"$base/gramcnt")
        val batch = docs
          .filter(org.apache.spark.sql.functions.col("doc_id") >= batchStart)
          .select("doc_id", "text")
        val t0 = System.nanoTime()
        graft.streaming.StreamingSpanDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/stats", s"$base/gramcnt",
          k = 5, maxDupRatio = 0.5)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_span_trigger failed: ${e.getMessage}")
        -1.0
      }
    }
    /** Same measurement for the cheapest-state streaming member,
      * SIMHASH (state = ONE long per corpus doc): seed the fp store
      * from a prefix under the `expr` family (the projection
      * fingerprint path), time ONE processBatch of the fixed tail
      * batch at two seed sizes. The trigger's only file scan is the
      * fp store, so the quarter-vs-full gap can only come from its
      * columnar scan. */
    def streamingSimhashTriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25)
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-shstream-$seedFrac")
        val seed = docs.filter(org.apache.spark.sql.functions.col("doc_id") < seedN)
          .select("doc_id", "text")
        graft.pipeline.Dedup.writeSimhashStore(seed, s"$base/fp", idFamily = "expr")
        val batch = docs
          .filter(org.apache.spark.sql.functions.col("doc_id") >= batchStart)
          .select("doc_id", "text")
        val t0 = System.nanoTime()
        // explicitly the LEGACY 32-bit width: the library default
        // flipped to SimBitsWide, but this key IS the 32-bit series
        // (the cliff the pair of keys exists to keep measured)
        graft.streaming.StreamingSimhashDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/pairs", s"$base/fp",
          maxHamming = 3, idFamily = "expr",
          fpBits = graft.pipeline.Dedup.SimBits)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_simhash_trigger failed: ${e.getMessage}")
        -1.0
      }
    }

    /** The WIDE (64-bit, 16-bit-band) variant of the simhash trigger —
      * the corpus-scale setting. Same seed/batch protocol under the
      * poly gram family (the native simhash_fp expression is 32-bit);
      * the pair of keys exists so the 32-vs-64 band-occupancy story is
      * measured, not asserted (the sf10 probe caught the 32-bit
      * trigger growing linearly with the store). */
    def streamingSimhash64TriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25)
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-sh64stream-$seedFrac")
        val seed = docs.filter(org.apache.spark.sql.functions.col("doc_id") < seedN)
          .select("doc_id", "text")
        graft.pipeline.Dedup.writeSimhashStore(seed, s"$base/fp",
          idFamily = "poly", fpBits = graft.pipeline.Dedup.SimBitsWide)
        val batch = docs
          .filter(org.apache.spark.sql.functions.col("doc_id") >= batchStart)
          .select("doc_id", "text")
        val t0 = System.nanoTime()
        graft.streaming.StreamingSimhashDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/pairs", s"$base/fp",
          maxHamming = 3, idFamily = "poly",
          fpBits = graft.pipeline.Dedup.SimBitsWide)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_simhash64_trigger failed: ${e.getMessage}")
        -1.0
      }
    }

    /** Same measurement for the streaming MINHASH member (state =
      * shingle store + per-doc signature store): seed both from a
      * prefix under the poly family, time ONE processBatch of the
      * fixed tail batch at two seed sizes. */
    def streamingMinhashTriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25)
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-mhstream-$seedFrac")
        val seed = docs.filter(org.apache.spark.sql.functions.col("doc_id") < seedN)
          .select("doc_id", "text")
        graft.pipeline.Dedup.writeShingleStore(seed, s"$base/shingles")
        graft.pipeline.Dedup.minhashSignatures(seed, "poly")
          .write.mode("overwrite").parquet(s"$base/sig")
        val batch = docs
          .filter(org.apache.spark.sql.functions.col("doc_id") >= batchStart)
          .select("doc_id", "text")
        val t0 = System.nanoTime()
        graft.streaming.StreamingMinhashDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/pairs", s"$base/shingles", s"$base/sig",
          minJaccard = 0.2, idFamily = "poly")
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_minhash_trigger failed: ${e.getMessage}")
        -1.0
      }
    }

    /** Same measurement for the streaming EMBEDDING member (state =
      * the shared ANN quantized index): seed the index from a vector
      * prefix, time ONE processBatch of the fixed tail batch. */
    def streamingEmbTriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val maxId = emb.agg(org.apache.spark.sql.functions.max("vec_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25)
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-embstream-$seedFrac")
        val seed = emb.filter(org.apache.spark.sql.functions.col("vec_id") < seedN)
          .select("vec_id", "embedding")
        graft.pipeline.Embeddings.writeQuantizedStore(seed, s"$base/qv")
        graft.pipeline.Embeddings.writeEmbFingerprintStore(seed, s"$base/qv_fp")
        val batch = emb
          .filter(org.apache.spark.sql.functions.col("vec_id") >= batchStart)
          .select("vec_id", "embedding")
        val t0 = System.nanoTime()
        // the 32-plane banding is PINNED (the default is now
        // auto-width): this key tracks the narrow mode's
        // linear-in-state cost across rounds
        graft.streaming.StreamingEmbeddingDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/pairs", s"$base/qv", minCosine = 0.4,
          planes = graft.pipeline.Embeddings.NumPlanes)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_emb_trigger failed: ${e.getMessage}")
        -1.0
      }
    }

    /** The WIDE (64-plane, 16-bit-band) variant of the embedding
      * trigger — the corpus-scale banding. The quantized store is
      * width-agnostic (fingerprints are derived), so the pair of keys
      * measures the same state under both bandings: the 32-plane
      * trigger's candidate mass grows linearly with the store (4x8-bit
      * bands saturate — the simhash-32 shape, measured 4.7x per 4x
      * state in the sf10 probe), the wide banding keeps occupancy
      * flat at a measured recall S-curve shift (EmbeddingsSpec). */
    def streamingEmb64TriggerOnce(dir: String, seedFrac: Double): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val maxId = emb.agg(org.apache.spark.sql.functions.max("vec_id"))
          .collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25)
        val seedN = (batchStart * seedFrac).toLong
        val base = benchTmp(s"graft-emb64stream-$seedFrac")
        val seed = emb.filter(org.apache.spark.sql.functions.col("vec_id") < seedN)
          .select("vec_id", "embedding")
        graft.pipeline.Embeddings.writeQuantizedStore(seed, s"$base/qv")
        graft.pipeline.Embeddings.writeEmbFingerprintStore(seed, s"$base/qv_fp")
        val batch = emb
          .filter(org.apache.spark.sql.functions.col("vec_id") >= batchStart)
          .select("vec_id", "embedding")
        val t0 = System.nanoTime()
        graft.streaming.StreamingEmbeddingDedup.processBatch(batch, 0L,
          s"$base/corpus", s"$base/pairs", s"$base/qv", minCosine = 0.4,
          planes = graft.pipeline.Embeddings.NumPlanesWide)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_emb64_trigger failed: ${e.getMessage}")
        -1.0
      }
    }

    /** Same measurement for the streaming CLUSTER fold: seed a label
      * store of `seedN` docs (paired into 2-clusters), then time ONE
      * processPairs of a fixed 1k-pair batch (each pair bridges one
      * old cluster to one new doc). The fold is touched-only, so the
      * quarter-vs-full gap can only come from the delta store's
      * columnar scan. */
    def streamingClusterTriggerOnce(seedN: Long): Double = {
      spark.catalog.clearCache()
      System.gc()
      try {
        import org.apache.spark.sql.functions.{col, expr}
        val base = benchTmp(s"graft-cstream-$seedN")
        val labels = s"$base/labels"
        spark.range(seedN)
          .select(col("id").as("doc_id"),
            expr("id - id % 2").as("label"),
            expr("CAST(0 AS BIGINT)").as("batch_id"))
          .write.mode("overwrite").parquet(labels)
        val pairs = spark.range(1000)
          .select(expr("id * 2").as("doc_a"),
            (col("id") + seedN).as("doc_b"))
        val t0 = System.nanoTime()
        graft.streaming.StreamingClusters.processPairs(pairs, 1L, labels)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_cluster_trigger failed: ${e.getMessage}")
        -1.0
      }
    }
    val runCStream = only.forall(s => s.exists(_.startsWith("stream_cluster_trigger")))
    val cstreamRuns = if (runCStream) {
      streamingClusterTriggerOnce(10000L) // absorb codegen/JIT
      (0 until reps).map(_ =>
        (streamingClusterTriggerOnce(100000L), streamingClusterTriggerOnce(400000L)))
    } else Seq.empty

    val runStream = only.forall(s => s.exists(_.startsWith("stream_trigger")))
    val streamRuns = if (runStream) {
      streamingTriggerOnce(warmDir, 1.0) // absorb codegen/JIT
      (0 until reps).map(_ =>
        (streamingTriggerOnce(sfDir, 0.25), streamingTriggerOnce(sfDir, 1.0)))
    } else Seq.empty
    val runMHStream = only.forall(s => s.exists(_.startsWith("stream_minhash_trigger")))
    val mhstreamRuns = if (runMHStream) {
      streamingMinhashTriggerOnce(warmDir, 1.0)
      (0 until reps).map(_ =>
        (streamingMinhashTriggerOnce(sfDir, 0.25), streamingMinhashTriggerOnce(sfDir, 1.0)))
    } else Seq.empty
    val runEStream = only.forall(s => s.exists(_.startsWith("stream_emb_trigger")))
    val estreamRuns = if (runEStream) {
      streamingEmbTriggerOnce(warmDir, 1.0)
      (0 until reps).map(_ =>
        (streamingEmbTriggerOnce(sfDir, 0.25), streamingEmbTriggerOnce(sfDir, 1.0)))
    } else Seq.empty
    val runE64Stream = only.forall(s => s.exists(_.startsWith("stream_emb64_trigger")))
    val e64streamRuns = if (runE64Stream) {
      streamingEmb64TriggerOnce(warmDir, 1.0)
      (0 until reps).map(_ =>
        (streamingEmb64TriggerOnce(sfDir, 0.25), streamingEmb64TriggerOnce(sfDir, 1.0)))
    } else Seq.empty
    val runSHStream = only.forall(s => s.exists(_.startsWith("stream_simhash_trigger")))
    val shstreamRuns = if (runSHStream) {
      streamingSimhashTriggerOnce(warmDir, 1.0)
      (0 until reps).map(_ =>
        (streamingSimhashTriggerOnce(sfDir, 0.25), streamingSimhashTriggerOnce(sfDir, 1.0)))
    } else Seq.empty
    val runSH64Stream = only.forall(s => s.exists(_.startsWith("stream_simhash64_trigger")))
    val sh64streamRuns = if (runSH64Stream) {
      streamingSimhash64TriggerOnce(warmDir, 1.0)
      (0 until reps).map(_ =>
        (streamingSimhash64TriggerOnce(sfDir, 0.25), streamingSimhash64TriggerOnce(sfDir, 1.0)))
    } else Seq.empty
    val runXStream = only.forall(s => s.exists(_.startsWith("stream_exact_trigger")))
    val xstreamRuns = if (runXStream) {
      streamingExactTriggerOnce(warmDir, 1.0)
      (0 until reps).map(_ =>
        (streamingExactTriggerOnce(sfDir, 0.25), streamingExactTriggerOnce(sfDir, 1.0)))
    } else Seq.empty
    val runCdcStream = only.forall(s => s.exists(_.startsWith("stream_cdc_trigger")))
    val cdcstreamRuns = if (runCdcStream) {
      streamingCdcTriggerOnce(warmDir, 1.0)
      (0 until reps).map(_ =>
        (streamingCdcTriggerOnce(sfDir, 0.25), streamingCdcTriggerOnce(sfDir, 1.0)))
    } else Seq.empty
    val runSpanStream = only.forall(s => s.exists(_.startsWith("stream_span_trigger")))
    val spanstreamRuns = if (runSpanStream) {
      streamingSpanTriggerOnce(warmDir, 1.0)
      (0 until reps).map(_ =>
        (streamingSpanTriggerOnce(sfDir, 0.25), streamingSpanTriggerOnce(sfDir, 1.0)))
    } else Seq.empty

    val runShared = only.forall(s =>
      s.contains("dedup_family_shared") || s.contains("shingle_store_write"))
    val sharedRuns = if (runShared) {
      sharedFamilyOnce(warmDir) // absorb codegen/JIT like every other query
      (0 until reps).map(_ => sharedFamilyOnce(sfDir))
    } else Seq.empty
    val runEmbShared = only.forall(s =>
      s.contains("emb_family_shared") || s.contains("quantized_store_write"))
    val embSharedRuns = if (runEmbShared) {
      embFamilyOnce(warmDir)
      (0 until reps).map(_ => embFamilyOnce(sfDir))
    } else Seq.empty
    def medianOf(xs: Seq[Double]): (Double, Double, Double) =
      if (xs.exists(_ < 0)) (-1.0, -1.0, -1.0)
      else (xs.sorted.apply(xs.size / 2), xs.min, xs.max)

    /** Three full passes over the suite, each in a DIFFERENT
      * deterministic shuffled order, median per query ACROSS passes
      * (not back-to-back samples): round 8/9 showed untouched-file
      * queries moving 2-3x round-over-round while the canary
      * improved — back-to-back sampling bills whatever JVM phase
      * (heap shape, C2 recompile, host noise) a query's fixed slot
      * lands in to that query in EVERY sample, so the median can't
      * average it away. Randomizing the slot per pass decorrelates
      * query identity from JVM phase; the cross-pass median is then
      * comparable round-over-round. Canary timings interleave
      * between passes (see canaryMid). Seeds are fixed constants so
      * two runs of the same build time the identical schedule. */
    val canaryMid = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passTimes: Seq[Map[String, Double]] = (0 until reps).map { rep =>
      val order = new scala.util.Random(7919L * (rep + 1)).shuffle(names)
      val t = order.map(n => n -> runNoop(n)).toMap
      // one-sample canary sum after each pass: a monotone rise across
      // entries = the JVM degraded DURING the suite and cross-round
      // deltas on late-pass medians are suspect
      if (runCanaries) canaryMid +=
        canaryKeys.map(k => runNoop(k)).filter(_ >= 0).sum
      t
    }
    val suiteResults = names.map(n => n -> medianSpread(passTimes.map(_(n))))
    val results = suiteResults ++ (if (runShared) Seq(
      "shingle_store_write" -> medianOf(sharedRuns.map(_._1)),
      "dedup_family_shared" -> medianOf(sharedRuns.map(_._2))) else Seq.empty) ++
      (if (runEmbShared) Seq(
        "quantized_store_write" -> medianOf(embSharedRuns.map(_._1)),
        "emb_family_shared" -> medianOf(embSharedRuns.map(_._2))) else Seq.empty) ++
      (if (runStream) Seq(
        "stream_trigger_quarter_corpus" -> medianOf(streamRuns.map(_._1)),
        "stream_trigger_full_corpus" -> medianOf(streamRuns.map(_._2))) else Seq.empty) ++
      (if (runXStream) Seq(
        "stream_exact_trigger_quarter_corpus" -> medianOf(xstreamRuns.map(_._1)),
        "stream_exact_trigger_full_corpus" -> medianOf(xstreamRuns.map(_._2))) else Seq.empty) ++
      (if (runCdcStream) Seq(
        "stream_cdc_trigger_quarter_corpus" -> medianOf(cdcstreamRuns.map(_._1)),
        "stream_cdc_trigger_full_corpus" -> medianOf(cdcstreamRuns.map(_._2))) else Seq.empty) ++
      (if (runSpanStream) Seq(
        "stream_span_trigger_quarter_corpus" -> medianOf(spanstreamRuns.map(_._1)),
        "stream_span_trigger_full_corpus" -> medianOf(spanstreamRuns.map(_._2))) else Seq.empty) ++
      (if (runSHStream) Seq(
        "stream_simhash_trigger_quarter_corpus" -> medianOf(shstreamRuns.map(_._1)),
        "stream_simhash_trigger_full_corpus" -> medianOf(shstreamRuns.map(_._2))) else Seq.empty) ++
      (if (runSH64Stream) Seq(
        "stream_simhash64_trigger_quarter_corpus" -> medianOf(sh64streamRuns.map(_._1)),
        "stream_simhash64_trigger_full_corpus" -> medianOf(sh64streamRuns.map(_._2))) else Seq.empty) ++
      (if (runMHStream) Seq(
        "stream_minhash_trigger_quarter_corpus" -> medianOf(mhstreamRuns.map(_._1)),
        "stream_minhash_trigger_full_corpus" -> medianOf(mhstreamRuns.map(_._2))) else Seq.empty) ++
      (if (runEStream) Seq(
        "stream_emb_trigger_quarter_corpus" -> medianOf(estreamRuns.map(_._1)),
        "stream_emb_trigger_full_corpus" -> medianOf(estreamRuns.map(_._2))) else Seq.empty) ++
      (if (runE64Stream) Seq(
        "stream_emb64_trigger_quarter_corpus" -> medianOf(e64streamRuns.map(_._1)),
        "stream_emb64_trigger_full_corpus" -> medianOf(e64streamRuns.map(_._2))) else Seq.empty) ++
      (if (runCStream) Seq(
        "stream_cluster_trigger_quarter_corpus" -> medianOf(cstreamRuns.map(_._1)),
        "stream_cluster_trigger_full_corpus" -> medianOf(cstreamRuns.map(_._2))) else Seq.empty)
    val canaryAfter = canaryPass()
    val canaryDrift = {
      val b = canaryBefore.map(_._2).filter(_ >= 0).sum
      val a = canaryAfter.map(_._2).filter(_ >= 0).sum
      if (b <= 0) -1.0 else a / b
    }
    def r3(x: Double): String =
      if (x < 0) "-1" else BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val eps = ingestEventsPerSec(spark, benchTmp("graft-ingest"))
    // Full-precision medians + (min,max) spreads go to a local artifact
    // (committed per round as bench_local_r*.json); stdout gets a COMPACT
    // line — the harness that collects BENCH_r*.json keeps only the last
    // ~2000 chars of output, and rounds 1-5 proved a full-precision line
    // with spreads overflows that window and is dropped unparsed. With
    // 177 keys even the 3-decimal full map is ~4.5k chars (the r06-r08
    // "parsed": null), so stdout carries a PINNED HEADLINE SUBSET plus
    // the suite total; the committed local artifact stays complete.
    def jmap(kv: Seq[(String, Double)], fmt: Double => String): String =
      kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val spread = results.map { case (k, (_, lo, hi)) =>
      "\"" + k + "\":[" + lo + "," + hi + "]"
    }.mkString("{", ",", "}")
    // Trigger-cost regression gate (round-10 lesson: the uncached-
    // candidates regression shipped green through every correctness
    // gate and only a cross-round bench diff could see it): before
    // overwriting the previous full-suite artifact, compare this
    // run's incremental/trigger keys against it and flag any key
    // beyond 1.5x — the alert rides the stdout JSON AND stderr so a
    // round summary cannot miss it. Canary-normalized: a host that
    // merely got slower moves every key, so ratios divide out the
    // canary drift when the previous artifact recorded one.
    val prevArtifact = java.nio.file.Paths.get(artifact)
    val prevRoot: Option[com.fasterxml.jackson.databind.JsonNode] =
      if (only.isDefined || !java.nio.file.Files.exists(prevArtifact)) None
      else scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(prevArtifact))).toOption
    val prevQueries: Map[String, Double] = prevRoot
      .flatMap(r => Option(r.get("queries"))).map { q =>
        val b = Map.newBuilder[String, Double]
        val it = q.properties().iterator()
        while (it.hasNext) {
          val e = it.next(); b += e.getKey -> e.getValue.asDouble(-1.0)
        }
        b.result()
      }.getOrElse(Map.empty)
    def isTriggerKey(k: String) = k.contains("_incr") || k.contains("_trigger_")
    // Cross-round HOST normalization (round-11 lesson: the gate fired
    // on unchanged code because the previous artifact was recorded on
    // a host running ~2x faster — in-run canaryDrift cannot see that).
    // The previous artifact's canary_before map gives the same pinned
    // cheap queries ON THE OLD HOST; the per-key ratio current/previous
    // is the host's speed change, its median the host factor every
    // trigger ratio divides out, and its min/max spread the NOISE BAND
    // the alert threshold widens by (canaries disagreeing 2x among
    // themselves means per-key ratios carry that much noise, so a
    // 1.6x trigger ratio is not yet code signal).
    val prevCanary: Map[String, Double] = prevRoot
      .flatMap(r => Option(r.get("canary_before"))).map { c =>
        val b = Map.newBuilder[String, Double]
        val it = c.properties().iterator()
        while (it.hasNext) {
          val e = it.next(); b += e.getKey -> e.getValue.asDouble(-1.0)
        }
        b.result()
      }.getOrElse(Map.empty)
    val canaryRatios = canaryBefore.flatMap { case (k, v) =>
      prevCanary.get(k).filter(_ > 0).flatMap(p =>
        if (v > 0) Some(v / p) else None)
    }.sorted
    val hostFactor =
      if (canaryRatios.isEmpty) 1.0 else canaryRatios(canaryRatios.size / 2)
    // Multiplicative canary disagreement, capped: an envelope > 2x is
    // a host too unstable to adjudicate — the alert still fires, the
    // adjudication string says re-run (the CLAUDE.md worktree A/B).
    val noiseEnvelope =
      if (canaryRatios.isEmpty) 1.0
      else math.min(2.0,
        math.sqrt(canaryRatios.last / math.max(canaryRatios.head, 1e-9)))
    val alertThreshold = 1.5 * noiseEnvelope
    // BOTH conditions must hold: the host-normalized ratio beyond the
    // envelope-widened threshold AND the raw ratio beyond 1.5. A pure
    // host slowdown moves raw but not normalized (the r11 false
    // positive); a host SPEED-UP divides flat keys by a factor < 1
    // and inflates their normalized ratio while raw stays ~1 (the
    // r12 winnow_overlap_incr false positive, raw 1.26 normalized
    // 2.12 after a 1.7x intra-day host swing) — a real code
    // regression moves both.
    val regressions = results.flatMap {
      case (k, (med, _, _)) if isTriggerKey(k) && med > 0 =>
        prevQueries.get(k).filter(_ > 0)
          .map(p => (k, (med / p) / math.max(hostFactor, 0.25), med / p))
      case _ => None
    }.filter { case (_, norm, raw) => norm > alertThreshold && raw > 1.5 }
      .map { case (k, norm, _) => k -> norm }
    val adjudication =
      if (regressions.isEmpty) ""
      else if (noiseEnvelope >= 1.9)
        "canary envelope saturated (host unstable this round) - " +
          "adjudicate with the CLAUDE.md same-host worktree A/B"
      else s"host-normalized (factor ${r3(hostFactor)}, envelope " +
        s"${r3(noiseEnvelope)}) - ratios above are code-attributed"
    if (regressions.nonEmpty)
      System.err.println("[bench] TRIGGER-COST REGRESSION vs previous " +
        "artifact (" + adjudication + "): " + regressions.map { case (k, r) =>
          k + " " + r3(r) + "x" }.mkString(", "))
    val regJson = jmap(regressions, r3)
    /** MACHINE-RUN standalone adjudication (round-12 lesson, automated):
      * an in-suite trigger number from a run whose canary drifted is
      * not code signal — a standalone re-measure at the SAME HEAD in
      * the same JVM, outside the suite's parallel pressure, settles
      * which. When the two-condition alert fires, re-measure each
      * flagged key in a fresh isolated block RIGHT HERE and write both
      * numbers + the verdict into the artifact: standalone
      * reproducing the committed cost (raw ratio <= 1.5) means the
      * in-suite number was suite-pressure artifact; standalone staying
      * elevated means code (or cross-round host drift — then the
      * CLAUDE.md worktree A/B is the tiebreak, and the verdict string
      * says so). */
    def standaloneThunk(k: String): Option[() => Double] = k match {
      case "stream_trigger_quarter_corpus" => Some(() => streamingTriggerOnce(sfDir, 0.25))
      case "stream_trigger_full_corpus" => Some(() => streamingTriggerOnce(sfDir, 1.0))
      case "stream_exact_trigger_quarter_corpus" => Some(() => streamingExactTriggerOnce(sfDir, 0.25))
      case "stream_exact_trigger_full_corpus" => Some(() => streamingExactTriggerOnce(sfDir, 1.0))
      case "stream_cdc_trigger_quarter_corpus" => Some(() => streamingCdcTriggerOnce(sfDir, 0.25))
      case "stream_cdc_trigger_full_corpus" => Some(() => streamingCdcTriggerOnce(sfDir, 1.0))
      case "stream_span_trigger_quarter_corpus" => Some(() => streamingSpanTriggerOnce(sfDir, 0.25))
      case "stream_span_trigger_full_corpus" => Some(() => streamingSpanTriggerOnce(sfDir, 1.0))
      case "stream_simhash_trigger_quarter_corpus" => Some(() => streamingSimhashTriggerOnce(sfDir, 0.25))
      case "stream_simhash_trigger_full_corpus" => Some(() => streamingSimhashTriggerOnce(sfDir, 1.0))
      case "stream_simhash64_trigger_quarter_corpus" => Some(() => streamingSimhash64TriggerOnce(sfDir, 0.25))
      case "stream_simhash64_trigger_full_corpus" => Some(() => streamingSimhash64TriggerOnce(sfDir, 1.0))
      case "stream_minhash_trigger_quarter_corpus" => Some(() => streamingMinhashTriggerOnce(sfDir, 0.25))
      case "stream_minhash_trigger_full_corpus" => Some(() => streamingMinhashTriggerOnce(sfDir, 1.0))
      case "stream_emb_trigger_quarter_corpus" => Some(() => streamingEmbTriggerOnce(sfDir, 0.25))
      case "stream_emb_trigger_full_corpus" => Some(() => streamingEmbTriggerOnce(sfDir, 1.0))
      case "stream_emb64_trigger_quarter_corpus" => Some(() => streamingEmb64TriggerOnce(sfDir, 0.25))
      case "stream_emb64_trigger_full_corpus" => Some(() => streamingEmb64TriggerOnce(sfDir, 1.0))
      case "stream_cluster_trigger_quarter_corpus" => Some(() => streamingClusterTriggerOnce(100000L))
      case "stream_cluster_trigger_full_corpus" => Some(() => streamingClusterTriggerOnce(400000L))
      case qk if SparkEntry.queries.contains(qk) => Some(() => runNoop(qk))
      case _ => None
    }
    val resultMap = results.toMap
    val standaloneAdjudications: Seq[(String, Double, String)] =
      regressions.map { case (k, norm) =>
        val sMed = standaloneThunk(k)
          .map(th => medianOf((0 until reps).map(_ => th()))._1)
          .getOrElse(-1.0)
        val prev = prevQueries.getOrElse(k, -1.0)
        val inSuite = resultMap.get(k).map(_._1).getOrElse(-1.0)
        val sRaw = if (sMed > 0 && prev > 0) sMed / prev else -1.0
        val pressureArtifact = sMed > 0 && sRaw >= 0 && sRaw <= 1.5
        val verdict =
          if (sMed < 0) "standalone-remeasure-failed"
          else if (pressureArtifact)
            "in-suite-pressure-artifact: standalone reproduces committed" +
              " (standalone median written as the canonical cost)"
          else "standalone-elevated: code-attributed (or cross-round " +
            "host drift - tiebreak with the CLAUDE.md worktree A/B)"
        (k, if (pressureArtifact) sMed else -1.0,
          s"""{"in_suite":${r3(inSuite)},"standalone":${r3(sMed)},""" +
            s""""prev":${r3(prev)},"norm_ratio":${r3(norm)},""" +
            s""""standalone_ratio":${r3(sRaw)},"verdict":"$verdict"}""")
      }
    val standaloneJson = standaloneAdjudications
      .map { case (k, _, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    if (standaloneAdjudications.nonEmpty)
      System.err.println("[bench] standalone adjudication: " + standaloneJson)
    // r17 (VERDICT item 7): when the two-condition alert fired AND the
    // machine-run standalone re-measure reproduced the committed cost,
    // the in-suite median is a KNOWN measurement artifact (suite
    // cache/heap pressure — recurred r12, r14, r16 and burned a manual
    // adjudication each time). Write the standalone median as the
    // key's canonical cost in `queries`; BOTH numbers stay recorded in
    // trigger_standalone (in_suite + standalone), so nothing is lost.
    // Keys whose standalone stayed elevated keep the in-suite number —
    // a real regression cannot hide behind this substitution.
    val canon: Map[String, Double] = standaloneAdjudications
      .collect { case (k, s, _) if s > 0 => k -> s }.toMap
    val resultsCanon = results.map { case (k, (med, lo, hi)) =>
      canon.get(k).map(s => (k, (s, math.min(lo, s), math.max(hi, s))))
        .getOrElse((k, (med, lo, hi)))
    }
    val total = resultsCanon.map(_._2._1).filter(_ >= 0).sum
    val qsFull = jmap(resultsCanon.map { case (k, (med, _, _)) => k -> med },
      _.toString)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(artifact),
      (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"query_spread":$spread,"canary_before":${jmap(canaryBefore, _.toString)},"canary_after":${jmap(canaryAfter, _.toString)},"canary_mid":${canaryMid.mkString("[", ",", "]")},"canary_drift":$canaryDrift,"host_factor":${r3(hostFactor)},"noise_envelope":${r3(noiseEnvelope)},"regression_adjudication":"$adjudication","ingest_events_per_sec":$eps,"trigger_regressions":$regJson,"trigger_standalone":$standaloneJson,"sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8"))
    val headlineKeys = Seq("events_parse", "app_list", "task_quantiles",
      "critical_path", "dedup_exact", "dedup_ngram", "dedup_minhash",
      "dedup_minhash_fast", "dedup_simhash", "dedup_embedding",
      "dedup_clusters", "ann_topk", "ann_lsh", "ann_ivf", "ann_pq",
      "knn_graph", "text_stats", "quality_score", "lang_id", "bm25_search",
      "curate_corpus", "shingle_store_write", "dedup_family_shared",
      "stream_trigger_full_corpus", "stream_exact_trigger_full_corpus",
      "stream_simhash_trigger_full_corpus",
      "stream_minhash_trigger_full_corpus",
      "stream_emb_trigger_full_corpus",
      "stream_cluster_trigger_full_corpus").toSet
    val hl = if (only.isDefined) resultsCanon
      else resultsCanon.filter(kv => headlineKeys.contains(kv._1))
    val qs = jmap(hl.map { case (k, (med, _, _)) => k -> med }, r3)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"canary_drift":${r3(canaryDrift)},"host_factor":${r3(hostFactor)},"ingest_events_per_sec":$eps,"trigger_regression_alert":${regressions.nonEmpty},"trigger_regressions":$regJson,"trigger_standalone":$standaloneJson,"sf":"$sfDir","full":"$artifact"}""")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(benchRoot.toFile)
  }

  /** Event-log ingest throughput: parse 256k synthetic SparkListener
    * JSON lines through the real parser path (text read -> from_json
    * explicit schema -> hot-field extraction) into a noop sink.
    * Comparable to the reference's 20-30k events/sec DuckDB-insert
    * claim (reference: README.md:13). */
  private def ingestEventsPerSec(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Long = {
    val nFiles = 64
    val perFile = 4000
    for (f <- 0 until nFiles) {
      val sb = new StringBuilder
      for (i <- 0 until perFile) {
        val ts = 1700000000000L + i.toLong * 500
        sb.append(s"""{"Event":"SparkListenerTaskEnd","Task End Reason":{"Reason":"Success"},"Task Info":{"Task ID":$i,"Stage ID":${i % 50},"Executor ID":"${i % 16}","Host":"host-${i % 8}","Locality":"PROCESS_LOCAL","Launch Time":$ts,"Finish Time":${ts + 900}},"Task Metrics":{"Executor Run Time":${800 + i % 200},"Executor CPU Time":${(600 + i % 100) * 1000000L},"JVM GC Time":${i % 50},"Peak Execution Memory":${(i % 64 + 1) * 1048576L},"Memory Bytes Spilled":0,"Disk Bytes Spilled":0,"Input Metrics":{"Bytes Read":${i * 1024L}},"Output Metrics":{"Bytes Written":${i * 256L}},"Shuffle Read Metrics":{"Total Bytes Read":4096,"Remote Bytes Read":2048,"Local Bytes Read":2048},"Shuffle Write Metrics":{"Shuffle Bytes Written":1024}},"Task Executor Metrics":{"JVMHeapMemory":1073741824}}""")
          .append('\n')
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"app-bench-$f%04d.json"),
        sb.toString.getBytes("UTF-8"))
    }
    // Warm once, then best-of-3: the from_json generated code is a
    // huge method and the C2 compile of it lands unpredictably across
    // the first few runs (observed 16s vs 1.0s for the identical job
    // in one JVM) — a single timed run reports compiler noise, the
    // fastest of three reports the steady state an actual ingest
    // pipeline runs at.
    graft.events.EventLogParser.read(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val secs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      graft.events.EventLogParser.read(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    (nFiles.toLong * perFile / secs).toLong
  }
}
