package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, max, md5}
import graft.pipeline.{Dedup, Embeddings, TextAnalysis}
import graft.streaming.{StreamingCdcDedup, StreamingClusters, StreamingDedup,
  StreamingEmbeddingDedup, StreamingExactDedup, StreamingMinhashDedup,
  StreamingSimhashDedup, StreamingSpanDedup}
import graft.obs.{Work, WorkLedger}
import scala.jdk.CollectionConverters._

/** Benchmark main: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR with a noop-sink write (forces full column
  * materialisation — `.count()` would let Spark skip work), after a
  * warmup pass that absorbs JVM/codegen startup, plus the
  * [[Scenarios]] table. Prints ONE JSON line. */
object Bench {
  /** The core count SURVEY §4's generated numbers claim (`local[32]`):
   *  only a full-suite run at this count writes bench_local_last.json,
   *  the artifact those numbers are generated from. */
  val SurveyCpus = 32

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ERROR, not WARN: the bounded-frame global windows in a few
    // operators emit a benign WindowExec WARN per plan, and dozens of
    // them flood the ~2000-char stdout tail the harness keeps,
    // crowding out the one JSON line this main exists to print.
    val spark = DevSession.local("ERROR")

    // ONE bench-scoped temp root: every helper's scratch (seeded
    // streaming state, shared stores, synthetic ingest logs) nests
    // under it and the whole tree is deleted before exit — a bench
    // invocation no longer accumulates corpus-scale temp copies on
    // the host (round-8 ADVICE). The finally covers every exit path:
    // a failed ingest probe or artifact write leaves nothing behind.
    val benchRoot = java.nio.file.Files.createTempDirectory("graft-bench")
    try run(spark, sfDir, DevSession.cpus, benchRoot)
    finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(benchRoot.toFile)
    }
  }

  private def run(spark: SparkSession, sfDir: String, cpus: Int,
                  benchRoot: java.nio.file.Path): Unit = {
    val ledger = WorkLedger.install(spark)
    /** One timed run of a query: its work, wall time included; None
      * when it failed. */
    def runNoop(name: String): Option[Work] = {
      spark.catalog.clearCache() // operators cache intermediates; isolate queries
      System.gc() // settle heap so one query's garbage isn't billed to the next
      try Some(ledger.measure(noop(SparkEntry.queries(name)(spark, sfDir)))._2)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      }
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
    // suite); only ODD values give a true median — `median` returns
    // the upper-middle sample for even N, fine for spread bounds but
    // document the intent by using 3 or 5.
    val reps = math.max(1, sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(3))

    // Warmup: run every query once at the smallest scale factor so
    // Janino compilation + JIT of the generated code is NOT billed to
    // the timed run (the generated code is identical across scale
    // factors; only the data volume changes). Standard warmup practice
    // — the timed numbers then reflect data-proportional work.
    val warmDir = "/root/testdata/sf0.001"
    val ctx = new Ctx(spark, ledger, sfDir, warmDir, benchRoot)
    // Dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the run to named keys
    // (a scenario row runs when either of its keys is named). Round
    // artifacts are always produced with the variable unset.
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
      else if (cpus == SurveyCpus) "bench_local_last.json"
      else s"bench_local_c$cpus.json"
    for (n <- names) {
      spark.catalog.clearCache()
      try noop(SparkEntry.queries(n)(spark, warmDir))
      catch { case _: Throwable => () }
    }

    // Every scenario row: warm once (absorbs codegen/JIT like every
    // other query), then `reps` timed calls, in table order.
    val scenarioRuns = Scenarios
      .filter(s => only.forall(o => o.contains(s.keys._1) || o.contains(s.keys._2)))
      .map { s =>
        s.warm(ctx)
        s -> (0 until reps).map(_ => s.timed(ctx))
      }

    /** `reps` full passes over the suite, each in a DIFFERENT
      * deterministic shuffled order, median per query ACROSS passes
      * (not back-to-back samples): round 8/9 showed untouched-file
      * queries moving 2-3x round-over-round — back-to-back sampling
      * bills whatever JVM phase (heap shape, C2 recompile, host noise)
      * a query's fixed slot lands in to that query in EVERY sample, so
      * the median can't average it away. Randomizing the slot per pass
      * decorrelates query identity from JVM phase; the cross-pass
      * median is then comparable round-over-round. Seeds are fixed
      * constants so two runs of the same build time the identical
      * schedule. */
    val passRuns: Seq[Map[String, Option[Work]]] = (0 until reps).map { rep =>
      val order = new scala.util.Random(7919L * (rep + 1)).shuffle(names)
      order.map(n => n -> runNoop(n)).toMap
    }
    val runs: Seq[(String, Seq[Option[Work]])] =
      names.map(n => n -> passRuns.map(_(n))) ++ scenarioRuns.flatMap {
        case (s, rs) => Seq(s.keys._1 -> rs.map(_._1), s.keys._2 -> rs.map(_._2))
      }
    val results = runs.map { case (k, rs) =>
      k -> median(rs.map(_.fold(-1.0)(_.wallMs / 1e3)))
    }
    // Work counters of every key whose runs all succeeded, each the
    // median across reps. Unlike wall time they barely move when the
    // host drifts, so they are what the trigger rule compares.
    val counters = runs.collect {
      case (k, rs) if rs.forall(_.isDefined) => k -> counterMedians(rs.flatten)
    }
    def r3(x: Double): String =
      if (x < 0) "-1" else BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def num(x: Double): String = if (x == math.rint(x)) x.toLong.toString else r3(x)
    def jobj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val eps = ingestEventsPerSec(spark, ctx.tmp("graft-ingest"))
    // Trigger-cost regression gate (round-10 lesson: the uncached-
    // candidates regression shipped green through every correctness
    // gate and only a cross-round bench diff could see it): before
    // overwriting the previous artifact, compare this run's
    // incremental/trigger keys' counters against it — the alert rides
    // the stdout JSON AND stderr so a round summary cannot miss it.
    val regressions = triggerRegressions(counters.toMap.map {
      case (k, cs) => k -> cs.toMap
    }, prevCounters(artifact, sfDir))
    val regJson = jobj(regressions.map { case (k, moved) =>
      k -> jobj(moved.map { case (c, was, now) => c -> s"[${num(was)},${num(now)}]" })
    })
    if (regressions.nonEmpty)
      System.err.println("[bench] TRIGGER-COST REGRESSION vs previous artifact " +
        "(counters as [previous, now]): " + regJson)
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // Full-precision medians + (min,max) spreads + counters go to a
    // local artifact (committed per round as bench_local_r*.json);
    // stdout gets a COMPACT line — the harness that collects
    // BENCH_r*.json keeps only the last ~2000 chars of output, and
    // rounds 1-5 proved a full-precision line with spreads overflows
    // that window and is dropped unparsed. With 177 keys even the
    // 3-decimal full map is ~4.5k chars (the r06-r08 "parsed": null),
    // so stdout carries a PINNED HEADLINE SUBSET plus the suite total;
    // the committed local artifact stays complete.
    val spread = jobj(results.map { case (k, (_, lo, hi)) => k -> s"[$lo,$hi]" })
    val qsFull = jobj(results.map { case (k, (med, _, _)) => k -> med.toString })
    val countersJson = jobj(counters.map { case (k, cs) =>
      k -> jobj(cs.map { case (c, v) => c -> num(v) })
    })
    java.nio.file.Files.write(
      java.nio.file.Paths.get(artifact),
      (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"query_spread":$spread,"counters":$countersJson,"ingest_events_per_sec":$eps,"trigger_regressions":$regJson,"sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8"))
    val headlineKeys = Seq("events_parse", "app_list", "task_quantiles",
      "critical_path", "dedup_exact", "dedup_ngram", "dedup_minhash",
      "dedup_simhash", "dedup_embedding",
      "dedup_clusters", "ann_topk", "ann_lsh", "ann_ivf", "ann_pq",
      "knn_graph", "text_stats", "quality_score", "lang_id", "bm25_search",
      "curate_corpus", "shingle_store_write", "dedup_family_shared",
      "stream_trigger_full_corpus", "stream_exact_trigger_full_corpus",
      "stream_simhash_trigger_full_corpus",
      "stream_minhash_trigger_full_corpus",
      "stream_emb_trigger_full_corpus",
      "stream_cluster_trigger_full_corpus").toSet
    val hl = if (only.isDefined) results
      else results.filter(kv => headlineKeys.contains(kv._1))
    val qs = jobj(hl.map { case (k, (med, _, _)) => k -> r3(med) })
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"ingest_events_per_sec":$eps,"trigger_regression_alert":${regressions.nonEmpty},"trigger_regressions":$regJson,"sf":"$sfDir","full":"$artifact"}""")
  }

  /** Per counter, the median across `ws` (upper-middle for even N). */
  private[graft] def counterMedians(ws: Seq[Work]): Seq[(String, Double)] =
    ws.map(_.counters).transpose.map(cs => cs.head._1 -> cs.map(_._2).sorted.apply(cs.size / 2))

  /** How far each work counter may rise before the trigger rule flags
    * it: any rise in job count, task CPU or shuffle bytes beyond 1.5x. */
  private val RegressionFactors = Seq("jobs" -> 1.0, "task_cpu_ms" -> 1.5,
    "shuffle_bytes" -> 1.5)

  /** The trigger-cost rule: each `_incr`/`_trigger_` key of `now` whose
    * counters moved past [[RegressionFactors]] against `prev`, with the
    * moved counters as (name, previous, now). Counters alone decide:
    * wall time, and the driver gap derived from it, follow the host. A
    * key without a baseline in `prev` is not flagged. */
  private[graft] def triggerRegressions(now: Map[String, Map[String, Double]],
      prev: Map[String, Map[String, Double]]): Seq[(String, Seq[(String, Double, Double)])] =
    now.toSeq.sortBy(_._1).flatMap { case (k, cs) =>
      prev.get(k).filter(_ => k.contains("_incr") || k.contains("_trigger_")).map { p =>
        k -> RegressionFactors.collect {
          case (c, f) if p.contains(c) && cs.get(c).exists(_ > f * p(c)) => (c, p(c), cs(c))
        }
      }
    }.filter(_._2.nonEmpty)

  /** The previous artifact's `counters`, when it exists and was taken
    * at the same scale factor (counters scale with the data). */
  private def prevCounters(artifact: String, sfDir: String): Map[String, Map[String, Double]] =
    scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(artifact))))
      .toOption
      .filter(r => Option(r.get("sf")).exists(_.asText == sfDir))
      .flatMap(r => Option(r.get("counters")))
      .map(_.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala
          .map(c => c.getKey -> c.getValue.asDouble).toMap
      }.toMap)
      .getOrElse(Map.empty)

  /** Median with (min, max) spread; one failed sample (-1) fails the
    * key. Even N reports the upper-middle sample. */
  private[graft] def median(ts: Seq[Double]): (Double, Double, Double) =
    if (ts.exists(_ < 0)) (-1.0, -1.0, -1.0)
    else (ts.sorted.apply(ts.size / 2), ts.min, ts.max)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** What a scenario call needs from the running bench: the session,
    * its work ledger, the timed and the warm-up scale factor, and the
    * bench temp root. */
  private[graft] final class Ctx(val spark: SparkSession, val ledger: WorkLedger,
                                 val sfDir: String, val warmDir: String,
                                 root: java.nio.file.Path) {
    /** A fresh dir under the bench root. */
    def tmp(prefix: String): String =
      java.nio.file.Files.createTempDirectory(root, prefix).toString
    private val stores = scala.collection.mutable.Map.empty[String, String]
    /** One dir per name for the whole run: a store-family row's timed
      * write overwrites the previous call's store at the same path. */
    def store(name: String): String = stores.getOrElseUpdate(name, tmp(name))
  }

  /** One bench scenario outside `SparkEntry.queries`: two result keys,
    * a warm-up call, and the timed call giving one measured run per key
    * (None = failed). */
  private[graft] final case class Scenario(
      keys: (String, String),
      warm: Ctx => Unit,
      timed: Ctx => (Option[Work], Option[Work]))

  /** The three calls of a trigger row: `Warm` absorbs codegen/JIT,
    * `Quarter` and `Full` are the two timed seed sizes. */
  private sealed abstract class Point(val name: String, val seedFrac: Double)
  private case object Warm extends Point("warm", 1.0)
  private case object Quarter extends Point("quarter", 0.25)
  private case object Full extends Point("full", 1.0)

  /** A trigger row: `once(c, point)` seeds the state and times ONE
    * trigger; the quarter and full seeds are timed back to back. */
  private def triggerRow(quarterKey: String, fullKey: String)(
      once: (Ctx, Point) => Option[Work]): Scenario =
    Scenario((quarterKey, fullKey), c => once(c, Warm),
      c => (once(c, Quarter), once(c, Full)))

  /** The one trigger harness: clear the cache, settle the heap, let
    * `seed` write the state stores under a fresh dir and hand back the
    * trigger call, then measure that call alone. Any failure gives
    * None. */
  private def timeTrigger(c: Ctx, label: String)(
      seed: String => (() => Unit)): Option[Work] = {
    c.spark.catalog.clearCache()
    System.gc()
    try {
      val trigger = seed(c.tmp(s"graft-$label"))
      Some(c.ledger.measure(trigger())._2)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $label failed: ${e.getMessage}")
      None
    }
  }

  private final case class Table(name: String, id: String, value: String)
  private val Docs = Table("documents", "doc_id", "text")
  private val Vectors = Table("embeddings", "vec_id", "embedding")

  /** Streaming trigger cost vs corpus size: seed the state stores from
    * a PREFIX of `t`, then time ONE trigger on the same fixed tail
    * batch (the last ~4% of ids). Run at a quarter-size and a
    * full-size seed — the two timings being ~equal is the measured
    * form of the "per-trigger cost tracks arrival rate, not corpus
    * size" claim. The warm-up call runs a full-size seed at the
    * smallest scale factor. */
  private def tailRow(quarterKey: String, fullKey: String, t: Table)(
      seed: (DataFrame, String) => Unit)(
      call: (DataFrame, String) => Unit): Scenario =
    triggerRow(quarterKey, fullKey) { (c, p) =>
      val family = quarterKey.stripSuffix("_quarter_corpus")
      timeTrigger(c, s"${family}_${p.name}") { base =>
        val dir = if (p == Warm) c.warmDir else c.sfDir
        val rows = c.spark.read.parquet(s"$dir/${t.name}.parquet")
        val maxId = rows.agg(max(t.id)).collect()(0).getLong(0)
        val batchStart = maxId - math.max(1L, maxId / 25) // last ~4%
        val seedN = (batchStart * p.seedFrac).toLong
        seed(rows.filter(col(t.id) < seedN).select(t.id, t.value), base)
        val batch = rows.filter(col(t.id) >= batchStart).select(t.id, t.value)
        () => call(batch, base)
      }
    }

  /** A store-family row: write the shared store ONCE, then run its
    * three consumers from it; (write, family) seconds come from one
    * run. The store keeps one path for the whole bench. */
  private def storeRow(writeKey: String, familyKey: String, table: String)(
      write: (DataFrame, String) => Unit)(
      family: (DataFrame, Option[DataFrame]) => Unit): Scenario = {
    def once(c: Ctx, dir: String): (Option[Work], Option[Work]) = {
      c.spark.catalog.clearCache()
      System.gc()
      val store = c.store(writeKey)
      try {
        val rows = c.spark.read.parquet(s"$dir/$table.parquet")
        val (_, tWrite) = c.ledger.measure(write(rows, store))
        val pre = Some(c.spark.read.parquet(store))
        (Some(tWrite), Some(c.ledger.measure(family(rows, pre))._2))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $familyKey failed: ${e.getMessage}")
        (None, None)
      }
    }
    Scenario((writeKey, familyKey), c => once(c, c.warmDir), c => once(c, c.sfDir))
  }

  /** Every bench scenario beyond `SparkEntry.queries`, in run order.
    * `run` gates, warms, measures and reports each row with one loop,
    * so adding a scenario is adding a row. */
  private[graft] val Scenarios: Seq[Scenario] = Seq(
    // The streaming CLUSTER fold: seed a label store of `seedN` docs
    // (paired into 2-clusters), then time ONE processPairs of a fixed
    // 1k-pair batch (each pair bridges one old cluster to one new
    // doc). The fold is touched-only, so the quarter-vs-full gap can
    // only come from the delta store's columnar scan.
    triggerRow("stream_cluster_trigger_quarter_corpus",
        "stream_cluster_trigger_full_corpus") { (c, p) =>
      val seedN = p match {
        case Warm => 10000L
        case Quarter => 100000L
        case Full => 400000L
      }
      timeTrigger(c, s"stream_cluster_trigger_${p.name}") { base =>
        val labels = s"$base/labels"
        c.spark.range(seedN)
          .select(col("id").as("doc_id"),
            expr("id - id % 2").as("label"),
            expr("CAST(0 AS BIGINT)").as("batch_id"))
          .write.mode("overwrite").parquet(labels)
        val pairs = c.spark.range(1000)
          .select(expr("id * 2").as("doc_a"),
            (col("id") + seedN).as("doc_b"))
        () => StreamingClusters.processPairs(pairs, 1L, labels)
      }
    },
    // The n-gram near-dup loop (state = corpus + shingles + gram-df):
    // the trigger reads only the maintained stores; nothing
    // re-shingles corpus text.
    tailRow("stream_trigger_quarter_corpus", "stream_trigger_full_corpus",
        Docs) { (seed, base) =>
      seed.write.mode("overwrite").parquet(s"$base/corpus")
      Dedup.writeShingleStore(seed, s"$base/shingles")
      seed.sparkSession.read.parquet(s"$base/shingles").groupBy("gram")
        .agg(count(lit(1)).as("df_cnt"))
        .write.mode("overwrite").parquet(s"$base/gramdf")
    } { (batch, base) =>
      StreamingDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/pairs", s"$base/shingles",
        s"$base/gramdf", maxDf = 5L, minJaccard = 0.2)
    },
    // The streaming MINHASH member (state = shingle store + per-doc
    // signature store).
    tailRow("stream_minhash_trigger_quarter_corpus",
        "stream_minhash_trigger_full_corpus", Docs) { (seed, base) =>
      Dedup.writeShingleStore(seed, s"$base/shingles")
      Dedup.minhashSignatures(seed)
        .write.mode("overwrite").parquet(s"$base/sig")
    } { (batch, base) =>
      StreamingMinhashDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/pairs", s"$base/shingles", s"$base/sig",
        minJaccard = 0.2)
    },
    // The streaming EMBEDDING member (state = the shared ANN quantized
    // index), seeded from a vector prefix.
    tailRow("stream_emb_trigger_quarter_corpus",
        "stream_emb_trigger_full_corpus", Vectors) { (seed, base) =>
      Embeddings.writeQuantizedStore(seed, s"$base/qv")
      Embeddings.writeEmbFingerprintStore(seed, s"$base/qv_fp")
    } { (batch, base) =>
      // the 32-plane banding is PINNED (the default is now
      // auto-width): this key tracks the narrow mode's
      // linear-in-state cost across rounds
      StreamingEmbeddingDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/pairs", s"$base/qv", minCosine = 0.4,
        planes = Embeddings.NumPlanes)
    },
    // The WIDE (64-plane, 16-bit-band) variant of the embedding
    // trigger — the corpus-scale banding. The quantized store is
    // width-agnostic (fingerprints are derived), so the pair of keys
    // measures the same state under both bandings: the 32-plane
    // trigger's candidate mass grows linearly with the store (4x8-bit
    // bands saturate — the simhash-32 shape, measured 4.7x per 4x
    // state in the sf10 probe), the wide banding keeps occupancy
    // flat at a measured recall S-curve shift (EmbeddingsSpec).
    tailRow("stream_emb64_trigger_quarter_corpus",
        "stream_emb64_trigger_full_corpus", Vectors) { (seed, base) =>
      Embeddings.writeQuantizedStore(seed, s"$base/qv")
      Embeddings.writeEmbFingerprintStore(seed, s"$base/qv_fp")
    } { (batch, base) =>
      StreamingEmbeddingDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/pairs", s"$base/qv", minCosine = 0.4,
        planes = Embeddings.NumPlanesWide)
    },
    // The cheapest-state streaming member, SIMHASH (state = ONE long
    // per corpus doc): the fp store is seeded at 32 bits (the
    // `simhash_fp` projection fingerprint path). The
    // trigger's only file scan is the fp store, so the quarter-vs-full
    // gap can only come from its columnar scan.
    tailRow("stream_simhash_trigger_quarter_corpus",
        "stream_simhash_trigger_full_corpus", Docs) { (seed, base) =>
      Dedup.writeSimhashStore(seed, s"$base/fp")
    } { (batch, base) =>
      // explicitly the LEGACY 32-bit width: the library default
      // flipped to SimBitsWide, but this key IS the 32-bit series
      // (the cliff the pair of keys exists to keep measured)
      StreamingSimhashDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/pairs", s"$base/fp",
        maxHamming = 3, fpBits = Dedup.SimBits)
    },
    // The WIDE (64-bit, 16-bit-band) variant of the simhash trigger —
    // the corpus-scale setting. Same seed/batch protocol, bit votes
    // over gram ids (the native simhash_fp expression is 32-bit);
    // the pair of keys exists so the 32-vs-64 band-occupancy story is
    // measured, not asserted (the sf10 probe caught the 32-bit
    // trigger growing linearly with the store).
    tailRow("stream_simhash64_trigger_quarter_corpus",
        "stream_simhash64_trigger_full_corpus", Docs) { (seed, base) =>
      Dedup.writeSimhashStore(seed, s"$base/fp", fpBits = Dedup.SimBitsWide)
    } { (batch, base) =>
      StreamingSimhashDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/pairs", s"$base/fp",
        maxHamming = 3, fpBits = Dedup.SimBitsWide)
    },
    // The EXACT-dedup ingest loop (state = hash + bloom stores). The
    // bloom store is <= m/64 rows at ANY seed, so the quarter-vs-full
    // gap can only come from the hash-store verify join's columnar
    // scan.
    tailRow("stream_exact_trigger_quarter_corpus",
        "stream_exact_trigger_full_corpus", Docs) { (seed, base) =>
      seed.select(col("doc_id"), md5(col("text")).as("content_hash"))
        .write.mode("overwrite").parquet(s"$base/hashes")
      Dedup.bloomWords(seed)
        .write.mode("overwrite").parquet(s"$base/bloom")
    } { (batch, base) =>
      StreamingExactDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/hashes", s"$base/bloom",
        Dedup.BloomBits, Dedup.BloomProbes)
    },
    // The CDC chunk-store admission gate (state = the (fp, len) chunk
    // store). The trigger's only file scan is the chunk store, so the
    // quarter-vs-full gap can only come from its columnar scan + the
    // membership join's store-side cardinality.
    tailRow("stream_cdc_trigger_quarter_corpus",
        "stream_cdc_trigger_full_corpus", Docs) { (seed, base) =>
      Dedup.writeCdcChunkStore(seed, s"$base/chunks")
    } { (batch, base) =>
      StreamingCdcDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/chunks")
    },
    // The streaming SPAN member (state = the SUM-folded gram-count
    // delta store). The trigger's only file scan is the gram-count
    // store, so the quarter-vs-full gap can only come from its
    // columnar scan + the count-probe join's store-side cardinality.
    tailRow("stream_span_trigger_quarter_corpus",
        "stream_span_trigger_full_corpus", Docs) { (seed, base) =>
      TextAnalysis.spanGramCounts(seed)
        .write.mode("overwrite").parquet(s"$base/gramcnt")
    } { (batch, base) =>
      StreamingSpanDedup.processBatch(batch, 0L,
        s"$base/corpus", s"$base/stats", s"$base/gramcnt",
        k = 5, maxDupRatio = 0.5)
    },
    // Shared-shingle-store scenario: materialize the (doc_id, gram)
    // store ONCE, then run the whole near-dup family (ngram + minhash
    // + simhash) from it — the index-at-write-time shape every real
    // corpus pipeline uses. Timed as TWO keys: the one-time store
    // write (`shingle_store_write`, amortized across every consumer
    // of the store, not just these three) and the from-store family
    // run (`dedup_family_shared`, to compare against the sum of the
    // three cold per-query medians that each pay tokenize+gram
    // explode themselves). SimHash's 32-bit fingerprint pass is the
    // native `simhash_fp` projection over text and takes no store, so
    // only the n-gram and MinHash members read it.
    storeRow("shingle_store_write", "dedup_family_shared", "documents")(
        Dedup.writeShingleStore(_, _)) { (docs, sh) =>
      noop(Dedup.dedupNgram(docs, precomputedShingles = sh))
      noop(Dedup.dedupMinhash(docs, precomputedShingles = sh))
      noop(Dedup.dedupSimhash(docs))
    },
    // Shared-quantized-store scenario, the embedding-family twin of
    // `dedup_family_shared`: materialize the (vec_id, qarr, nq) ANN
    // index ONCE (`quantized_store_write`), then run three consumers
    // (sign-bit near-dup, kNN graph, per-cell outliers) from it
    // (`emb_family_shared`) — vs each cold query re-quantizing the
    // corpus itself.
    storeRow("quantized_store_write", "emb_family_shared", "embeddings")(
        Embeddings.writeQuantizedStore(_, _)) { (emb, qv) =>
      noop(Embeddings.dedupEmbedding(emb, precomputedQuantized = qv))
      noop(Embeddings.knnGraph(emb, precomputedQuantized = qv))
      noop(Embeddings.embOutliers(emb, precomputedQuantized = qv))
    })

  /** Event-log ingest throughput: parse 256k synthetic SparkListener
    * JSON lines through the real parser path (text read -> from_json
    * explicit schema -> hot-field extraction) into a noop sink.
    * Comparable to the reference's 20-30k events/sec DuckDB-insert
    * claim (reference: README.md:13). */
  private def ingestEventsPerSec(spark: SparkSession,
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
    noop(graft.events.EventLogParser.read(spark, dir))
    val secs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      noop(graft.events.EventLogParser.read(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }.min
    (nFiles.toLong * perFile / secs).toLong
  }
}
