package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Clustering, Curation, Dedup}
import graft.streaming.{StreamingClusters, StreamingDedup, StreamingExactDedup}

/** `corpus_pipeline`: LLM-corpus dedup, batch then streaming. The batch
 *  phase runs near-dup dedup and clustering over a prefix of the corpus
 *  through `pipeline` functions and writes the streaming state, with
 *  curation first in a traced run only (it feeds no state, and leaving
 *  it out of the untraced run keeps a run's time in budget); the stream
 *  phase admits fixed-size batches of the rest through
 *  `StreamingExactDedup` -> `StreamingDedup` -> `StreamingClusters`. */
final class CorpusPipeline extends Workload {
  import CorpusPipeline._

  def run(spark: SparkSession, cfg: Config, setup: Setup, report: Report): Unit = {
    if (cfg.trace) Trace.active = Some(new Tracer(spark))
    val triggers = math.max(3, cfg.seconds * TriggersPer20s / 20)
    var gen: DocGen = null
    (1 to SetupReps).foreach { _ =>
      gen = setup.rep(new DocGen(cfg.seed, Prefix + triggers * BatchDocs))
    }
    report.info("corpus") = gen.describe ++ Map("prefix_docs" -> Prefix,
      "batch_docs" -> BatchDocs, "triggers" -> triggers)
    val prefix = setup.once {
      frame(spark, gen.docs.take(Prefix)).write.parquet(cfg.uri("prefix"))
      spark.read.parquet(cfg.uri("prefix"))
    }

    // Set-up: the batch phase writes the streaming state (its first pass
    // in this JVM, so its time is mostly JIT and codegen); then warm-up
    // triggers of throwaway documents run on a copy of that state.
    val state = new State(cfg, "state")
    val batch = setup.once {
      val (out, ms) = Util.timeMs(batchPhase(prefix, state, curate = cfg.trace))
      report.op(out.check(gen, state.prefixAdmitted))
      report.info("batch_phase_docs_per_s_cold") = Prefix / (ms / 1000.0)
      report.info("batch_phase_cold_ms") = out.layers.filter(_._1.endsWith("_ms"))
      out
    }
    setup.once(Trace.off(warmUp(spark, cfg, state)))
    Util.log("set-up done")

    // Stream phase.
    val trig = mutable.ArrayBuffer.empty[Trigger]
    (0 until triggers).foreach { t =>
      val docs = gen.docs.slice(Prefix + t * BatchDocs, Prefix + (t + 1) * BatchDocs)
      try {
        val tr = trigger(spark, frame(spark, docs).select("doc_id", "text"), t.toLong, state)
        trig += tr
        report.op(tr.check(docs, gen))
      } catch { case e: Exception => report.threw(s"trigger $t", e) }
    }
    Util.log(s"stream phase done: ${trig.size} triggers")

    val admitted = state.prefixAdmitted + trig.map(_.admitted).sum
    val (stateFiles, stateBytes) = state.files
    val ms = trig.map(_.ms).toSeq
    val lastQuarter = ms.takeRight(math.max(1, ms.size / 4))
    report.info("trigger_ms") = ms
    report.info("trigger_cpu_ms") = trig.map(_.cpuMs).toSeq
    report.info("trigger_gc_cpu_ms") = trig.map(_.gcCpuMs).toSeq
    if (ms.nonEmpty) report.info("wall_clock") = Map(
      "stream_docs_per_s" -> ms.size * BatchDocs / (ms.sum / 1000.0),
      "trigger_p50_ms" -> Stats.median(ms))
    if (ms.nonEmpty) report.info("trigger_last_quarter_p50_ms") = Stats.median(lastQuarter)
    report.info("trigger_loops_ms") = trig.map(t => Seq(t.exactMs, t.ngramMs, t.clusterMs)).toSeq
    report.info("state_bytes_per_trigger") = trig.map(_.stateBytes).toSeq
    report.info("state_files_per_trigger") = trig.map(_.stateFiles).toSeq
    if (!cfg.trace) {
      if (ms.nonEmpty) {
        report.metric("items_per_cpu_s", ms.size * BatchDocs / (trig.map(_.cpuMs).sum / 1000.0), "1/s")
        report.metric("op_cpu_ms", Stats.median(trig.map(_.cpuMs).toSeq), "ms")
      }
      report.metric("bytes_per_item", stateBytes.toDouble / admitted, "B")
    }
    Trace.active.foreach { t =>
      // The per-layer batch figures come from a second, warmer pass on
      // fresh state (traced run only).
      val warm = batchPhase(prefix, new State(cfg, "state-warm"), curate = true).layers
      val rows = trig.map(_.stateRows).toSeq
      report.info("state_rows_per_trigger") = rows
      def med(f: Trigger => Double): Double = if (trig.isEmpty) 0.0 else Stats.median(trig.map(f).toSeq)
      PerLayer.emit(report, t, Map(
        "pipeline.curate_ms" -> warm("pipeline.curate_ms"),
        "pipeline.dedup_ms" -> warm("pipeline.dedup_ms"),
        "pipeline.cluster_ms" -> warm("pipeline.cluster_ms"),
        "pipeline.pairs_out" -> batch.layers("pipeline.pairs_out"),
        "pipeline.docs_kept_ratio" -> batch.layers("pipeline.docs_kept_ratio"),
        "streaming.exact_ms" -> med(_.exactMs),
        "streaming.ngram_ms" -> med(_.ngramMs),
        "streaming.cluster_ms" -> med(_.clusterMs),
        "streaming.trigger_late_ms" -> Stats.median(lastQuarter),
        "streaming.pairs_per_trigger" -> med(_.pairs.size.toDouble),
        "streaming.admitted_ratio" -> trig.map(_.admitted).sum.toDouble / (trig.size * BatchDocs),
        "streaming.state_rows" -> rows.lastOption.getOrElse(0L).toDouble,
        "streaming.state_files" -> stateFiles.toDouble,
        "streaming.state_bytes" -> stateBytes.toDouble,
        "trace.op_p50_ms" -> Stats.median(ms)))
    }
  }
}

object CorpusPipeline {
  /** The batch phase's prefix; the stream then about triples the state. */
  val Prefix = 60
  val BatchDocs = 50
  val TriggersPer20s = 3
  val SetupReps = 3
  val MaxDf = 5L
  val MinJaccard = 0.2

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val pairSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType)))

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Ids of warm-up documents start here, past any corpus id. */
  val WarmIds = 1000000000L

  /** Directories of one run's streaming state. */
  final class State(cfg: Config, val name: String) {
    private def d(s: String) = cfg.uri(s"$name/$s")
    val hashes: String = d("exact_hashes")
    val bloom: String = d("exact_bloom")
    val shingles: String = d("ngram_shingles")
    val gramDf: String = d("ngram_gramdf")
    val labels: String = d("cluster_labels")
    def exactOut(t: Long): String = d(s"exact_docs/batch=$t")
    def ngramOut(t: Long): String = d(s"ngram_docs/batch=$t")
    def pairs(t: Long): String = d(s"ngram_pairs/t$t")
    val stores: Seq[String] = Seq("exact_hashes", "exact_bloom", "ngram_shingles", "ngram_gramdf",
      "cluster_labels")
    var prefixAdmitted = 0L
    /** (files, bytes) of the state stores. */
    def files: (Long, Long) = stores.map(s => Util.dataFiles(cfg.dir(s"$name/$s")))
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    def rows(spark: SparkSession): Long = stores.map(s => spark.read.parquet(d(s)).count()).sum
  }

  /** `manifest`: the documents curation kept, when it ran. */
  final class BatchOut(val manifest: Option[Set[Long]], val exactIds: Set[Long],
                       val pairs: Seq[(Long, Long)], val labels: Seq[(Long, Long)],
                       val layers: Map[String, Double]) {
    def check(gen: DocGen, admitted: Long): Verdict = {
      val prefix = (0L until Prefix.toLong).toSet
      val copies = gen.exactCopies.filter(_ < Prefix)
      val want = expectedPairs(gen, prefix)
      val got = pairs.map(unordered).toSet
      val m = manifest.getOrElse(Set.empty)
      val curatedDups = want.filter(p => p.subsetOf(m))
      val crossCluster = labels.filter { case (d, l) => gen.replicaOf(d) != gen.replicaOf(l) }
      if (manifest.exists(_.isEmpty)) Verdict.Wrong("curation kept no document")
      else if ((m & copies).nonEmpty) Verdict.Wrong(s"curation kept exact copies ${(m & copies).take(3)}")
      else if (curatedDups.nonEmpty) Verdict.Wrong(s"curation kept both docs of near-dup pairs ${curatedDups.take(3)}")
      else if (exactIds != prefix -- copies)
        Verdict.Wrong(s"exact dedup kept ${exactIds.size} docs, expected ${(prefix -- copies).size}")
      else if (got != want) Verdict.Wrong(pairsDiffer(got, want))
      else if (crossCluster.nonEmpty) Verdict.Wrong(s"clusters cross replicas: ${crossCluster.take(3)}")
      else if (admitted != (prefix -- copies).size - want.size)
        Verdict.Wrong(s"batch phase admitted $admitted docs, expected ${(prefix -- copies).size - want.size}")
      else Verdict.Ok
    }
  }

  private def unordered(p: (Long, Long)): Set[Long] = Set(p._1, p._2)

  /** The near-duplicate pairs among `ids`' variants: each variant with
   *  its source, which always arrives earlier. */
  def expectedPairs(gen: DocGen, ids: Set[Long]): Set[Set[Long]] =
    gen.nearDupPairs.collect { case (v, s) if ids(v) => Set(v, s) }.toSet

  private def pairsDiffer(got: Set[Set[Long]], want: Set[Set[Long]]): String =
    s"near-dup pairs differ: ${(want -- got).size} of ${want.size} missed " +
      s"(${(want -- got).take(3).map(_.toSeq.sorted)}), ${(got -- want).size} not injected " +
      s"(${(got -- want).take(3).map(_.toSeq.sorted)})"

  /** Curation if `curate`, then exact and near-dup dedup and clustering
   *  over the prefix; writes the streaming state from the survivors. */
  def batchPhase(prefix: DataFrame, st: State, curate: Boolean): BatchOut = {
    val spark = prefix.sparkSession
    val (manifest, curateMs) = Util.timeMs(Option.when(curate)(Trace.span("pipeline", "curateCorpus")(
      Curation.curateCorpus(prefix).select("doc_id").collect().map(_.getLong(0)).toSet)))
    val ((exactIds, pairs), dedupMs) = Util.timeMs(Trace.span("pipeline", "dedup") {
      val hashes = Dedup.dedupExact(prefix).select("doc_id", "content_hash")
      hashes.write.parquet(st.hashes)
      val ids = spark.read.parquet(st.hashes).select("doc_id").collect().map(_.getLong(0)).toSet
      val exact = prefix.join(spark.read.parquet(st.hashes).select("doc_id"), Seq("doc_id"), "left_semi")
      Dedup.bloomWords(exact).write.parquet(st.bloom)
      val p = Dedup.dedupNgram(exact, MaxDf, MinJaccard).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      (ids, p)
    })
    val (labels, clusterMs) = Util.timeMs(Trace.span("pipeline", "dedupClusters") {
      import spark.implicits._
      val exact = prefix.join(spark.read.parquet(st.hashes).select("doc_id"), Seq("doc_id"), "left_semi")
      val clusters = Clustering.dedupClusters(exact, precomputedPairs = Some(pairs.toDF("doc_a", "doc_b")))
      clusters.select(col("doc_id"), col("cluster_id").as("label"), lit(-1L).as("batch_id"))
        .write.parquet(st.labels)
      val survivors = exact.join(clusters.filter(col("is_survivor") === 0).select("doc_id"),
        Seq("doc_id"), "left_anti").select("doc_id", "text")
      val sh = Dedup.shingles(survivors)
      sh.write.parquet(st.shingles)
      spark.read.parquet(st.shingles).groupBy("gram").agg(count(lit(1)).as("df_cnt"))
        .write.parquet(st.gramDf)
      st.prefixAdmitted = survivors.count()
      spark.read.parquet(st.labels).select("doc_id", "label").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    })
    new BatchOut(manifest, exactIds, pairs, labels, Map(
      "pipeline.curate_ms" -> curateMs, "pipeline.dedup_ms" -> dedupMs,
      "pipeline.cluster_ms" -> clusterMs, "pipeline.pairs_out" -> pairs.size.toDouble,
      "pipeline.docs_kept_ratio" -> manifest.map(_.size.toDouble / Prefix).getOrElse(0.0)))
  }

  final case class Trigger(ms: Double, cpuMs: Double, gcCpuMs: Double, exactMs: Double, ngramMs: Double, clusterMs: Double,
                           exactIds: Set[Long], pairs: Seq[(Long, Long)], admitted: Long,
                           stateFiles: Long, stateBytes: Long, stateRows: Long) {
    def check(docs: Seq[Doc], gen: DocGen): Verdict = {
      val expect = docs.map(_.id).toSet -- gen.exactCopies
      val want = expectedPairs(gen, expect)
      val got = pairs.map(unordered).toSet
      if (exactIds != expect) {
        val kept = exactIds & gen.exactCopies
        Verdict.Wrong(s"exact gate kept ${exactIds.size} docs, expected ${expect.size}" +
          (if (kept.nonEmpty) s" (exact copies kept: ${kept.take(3)})" else ""))
      } else if (got != want) Verdict.Wrong(pairsDiffer(got, want))
      else if (admitted != expect.size - want.size)
        Verdict.Wrong(s"trigger admitted $admitted docs, expected ${expect.size - want.size}")
      else Verdict.Ok
    }
  }

  /** One trigger: exact gate, n-gram loop on its survivors, cluster fold
   *  of the n-gram pairs. */
  def trigger(spark: SparkSession, batch: DataFrame, t: Long, st: State): Trigger = {
    val t0 = System.nanoTime()
    val c0 = Util.cpuMs()
    val g0 = Util.gcCpuMs()
    val (_, exactMs) = Util.timeMs(Trace.span("streaming", "exact")(
      StreamingExactDedup.processBatch(batch, t, st.exactOut(t), st.hashes, st.bloom,
        Dedup.BloomBits, Dedup.BloomProbes)))
    val exactDocs = spark.read.schema(docSchema).parquet(st.exactOut(t))
    val (_, ngramMs) = Util.timeMs(Trace.span("streaming", "ngram")(
      StreamingDedup.processBatch(exactDocs, t, st.ngramOut(t), st.pairs(t), st.shingles,
        st.gramDf, MaxDf, MinJaccard)))
    val pairs = spark.read.schema(pairSchema).parquet(st.pairs(t))
    val (_, clusterMs) = Util.timeMs(Trace.span("streaming", "cluster")(
      StreamingClusters.processPairs(pairs, t, st.labels)))
    val ms = Util.elapsedMs(t0)
    val cpuMs = Util.cpuMs() - c0
    val gcMs = Util.gcCpuMs() - g0
    val exactIds = exactDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairList = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val admitted = spark.read.schema(docSchema).parquet(st.ngramOut(t)).count()
    val (files, bytes) = st.files
    val rows = if (Trace.active.isDefined) st.rows(spark) else 0L
    Trigger(ms, cpuMs, gcMs, exactMs, ngramMs, clusterMs, exactIds, pairList, admitted, files, bytes, rows)
  }

  /** Warm-up outside the timed phase: one trigger of throwaway
   *  documents (another seed's, with ids past the corpus) on a copy of
   *  the batch phase's state, so JIT and codegen are done before the
   *  first timed trigger. */
  def warmUp(spark: SparkSession, cfg: Config, state: State): Unit = {
    val copy = new State(cfg, "warm")
    Util.copyDir(cfg.dir(state.name), cfg.dir(copy.name))
    val docs = new DocGen(cfg.seed ^ 0x5eedL, BatchDocs).docs.map(d => d.copy(id = d.id + WarmIds))
    trigger(spark, frame(spark, docs).select("doc_id", "text"), 0L, copy)
    Util.deleteRecursively(cfg.dir(copy.name))
    Util.log("warm-up done")
  }
}
