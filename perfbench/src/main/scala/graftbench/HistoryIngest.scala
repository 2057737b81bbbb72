package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.{EventLogSource, IncrementalIngest}

/** `history_ingest`: the store's write side. A seeded fleet of event
 *  logs goes through `EventLogSource.readDirectory` -> `writeStore` in
 *  bulk; then rounds append tails to the in-progress logs and run
 *  `IncrementalIngest.ingest`, which appends each delta to a store. */
final class HistoryIngest extends Workload {
  import HistoryIngest._

  def run(spark: SparkSession, cfg: Config, setup: Setup, report: Report): Unit = {
    setup.once(warmUp(spark, cfg))
    if (cfg.trace) Trace.active = Some(new Tracer(spark))

    // Set-up: write the fleet (repeated; the median counts) and give the
    // incremental ingester its first, whole-file scan.
    var gen: EventLogGen = null
    (1 to SetupReps).foreach { _ =>
      Util.deleteRecursively(cfg.dir("fleet"))
      gen = setup.rep { val g = new EventLogGen(cfg.seed, Fleet); g.writeFleet(cfg.dir("fleet")); g }
    }
    val ingester = new IncrementalIngest(spark, cfg.dir("checkpoint.tsv").toString)
    setup.once(ingester.ingest(cfg.uri("fleet"))(appendStore(_, cfg.uri("tail-store"))))
    report.info("fleet") = gen.describe
    Util.log("set-up done")

    // Bulk: list -> parse -> partitioned store, timed per repetition.
    val bulkReps = math.max(3, cfg.seconds * BulkRepsPer20s / 20)
    val events = gen.events.toDouble
    val lines = gen.truths.map(_.lines).sum.toDouble
    val evPerS = mutable.ArrayBuffer.empty[Double]
    val evPerCpuS = mutable.ArrayBuffer.empty[Double]
    var lastFacts: StoreFacts = null
    (1 to bulkReps).foreach { i =>
      val store = cfg.dir(s"store-$i")
      try {
        val (_, ms, cpu) = Util.timeCpu {
          val canon = Trace.span("events", "readDirectory")(
            EventLogSource.readDirectory(spark, cfg.uri("fleet")))
          Trace.span("sources", "writeStore")(EventLogSource.writeStore(canon, store.toUri.toString))
        }
        evPerS += events / (ms / 1000.0)
        evPerCpuS += events / (cpu / 1000.0)
        lastFacts = StoreCheck.facts(spark.read.parquet(store.toUri.toString))
        report.op(StoreCheck.verdict(lastFacts, gen.truths))
      } catch { case e: Exception => report.threw(s"bulk ingest $i", e) }
      if (i < bulkReps) Util.deleteRecursively(store)
    }
    val (storeFiles, storeBytes) = Util.dataFiles(cfg.dir(s"store-$bulkReps"))
    Util.log("bulk phase done")
    val bulkLayers = Trace.active.map(_ => traced(spark, cfg, lines, lastFacts, gen.truths.size) ++
      HistoryServing.probeStore(spark, cfg.uri(s"store-$bulkReps"), gen.truths.map(_.appId),
        cfg.seed, cfg.cpus))

    // Tail rounds: append to every in-progress log, then one incremental
    // scan appends the delta to the tail store.
    val rounds = math.max(3, cfg.seconds * TailRoundsPer20s / 20)
    val roundMs = mutable.ArrayBuffer.empty[Double]
    val roundCpuMs = mutable.ArrayBuffer.empty[Double]
    val overheadMs = mutable.ArrayBuffer.empty[Double]
    val readRatio = mutable.ArrayBuffer.empty[Double]
    (1 to rounds).foreach { r =>
      try {
        val appended = gen.appendTail(cfg.dir("fleet"), TailTasks)
        val read0 = Util.localBytesRead()
        var processMs = 0.0
        val (touched, ms, cpu) = Util.timeCpu {
          Trace.span("sources", "ingest")(ingester.ingest(cfg.uri("fleet")) { delta =>
            processMs = Util.timeMs(Trace.span("sources", "appendStore")(
              appendStore(delta, cfg.uri("tail-store"))))._2
          })
        }
        roundMs += ms
        roundCpuMs += cpu
        overheadMs += ms - processMs
        readRatio += (Util.localBytesRead() - read0).toDouble / appended
        val expectTouched = gen.truths.count(_.inProgress)
        val rows = spark.read.parquet(cfg.uri("tail-store")).count()
        report.op(
          if (touched.size != expectTouched)
            Verdict.Wrong(s"tail round $r touched ${touched.size} files, expected $expectTouched")
          else if (rows != gen.events) Verdict.Wrong(s"tail round $r: store has $rows rows, expected ${gen.events}")
          else if (r == rounds) StoreCheck.verdict(StoreCheck.facts(spark.read.parquet(cfg.uri("tail-store"))), gen.truths)
          else Verdict.Ok)
      } catch { case e: Exception => report.threw(s"tail round $r", e) }
    }
    report.info("fleet_after_tails") = gen.describe
    report.info("bulk_events_per_s") = evPerS.toSeq
    report.info("tail_round_ms") = roundMs.toSeq
    report.info("bulk_events_per_cpu_s") = evPerCpuS.toSeq
    report.info("tail_round_cpu_ms") = roundCpuMs.toSeq
    report.info("tail_tasks_per_round_per_log") = TailTasks

    val lastQuarter = roundMs.takeRight(math.max(1, roundMs.size / 4)).toSeq
    if (roundMs.nonEmpty) report.info("tail_round_last_quarter_p50_ms") = Stats.median(lastQuarter)
    if (evPerS.nonEmpty && roundMs.nonEmpty) report.info("wall_clock") = Map(
      "ingest_events_per_s" -> Stats.median(evPerS.toSeq),
      "tail_commit_p50_ms" -> Stats.median(roundMs.toSeq))
    if (!cfg.trace) {
      if (evPerS.nonEmpty) report.metric("items_per_cpu_s", Stats.median(evPerCpuS.toSeq), "1/s")
      if (roundMs.nonEmpty) report.metric("op_cpu_ms", Stats.median(roundCpuMs.toSeq), "ms")
      report.metric("bytes_per_item", storeBytes / events, "B")
    }
    Trace.active.foreach { t =>
      PerLayer.emit(report, t, bulkLayers.get ++ Map(
        "sources.store_files" -> storeFiles.toDouble,
        "sources.store_bytes" -> storeBytes.toDouble,
        "sources.ingest_overhead_ms" -> Stats.median(overheadMs.toSeq),
        "sources.tail_read_per_appended" -> Stats.median(readRatio.toSeq),
        "sources.tail_commit_late_ms" -> Stats.median(lastQuarter),
        "trace.op_p50_ms" -> Stats.median(roundMs.toSeq)))
    }
  }

  /** Traced run only: time listing, parsing and the store write each
   *  on its own (the bulk operation fuses them into one job), and derive
   *  the parser's row counts from the last bulk store. */
  private def traced(spark: SparkSession, cfg: Config, lines: Double,
                     f: StoreFacts, apps: Int): Map[String, Double] = {
    val (files, listMs) = Util.timeMs(Trace.span("sources", "listLogs")(
      EventLogSource.listLogs(spark, cfg.uri("fleet"))))
    val parseMs = Stats.median((1 to 3).map(_ => Util.timeMs(Trace.span("events", "parse")(
      EventLogSource.readDirectory(spark, cfg.uri("fleet"))
        .write.format("noop").mode("overwrite").save()))._2))
    // The write side alone: the parsed frame is cached first, so the
    // timed writeStore only shuffles, sorts and writes.
    val parsed = EventLogSource.readDirectory(spark, cfg.uri("fleet")).cache()
    parsed.count()
    val writeMs = Util.timeMs(Trace.span("sources", "storeWrite")(
      EventLogSource.writeStore(parsed, cfg.uri("store-write-only"))))._2
    parsed.unpersist()
    Map(
      "sources.list_ms" -> listMs,
      "sources.files_listed" -> files.size.toDouble,
      "events.parse_ms" -> parseMs,
      "sources.store_write_ms" -> writeMs) ++
      (if (f == null) Map.empty else Map(
        "events.rows_out" -> f.rows.toDouble,
        "events.lines_dropped" -> (lines - f.rows),
        "events.task_rows_null_stage" -> f.taskRowsNullStage.toDouble,
        "events.apps_split" -> (f.appIds.size - apps).toDouble))
  }
}

object HistoryIngest {
  /** 16 logs: two with about 2,000 tasks (4k task events each), four
   *  medium, the rest small; four small ones are still in progress. */
  val Fleet: FleetShape = FleetShape(apps = 16, bigApps = 2, mediumApps = 4, inProgress = 4,
    smallTasks = (20, 200), mediumTasks = (150, 600), bigTasks = (2000, 2100))
  /** Throwaway fleet for the warm-up: the same code paths on a fraction
   *  of the bytes. */
  val WarmFleet: FleetShape = FleetShape(apps = 4, bigApps = 1, mediumApps = 1, inProgress = 2,
    smallTasks = (20, 100), mediumTasks = (150, 300), bigTasks = (400, 500))
  val SetupReps = 3
  val BulkRepsPer20s = 4
  val TailRoundsPer20s = 3
  /** Tasks in the job appended to each in-progress log per round. */
  val TailTasks = 60

  /** The delta sink: the same layout as `EventLogSource.writeStore`, in
   *  append mode. */
  def appendStore(delta: DataFrame, storeUri: String): Unit =
    delta.repartition(col("event_date"))
      .sortWithinPartitions("app_id", "event_time_us")
      .write.mode("append").partitionBy("event_date").parquet(storeUri)

  /** JIT and codegen warm-up on a throwaway fleet, outside the timed
   *  phase: one bulk ingest, then the incremental path's first scan and
   *  one tail round. */
  def warmUp(spark: SparkSession, cfg: Config): Unit = {
    val dir = cfg.dir("warm")
    val gen = new EventLogGen(cfg.seed ^ 0x5eedL, WarmFleet)
    gen.writeFleet(dir.resolve("fleet"))
    val fleet = dir.resolve("fleet").toUri.toString
    val store = dir.resolve("store").toUri.toString
    EventLogSource.writeStore(EventLogSource.readDirectory(spark, fleet), store)
    val ii = new IncrementalIngest(spark, dir.resolve("checkpoint.tsv").toString)
    val tails = dir.resolve("tail-store").toUri.toString
    ii.ingest(fleet)(appendStore(_, tails))
    gen.appendTail(dir.resolve("fleet"), TailTasks)
    ii.ingest(fleet)(appendStore(_, tails))
    Util.deleteRecursively(dir)
    Util.log("warm-up done")
  }
}
