package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Run settings. Every input is derived from `seed`; the amount of work
 *  is derived from `seconds` through fixed per-workload constants, never
 *  from measured speed, so two commits always do the same work. */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        workDir: Path, traceDir: Path, cpus: Int) {
  def dir(name: String): Path = workDir.resolve(name)
  def uri(name: String): String = dir(name).toUri.toString
}

/** Set-up cost: one-off parts (JVM start up to this object, session
 *  start, warm-up, store or state build) plus repeated parts, of which
 *  the median counts; kept both as CPU (see [[Util.cpuMs]]) and as wall
 *  time. */
final class Setup {
  private def cpuS(): Double = Util.cpuMs() / 1000.0
  private var once = (ManagementFactory.getRuntimeMXBean.getUptime / 1000.0, cpuS())
  private val reps = mutable.ArrayBuffer.empty[(Double, Double)]
  private def measure[T](body: => T)(add: ((Double, Double)) => Unit): T = {
    val t0 = System.nanoTime()
    val c0 = cpuS()
    try body finally add(((System.nanoTime() - t0) / 1e9, cpuS() - c0))
  }
  def once[T](body: => T): T = measure(body)(d => once = (once._1 + d._1, once._2 + d._2))
  def rep[T](body: => T): T = measure(body)(reps += _)
  private def total(pick: ((Double, Double)) => Double): Double =
    pick(once) + (if (reps.isEmpty) 0.0 else Stats.median(reps.map(pick).toSeq))
  def cpuSeconds: Double = total(_._2)
  def wallSeconds: Double = total(_._1)
  def describe: Map[String, Any] = Map("once_wall_s" -> once._1, "once_cpu_s" -> once._2,
    "reps_wall_s" -> reps.map(_._1).toSeq, "reps_cpu_s" -> reps.map(_._2).toSeq,
    "wall_s" -> wallSeconds)
}

trait Workload {
  /** Runs set-up and the measured phase, filling `report`. The caller
   *  reads `heap_live_mb` right after this returns, so any state the
   *  workload keeps live (caches, the server) must still be held. */
  def run(spark: SparkSession, cfg: Config, setup: Setup, report: Report): Unit
  /** Releases what `run` kept live. */
  def close(): Unit = ()
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "history_ingest" -> (() => new HistoryIngest),
    "history_serving" -> (() => new HistoryServing),
    "corpus_pipeline" -> (() => new CorpusPipeline))

  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work-dir", "trace-dir")
    (kv.keySet -- known).foreach(k => throw new IllegalArgumentException(s"unknown option --$k"))
    val wl = kv.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    if (!workloads.contains(wl))
      throw new IllegalArgumentException(s"unknown workload $wl (${workloads.keys.toSeq.sorted.mkString(", ")})")
    val seconds = kv.getOrElse("seconds", "20").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val trace = kv.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Config(wl, kv.getOrElse("seed", "1").toLong, seconds, trace,
      Paths.get(kv.getOrElse("work-dir", "bench-work")).toAbsolutePath,
      Paths.get(kv.getOrElse("trace-dir", "bench-traces")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors())
  }

  def session(cfg: Config): SparkSession =
    SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName(s"graft-perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.dir("warehouse").toUri.toString)
      .getOrCreate()

  /** Driver heap in use after a full collection: what the run keeps
   *  live. Spark frees the blocks of unreachable cached or checkpointed
   *  data only after a collection has cleared the owning objects and its
   *  cleaner thread has run, so collect until the figure settles. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var i = 0
    var settled = false
    while (i < 8 && !settled) {
      Thread.sleep(100)
      val now = used()
      settled = now > last * 0.99
      last = math.min(last, now)
      i += 1
    }
    last
  }

  /** Total collection time (ms) of all collectors so far. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    Files.createDirectories(cfg.workDir)
    val setup = new Setup
    val report = new Report
    val spark = setup.once(session(cfg))
    spark.sparkContext.setLogLevel("ERROR")
    Util.log(s"session started: local[${cfg.cpus}], workload ${cfg.workload}, seed ${cfg.seed}")
    val wl = workloads(cfg.workload)()
    try {
      wl.run(spark, cfg, setup, report)
      report.info("gc_ms") = gcMs()
      report.info("gc_cpu_s") = Util.gcCpuMs() / 1000.0
      val heap = liveHeapMb()
      if (!cfg.trace) {
        report.metric("setup_s", setup.cpuSeconds, "s")
        report.metric("heap_live_mb", heap, "MB")
      } else {
        report.info("heap_live_mb") = heap
        report.info("setup_s") = setup.cpuSeconds
      }
      report.info("setup") = setup.describe
      report.info("cpus") = cfg.cpus
      report.info("seed") = cfg.seed
      report.info("seconds") = cfg.seconds
      Trace.active.foreach(_.writeSpans(
        cfg.traceDir.resolve(s"${cfg.workload}-seed${cfg.seed}.spans.jsonl")))
    } finally {
      wl.close()
      spark.stop()
    }
    println(report.infoLine)
    println(report.resultLine)
  }
}
