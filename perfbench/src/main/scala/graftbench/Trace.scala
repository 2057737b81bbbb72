package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `parent` is the enclosing span on the
 *  same thread (0 at top level); times are wall-clock milliseconds
 *  (comparable with Spark's job timestamps) plus a monotonic duration. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Long, endMs: Long, durNs: Long)

/** Spark work done by the jobs one span submitted. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes Spark jobs, and the tasks of their stages, to the span
 *  that submitted them. The span id travels as a Spark local property,
 *  which threads spawned inside the span inherit. */
final class WorkListener extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val bySpan = new ConcurrentHashMap[Long, Work]()

  private def work(span: Long): Work = bySpan.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val w = work(span)
    w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span: Long = Option(jobSpan.get(e.jobId)).map(_.longValue).getOrElse(0L)
    val start: Long = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    val w = work(span)
    w.synchronized { w.jobIntervals += ((start, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span: Long = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val w = work(span)
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputBytes += m.inputMetrics.bytesRead
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def forSpan(span: Long): Work = Option(bySpan.get(span)).getOrElse(new Work)
}

/** Span recorder. Off by default: `Trace.span` then only runs its body,
 *  so the untraced run pays nothing but a branch. Spans are kept in
 *  memory and written out once, when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val spans = new ConcurrentLinkedQueue[Span]()
  val listener = new WorkListener
  sc.addSparkListener(listener)

  def span[T](layer: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent: Long = current.get
    val prevProp = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    current.set(id)
    val m0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val durNs = System.nanoTime() - n0
      spans.add(Span(id, parent, layer, name, m0, m0 + durNs / 1000000L, durNs))
      sc.setLocalProperty(Trace.SpanKey, prevProp)
      current.set(parent)
    }
  }

  def allSpans: Seq[Span] = { BusAccess.drain(sc); spans.asScala.toSeq.sortBy(_.id) }

  /** Self time: the span's duration minus the part its child spans cover. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val covered = Stats.unionMs(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
        s.startMs, s.endMs)
      s.id -> math.max(0.0, s.durNs / 1e6 - covered)
    }.toMap
  }

  /** Per-module sums of the work counters over that module's spans. */
  def moduleMetrics(modules: Seq[String]): Map[String, Double] = {
    val all = allSpans
    val self = selfMs(all)
    modules.flatMap { m =>
      val ss = all.filter(_.layer == m)
      val works = ss.map(s => s -> listener.forSpan(s.id))
      def sum(f: Work => Long): Double = works.map(w => f(w._2).toDouble).sum
      val gap = works.map { case (s, w) =>
        val ivs = w.synchronized(w.jobIntervals.toList)
        math.max(0.0, s.durNs / 1e6 - Stats.unionMs(ivs, s.startMs, s.endMs))
      }.sum
      Seq(
        s"$m.self_ms" -> ss.map(s => self(s.id)).sum,
        s"$m.jobs" -> sum(_.jobs),
        s"$m.tasks" -> sum(_.tasks),
        s"$m.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
        s"$m.shuffle_bytes" -> sum(_.shuffleBytes),
        s"$m.spill_bytes" -> sum(_.spillBytes),
        s"$m.input_bytes" -> sum(_.inputBytes),
        s"$m.output_bytes" -> sum(_.outputBytes),
        s"$m.driver_gap_ms" -> gap)
    }.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = allSpans
    val self = selfMs(all)
    val lines = all.map { s =>
      val w = listener.forSpan(s.id)
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> self(s.id), "jobs" -> w.jobs,
        "tasks" -> w.tasks, "task_cpu_ms" -> w.cpuNs / 1e6))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanKey = "graftbench.span"
  val Modules: Seq[String] = Seq("sources", "events", "analytics", "api", "pipeline", "streaming")

  @volatile var active: Option[Tracer] = None

  def span[T](layer: String, name: String)(body: => T): T = active match {
    case Some(t) => t.span(layer, name)(body)
    case None => body
  }

  /** Runs `body` with span recording off (warm-up inside a traced run). */
  def off[T](body: => T): T = {
    val a = active
    active = None
    try body finally active = a
  }
}
