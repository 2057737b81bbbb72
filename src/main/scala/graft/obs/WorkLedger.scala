package graft.obs

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The Spark work of one [[WorkLedger.measure]] scope. `wallMs` is the
 *  scope's wall time; `driverGapMs` is the part of it during which no
 *  job of the scope ran (planning, driver-side collects and loops,
 *  waits). Shuffle bytes count reads and writes; spill counts memory
 *  and disk. `driverOutputBytes` counts the files the driver wrote
 *  itself ([[DriverOutput]]), which no task's output metrics see. */
final case class Work(wallMs: Double, jobs: Long, stages: Long, tasks: Long,
                      taskCpuMs: Double, shuffleBytes: Long, spillBytes: Long,
                      inputBytes: Long, driverGapMs: Double,
                      driverOutputBytes: Long) {
  /** The work counters, by artifact name. Wall time is not one. */
  def counters: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "task_cpu_ms" -> taskCpuMs,
    "shuffle_bytes" -> shuffleBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble,
    "input_bytes" -> inputBytes.toDouble, "driver_gap_ms" -> driverGapMs,
    "driver_output_bytes" -> driverOutputBytes.toDouble)
}

/** `bytes` written to a file by the driver itself, so no task output
 *  metric counts them, while the [[WorkLedger.measure]] scope `scope`
 *  was open on the writing thread (null outside every scope). */
final case class DriverOutput(bytes: Long, scope: String) extends SparkListenerEvent

/** One `SparkListener` that bills Spark jobs, their stages and their
 *  stages' tasks, and the bytes the driver writes itself
 *  ([[DriverOutput]]), to the [[measure]] scope that submitted them. The
 *  scope id travels as a Spark local property, so jobs submitted by
 *  threads started inside the scope (write pools, `Future`s, broadcast
 *  and subquery threads) are billed to it too. Nested scopes bill a
 *  job to the innermost one. Jobs outside every scope are not kept. */
final class WorkLedger private (sc: SparkContext) extends SparkListener {
  import WorkLedger.ScopeKey

  private final class Tally {
    var jobs, stages, tasks, cpuNs, shuffle, spill, input, driverOut = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val ids = new AtomicLong(0L)
  private val open = new ConcurrentHashMap[String, Tally]()
  private val runningJobs = new ConcurrentHashMap[Int, (Tally, Long)]()
  private val stageTally = new ConcurrentHashMap[Int, Tally]()

  private def scopeOf(props: Properties): Option[Tally] =
    Option(props).flatMap(p => Option(p.getProperty(ScopeKey)))
      .flatMap(id => Option(open.get(id)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    scopeOf(e.properties).foreach { t =>
      runningJobs.put(e.jobId, (t, e.time))
      t.synchronized { t.jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(runningJobs.remove(e.jobId)).foreach { case (t, start) =>
      t.synchronized { t.jobIntervals += ((start, e.time)) }
    }

  // A stage is billed to the job that submits it: a stage reused from
  // an earlier job is skipped and never submitted again.
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    scopeOf(e.properties).foreach { t =>
      stageTally.put(e.stageInfo.stageId, t)
      t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTally.get(e.stageId)).foreach { t =>
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.cpuNs += m.executorCpuTime
          t.shuffle += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case DriverOutput(bytes, scope) if scope != null =>
      Option(open.get(scope)).foreach(t => t.synchronized { t.driverOut += bytes })
    case _ =>
  }

  /** `body`'s result and the work of the jobs it submitted. The
   *  counters are read after the listener bus has drained, so every
   *  event of those jobs has been billed. */
  def measure[T](body: => T): (T, Work) = {
    val id = ids.incrementAndGet().toString
    val tally = new Tally
    open.put(id, tally)
    val outer = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, id)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val result = body
      val wallNs = System.nanoTime() - t0
      BusAccess.drain(sc)
      (result, tally.synchronized {
        val wallMs = wallNs / 1e6
        val busyMs = WorkLedger.unionMs(tally.jobIntervals.toSeq,
          startMs, startMs + wallNs / 1000000L)
        Work(wallMs, tally.jobs, tally.stages, tally.tasks, tally.cpuNs / 1e6,
          tally.shuffle, tally.spill, tally.input, math.max(0.0, wallMs - busyMs),
          tally.driverOut)
      })
    } finally {
      sc.setLocalProperty(ScopeKey, outer)
      open.remove(id)
      stageTally.values.removeIf(_ eq tally)
    }
  }
}

object WorkLedger {
  /** The local property carrying the id of the open scope. */
  val ScopeKey = "graft.obs.scope"

  /** Posts a [[DriverOutput]] of `bytes`, tagged with the scope open
   *  on the calling thread. */
  def driverWrote(sc: SparkContext, bytes: Long): Unit =
    BusAccess.post(sc, DriverOutput(bytes, sc.getLocalProperty(ScopeKey)))

  /** A ledger registered on `spark`'s listener bus. */
  def install(spark: SparkSession): WorkLedger = {
    val ledger = new WorkLedger(spark.sparkContext)
    spark.sparkContext.addSparkListener(ledger)
    ledger
  }

  /** Milliseconds of `[lo, hi]` covered by the union of `intervals`. */
  private[obs] def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    for ((s, e) <- intervals.sortBy(_._1)) {
      val from = math.max(s, end)
      val to = math.min(e, hi)
      if (to > from) { covered += to - from; end = to }
    }
    covered
  }
}
