package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.FileSystem

object Util {
  def elapsedMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val t0 = System.nanoTime()

  /** Progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, elapsedMs(t0))
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU (ms) the JVM process has used so far, less its JIT compiler
   *  and garbage collector threads: every thread that does the
   *  program's work counts (Spark tasks, the driver, pools a call
   *  starts). Compiling the JVM's own code is warm-up. A collection's
   *  CPU falls on whichever operation it happens to land in, 1-5 s of a
   *  10 s trigger across runs, so it is counted on its own
   *  ([[gcCpuMs]]). Time the host takes away from the JVM's processors
   *  (steal) is not CPU time, so the difference across an operation
   *  moves with the work the program does, not with a busy host the way
   *  wall time does. */
  def cpuMs(): Double = (os.getProcessCpuTime - jvmThreadsNs(JitThreads) - jvmThreadsNs(GcThreads)) / 1e6

  /** CPU (ms) the garbage collector's threads have used so far. */
  def gcCpuMs(): Double = jvmThreadsNs(GcThreads) / 1e6

  /** Name prefixes (as the kernel truncates them) of HotSpot's JIT
   *  compiler and G1 collector threads. `run.py` starts the JVM with a
   *  fixed number of each, so none exits and takes its count along. */
  private val JitThreads = Seq("C1 CompilerThre", "C2 CompilerThre")
  private val GcThreads = Seq("GC Thread", "G1 ")

  /** CPU (ns) of this process's threads whose name starts with one of
   *  `prefixes`, from the scheduler's per-thread count. */
  private def jvmThreadsNs(prefixes: Seq[String]): Long = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) 0L
    else {
      val s = Files.list(tasks)
      try s.iterator().asScala.filter { t =>
        val comm = Try(Files.readString(t.resolve("comm"))).getOrElse("")
        prefixes.exists(comm.startsWith)
      }.map(t => Try(Files.readString(t.resolve("schedstat")).trim.split(" ")(0).toLong).getOrElse(0L)).sum
      finally s.close()
    }
  }

  /** (result, wall ms, CPU ms) of `body`. */
  def timeCpu[T](body: => T): (T, Double, Double) = {
    val c0 = cpuMs()
    val (r, ms) = timeMs(body)
    (r, ms, cpuMs() - c0)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def copyDir(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** (files, bytes) of the data files under a directory, ignoring
   *  checksums and commit markers. */
  def dataFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f)).filter { f =>
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }.toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  /** Bytes read so far through Hadoop's local filesystem in this JVM
   *  (drivers and, in local mode, executors). */
  def localBytesRead(): Long =
    FileSystem.getGlobalStorageStatistics.iterator().asScala
      .filter(_.getScheme == "file")
      .map(s => Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L))
      .sum
}
