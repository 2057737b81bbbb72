package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.SqlAccess
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.events.EventLogParser

/**
 * Incremental scan / batched ingest with PER-FILE BYTE OFFSETS: the
 * checkpoint records, for every processed file, the byte offset of the
 * end of its last complete line — so a re-scan of a directory of
 * long-running `.inprogress` logs parses only the appended TAILS
 * (KBs), never re-parses the files whole (GBs).
 *
 * Reference behavior: src/event_processor.rs:148-527 (new-file
 * detection + per-file offset tracking). Spark-native shape: the
 * checkpoint is a tiny TSV state file; file listing is a driver
 * metadata op; NEW files are parsed as one distributed read. Grown
 * files cost one metadata job and the tail read inside `process`:
 * the per-file seeks (commit point, attempt id) run in executors and
 * come back to the driver as one collected array of tiny rows (one
 * per pending file, the size of the checkpoint entries
 * `loadState()` already holds); the tail read parallelizes the grown
 * files' rows and its tasks read the tail BYTES straight into the
 * parser, never through the driver. The tail parse takes each file's
 * attempt id from those rows, so it needs no per-file window either.
 * A directory of 10k concurrently-growing logs costs one job plus the
 * sink's own jobs per scan, never 10k+ serial driver round-trips.
 * For continuous tailing use
 * [[graft.streaming.StreamingIngest]] which gets the same semantics
 * from Structured Streaming's file-source offset log.
 *
 * Offsets always land on line boundaries: the committed offset is the
 * position AFTER the file's last '\n' at scan time, so a tail read
 * never starts mid-event and a partial trailing line (a writer caught
 * mid-append) is left for the next scan — when its newline lands, the
 * WHOLE line is re-read from the committed offset, so a mid-write
 * race loses nothing. One documented at-least-once corner: a final
 * line that is complete JSON but not yet newline-terminated is parsed
 * by the first (distributed, whole-file) read AND re-emitted by the
 * tail scan once the newline lands — callers needing exactly-once
 * dedup on (app_id, event hash), same as any re-ingest.
 */
class IncrementalIngest(spark: SparkSession, checkpointPath: String,
                        maxTailBytes: Long = 512L << 20,
                        breaker: Option[CircuitBreaker] = None) {

  import IncrementalIngest._

  /** Driver-side source listing, optionally behind the circuit
   *  breaker (reference wires its breaker through the HDFS/S3
   *  readers — src/file_reader.rs via circuit_breaker.rs): when the
   *  endpoint is known-down the scan fails fast with
   *  [[CircuitOpenException]] instead of hanging on a dead
   *  connection; the checkpoint is untouched, so the round is simply
   *  retried by the caller's next schedule (at-least-once holds). */
  private def listSource(dirUri: String): Seq[org.apache.hadoop.fs.FileStatus] =
    breaker match {
      case Some(b) => b.call(EventLogSource.listLogs(spark, dirUri))
      case None => EventLogSource.listLogs(spark, dirUri)
    }

  /** Committed scan state for one file: `offset` = end of the last
   *  complete line already handed to a successful `process`; `seenLen`
   *  = the file length at that scan (so an unchanged file — even one
   *  with a dangling partial line — is skipped without reopening);
   *  `head` = what the file's head said about its attempt: `None`
   *  while the ApplicationStart line is not yet in view, else
   *  `Some(the App Attempt ID, if the start line has one)`, persisted
   *  so TAIL reads (which never see that start line again) can stamp
   *  attempts identically to a whole-file parse, and so a resolved
   *  head is never read again. */
  private case class FileState(modTime: Long, offset: Long, seenLen: Long,
                               head: Option[Option[String]])

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def loadState(): Map[String, FileState] = {
    val p = new Path(checkpointPath)
    val f = fs(p)
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val lines = txt.linesIterator.filter(_.nonEmpty).toVector
      lines.zipWithIndex.flatMap { case (line, i) =>
        // 6-field TSV; a 5-field line (no head flag) counts its head as
        // resolved only when it holds an attempt, a 4-field line (no
        // attempt field) never
        val parts = line.split("\t", -1)
        val attempt = parts.lift(4).filter(_.nonEmpty)
        try Some(parts(0) -> FileState(parts(1).toLong, parts(2).toLong,
          parts(3).toLong,
          if (parts.lift(5).contains("1")) Some(attempt) else attempt.map(Some(_))))
        catch {
          // A torn FINAL line (a writer killed mid-commit before the
          // tmp-swap discipline existed, or a torn copy) is dropped —
          // its file simply re-scans as new, which at-least-once
          // allows. A malformed INTERIOR line is real corruption and
          // still throws.
          case e @ (_: NumberFormatException
                    | _: ArrayIndexOutOfBoundsException) =>
            if (i == lines.size - 1) None else throw e
        }
      }.toMap
    }
  }

  /** Write the new checkpoint: carried-over entries from the prior
   *  state, then the scan's committed rows. */
  private def saveState(entries: Iterator[(String, FileState)]): Unit = {
    // tmp-write + rename-swap (graft.streaming.StateStores.swapIn
    // discipline): the live file is replaced only after the tmp is
    // complete and closed, so a writer killed mid-commit never leaves
    // a truncated checkpoint; a crash inside the delete→rename window
    // loses the whole checkpoint (not a torn half), which
    // at-least-once re-ingests.
    val p = new Path(checkpointPath)
    val tmp = new Path(checkpointPath + ".tmp")
    val f = fs(p)
    val out = f.create(tmp, true)
    try {
      var first = true
      entries.foreach { case (k, s) =>
        val line = s"$k\t${s.modTime}\t${s.offset}\t${s.seenLen}\t" +
          s"${s.head.flatten.getOrElse("")}\t${if (s.head.isDefined) "1" else "0"}"
        if (!first) out.write('\n')
        out.write(line.getBytes("UTF-8"))
        first = false
      }
    } finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(
        s"checkpoint swap failed: rename($tmp, $p)")
  }

  /** The Hadoop conf for the executor helpers, shipped once per
   *  ingester: a copy of the session's conf as of the first scan,
   *  so custom filesystem settings (s3a credentials, HDFS
   *  nameservices) reach the executors without every task rebuilding
   *  a `Configuration` from its default resources. */
  private lazy val hadoopConf: Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(
      new Configuration(spark.sparkContext.hadoopConfiguration)))

  /** Parse the pending delta and hand it to `process`; the checkpoint
   *  is committed ONLY after `process` returns normally — at-LEAST-once
   *  semantics (a failure leaves the delta pending, so the next scan
   *  re-processes it; committing before the action ran would be
   *  at-most-once and silently lose data). Returns the touched paths
   *  (empty = nothing new; `process` is NOT invoked when the only
   *  change is a still-incomplete partial line).
   *
   *  Delta shapes:
   *   - NEW file (no checkpoint entry) or REWRITE (length below the
   *     committed offset): whole file through the distributed reader.
   *   - GROWN file: only bytes [offset, lastLineEnd) are read — an
   *     executor-side seek+read per file (tails are small; a growth
   *     beyond `maxTailBytes` falls back to re-reading the file whole,
   *     distributed, under the same at-least-once contract). */
  def ingest(dirUri: String)(process: DataFrame => Unit): Seq[String] = {
    val seen = loadState()
    // capture (path, len, mtime) ONCE before parsing: bytes appended
    // while we read stay pending and land next round instead of being
    // silently marked consumed
    val statuses = listSource(dirUri)
      .map(s => (s.getPath, s.getLen, s.getModificationTime))
    val pending = statuses.filter { case (p, len, mt) =>
      seen.get(p.toString).forall(st => st.seenLen != len || st.modTime != mt)
    }
    if (pending.isEmpty) return Nil

    // GROWN means strictly longer than last committed scan; an equal or
    // shorter length with a moved mtime is a rewrite and goes down the
    // whole-file path (tail bytes of a rewritten file are unrelated to
    // the committed offset).
    val (grown, whole) = pending.partition { case (p, len, _) =>
      seen.get(p.toString).exists(st =>
        len > st.seenLen && len > st.offset &&
          len - st.offset <= maxTailBytes)
    }

    // ONE distributed metadata job over every pending file computes
    // the file's ENTIRE committed row in the executor: commit point
    // (end of last complete line), attempt id, new offset, and — for
    // grown files — the tail byte range. Grown files reuse the
    // checkpointed head verdict and read the head only until it is
    // resolved (the start line, or an event posted after it, in view);
    // whole/rewritten files always re-read the head — a rewrite may
    // carry a NEW attempt id. The rows are
    // collected once: the tail read and the checkpoint write both use
    // this array, so the offsets committed are the ones whose bytes
    // `process` saw, even if a file changes again meanwhile.
    val wholeSet = whole.map(_._1.toString).toSet
    val metaIn = pending.map { case (p, len, mt) =>
      val st = if (wholeSet(p.toString)) None else seen.get(p.toString)
      (p.toString, len, mt, st.map(_.offset).getOrElse(-1L),
        st.flatMap(_.head))
    }
    val meta = scanRows(spark, hadoopConf, metaIn).collect().toSeq
    val pendingSet = pending.map(_._1.toString).toSet
    val tails = meta.filter(r => r.tailEnd > r.tailStart)

    if (whole.isEmpty && tails.isEmpty) {
      // only dangling partial lines moved: remember the new lengths
      // so unchanged files are skipped next scan, but there is
      // nothing to hand to `process` (offsets did not advance —
      // nothing is lost)
      commitCheckpoint(meta, pendingSet)
      return Nil
    }

    val wholeDf: Option[DataFrame] =
      if (whole.isEmpty) None
      else Some(EventLogParser.read(spark, whole.map(_._1.toString): _*))
    val tailDf: Option[DataFrame] =
      if (tails.isEmpty) None
      else Some(EventLogParser.parseLines(
        SqlAccess.internalFrame(spark, tailRows(spark, hadoopConf, tails), TailSchema)))
    val delta = (wholeDf, tailDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), _) => a
      case (_, Some(b)) => b
      case _ => throw new IllegalStateException("unreachable: empty delta")
    }
    process(delta)
    commitCheckpoint(meta, pendingSet)
    pending.map(_._1.toString)
  }

  /** Write the post-scan checkpoint: prior entries whose path this
   *  scan did not touch carry over, then the scan's rows. The state is
   *  re-loaded here (not reused from scan start) so a `process` that
   *  itself advanced the same checkpoint is not silently rolled
   *  back. */
  private def commitCheckpoint(meta: Seq[ScanRow],
                               touched: Set[String]): Unit = {
    val carry = loadState().iterator.filterNot(kv => touched(kv._1))
    saveState(carry ++ meta.iterator.map(r =>
      r.path -> FileState(r.modTime, r.offset, r.seenLen, r.head)))
  }
}

/** Executor-side helpers: every function here is called from task
 *  closures, so nothing captures the enclosing class (whose
 *  SparkSession is not serializable). The Hadoop conf arrives as one
 *  broadcast per ingester. */
object IncrementalIngest {

  /** Bytes [[headAttemptId]] reads at most. Spark posts
   *  EnvironmentUpdate (Spark, Hadoop and system properties plus the
   *  classpath) before ApplicationStart, and on real clusters that one
   *  line often passes 64 KB; the cap sits far above any real
   *  preamble and only bounds a file whose start line never comes. */
  private[sources] val HeadScanMaxBytes: Long = 16L << 20

  /** The part of a line [[headAttemptId]] keeps: the event name and
   *  ApplicationStart's attempt field sit in its first few hundred
   *  bytes (Spark writes `Event` first and the attempt before the
   *  driver logs and attributes). */
  private val LineHeadBytes = 65536

  /** Events Spark posts only once the application has started: one
   *  of them in view means no ApplicationStart line is coming. */
  private val PostStartEvents: Set[String] = {
    import graft.events.EventModel._
    Set(AppEnd, JobStart, JobEnd, StageSubmitted, StageCompleted, TaskStart,
      TaskEnd, SqlExecutionStart, SqlExecutionEnd)
  }

  private val EventName = """"Event"\s*:\s*"([^"]*)"""".r
  private val AttemptField = """"App Attempt ID"\s*:\s*"([^"]*)"""".r

  private def openFs(pathStr: String,
                     conf: Broadcast[SerializableConfiguration]): (FileSystem, Path) = {
    val p = new Path(pathStr)
    (p.getFileSystem(conf.value.value), p)
  }

  /** The file head's verdict on its attempt, read forward line by line
   *  until the ApplicationStart line (`Some(its App Attempt ID, if
   *  any)`), or the first event Spark posts after it (`Some(None)`).
   *  `None` means neither is in view yet: the caller reads the head
   *  again once the file grows. A line that ends at `len` without a
   *  newline may still be mid-write, so it decides only when it
   *  carries an attempt. The scan stops at [[HeadScanMaxBytes]]; a
   *  head that fills the cap is resolved as it stands, since appends
   *  never change it. Only the first [[LineHeadBytes]] of a line are
   *  kept, so a multi-MB EnvironmentUpdate is scanned, never
   *  buffered. Compressed logs are skipped (finalized files never
   *  grow, so their tails are never read). */
  private[sources] def headAttemptId(f: FileSystem, p: Path, len: Long): Option[Option[String]] = {
    if (len == 0) return None
    if (p.getName.matches(".*\\.(gz|lz4|snappy|zstd)$")) return Some(None)
    // None: keep reading; Some(a): the scan has its answer
    def verdict(head: String): Option[Option[String]] =
      EventName.findFirstMatchIn(head).map(_.group(1)) match {
        case Some(graft.events.EventModel.AppStart) =>
          Some(AttemptField.findFirstMatchIn(head).map(_.group(1)).filter(_.nonEmpty))
        case Some(e) if PostStartEvents(e) => Some(None)
        case _ => None
      }
    val limit = math.min(len, HeadScanMaxBytes)
    val chunk = new Array[Byte](65536)
    val line = new java.io.ByteArrayOutputStream()
    var found: Option[Option[String]] = None
    var pos = 0L
    val in = f.open(p)
    try {
      while (found.isEmpty && pos < limit) {
        val n = in.read(chunk, 0, math.min(chunk.length.toLong, limit - pos).toInt)
        if (n < 0) pos = limit
        else {
          var i = 0
          while (found.isEmpty && i < n) {
            var end = i
            while (end < n && chunk(end) != '\n') end += 1
            line.write(chunk, i, math.min(end - i, LineHeadBytes - line.size).max(0))
            if (end < n) {
              found = verdict(line.toString("UTF-8"))
              line.reset()
            }
            i = end + 1
          }
          pos += n
        }
      }
    } finally in.close()
    val capped = limit < len
    found
      .orElse(Option.when(line.size > 0)(verdict(line.toString("UTF-8"))).flatten
        .filter(a => a.isDefined || capped))
      .orElse(Option.when(capped)(None))
  }

  /** Bytes [[lastLineEnd]] reads in its first window; each further
   *  window doubles, up to [[LastLineMaxWindow]]. */
  private[sources] val LastLineFirstWindow = 1024
  private val LastLineMaxWindow = 65536

  /** Byte position after the LAST '\n' at or before `len` (0 if none):
   *  the only safe commit point — everything past it is a partial
   *  line. Scans backwards from the end in windows that start small
   *  and grow: on an append-only log the newline is almost always the
   *  last byte, so the usual cost is one seek + [[LastLineFirstWindow]]
   *  bytes, and a long partial line costs a few growing reads. */
  private[sources] def lastLineEnd(f: FileSystem, p: Path, len: Long): Long = {
    if (len == 0) return 0L
    val in = f.open(p)
    try {
      var window = LastLineFirstWindow
      var end = len
      while (end > 0) {
        val start = math.max(0L, end - window)
        val buf = new Array[Byte]((end - start).toInt)
        in.seek(start)
        in.readFully(buf)
        var i = buf.length - 1
        while (i >= 0) {
          if (buf(i) == '\n') return start + i + 1
          i -= 1
        }
        end = start
        window = math.min(window * 2, LastLineMaxWindow)
      }
      0L
    } finally in.close()
  }

  /** One scanned file's full committed row, computed IN THE EXECUTOR:
   *  the new checkpoint fields plus the tail byte range a grown file
   *  owes the parser (tailStart == tailEnd for whole/rewritten files
   *  and for growth with no complete new line yet). */
  private[sources] case class ScanRow(path: String, modTime: Long,
      offset: Long, seenLen: Long, head: Option[Option[String]],
      tailStart: Long, tailEnd: Long)

  /** Distributed metadata pass: ONE job of tiny rows — the per-file
   *  seeks (commit point, head attempt sniff) run in executors, in
   *  parallel. Input per file: (path, len, mtime, prevOffset — -1 for
   *  whole/rewritten reads — and the checkpointed head verdict, whose
   *  presence skips the head read). */
  private def scanRows(spark: SparkSession, conf: Broadcast[SerializableConfiguration],
                       files: Seq[ScanFile.In]): RDD[ScanRow] =
    spark.sparkContext
      .parallelize(files, math.min(files.size, 64).max(1))
      .map(new ScanFile(conf))

  /** One pending file's [[ScanRow]], computed by [[scanRows]]'s tasks.
   *  A named class rather than a lambda, so `SparkContext.clean` has
   *  no closure to scan each round. */
  private final class ScanFile(conf: Broadcast[SerializableConfiguration])
      extends (ScanFile.In => ScanRow) with Serializable {
    def apply(in: ScanFile.In): ScanRow = {
      val (pathStr, len, mt, prevOffset, known) = in
      val (f, p) = openFs(pathStr, conf)
      val lineEnd = lastLineEnd(f, p, len)
      val head = known.orElse(headAttemptId(f, p, len))
      if (prevOffset < 0L) // whole/rewritten: parsed by the file reader
        ScanRow(pathStr, mt, lineEnd, len, head, 0L, 0L)
      else // grown: tail range [prevOffset, lineEnd) when it advanced
        ScanRow(pathStr, mt, math.max(lineEnd, prevOffset), len, head,
          prevOffset, math.max(lineEnd, prevOffset))
    }
  }

  private object ScanFile {
    /** (path, len, mtime, prevOffset, checkpointed head verdict) */
    type In = (String, Long, Long, Long, Option[Option[String]])
  }

  /** The tail parse's input: each line with its file and the file's
   *  attempt id. */
  private val TailSchema = StructType(Seq("value", "log_file", "attempt_hint")
    .map(StructField(_, StringType)))

  /** Distributed tail read over the grown files' collected rows: each
   *  task seeks and reads its files' byte ranges in an executor and
   *  emits the lines, stamped with the file's attempt id, directly
   *  into the parser's input as rows of [[TailSchema]] — the tail
   *  bytes never stage on the driver. */
  private def tailRows(spark: SparkSession, conf: Broadcast[SerializableConfiguration],
                       tails: Seq[ScanRow]): RDD[InternalRow] =
    spark.sparkContext
      .parallelize(tails, math.min(tails.size, 64).max(1))
      .flatMap(new TailLines(conf))

  /** A grown file's tail lines, read by [[tailRows]]'s tasks; a named
   *  class like [[ScanFile]]. */
  private final class TailLines(conf: Broadcast[SerializableConfiguration])
      extends (ScanRow => Iterator[InternalRow]) with Serializable {
    def apply(r: ScanRow): Iterator[InternalRow] = {
      val (f, p) = openFs(r.path, conf)
      val buf = new Array[Byte]((r.tailEnd - r.tailStart).toInt)
      val in = f.open(p)
      try { in.seek(r.tailStart); in.readFully(buf) } finally in.close()
      val path = UTF8String.fromString(r.path)
      val hint = UTF8String.fromString(r.head.flatten.orNull)
      new String(buf, "UTF-8").linesIterator.filter(_.nonEmpty)
        .map(l => InternalRow(UTF8String.fromString(l), path, hint))
    }
  }
}
