package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
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
 * metadata op; NEW files are parsed as one distributed read; grown
 * files' commit points, attempt ids, and tail bytes are gathered by
 * TWO distributed passes (one tiny-row metadata job, one tail-read
 * job) — a directory of 10k concurrently-growing logs costs two Spark
 * jobs per scan, never 10k+ serial driver round-trips, and tail BYTES
 * go straight from executors into the parser without staging on the
 * driver. For continuous tailing use
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
   *  `attemptId` = the App Attempt ID of the file's ApplicationStart
   *  line, persisted so TAIL reads (which never see that start line
   *  again) can stamp attempts identically to a whole-file parse. */
  private case class FileState(modTime: Long, offset: Long, seenLen: Long,
                               attemptId: Option[String] = None)

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
        // 5-field TSV; 4-field lines (pre-attempt checkpoints) still load
        val parts = line.split("\t", -1)
        try Some(parts(0) -> FileState(parts(1).toLong, parts(2).toLong,
          parts(3).toLong,
          if (parts.length > 4 && parts(4).nonEmpty) Some(parts(4)) else None))
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

  /** Stream the new checkpoint: carried-over entries from the prior
   *  state, then the scan's committed rows from `fresh` — which is a
   *  `toLocalIterator` over the metadata job's output, so per-file
   *  commit points and attempt ids flow executor → checkpoint file
   *  one partition at a time and never stage as a driver-side map. */
  private def saveStateStreaming(carryOver: Iterator[(String, FileState)],
                                 fresh: Iterator[(String, FileState)]): Unit = {
    // tmp-write + rename-swap (graft.streaming.StateStores.swapIn
    // discipline): `fresh` is a toLocalIterator that runs Spark jobs
    // BETWEEN writes, so writing the live path directly would leave a
    // truncated checkpoint if any of those jobs dies mid-commit. The
    // live file is replaced only after the tmp is complete and
    // closed; a crash inside the delete→rename window loses the whole
    // checkpoint (not a torn half), which at-least-once re-ingests.
    val p = new Path(checkpointPath)
    val tmp = new Path(checkpointPath + ".tmp")
    val f = fs(p)
    val out = f.create(tmp, true)
    try {
      var first = true
      (carryOver ++ fresh).foreach { case (k, s) =>
        val line =
          s"$k\t${s.modTime}\t${s.offset}\t${s.seenLen}\t${s.attemptId.getOrElse("")}"
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

  /** Paths changed since the last committed scan (new, grown, or
   *  rewritten — a same-length in-place rewrite still moves the
   *  modification time, so length alone would miss it). */
  def pendingFiles(dirUri: String): Seq[String] = {
    val seen = loadState()
    listSource(dirUri)
      .filter { s =>
        seen.get(s.getPath.toString) match {
          case Some(st) =>
            s.getLen != st.seenLen || s.getModificationTime != st.modTime
          case None => true
        }
      }
      .map(_.getPath.toString)
  }

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

    // ONE distributed metadata pass over every pending file computes
    // the file's ENTIRE committed row in the executor: commit point
    // (end of last complete line), attempt id, new offset, and — for
    // grown files — the tail byte range. Grown files reuse the
    // checkpointed attempt (pre-attempt 4-field checkpoints recover it
    // from the head once); whole/rewritten files always re-read the
    // head — a rewrite may carry a NEW attempt id. The rows stay an
    // RDD end to end: the tail read CHAINS off it (no driver
    // round-trip of offsets) and the checkpoint write streams it via
    // toLocalIterator — the per-file metadata never stages as a
    // driver map.
    val wholeSet = whole.map(_._1.toString).toSet
    val metaIn = pending.map { case (p, len, mt) =>
      val st = if (wholeSet(p.toString)) None else seen.get(p.toString)
      (p.toString, len, mt, st.map(_.offset).getOrElse(-1L),
        st.flatMap(_.attemptId))
    }
    // MEMORY_AND_DISK, not the cache() default: if a partition were
    // evicted between process(delta) and commitCheckpoint, the
    // recompute would re-read files that may have changed since
    // listing, committing offsets over different bytes than process
    // saw. The rows are tiny; disk spill keeps "capture once" true.
    val meta = scanRows(spark, hadoopProps(spark), metaIn)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pendingSet = pending.map(_._1.toString).toSet

    val tailCount = meta.filter(r => r.tailEnd > r.tailStart).count()
    try {
      if (whole.isEmpty && tailCount == 0L) {
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
        if (tailCount == 0L) None
        else {
          import spark.implicits._
          Some(EventLogParser.parseLines(
            tailRows(meta, hadoopProps(spark))
              .toDF("value", "log_file", "attempt_hint")))
        }
      val delta = (wholeDf, tailDf) match {
        case (Some(a), Some(b)) => a.unionByName(b)
        case (Some(a), _) => a
        case (_, Some(b)) => b
        case _ => throw new IllegalStateException("unreachable: empty delta")
      }
      process(delta)
      commitCheckpoint(meta, pendingSet)
      pending.map(_._1.toString)
    } finally meta.unpersist()
  }

  /** Write the post-scan checkpoint: prior entries whose path this
   *  scan did not touch carry over; the scan's rows stream in from
   *  the cached metadata RDD partition by partition. The state is
   *  re-loaded here (not reused from scan start) so a `process` that
   *  itself advanced the same checkpoint is not silently rolled
   *  back. */
  private def commitCheckpoint(meta: RDD[ScanRow],
                               touched: Set[String]): Unit = {
    val carry = loadState().iterator.filterNot(kv => touched(kv._1))
    saveStateStreaming(carry, meta.toLocalIterator.map(r =>
      r.path -> FileState(r.modTime, r.offset, r.seenLen, r.attemptId)))
  }
}

/** Executor-side helpers: every function here is called from task
 *  closures, so nothing captures the enclosing class (whose
 *  SparkSession is not serializable). The Hadoop conf travels as a
 *  plain key-value array and is rebuilt per task, so custom
 *  filesystem settings (s3a credentials, HDFS nameservices) reach the
 *  executors. */
object IncrementalIngest {

  private def hadoopProps(spark: SparkSession): Array[(String, String)] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray
  }

  private def openFs(pathStr: String, props: Array[(String, String)]): (FileSystem, Path) = {
    val conf = new Configuration()
    props.foreach { case (k, v) => conf.set(k, v) }
    val p = new Path(pathStr)
    (p.getFileSystem(conf), p)
  }

  /** Attempt ID from the file's head: ApplicationStart is one of the
   *  first lines Spark writes, so one bounded read of the head chunk
   *  finds it without parsing the file. Compressed logs are skipped
   *  (finalized files never grow, so their tails are never read). */
  private[sources] def headAttemptId(f: FileSystem, p: Path, len: Long): Option[String] = {
    if (len == 0 || p.getName.matches(".*\\.(gz|lz4|snappy|zstd)$")) return None
    val n = math.min(len, 65536L).toInt
    val buf = new Array[Byte](n)
    val in = f.open(p)
    try { in.seek(0); in.readFully(buf, 0, n) } finally in.close()
    val re = """"App Attempt ID"\s*:\s*"([^"]*)"""".r
    new String(buf, "UTF-8").linesIterator
      .find(_.contains("SparkListenerApplicationStart"))
      .flatMap(l => re.findFirstMatchIn(l).map(_.group(1)))
      .filter(_.nonEmpty)
  }

  /** Byte position after the LAST '\n' at or before `len` (0 if none):
   *  the only safe commit point — everything past it is a partial
   *  line. Scans backwards in bounded chunks from the end, so the cost
   *  is one seek + a few KB even on a multi-GB file. */
  private[sources] def lastLineEnd(f: FileSystem, p: Path, len: Long): Long = {
    if (len == 0) return 0L
    val in = f.open(p)
    try {
      val chunk = 65536
      var end = len
      while (end > 0) {
        val start = math.max(0L, end - chunk)
        val buf = new Array[Byte]((end - start).toInt)
        in.seek(start)
        in.readFully(buf)
        var i = buf.length - 1
        while (i >= 0) {
          if (buf(i) == '\n') return start + i + 1
          i -= 1
        }
        end = start
      }
      0L
    } finally in.close()
  }

  /** One scanned file's full committed row, computed IN THE EXECUTOR:
   *  the new checkpoint fields plus the tail byte range a grown file
   *  owes the parser (tailStart == tailEnd for whole/rewritten files
   *  and for growth with no complete new line yet). */
  private[sources] case class ScanRow(path: String, modTime: Long,
      offset: Long, seenLen: Long, attemptId: Option[String],
      tailStart: Long, tailEnd: Long)

  /** Distributed metadata pass: ONE job of tiny rows — the per-file
   *  seeks (commit point, head attempt sniff) run in executors, in
   *  parallel. Input per file: (path, len, mtime, prevOffset — -1 for
   *  whole/rewritten reads — and the checkpointed attempt id, whose
   *  presence skips the head read). The result is consumed as an RDD
   *  by both the tail read and the checkpoint write — per-file
   *  metadata never collects into a driver map. */
  private def scanRows(spark: SparkSession, props: Array[(String, String)],
                       files: Seq[(String, Long, Long, Long, Option[String])])
      : RDD[ScanRow] =
    spark.sparkContext
      .parallelize(files, math.min(files.size, 64).max(1))
      .map { case (pathStr, len, mt, prevOffset, known) =>
        val (f, p) = openFs(pathStr, props)
        val lineEnd = lastLineEnd(f, p, len)
        val att = known.orElse(headAttemptId(f, p, len))
        if (prevOffset < 0L) // whole/rewritten: parsed by the file reader
          ScanRow(pathStr, mt, lineEnd, len, att, 0L, 0L)
        else // grown: tail range [prevOffset, lineEnd) when it advanced
          ScanRow(pathStr, mt, math.max(lineEnd, prevOffset), len, att,
            prevOffset, math.max(lineEnd, prevOffset))
      }

  /** Distributed tail read, CHAINED off the metadata rows: each grown
   *  file's task seeks and reads its byte range in an executor and
   *  emits the lines directly into the parser's input — neither the
   *  offsets nor the tail bytes ever stage on the driver. */
  private def tailRows(meta: RDD[ScanRow], props: Array[(String, String)])
      : RDD[(String, String, String)] =
    meta.filter(r => r.tailEnd > r.tailStart)
      .flatMap { r =>
        val (f, p) = openFs(r.path, props)
        val buf = new Array[Byte]((r.tailEnd - r.tailStart).toInt)
        val in = f.open(p)
        try { in.seek(r.tailStart); in.readFully(buf) } finally in.close()
        new String(buf, "UTF-8").linesIterator
          .filter(_.nonEmpty).map(l => (l, r.path, r.attemptId.orNull)).toList
      }
}
