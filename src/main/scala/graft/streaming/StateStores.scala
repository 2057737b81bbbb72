package graft.streaming

import java.util.UUID
import graft.obs.WorkLedger
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{FutureAction, InterruptibleIterator, TaskContext}
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession, sources}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{LocalTableScanExec, PartitionedFileUtil, QueryExecution, SQLExecutionRDD}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, FileStatusWithMetadata, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.language.implicitConversions
import scala.reflect.ClassTag
import scala.util.{Failure, Success, Try}

/**
 * The parquet state-store kernel every streaming loop shares. A loop
 * declares its stores (directory + schema) and keeps its own detection
 * logic and its own compaction fold (SUM, bit_or, latest-wins
 * `max_by`, distinct); this object owns what every loop does the same
 * way:
 *
 *  - [[read]]: schema-on-read of a store, an empty frame of the schema
 *    while the store does not exist yet (the distributed plans);
 *  - [[Store]]: a store handle whose probes are what a bounded trigger
 *    reads — one parquet-reader job over the store's files that keeps
 *    the rows at the batch's keys, with no query analysed, optimised,
 *    planned or code-generated;
 *  - [[probe]]: the same probe as a Catalyst query, for the DataFrame
 *    API over frames that are not stores;
 *  - [[readBatch]]: a bounded trigger's batch read once — one job over
 *    a plain projection (none for a `LocalRelation`), its rows
 *    converted in the tasks by the distributed plan's own Catalyst
 *    expressions ([[TaskRows]]) and weighed against the trigger's
 *    bound;
 *  - [[runBounded]]: the one job of a probe or a batch read, cancelled
 *    once its values pass the bound; its task is a named class, so no
 *    closure is cleaned per job;
 *  - [[commit]]: the per-trigger write-ordering contract;
 *  - [[writeRows]]: a delta already on the driver appended as one
 *    file, with no Spark job;
 *  - [[swapIn]]: crash-safe tmp-write + rename compaction;
 *  - [[availableNow]]: the `foreachBatch` + `AvailableNow` wiring.
 *
 * Replay contract (at-least-once restarts): a state store never
 * records a batch whose documents are not in the doc store, because
 * [[commit]] starts the state appends only after the doc append has
 * committed. A crash before that point leaves the state as it was, and
 * the replay admits the batch afresh. A crash after it leaves some or
 * all state appends committed; the replay then either flags the batch
 * as a duplicate of its own stored copy (nothing lost — its documents
 * are already stored) or re-appends the same rows, which every store's
 * fold tolerates (each loop's header says how).
 */
private[graft] object StateStores {

  /** One store append: its delta appended to the parquet store at the
   *  directory. */
  type Append = (String, Delta)

  /** What one append writes: a distributed [[Frame]], or [[Rows]] a
   *  bounded trigger already holds on the driver. A frame converts
   *  implicitly, so `dir -> frame` is an append. */
  sealed trait Delta
  object Delta {
    implicit def fromFrame(frame: DataFrame): Delta = Frame(frame)
  }
  /** Written through `DataFrame.write`: a Spark job, one file or more. */
  final case class Frame(frame: DataFrame) extends Delta
  /** Written by [[writeRows]]: one file, no job. */
  final case class Rows(spark: SparkSession, rows: Seq[Row],
                        schema: StructType) extends Delta

  private val TmpSuffix = ".compact-tmp"
  private val OldSuffix = ".compact-old"

  /** Whether the store at `dir` exists. A compaction that crashed
   *  between its two renames left the store at `<dir>.compact-old` and
   *  nothing at `dir`; that store is renamed back first, so no reader
   *  mistakes the missing store for empty state (which would admit
   *  every duplicate) and no append starts a fresh store beside it.
   *  The extra `exists` call runs only when `dir` is absent. */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) || {
      val old = new Path(dir + OldSuffix)
      fs.exists(old) && fs.rename(old, path)
    }
  }

  /** The store at `dir` read with `schema`, or an empty frame of that
   *  schema when the store does not exist yet. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (exists(spark, dir)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The rows of one store whose `key` is one of `keys` (values of the
   *  key column's type: `Long` for a `long` column), as `Row`s of the
   *  probed columns: the batch-keyed read of a bounded trigger. A
   *  [[Store]] runs it over the store's files; [[frameProbe]] runs it
   *  as a Catalyst query over any frame. No keys, no job. */
  trait Probe {
    def probeRows(key: String, keys: Seq[Any]): Array[Row]
  }

  /** `store` restricted to the rows whose `key` is one of `keys` — the
   *  Catalyst probe, for the DataFrame API over frames that are not
   *  stores (a bounded trigger probes its stores through [[Store]]).
   *  Up to [[graft.pipeline.Dedup.RareGramPushdownMax]] keys become an
   *  `In` the parquet scan pushes down; more keys become a broadcast
   *  left-semi join against a `LocalRelation` of them. Either way the
   *  store is only scanned, never exchanged. */
  def probe(store: DataFrame, key: String, keys: Seq[Any]): DataFrame =
    if (keys.length <= graft.pipeline.Dedup.RareGramPushdownMax)
      store.filter(col(key).isin(keys: _*))
    else {
      val keyFrame = local(store.sparkSession, keys.map(Row(_)),
        StructType(Seq(store.schema(key).copy(nullable = false))))
      store.join(broadcast(keyFrame), Seq(key), "left_semi")
        .select(store.columns.toIndexedSeq.map(col): _*)
    }

  /** [[probe]] over `frame`, collected, as a [[Probe]]. */
  def frameProbe(frame: DataFrame): Probe = (key, keys) =>
    if (keys.isEmpty) Array.empty[Row] else probe(frame, key, keys).collect()

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  /** The job description of a [[Store]] probe: its store, key column
   *  and key count, so a listener can tell which store a job read. */
  private[graft] def probeDescription(dir: String, key: String, keys: Int): String =
    s"state-store probe: $dir on $key, $keys keys"

  /** The parquet store at `dir`, read with `schema` (a subset of the
   *  written columns reads only those). Its probes run ONE job over
   *  the store's files, with no query: the directory is listed once
   *  (through [[exists]], so a store a cut compaction left at
   *  `<dir>.compact-old` is renamed back first), the files are split
   *  and packed into tasks by Spark's own `PartitionedFileUtil` and
   *  `FilePartition` (the session's `spark.sql.files.*` sizes, as a
   *  file scan packs them), and each task reads its files through
   *  `ParquetFileFormat`'s reader — a `FileScanRDD`, so its bytes count
   *  as task input — testing every row's key against the batch key set
   *  on the `InternalRow` and converting only the matches to `Row`s.
   *
   *  Row groups are skipped by a pushed-down filter: an `In` up to the
   *  session's `spark.sql.parquet.pushdown.inFilterThreshold` keys
   *  (10 by default; parquet tests it as ORed equalities), the keys'
   *  `[min, max]` range above it — strings ordered by their UTF-8
   *  bytes, as parquet's binary statistics are. A larger `In` would
   *  become parquet's set predicate, serialized into every file's conf
   *  and tested against every row group's dictionary: per file, that
   *  cost grows with the store, while a key-sorted compacted store
   *  ([[StreamingDedup.compactState]]) skips on the range alone. The
   *  filter goes only into files larger than
   *  `spark.sql.files.openCostInBytes` (Spark's estimate of the bytes
   *  read in the time a file open takes): the reader serializes it into
   *  each file's conf, which on 150-row delta files cost more than
   *  reading them whole (MEASURED, local[4], 1,500 string keys, 10 →
   *  160 files: 1.24 ms per file per probe with the filter, 0.91
   *  without, the Catalyst semi-join probe 0.98).
   *
   *  A store that does not exist, or holds no file, gives no rows and
   *  runs no job; null keys match nothing, as in `isin`. Every probe
   *  job is described by [[probeDescription]]. */
  final case class Store(spark: SparkSession, dir: String, schema: StructType)
      extends Probe {

    /** This store read with only `columns`, in that order. */
    def select(columns: String*): Store =
      copy(schema = StructType(columns.map(schema(_))))

    def probeRows(key: String, keys: Seq[Any]): Array[Row] =
      scan(key, keys, Long.MaxValue).get

    /** [[probeRows]] if it holds at most `max` rows, else `None`: for
     *  keys whose rows the batch does not bound. The probe job stops
     *  once its rows pass `max` ([[runBounded]]). */
    def probeRowsWithin(key: String, keys: Seq[Any], max: Int): Option[Array[Row]] =
      scan(key, keys, max)

    /** The probe job: its matching rows if they number at most `max`. */
    private def scan(key: String, keys: Seq[Any], max: Long): Option[Array[Row]] = {
      val keyType = schema(key).dataType
      // strings as UTF8String, the row's representation of the key
      val wanted = keys.iterator.filter(_ != null)
        .map(CatalystTypeConverters.convertToCatalyst).toSet
      if (wanted.isEmpty || !exists(spark, dir)) return Some(Array.empty)
      val path = new Path(dir)
      val files = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(path).filter { f =>
          val name = f.getPath.getName
          f.isFile && !name.startsWith("_") && !name.startsWith(".")
        }.map(FileStatusWithMetadata(_)).toSeq
      if (files.isEmpty) return Some(Array.empty)
      val maxSplit = FilePartition.maxSplitBytes(spark,
        Seq(PartitionDirectory(InternalRow.empty, files)))
      val splits = files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
          isSplitable = true, maxSplit, InternalRow.empty))
        .sortBy(_.length)(Ordering[Long].reverse)
      def reader(filters: Seq[sources.Filter]) =
        new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
          StructType(Nil), schema, filters,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          spark.sessionState.newHadoopConf())
      // each reader set-up broadcasts a Hadoop conf: build only the
      // readers some file needs
      val minFiltered = spark.sessionState.conf.filesOpenCostInBytes
      val (large, small) = files.partition(_.getLen > minFiltered)
      val filtered = Option.when(large.nonEmpty)(reader(pushed(key, keyType, wanted)))
      val whole = Option.when(small.nonEmpty)(reader(Nil))
      val read = (f: PartitionedFile) =>
        if (f.fileSize > minFiltered) filtered.get(f) else whole.get(f)
      val rdd = new FileScanRDD(spark, read,
        FilePartition.getFilePartitions(spark, splits, maxSplit), schema)
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(JobDescription)
      sc.setJobDescription(probeDescription(dir, key, wanted.size))
      try runBounded(rdd, ProbeRows(schema, schema.fieldIndex(key), wanted), max)
      finally sc.setLocalProperty(JobDescription, outer)
    }

    /** The row-group filter of a probe at the internal keys `wanted`. */
    private def pushed(key: String, keyType: DataType,
                       wanted: Set[Any]): Seq[sources.Filter] = {
      def external(k: Any) = CatalystTypeConverters.convertToScala(k, keyType)
      if (wanted.size <= spark.sessionState.conf.parquetFilterPushDownInFilterThreshold)
        Seq(sources.In(key, wanted.iterator.map(external).toArray))
      else {
        val order: Ordering[Any] = keyType match {
          case StringType => (a, b) =>
            a.asInstanceOf[UTF8String].binaryCompare(b.asInstanceOf[UTF8String])
          case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
        }
        Seq(sources.GreaterThanOrEqual(key, external(wanted.min(order))),
          sources.LessThanOrEqual(key, external(wanted.max(order))))
      }
    }
  }

  /** How the tasks of a bounded read turn its rows into driver values:
   *  the rows it keeps, one value per kept row, and the weight of that
   *  value against the read's bound (one by default). A [[Store]]
   *  probe keeps the rows at its keys ([[ProbeRows]]); [[readBatch]]
   *  keeps every row of a batch, its value computed by the Catalyst
   *  expressions of the distributed plan's own Column builders, bound
   *  once as `graft.util.Formula`s — no expression is re-implemented
   *  in Scala. It runs in the read's tasks: serializable, and holding
   *  no session. A row's strings point into a reused buffer, so a value
   *  keeps copies of them, never the `UTF8String`s themselves. */
  trait TaskRows[T] extends Serializable {
    def keep(row: InternalRow): Boolean = true
    def apply(row: InternalRow): T
    def weight(value: T): Long = 1L
  }

  /** The rows of a probe: those whose key (at `ord` of `schema`) is
   *  one of `wanted`, as `Row`s. */
  private final case class ProbeRows(schema: StructType, ord: Int, wanted: Set[Any])
      extends TaskRows[Row] {
    @transient private lazy val keyType = schema(ord).dataType
    @transient private lazy val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    override def keep(row: InternalRow): Boolean =
      !row.isNullAt(ord) && wanted(row.get(ord, keyType))
    def apply(row: InternalRow): Row = toRow(row).asInstanceOf[Row]
  }

  /** The long at `i` of a batch row: a null is an error, as it is to
   *  the `Row` and tuple encoders. */
  def longAt(row: InternalRow, i: Int): Long =
    if (row.isNullAt(i)) throw new NullPointerException(s"null batch key in column $i")
    else row.getLong(i)

  /** The string at `i` of a batch row, copied out of the row's buffer;
   *  null where the column is. */
  def stringAt(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) null else row.getUTF8String(i).toString

  /** The batch of a bounded trigger, read once: the rows of the plain
   *  projection `batch` as values of `rows`, in partition order, if
   *  their weights total at most `max`; else `None`, also for a
   *  negative `max`, which reads nothing. A trigger thus decides its
   *  plan and holds its batch on the driver from one read.
   *
   *  The read is ONE job over the projection's physical plan, prepared
   *  without adaptive execution: an exchange in the batch's plan is a
   *  stage of that job, not a job of its own. A plan that is a
   *  `LocalTableScanExec` (a `LocalRelation` batch) runs no job; its
   *  rows are converted on the driver. No Dataset action runs, so no
   *  query listener is told of it. The job stops once the values pass
   *  `max` ([[runBounded]]). Its partitions are coalesced, without a
   *  shuffle, into at most `defaultParallelism` contiguous ranges
   *  ([[ContiguousRanges]]): the cancel reaches the tasks only after
   *  the tasks that finish meanwhile have shipped their values, so an
   *  over-bound batch must pass `max` inside each task, which then
   *  ships only its weight, not across many small tasks that each ship
   *  theirs. */
  def readBatch[T: ClassTag](batch: DataFrame, rows: TaskRows[T],
                             max: Int): Option[Array[T]] =
    if (max < 0) None
    else {
      val qe = batch.queryExecution
      val spark = qe.sparkSession
      QueryExecution.prepareExecutedPlan(spark, qe.sparkPlan) match {
        case local: LocalTableScanExec =>
          val (values, weight) = new BoundedTask(rows, max).apply(local.executeCollect().iterator)
          Option.when(weight <= max)(values)
        case plan =>
          val rdd = new SQLExecutionRDD(plan.execute(), spark.sessionState.conf)
          runBounded(rdd.coalesce(spark.sparkContext.defaultParallelism, shuffle = false,
            Some(ContiguousRanges)), rows, max)
      }
    }

  /** Coalesces an RDD's partitions into at most `maxPartitions`
   *  contiguous, near-equal ranges, so the coalesced partitions keep
   *  the parent's order (Spark's default coalescer groups by preferred
   *  location). */
  private object ContiguousRanges extends PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val parts = parent.partitions
      val n = math.min(maxPartitions, parts.length)
      def start(g: Int) = (g.toLong * parts.length / n).toInt
      Array.tabulate(n) { g =>
        val group = new PartitionGroup()
        group.partitions ++= parts.slice(start(g), start(g + 1))
        group
      }
    }
  }

  /** The values `rows` makes of the rows of `rdd`, in partition order,
   *  if their weights total at most `max`; else `None`. ONE job reads
   *  them. Each task stops at its first value past `max`, and a task
   *  whose own values pass it returns their weight alone. The driver
   *  keeps values while the total stays within `max`; the first result
   *  that passes it cancels the job, so the tasks not yet started never
   *  run and those running stop at their next row. The driver thus
   *  receives at most `max` weight of values per task that finished
   *  before the cancel reached it — about one per core — however many
   *  partitions the read has. */
  private def runBounded[T: ClassTag](rdd: RDD[InternalRow], rows: TaskRows[T],
                                      max: Long): Option[Array[T]] = {
    val parts = new Array[Array[T]](rdd.partitions.length)
    val lock = new Object
    var weight = 0L
    var job: FutureAction[Unit] = null
    def merge(i: Int, part: (Array[T], Long)): Unit = lock.synchronized {
      if (weight <= max) {
        weight += part._2
        if (weight <= max) parts(i) = part._1
        else if (job != null) job.cancel()
      }
    }
    val action = rdd.sparkContext.submitJob(rdd, new BoundedTask(rows, max),
      rdd.partitions.indices, merge _, ())
    // a result handled before `job` was set left the cancel to here
    lock.synchronized { job = action; if (weight > max) action.cancel() }
    Await.ready(action, Duration.Inf)
    lock.synchronized {
      if (weight > max) None // the job's own end: cancelled or complete
      else action.value.get match {
        case Success(_) => Some(parts.flatten)
        case Failure(e) => throw e
      }
    }
  }

  /** A [[runBounded]] task: its partition's values up to the first whose
   *  weight passes `max`, and their total weight; only the weight once
   *  it passes. A named class rather than a lambda, so
   *  `SparkContext.clean` has no closure to scan. */
  private final class BoundedTask[T: ClassTag](rows: TaskRows[T], max: Long)
      extends (Iterator[InternalRow] => (Array[T], Long)) with Serializable {
    def apply(input: Iterator[InternalRow]): (Array[T], Long) = {
      // a cancelled job's task stops at its next row; TaskContext is
      // null when the driver reads a local batch
      val it = Option(TaskContext.get()).fold(input)(new InterruptibleIterator(_, input))
      val out = mutable.ArrayBuilder.make[T]
      var weight = 0L
      while (weight <= max && it.hasNext) {
        val row = it.next()
        if (rows.keep(row)) {
          val value = rows(row)
          weight += rows.weight(value)
          out += value
        }
      }
      (if (weight > max) Array.empty[T] else out.result(), weight)
    }
  }

  /** `rows` as a `LocalRelation` frame of `schema`: a projection or
   *  filter over it folds on the driver, without a job. A delta to
   *  append is not built this way but handed to [[commit]] as [[Rows]]:
   *  writing even a folded `LocalRelation` pays analysis, planning and
   *  a write job. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The one write-ordering contract of a trigger:
   *
   *  1. the doc/survivor append `docs` commits first;
   *  2. then the `state` appends run concurrently with each other;
   *  3. the optional pairs/stats `ledger` append runs alongside both.
   *
   *  A [[Frame]] append is a `DataFrame.write` job; a [[Rows]] append
   *  is [[writeRows]]' one driver-written file. Concurrent frame
   *  appends are independent driver jobs, so one write's task tail
   *  back-fills with the next write's tasks. A frame that
   *  several appends read should be cached and materialized by the
   *  caller first (the `docs` append itself fills a cache the state
   *  appends read), or the concurrent jobs race to fill it.
   *
   *  On failure every write already started runs to its end before the
   *  error is rethrown, naming the writes that committed and those that
   *  never started — no store keeps advancing after the trigger has
   *  been reported failed. */
  def commit(ledger: Option[Append], docs: Append, state: Append*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, ledger.size + state.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def start(ws: Seq[Append]) = ws.map(w => w._1 -> Future(append(w)))
    def await(fs: Seq[(String, Future[Unit])]) =
      fs.map { case (dir, f) => dir -> Try(Await.result(f, Duration.Inf)) }
    val (outcomes, notStarted) = try {
      val ledgerRun = start(ledger.toSeq)
      val docsDone = docs._1 -> Try(append(docs))
      if (docsDone._2.isSuccess)
        ((docsDone +: await(start(state))) ++ await(ledgerRun), Nil)
      else (docsDone +: await(ledgerRun), state.map(_._1))
    } finally pool.shutdown()
    val failed = outcomes.collect { case (dir, Failure(e)) => dir -> e }
    if (failed.nonEmpty) {
      val committed = outcomes.collect { case (dir, Success(_)) => dir }
      val err = new java.io.IOException(
        s"state commit failed: ${failed.map(_._1).mkString(", ")}; " +
          s"committed: ${committed.mkString(", ")}; " +
          s"not started: ${notStarted.mkString(", ")}", failed.head._2)
      failed.tail.foreach(f => err.addSuppressed(f._2))
      throw err
    }
  }

  private def append(w: Append): Unit = w._2 match {
    case Frame(frame) => frame.write.mode("append").parquet(w._1)
    case Rows(spark, rows, schema) => writeRows(spark, w._1, rows, schema)
  }

  /** Appends `rows` of `schema` to the parquet store at `dir` as ONE
   *  file, written on the driver by Spark's own parquet writer
   *  (`ParquetFileFormat.prepareWrite`, the session's parquet confs):
   *  no plan is analysed and no job runs. The file is written hidden
   *  (`.part-….tmp`, which no reader lists) and renamed to its `part-`
   *  name once closed, both through the Hadoop `FileSystem` of `dir`;
   *  a failed write or rename deletes it, so a store never shows a
   *  partial file. Empty `rows` write a file of the schema alone, as
   *  `DataFrame.write` does for an empty partition. No task writes the
   *  file, so no task output metric counts it: its size is posted to
   *  the listener bus instead ([[WorkLedger.driverWrote]]). */
  def writeRows(spark: SparkSession, dir: String, rows: Seq[Row],
                schema: StructType): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val (path, tmp) = (new Path(dir, name), new Path(dir, s".$name.tmp"))
    val fs = path.getFileSystem(job.getConfiguration)
    try {
      val writer = factory.newInstance(tmp.toString, schema, ctx)
      try {
        val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
        rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      } catch {
        case e: Throwable =>
          Try(writer.close()).failed.foreach(e.addSuppressed)
          throw e
      }
      writer.close()
      if (!fs.rename(tmp, path))
        throw new java.io.IOException(s"cannot rename $tmp to $path")
      WorkLedger.driverWrote(spark.sparkContext, fs.getFileStatus(path).getLen)
    } catch {
      // the write's or rename's own failure is the error; a failed
      // close or delete of the temp file rides along as suppressed
      case e: Throwable =>
        Try(fs.delete(tmp, false)).failed.foreach(e.addSuppressed)
        throw e
    }
  }

  /** Compact the store at `dir`: `write` puts the compacted store at
   *  the tmp path it is given, which then replaces the store by two
   *  renames (store aside, tmp in). A crash leaves the old or the new
   *  store installed — or, between the renames, the old one at
   *  `<dir>.compact-old`, which the next [[exists]] renames back. A
   *  store that does not exist is left alone. Compaction runs offline,
   *  between stream restarts: a trigger running during the swap could
   *  rename the store back under it. */
  def swapIn(spark: SparkSession, dir: String)(write: String => Unit): Unit =
    if (exists(spark, dir)) install(spark, dir)(write)

  /** [[swapIn]] without its existence guard: also creates a store that
   *  does not exist yet (a sibling derived from another store). */
  def install(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + TmpSuffix)
    val old = new Path(dir + OldSuffix)
    val present = exists(spark, dir)
    fs.delete(tmp, true) // a crashed compaction's partial output
    write(tmp.toString)
    fs.delete(old, true)
    if (present && !fs.rename(path, old))
      throw new java.io.IOException(s"compaction: cannot move $path aside")
    if (!fs.rename(tmp, path)) {
      if (present) fs.rename(old, path)
      throw new java.io.IOException(s"compaction: cannot install $tmp")
    }
    fs.delete(old, true)
  }

  /** Run `trigger(batch, batchId)` on every micro-batch of the streaming
   *  `frame` available now, with its offsets checkpointed at
   *  `checkpoint`. */
  def availableNow(frame: DataFrame, checkpoint: String)(
      trigger: (DataFrame, Long) => Unit): StreamingQuery =
    frame.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(trigger)
      .trigger(Trigger.AvailableNow())
      .start()
}
