package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/**
 * The parquet state-store kernel every streaming loop shares. A loop
 * declares its stores (directory + schema) and keeps its own detection
 * logic and its own compaction fold (SUM, bit_or, latest-wins
 * `max_by`, distinct); this object owns what every loop does the same
 * way:
 *
 *  - [[read]]: schema-on-read of a store, an empty frame of the schema
 *    while the store does not exist yet;
 *  - [[commit]]: the per-trigger write-ordering contract;
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

  /** One store append: `frame` appended to the parquet store at the
   *  directory. */
  type Append = (String, DataFrame)

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

  /** The one write-ordering contract of a trigger:
   *
   *  1. the doc/survivor append `docs` commits first;
   *  2. then the `state` appends run concurrently with each other;
   *  3. the optional pairs/stats `ledger` append runs alongside both.
   *
   *  Concurrent appends are independent driver jobs, so one write's
   *  task tail back-fills with the next write's tasks. A frame that
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

  private def append(w: Append): Unit = w._2.write.mode("append").parquet(w._1)

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
