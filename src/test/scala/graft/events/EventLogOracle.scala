package graft.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The parity oracle of [[EventLogParser.parseLines]]: the parse it
 *  replaced, kept verbatim — `from_json` over an explicit schema of
 *  the fields the canonical columns read, then one CASE WHEN per
 *  column over the parsed struct. EventLogParserSpec runs both over
 *  the same lines and requires equal rows. */
object EventLogOracle {

  /** Pruned schema of a SparkListener event line: exactly the fields
   *  the reference extracts (spark_events.rs:158-265 + the task-metric
   *  JSON paths of duckdb_store_backup.rs:326-452). */
  val eventSchema: StructType = StructType(Seq(
    StructField("Event", StringType),
    StructField("Timestamp", LongType),
    StructField("Job ID", LongType),
    StructField("Completion Time", LongType),
    StructField("Submission Time", LongType),
    StructField("App ID", StringType),
    StructField("App Name", StringType),
    StructField("App Attempt ID", StringType),
    StructField("User", StringType),
    StructField("Spark Version", StringType),
    StructField("Executor ID", StringType),
    StructField("Removed Reason", StringType),
    // SparkListenerTaskStart/TaskEnd
    StructField("Stage ID", LongType),
    StructField("Stage Info", StructType(Seq(
      StructField("Stage ID", LongType),
      StructField("Submission Time", LongType),
      StructField("Completion Time", LongType)))),
    StructField("Executor Info", StructType(Seq(
      StructField("Host", StringType),
      StructField("Total Cores", LongType),
      StructField("Max Memory", LongType)))),
    StructField("Task Info", StructType(Seq(
      StructField("Task ID", LongType),
      StructField("Stage ID", LongType),
      StructField("Executor ID", StringType),
      StructField("Host", StringType),
      StructField("Locality", StringType),
      StructField("Launch Time", LongType),
      StructField("Finish Time", LongType)))),
    StructField("Task End Reason", StructType(Seq(
      StructField("Reason", StringType)))),
    StructField("Task Metrics", StructType(Seq(
      StructField("Executor Run Time", LongType),
      StructField("Executor CPU Time", LongType),
      StructField("JVM GC Time", LongType),
      StructField("Peak Execution Memory", LongType),
      StructField("Memory Bytes Spilled", LongType),
      StructField("Disk Bytes Spilled", LongType),
      StructField("Input Metrics", StructType(Seq(
        StructField("Bytes Read", LongType)))),
      StructField("Output Metrics", StructType(Seq(
        StructField("Bytes Written", LongType)))),
      StructField("Shuffle Read Metrics", StructType(Seq(
        StructField("Total Bytes Read", LongType),
        StructField("Remote Bytes Read", LongType),
        StructField("Local Bytes Read", LongType)))),
      StructField("Shuffle Write Metrics", StructType(Seq(
        StructField("Shuffle Bytes Written", LongType),
        StructField("Bytes Written", LongType))))))),
    StructField("Task Executor Metrics", StructType(Seq(
      StructField("JVMHeapMemory", LongType)))),
    // SparkListenerBlockManagerAdded/Removed
    StructField("Block Manager ID", StructType(Seq(
      StructField("Executor ID", StringType),
      StructField("Host", StringType),
      StructField("Port", LongType)))),
    StructField("Maximum Memory", LongType),
    // SparkListenerEnvironmentUpdate (a JSON object of properties)
    StructField("Spark Properties", MapType(StringType, StringType)),
    // SQL execution events
    StructField("executionId", LongType),
    StructField("time", LongType)
  ))

  /** The canonical frame of `lines` as `from_json` and the projection
   *  over its struct gave it.
   *
   *  Parse once: a line is tokenized by ONE `from_json` (the `e`
   *  column of the child projection), and every canonical column reads
   *  fields of that parsed struct. The canonical projection holds no
   *  JSON and no lambda, so it runs inside whole-stage codegen. A
   *  field derived from a `from_json` Column value instead of `e`
   *  would be inlined by the optimizer as its own pruned parse, once
   *  per use (a `coalesce` branch each), and would drop the projection
   *  out of codegen (`JsonToStructs` and higher-order functions are
   *  `CodegenFallback`).
   *
   *  Field mapping follows what Spark writes: task events carry
   *  `Stage ID` at the top level (a `Task Info.Stage ID` is the
   *  fallback), and EnvironmentUpdate writes `Spark Properties` as a
   *  JSON object, parsed as a string map. A line without `App ID`
   *  takes the log's file name less its extension, codec and
   *  `.inprogress` suffixes.
   *
   *  `keepRaw = true` carries the original JSON line through as a `raw`
   *  column (reference stores raw_data next to the typed columns and
   *  serves it back, duckdb_store_backup.rs:223-248) — cheap, the line
   *  is already in hand; store it as a separate column/file so typed
   *  scans never pay for it.
   *
   *  Attempt attribution: one log file is one application attempt
   *  (reference: src/storage/event_log.rs:112-128), so in batch mode
   *  the `App Attempt ID` of the file's ApplicationStart line is
   *  propagated to every event of that file (a per-file window — one
   *  ingest-time shuffle keyed by file, never paid at query time). In
   *  streaming mode (no windows over unbounded input) `attempt_id` is
   *  only set on the start rows themselves.
   *
   *  An input that carries an `attempt_hint` column (the incremental
   *  ingester's tail reads, whose ApplicationStart line was consumed
   *  in an earlier scan) needs no window: the caller already knows
   *  the file's attempt, read from its head or its checkpoint, so
   *  every line takes `coalesce(attempt_raw, attempt_hint)` — the
   *  start line's own attempt where one is in view, the file's hint
   *  elsewhere. */
  def parseLines(lines: DataFrame, keepRaw: Boolean = false): DataFrame = {
    import EventModel._
    val e = col("e")
    val evtType = e("Event")
    val isTask = evtType.isin(TaskStart, TaskEnd)
    val isTaskEnd = evtType === TaskEnd
    val tsMs = coalesce(e("Timestamp"),
      e("Task Info")("Finish Time"), e("Task Info")("Launch Time"),
      e("Stage Info")("Completion Time"), e("Stage Info")("Submission Time"),
      e("Completion Time"), e("Submission Time"), e("time"))
    val tsUs = tsMs * 1000L
    val props = e("Spark Properties")
    val hinted = lines.columns.contains("attempt_hint")
    // Streaming sources cannot use monotonically_increasing_id; a hash
    // of (file, line) is a stable synthetic id in both modes.
    val eventId =
      if (lines.isStreaming) xxhash64(col("log_file"), col("value"))
      else monotonically_increasing_id()
    val base = lines
      .withColumn("e", from_json(col("value"), eventSchema))
      .select(
        eventId.as("event_id"),
        coalesce(e("App ID"),
          regexp_replace(element_at(split(col("log_file"), "/"), -1),
            "(\\.(json|log|txt)(\\.gz|\\.lz4|\\.snappy)?)?(\\.inprogress)?$", ""))
          .as("app_id"),
        evtType.as("event_type"),
        timestamp_micros(tsUs).as("event_time"),
        tsUs.as("event_time_us"),
        date_format(timestamp_micros(tsUs), "yyyy-MM-dd").as("event_date"),
        when(evtType.isin(JobStart, JobEnd), e("Job ID")).as("job_id"),
        when(evtType.isin(StageSubmitted, StageCompleted),
          e("Stage Info")("Stage ID"))
          .when(isTask, coalesce(e("Stage ID"), e("Task Info")("Stage ID")))
          .as("stage_id"),
        when(isTask, e("Task Info")("Task ID")).as("task_id"),
        when(evtType.isin(SqlExecutionStart, SqlExecutionEnd),
          e("executionId")).as("sql_execution_id"),
        when(isTaskEnd, e("Task Metrics")("Executor Run Time")).as("duration_ms"),
        when(isTask, e("Task Info")("Executor ID"))
          .when(evtType.isin(ExecutorAdded, ExecutorRemoved), e("Executor ID"))
          .when(evtType.isin(BlockManagerAdded, BlockManagerRemoved),
            e("Block Manager ID")("Executor ID")).as("executor_id"),
        when(isTask, e("Task Info")("Host"))
          .when(evtType === ExecutorAdded, e("Executor Info")("Host"))
          .when(evtType.isin(BlockManagerAdded, BlockManagerRemoved),
            e("Block Manager ID")("Host")).as("host"),
        when(evtType === ExecutorAdded,
          e("Executor Info")("Total Cores").cast("int")).as("cores"),
        when(evtType === ExecutorAdded, e("Executor Info")("Max Memory"))
          .when(evtType === BlockManagerAdded, e("Maximum Memory")).as("max_memory"),
        when(isTaskEnd, e("Task Metrics")("Executor Run Time")).as("run_time_ms"),
        when(isTaskEnd, e("Task Metrics")("Executor CPU Time")).as("cpu_time_ns"),
        when(isTaskEnd, e("Task Metrics")("JVM GC Time")).as("gc_time_ms"),
        when(isTaskEnd,
          e("Task Metrics")("Input Metrics")("Bytes Read")).as("input_bytes"),
        when(isTaskEnd,
          e("Task Metrics")("Output Metrics")("Bytes Written")).as("output_bytes"),
        when(isTaskEnd,
          coalesce(e("Task Metrics")("Shuffle Read Metrics")("Total Bytes Read"),
            e("Task Metrics")("Shuffle Read Metrics")("Remote Bytes Read")
              + e("Task Metrics")("Shuffle Read Metrics")("Local Bytes Read")))
          .as("shuffle_read_bytes"),
        when(isTaskEnd,
          coalesce(e("Task Metrics")("Shuffle Write Metrics")("Shuffle Bytes Written"),
            e("Task Metrics")("Shuffle Write Metrics")("Bytes Written")))
          .as("shuffle_write_bytes"),
        when(isTaskEnd,
          e("Task Metrics")("Memory Bytes Spilled")).as("memory_spilled_bytes"),
        when(isTaskEnd,
          e("Task Metrics")("Disk Bytes Spilled")).as("disk_spilled_bytes"),
        when(isTaskEnd,
          e("Task Metrics")("Peak Execution Memory")).as("peak_memory_bytes"),
        when(isTaskEnd,
          e("Task Executor Metrics")("JVMHeapMemory")).as("jvm_heap_bytes"),
        when(isTask, e("Task Info")("Locality")).as("locality"),
        when(isTaskEnd, e("Task End Reason")("Reason")).as("end_reason"),
        when(evtType === ExecutorRemoved, e("Removed Reason")).as("removed_reason"),
        when(evtType === AppStart, e("User")).as("app_user"),
        // Spark version: from ApplicationStart, else from the
        // EnvironmentUpdate properties, `spark.app.version` first
        // (reference: src/storage/event_log.rs:143-161).
        when(evtType === AppStart, e("Spark Version"))
          .when(evtType === EnvironmentUpdate,
            coalesce(element_at(props, "spark.app.version"),
              element_at(props, "spark.version")))
          .as("spark_version"),
        when(evtType === AppStart, e("App Name")).as("app_name"),
        when(evtType === AppStart, e("App Attempt ID")).as("attempt_raw"),
        // Full Spark-properties map from EnvironmentUpdate (reference
        // parses these at src/storage/event_log.rs:143-161; the API
        // route is src/api.rs:43-45).
        when(evtType === EnvironmentUpdate, props).as("spark_props"),
        col("log_file"), col("value"),
        (if (hinted) col("attempt_hint")
         else lit(null).cast("string")).as("attempt_hint"))
    val attributed =
      if (lines.isStreaming || hinted)
        base.withColumn("attempt_id",
          coalesce(col("attempt_raw"), col("attempt_hint")))
      else base.withColumn("attempt_id",
        max("attempt_raw").over(
          org.apache.spark.sql.expressions.Window.partitionBy("log_file")))
    (if (keepRaw) attributed.withColumn("raw", col("value")) else attributed)
      .drop("attempt_raw", "attempt_hint", "log_file", "value")
      .filter(col("event_type").isNotNull)
  }
}
