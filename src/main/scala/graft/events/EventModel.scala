package graft.events

import org.apache.spark.sql.types._

/**
 * Canonical Spark-event frame: the single wide schema every graft analytic
 * runs against. Mirrors the hot-field extraction of the reference
 * (reference: src/spark_events.rs:100-265) but goes further: instead of
 * re-extracting task metrics from raw JSON at query time
 * (reference: src/storage/duckdb_store_backup.rs:326-452 does
 * JSON_EXTRACT per query), graft parses ONCE into typed columns.
 * At 100 TB you cannot afford per-query JSON extraction; a columnar
 * frame partitioned by event_date and clustered by app_id lets every
 * per-app / per-day analytic prune at the parquet scan.
 *
 * Nullability follows the reference's Option<> fields
 * (src/spark_events.rs:108-115): a field is non-null only for the event
 * types that carry it.
 */
object EventModel {

  // Event-type names (reference: src/spark_events.rs:21-99)
  val AppStart       = "SparkListenerApplicationStart"
  val AppEnd         = "SparkListenerApplicationEnd"
  val JobStart       = "SparkListenerJobStart"
  val JobEnd         = "SparkListenerJobEnd"
  val StageSubmitted = "SparkListenerStageSubmitted"
  val StageCompleted = "SparkListenerStageCompleted"
  val TaskStart      = "SparkListenerTaskStart"
  val TaskEnd        = "SparkListenerTaskEnd"
  val ExecutorAdded  = "SparkListenerExecutorAdded"
  val ExecutorRemoved = "SparkListenerExecutorRemoved"
  val BlockManagerAdded   = "SparkListenerBlockManagerAdded"
  val BlockManagerRemoved = "SparkListenerBlockManagerRemoved"
  val EnvironmentUpdate   = "SparkListenerEnvironmentUpdate"
  val SqlExecutionStart =
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
  val SqlExecutionEnd =
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"

  /** Canonical frame schema. `event_time_us` (epoch micros) and
   *  `event_date` (ISO yyyy-MM-dd) are denormalised from `event_time`
   *  so downstream group-bys are pure column refs (and so the DuckDB
   *  oracle can reproduce them bit-for-bit). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("app_id", StringType, nullable = false),
    // one log file = one attempt (reference: src/storage/event_log.rs:
    // 112-128); null when the app has no attempt id (non-YARN)
    StructField("attempt_id", StringType, nullable = true),
    StructField("event_type", StringType, nullable = false),
    StructField("event_time", TimestampType, nullable = false),
    StructField("event_time_us", LongType, nullable = false),
    StructField("event_date", StringType, nullable = false),
    // hot ids (reference: src/spark_events.rs:158-265)
    StructField("job_id", LongType, nullable = true),
    StructField("stage_id", LongType, nullable = true),
    StructField("task_id", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("executor_id", StringType, nullable = true),
    StructField("host", StringType, nullable = true),
    StructField("cores", IntegerType, nullable = true),
    StructField("max_memory", LongType, nullable = true),
    // task metrics (TaskEnd only; reference extracts these from
    // $.Task Metrics.* at query time, duckdb_store_backup.rs:326-452)
    StructField("run_time_ms", LongType, nullable = true),
    StructField("cpu_time_ns", LongType, nullable = true),
    StructField("gc_time_ms", LongType, nullable = true),
    StructField("input_bytes", LongType, nullable = true),
    StructField("output_bytes", LongType, nullable = true),
    StructField("shuffle_read_bytes", LongType, nullable = true),
    StructField("shuffle_write_bytes", LongType, nullable = true),
    StructField("memory_spilled_bytes", LongType, nullable = true),
    StructField("disk_spilled_bytes", LongType, nullable = true),
    StructField("peak_memory_bytes", LongType, nullable = true),
    StructField("jvm_heap_bytes", LongType, nullable = true),
    StructField("locality", StringType, nullable = true),
    StructField("end_reason", StringType, nullable = true),
    // app-start payload (reference: src/storage/event_log.rs:95-131)
    StructField("app_user", StringType, nullable = true),
    StructField("spark_version", StringType, nullable = true),
    StructField("app_name", StringType, nullable = true),
    // EnvironmentUpdate only: the full Spark-properties map
    // (reference: src/storage/event_log.rs:143-161)
    StructField("spark_props", MapType(StringType, StringType), nullable = true)
    // + an OPTIONAL `raw` string column (the original event-log line)
    // when parsed with keepRaw = true
  ))

  val columns: Seq[String] = schema.fieldNames.toSeq
}
