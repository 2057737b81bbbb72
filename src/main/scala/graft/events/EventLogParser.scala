package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlAccess

/**
 * Parser for real Spark event logs (line-delimited JSON of
 * `SparkListener*` events) into the canonical frame ([[EventModel]]).
 *
 * Reference behavior: src/spark_events.rs:120-265 (`from_json` +
 * `extract_fields`) and src/storage/event_log.rs:26-165 (app-start
 * payload).
 *
 * Scale design:
 *  - `spark.read.text` + ONE native expression per line
 *    ([[EventLine]]): a fixed field set, no schema inference (which
 *    would double-read a 100 TB corpus), one streaming Jackson pass
 *    over the line's bytes inside whole-stage codegen; unknown event
 *    types are cheap nulls.
 *  - Only the hot fields the analytics need are extracted; everything
 *    else in a line is skipped by the JSON parser.
 *  - app_id comes from the log file name (one Spark app writes one
 *    log), falling back to the embedded `App ID` — so parsing needs no
 *    per-app driver loop; a directory of 100k logs is one distributed
 *    read.
 *  - Output is meant to be written `partitionBy(event_date)` (see
 *    [[graft.sources.EventLogStore]]) so per-app/per-day analytics
 *    prune partitions.
 */
object EventLogParser {

  /** Parse raw event-log lines (column `value` + `log_file`) into the
   *  canonical frame.
   *
   *  Parse once: a line is read by ONE [[EventLine]] expression (the
   *  `p` column of the child projection), which returns the line's
   *  canonical struct; the canonical columns are its fields (its
   *  `attempt_raw` only feeds `attempt_id`). The
   *  expression generates its own code, so the parse and the
   *  projection run inside one whole-stage-codegen stage; `p` is a
   *  child column because its fields are read 33 times, and a
   *  projection that repeated it would parse once per field.
   *
   *  Field mapping follows what Spark writes: task events carry
   *  `Stage ID` at the top level (a `Task Info.Stage ID` is the
   *  fallback), and EnvironmentUpdate writes `Spark Properties` as a
   *  JSON object, parsed as a string map. A line without `App ID`
   *  takes the log's file name less its extension, codec and
   *  `.inprogress` suffixes. A value that does not fit its column
   *  (`Total Cores` past an int, a timestamp past `Long` micros) reads
   *  null under ANSI mode and wraps without it; the line is kept.
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
    val hinted = lines.columns.contains("attempt_hint")
    // Streaming sources cannot use monotonically_increasing_id; a hash
    // of (file, line) is a stable synthetic id in both modes.
    val eventId =
      if (lines.isStreaming) xxhash64(col("log_file"), col("value"))
      else monotonically_increasing_id()
    val attemptRaw = col("p.attempt_raw")
    val attemptId =
      if (hinted) coalesce(attemptRaw, col("attempt_hint"))
      else if (lines.isStreaming) attemptRaw
      else max(attemptRaw).over(Window.partitionBy("log_file"))
    val ansi = lines.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
    lines
      .withColumn("p", SqlAccess.column(EventLine(UnresolvedAttribute.quoted("value"),
        UnresolvedAttribute.quoted("log_file"), ansi)))
      .select(Seq(eventId.as("event_id")) ++
        CanonicalFields.map(f => col("p." + f)) ++
        Seq(attemptId.as("attempt_id")) ++
        (if (keepRaw) Seq(col("value").as("raw")) else Nil): _*)
      .filter(col("event_type").isNotNull)
  }

  /** The parsed struct's fields in canonical column order; the start
   *  line's own attempt is read only to derive `attempt_id`. */
  private val CanonicalFields = EventLine.Schema.fieldNames.toSeq.filter(_ != "attempt_raw")

  /** Read + parse event logs from any Hadoop-FS URI (file://, hdfs://,
   *  s3a:// — the FS abstraction is the URI scheme; no reader-specific
   *  code needed, matching the reference's local/HDFS/S3 readers at
   *  src/storage/file_reader.rs:32-516). */
  def read(spark: SparkSession, pathOrUris: String*): DataFrame =
    parseLines(spark.read.text(pathOrUris: _*)
      .select(col("value"), input_file_name().as("log_file")))
}
