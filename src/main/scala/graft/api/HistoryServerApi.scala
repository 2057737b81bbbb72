package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics._

/**
 * History-server v1 API surface as callable DataFrame functions — the
 * Spark-native equivalent of the reference's REST routes
 * (reference: src/api.rs:24-48 for the v1 surface and
 * src/analytics_api_old.rs:12-21 for the cross-app analytics routes).
 * A serving layer maps each route to one function call; every function
 * is a pruned, pushed-down query over the canonical frame.
 */
object HistoryServerApi {

  /** GET /api/v1/applications?minDate=&maxDate=&limit= */
  def applications(canon: DataFrame, minDate: Option[String] = None,
                   maxDate: Option[String] = None, limit: Int = 100): DataFrame =
    Applications.appList(canon, minDate, maxDate, limit)

  /** GET /api/v1/applications/{appId} */
  def application(canon: DataFrame, appId: String): DataFrame =
    Applications.apiApplications(canon).filter(col("id") === appId)

  /** GET /api/v1/applications/{appId}/executors */
  def executors(canon: DataFrame, appId: String): DataFrame =
    Resources.executorSummary(canon).filter(col("app_id") === appId)

  /** GET /api/v1/applications/{appId}/jobs — implemented from events
   *  (the reference stubs this route, src/api.rs:153-159). */
  def jobs(canon: DataFrame, appId: String): DataFrame =
    JobsStages.appJobs(canon).filter(col("app_id") === appId)

  /** GET /api/v1/applications/{appId}/stages — implemented from events
   *  (the reference stubs this route, src/api.rs:197-203). */
  def stages(canon: DataFrame, appId: String): DataFrame =
    JobsStages.appStages(canon).filter(col("app_id") === appId)

  /** GET /api/v1/applications/{appId}/storage/rdd — block-manager
   *  registration summary (the reference stubs this route to `[]`,
   *  src/api.rs:206-212; graft implements it from the BlockManager
   *  events it already parses). */
  def storage(canon: DataFrame, appId: String): DataFrame =
    Storage.appStorage(canon).filter(col("app_id") === appId)

  /** GET /api/v1/applications/{appId}/environment — one (key, value)
   *  row per Spark property from the app's EnvironmentUpdate events
   *  (reference routes it at src/api.rs:43-45; property parsing spec
   *  at src/storage/event_log.rs:143-161). Requires a parser-produced
   *  canonical frame (the `spark_props` map column). */
  def environment(canon: DataFrame, appId: String): DataFrame =
    canon
      .filter(col("app_id") === appId && col("spark_props").isNotNull)
      .select(col("app_id"), explode(col("spark_props")).as(Seq("key", "value")))
      .distinct()
      .orderBy("key")

  /** GET /api/v1/applications/{appId}/sql — per-execution lifecycle
   *  from the SQLExecutionStart/End events (the real history server's
   *  SQL tab; the reference parses these event types but exposes no
   *  route — graft exceeds it, as with /jobs and /stages). Requires a
   *  parser-produced canonical frame (`sql_execution_id` column). */
  def sqlExecutions(canon: DataFrame, appId: String): DataFrame =
    canon
      .filter(col("app_id") === appId && col("sql_execution_id").isNotNull)
      .groupBy("app_id", "sql_execution_id")
      .agg(
        min(when(col("event_type") === graft.events.EventModel.SqlExecutionStart,
          col("event_time_us"))).as("start_us"),
        max(when(col("event_type") === graft.events.EventModel.SqlExecutionEnd,
          col("event_time_us"))).as("end_us"))
      .select(
        col("app_id"), col("sql_execution_id"), col("start_us"), col("end_us"),
        when(col("start_us").isNotNull && col("end_us").isNotNull,
          ((col("end_us") - col("start_us")) / 1000.0).cast("long"))
          .as("duration_ms"),
        when(col("end_us").isNull, "RUNNING").otherwise("COMPLETED").as("status"))
      .orderBy("sql_execution_id")

  /** GET /api/v1/version (reference: src/api.rs:44-48) */
  def version(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("1", spark.version)).toDF("api_version", "spark_version")
  }

  /** GET /health (reference: src/api.rs:48,231-236). The reference
   *  returns a static `{"status":"healthy"}`; a LIBRARY's liveness is
   *  whether the event store is reachable and non-empty, so graft
   *  reports that plus the corpus bounds a prober actually wants —
   *  one partial-agg row (map-side combine, no shuffle of data rows)
   *  over the canonical frame. `status = empty` is still a healthy
   *  store (reads work); an unreachable store throws, which is the
   *  unhealthy signal a prober turns into a failed check. */
  def health(canon: DataFrame): DataFrame =
    canon.agg(
      count(lit(1)).as("total_events"),
      countDistinct("app_id").as("total_applications"),
      countDistinct("event_type").as("event_types"),
      min("event_date").as("first_event_date"),
      max("event_date").as("last_event_date"))
      .select(
        when(col("total_events") > 0, lit("healthy")).otherwise(lit("empty"))
          .as("status"),
        col("total_events"), col("total_applications"), col("event_types"),
        col("first_event_date"), col("last_event_date"))

  val healthOracle: String = graft.events.TestDataAdapter.canonCte + """
SELECT CASE WHEN COUNT(*) > 0 THEN 'healthy' ELSE 'empty' END AS status,
       CAST(COUNT(*) AS BIGINT) AS total_events,
       CAST(COUNT(DISTINCT app_id) AS BIGINT) AS total_applications,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS event_types,
       MIN(event_date) AS first_event_date,
       MAX(event_date) AS last_event_date
FROM canon"""

  /** GET /api/v1/store/stats — the store-maintenance surface
   *  (reference: src/storage/duckdb_store.rs:514-531 `count_events`,
   *  `get_max_event_id`, `cleanup_database` stats): event count, app
   *  count, the maximum event timestamp and its date (graft's event
   *  ordering key — the reference's monotone `event_id` is a DuckDB
   *  rowid with no parquet-store equivalent), and how many date
   *  partitions the store spans (the number compaction reasons
   *  about). One partial-agg row, map-side combined — no data-row
   *  shuffle at any store size. Filesystem-side stats (file count,
   *  store bytes) ride the HTTP route, which also exposes the
   *  compaction trigger ([[graft.sources.EventLogSource.compactStore]])
   *  the reference's `cleanup_database` corresponds to. */
  def storeStats(canon: DataFrame): DataFrame =
    canon.agg(
      count(lit(1)).as("total_events"),
      countDistinct("app_id").as("total_applications"),
      max("event_time_us").as("max_event_time_us"),
      min("event_date").as("first_event_date"),
      max("event_date").as("last_event_date"),
      countDistinct("event_date").as("n_date_partitions"))

  val storeStatsOracle: String = graft.events.TestDataAdapter.canonCte + """
SELECT CAST(COUNT(*) AS BIGINT) AS total_events,
       CAST(COUNT(DISTINCT app_id) AS BIGINT) AS total_applications,
       MAX(event_time_us) AS max_event_time_us,
       MIN(event_date) AS first_event_date,
       MAX(event_date) AS last_event_date,
       CAST(COUNT(DISTINCT event_date) AS BIGINT) AS n_date_partitions
FROM canon"""

  /** The cross-app analytics routes (src/analytics_api_old.rs:12-21).
   *  `minDate`/`maxDate` are the reference `AnalyticsQuery`'s
   *  `start_date`/`end_date` (src/analytics_api.rs:36-45) — inclusive
   *  ISO dates that prune whole day-partitions of a partitioned
   *  store before any IO. */
  def performanceTrends(canon: DataFrame, limit: Int = 1000,
                        minDate: Option[String] = None,
                        maxDate: Option[String] = None): DataFrame =
    Trends.perfTrends(canon, limit, minDate, maxDate)
  def crossAppSummary(canon: DataFrame): DataFrame =
    CrossApp.crossAppSummary(canon)
  def taskDistribution(canon: DataFrame, limit: Int = 1000): DataFrame =
    CrossApp.taskDistribution(canon, limit)
  def executorUtilization(canon: DataFrame, limit: Int = 50): DataFrame =
    CrossApp.executorUtilization(canon, limit)
  def topResourceConsumers(canon: DataFrame, limit: Int = 10): DataFrame =
    Optimization.resourceHogs(canon, limit)
  def efficiencyAnalysis(canon: DataFrame, limit: Int = 20): DataFrame =
    Optimization.efficiencyAnalysis(canon, limit)
  def capacityTrends(canon: DataFrame, limit: Int = 30,
                     minDate: Option[String] = None,
                     maxDate: Option[String] = None): DataFrame =
    Trends.capacityTrends(canon, limit, minDate, maxDate)
  def costOptimization(canon: DataFrame, limit: Int = 15): DataFrame =
    Optimization.costOptimization(canon, limit)
}
