package graft.events

import graft.SparkSpec
import graft.analytics.Resources
import org.apache.spark.sql.functions._

class EventLogParserSpec extends SparkSpec {

  private lazy val dir = {
    val d = tmpDir("eventlogs")
    EventLogFixture.writeLogs(d, Seq("app-20240101-0001", "app-20240101-0002"))
    d
  }

  private lazy val canon = EventLogParser.read(spark, dir).cache()

  test("parses every line of every log") {
    assert(canon.count() === 24) // 12 events x 2 apps
    assert(canon.select("app_id").distinct().count() === 2)
  }

  test("app_id falls back to the log file name when App ID is absent") {
    // Only ApplicationStart carries App ID; all other rows derive it
    // from the file name, which the fixture sets to the same value.
    val apps = canon.select("app_id").distinct()
      .collect().map(_.getString(0)).sorted
    assert(apps === Array("app-20240101-0001", "app-20240101-0002"))
  }

  test("TaskEnd extraction matches the reference field mapping") {
    val te = canon
      .filter(col("event_type") === EventModel.TaskEnd &&
        col("app_id") === "app-20240101-0001" && col("task_id") === 0)
      .collect()(0)
    assert(te.getAs[Long]("duration_ms") === 2800) // Executor Run Time, not finish-launch
    assert(te.getAs[Long]("cpu_time_ns") === 2100000000L)
    assert(te.getAs[Long]("gc_time_ms") === 120)
    assert(te.getAs[Long]("input_bytes") === 1048576L)
    assert(te.getAs[Long]("shuffle_read_bytes") === 65536L)
    assert(te.getAs[Long]("shuffle_write_bytes") === 16384L)
    assert(te.getAs[Long]("peak_memory_bytes") === 268435456L)
    assert(te.getAs[String]("locality") === "PROCESS_LOCAL")
    assert(te.getAs[String]("end_reason") === "Success")
    assert(te.getAs[String]("executor_id") === "1")
    assert(te.getAs[String]("host") === "worker-a")
  }

  test("ExecutorAdded carries cores/max_memory; Removed only the id") {
    val ea = canon.filter(col("event_type") === EventModel.ExecutorAdded &&
      col("executor_id") === "2" && col("app_id") === "app-20240101-0001").collect()(0)
    assert(ea.getAs[Int]("cores") === 8)
    assert(ea.getAs[Long]("max_memory") === 4294967296L)
    assert(ea.getAs[String]("host") === "worker-b")
    val er = canon.filter(col("event_type") === EventModel.ExecutorRemoved &&
      col("app_id") === "app-20240101-0001").collect()(0)
    assert(er.getAs[String]("executor_id") === "2")
    assert(er.isNullAt(er.fieldIndex("cores")))
    assert(er.getAs[String]("removed_reason") === "idle")
    assert(ea.isNullAt(ea.fieldIndex("removed_reason")))
  }

  test("ApplicationStart carries user/version/name; timestamps are event-time") {
    val as = canon.filter(col("event_type") === EventModel.AppStart &&
      col("app_id") === "app-20240101-0001").collect()(0)
    assert(as.getAs[String]("app_user") === "svc_etl")
    assert(as.getAs[String]("spark_version") === "3.5.1")
    assert(as.getAs[String]("app_name") === "nightly-etl")
    assert(as.getAs[Long]("event_time_us") === 1700000000000000L)
  }

  test("stage/job ids extracted per event type") {
    assert(canon.filter(col("event_type") === EventModel.JobStart)
      .select("job_id").collect().forall(_.getLong(0) === 0))
    assert(canon.filter(col("event_type") === EventModel.StageCompleted)
      .select("stage_id").collect().forall(_.getLong(0) === 0))
  }

  test("block manager, environment, SQL and unknown events parse; garbage lines drop") {
    val d = tmpDir("ext-events")
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "app-ext.json"),
      EventLogFixture.extendedLog().mkString("\n").getBytes("UTF-8"))
    val ext = EventLogParser.read(spark, d).cache()
    // 8 lines: 6 events parse (5 typed + 1 unknown), 2 garbage lines drop
    assert(ext.count() === 6)
    val byType = ext.collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val bm = byType(EventModel.BlockManagerAdded)
    assert(bm.getAs[String]("executor_id") === "3")
    assert(bm.getAs[String]("host") === "worker-c")
    assert(bm.getAs[Long]("max_memory") === 3221225472L)
    assert(byType(EventModel.EnvironmentUpdate).getAs[String]("spark_version") === "3.5.7")
    assert(byType(EventModel.SqlExecutionStart).getAs[Long]("event_time_us")
      === (1700000000000L + 300) * 1000)
    assert(byType.contains("SparkListenerCustomPluginThing")) // kept as Other
  }

  test("attempt id from the start line is attributed to the whole file; raw passthrough") {
    val d = tmpDir("attempt-logs")
    val lines = EventLogFixture.appLog("app-att-1").map(
      _.replace("\"App ID\":\"app-att-1\"",
        "\"App ID\":\"app-att-1\",\"App Attempt ID\":\"2\""))
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "app-att-1.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val parsed = EventLogParser.parseLines(
      spark.read.textFile(d).toDF("value")
        .withColumn("log_file", input_file_name()), keepRaw = true).cache()
    // every event of the file — not just the start line — carries the attempt
    assert(parsed.select("attempt_id").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("2"))
    // raw passthrough is the verbatim original line
    assert(parsed.filter(col("raw").startsWith("{\"Event\":\"")).count() === parsed.count())
    // default parse has no raw column
    assert(!canon.columns.contains("raw"))
  }

  test("analytics compose over real parsed logs: executor summary") {
    val es = Resources.executorSummary(canon)
      .filter(col("app_id") === "app-20240101-0001")
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(es.keySet === Set("1", "2"))
    assert(es("1").getAs[Long]("is_active") === 1L)   // never removed
    assert(es("2").getAs[Long]("is_active") === 0L)   // removed
    assert(es("1").getAs[Long]("completed_tasks") === 1L)
    assert(es("1").getAs[Long]("total_tasks") === 2L) // start + end
    assert(es("2").getAs[Long]("total_cores") === 8L)
    assert(es("2").getAs[Long]("total_duration") === 1500L)
  }

  test("an .inprogress log keeps one app id; Spark's task and environment fields parse") {
    val d = tmpDir("inprogress-logs")
    val app = "app-20240101-0003"
    // Spark writes the stage id at the top level of task events; a line
    // with it only under Task Info (older writers) still resolves
    val legacyTask = """{"Event":"SparkListenerTaskStart","Task Info":{"Task ID":9,"Stage ID":5,"Executor ID":"1","Host":"worker-a","Launch Time":1700000003000}}"""
    val env = """{"Event":"SparkListenerEnvironmentUpdate","Spark Properties":{"spark.master":"yarn","spark.version":"3.5.7","spark.app.version":"4.1.2"}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$app.inprogress"),
      (EventLogFixture.appLog(app) ++ Seq(legacyTask, env)).mkString("\n").getBytes("UTF-8"))
    val c = EventLogParser.read(spark, d).cache()
    assert(c.select("app_id").distinct().collect().map(_.getString(0)).toSeq === Seq(app))
    val stages = c.filter(col("event_type").isin(EventModel.TaskStart, EventModel.TaskEnd))
      .select("task_id", "stage_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stages === Map(0L -> 0L, 1L -> 0L, 9L -> 5L))
    val e = c.filter(col("event_type") === EventModel.EnvironmentUpdate).collect()
    assert(e.length === 1)
    // spark.app.version takes priority over spark.version
    assert(e(0).getAs[String]("spark_version") === "4.1.2")
    assert(e(0).getAs[scala.collection.Map[String, String]]("spark_props") === Map(
      "spark.master" -> "yarn", "spark.version" -> "3.5.7", "spark.app.version" -> "4.1.2"))
  }
}
