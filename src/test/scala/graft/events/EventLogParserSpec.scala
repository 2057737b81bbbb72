package graft.events

import graft.SparkSpec
import graft.analytics.Resources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionAccess

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

  /** `lines` of the given files, as [[EventLogParser.read]] builds them. */
  private def linesOf(paths: Seq[String]): DataFrame =
    spark.read.textFile(paths: _*).toDF("value").withColumn("log_file", input_file_name())

  private def writeLines(dir: String, name: String, lines: Seq[Array[Byte]]): String = {
    val p = java.nio.file.Paths.get(dir, name)
    val out = new java.io.ByteArrayOutputStream()
    lines.foreach { l => out.write(l); out.write('\n') }
    java.nio.file.Files.write(p, out.toByteArray)
    p.toString
  }

  private lazy val fixtureFiles = {
    val d = tmpDir("parity-fixture")
    EventLogFixture.writeLogs(d, Seq("app-20240101-0011", "app-20240101-0012")) :+
      writeLines(d, "app-ext.json", EventLogFixture.extendedLog().map(_.getBytes("UTF-8")))
  }

  private lazy val fleet = EventLogFixture.fleet(seed = 7, apps = 8)

  private lazy val fleetFiles = {
    val d = tmpDir("parity-fleet")
    fleet.map { case (name, lines) => writeLines(d, name, lines.map(_.getBytes("UTF-8"))) }
  }

  private lazy val edgeFiles = {
    val d = tmpDir("parity-edge")
    val (a, b) = EventLogFixture.edgeLines.splitAt(EventLogFixture.edgeLines.size / 2)
    Seq(writeLines(d, "app-edge-1.json", a), writeLines(d, "edge-2.log.inprogress", b))
  }

  private lazy val poisonFile = writeLines(tmpDir("parity-poison"), "app-poison.json",
    EventLogFixture.poisonLines.map(_.getBytes("UTF-8")))

  /** Both parses' rows, each as one string; maps as their entries, in
   *  order and with duplicate keys. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.withColumn("spark_props", map_entries(col("spark_props")))
      .collect().map(_.toSeq.mkString(" | ")).toSeq.sorted

  /** The parser's frame equals the `from_json` oracle's: schema and
   *  every row, `event_id` included. Returns the row count. */
  private def assertParity(what: String, lines: => DataFrame, keepRaw: Boolean = false): Int = {
    val got = EventLogParser.parseLines(lines, keepRaw)
    val want = EventLogOracle.parseLines(lines, keepRaw)
    assert(got.schema === want.schema, what)
    val (g, w) = (rowsOf(got), rowsOf(want))
    val extra = g.diff(w)
    val missing = w.diff(g)
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: ${extra.size} rows only from the parser, e.g.\n${extra.take(3).mkString("\n")}\n" +
        s"${missing.size} only from from_json, e.g.\n${missing.take(3).mkString("\n")}")
    g.size
  }

  private def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("parse equals the from_json oracle in every codegen and ANSI mode") {
    val codegen = Seq(
      "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
      "no whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
      "no codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val fleetEvents = fleet.map(_._2.size).sum
    for ((mode, confs) <- codegen; ansi <- Seq(true, false)) {
      val what = s"$mode, ANSI $ansi"
      withConfs(confs :+ ("spark.sql.ansi.enabled" -> ansi.toString)) {
        assert(assertParity(s"fixture, $what", linesOf(fixtureFiles)) === 30)
        assert(assertParity(s"fleet, $what", linesOf(fleetFiles)) === fleetEvents)
        // the old parse failed the whole query on a poison line under ANSI
        val edge = if (ansi) edgeFiles else edgeFiles :+ poisonFile
        val edgeRows = assertParity(s"edge table, $what", linesOf(edge), keepRaw = true)
        assert(edgeRows > 40, what)
        assertParity(s"hinted edge table, $what",
          linesOf(edge).withColumn("attempt_hint", lit("3")))
      }
    }
    // the poison lines: kept under ANSI with the value that does not fit read as null
    withConfs(Seq("spark.sql.ansi.enabled" -> "true")) {
      val p = EventLogParser.parseLines(linesOf(Seq(poisonFile))).collect()
        .map(r => r.getAs[String]("event_type") -> r).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      assert(p.values.map(_.length).sum === EventLogFixture.poisonLines.size)
      assert(p(EventModel.ExecutorAdded).forall(_.isNullAt(p(EventModel.ExecutorAdded).head.fieldIndex("cores"))))
      assert(p(EventModel.ExecutorAdded).map(_.getAs[String]("host")).sorted.toSeq === Seq("big", "neg"))
      assert(p(EventModel.JobStart).head.isNullAt(p(EventModel.JobStart).head.fieldIndex("event_time_us")))
      assert(p(EventModel.JobStart).head.getAs[Long]("job_id") === 77L)
      assert(p(EventModel.TaskEnd).head.isNullAt(p(EventModel.TaskEnd).head.fieldIndex("shuffle_read_bytes")))
      assert(p(EventModel.TaskEnd).head.getAs[Long]("task_id") === 5L)
    }
  }

  test("a session without GraftExtensions parses event logs") {
    val plain = SessionAccess.withoutExtensions(spark)
    assert(spark.catalog.functionExists("word_ngrams"))
    assert(!plain.catalog.functionExists("word_ngrams"))
    val c = EventLogParser.read(plain, dir)
    assert(c.count() === 24)
    assert(rowsOf(c) === rowsOf(canon))
  }
}
