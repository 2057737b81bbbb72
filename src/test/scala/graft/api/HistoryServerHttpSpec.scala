package graft.api

import graft.SparkSpec
import graft.events.{EventLogFixture, EventLogParser}

class HistoryServerHttpSpec extends SparkSpec {

  private lazy val canon = {
    val d = tmpDir("http-logs")
    EventLogFixture.writeLogs(d, Seq("app-http-1", "app-http-2"))
    EventLogParser.read(spark, d).cache()
  }

  private def get(port: Int, path: String): (Int, String) = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("GET")
    val status = conn.getResponseCode
    val stream =
      if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = scala.io.Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (status, body)
  }

  /** The status of a GET whose request line is sent verbatim:
   *  `java.net.URI` refuses a malformed percent escape, so the client
   *  side cannot build one. */
  private def rawStatus(port: Int, path: String): Int = {
    val so = new java.net.Socket("127.0.0.1", port)
    try {
      so.getOutputStream.write(
        s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\nConnection: close\r\n\r\n"
          .getBytes("US-ASCII"))
      val status = scala.io.Source.fromInputStream(so.getInputStream, "UTF-8")
        .getLines().next()
      status.split(" ")(1).toInt
    } finally so.close()
  }

  /** Mirror of the server's serialization: explicit nulls (the
   *  reference serde writes Option::None as null), so the parity
   *  assertion below also pins the null-field contract. */
  private def fnJson(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .collect().map(_.getString(0)).mkString("[", ",", "]")
  }

  test("every route returns the same rows as its DataFrame function") {
    val http = new HistoryServerHttp(spark, canon)
    val port = http.start()
    try {
      val routes: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "/health" -> HistoryServerApi.health(canon),
        "/api/v1/version" -> HistoryServerApi.version(spark),
        "/api/v1/applications" -> HistoryServerApi.applications(canon),
        "/api/v1/applications/app-http-1" ->
          HistoryServerApi.application(canon, "app-http-1"),
        "/api/v1/applications/app-http-1/jobs" ->
          HistoryServerApi.jobs(canon, "app-http-1"),
        "/api/v1/applications/app-http-1/stages" ->
          HistoryServerApi.stages(canon, "app-http-1"),
        "/api/v1/applications/app-http-2/executors" ->
          HistoryServerApi.executors(canon, "app-http-2"),
        "/api/v1/applications/app-http-1/storage/rdd" ->
          HistoryServerApi.storage(canon, "app-http-1"),
        "/api/v1/applications/app-http-1/environment" ->
          HistoryServerApi.environment(canon, "app-http-1"),
        "/api/v1/applications/app-http-1/sql" ->
          HistoryServerApi.sqlExecutions(canon, "app-http-1"),
        "/api/v1/optimization/resource-hogs" ->
          HistoryServerApi.topResourceConsumers(canon),
        "/api/v1/optimization/efficiency-analysis" ->
          HistoryServerApi.efficiencyAnalysis(canon),
        "/api/v1/capacity/usage-trends" ->
          HistoryServerApi.capacityTrends(canon),
        "/api/v1/capacity/cost-optimization" ->
          HistoryServerApi.costOptimization(canon),
        "/api/v1/store/stats" ->
          HistoryServerApi.storeStats(canon))
      for ((path, df) <- routes) {
        val (status, body) = get(port, path)
        assert(status === 200, path)
        assert(body === fnJson(df), path)
      }
    } finally http.stop()
  }

  test("query params map to function arguments; unknown routes 404") {
    val http = new HistoryServerHttp(spark, canon)
    val port = http.start()
    try {
      val (s1, limited) = get(port, "/api/v1/applications?limit=1")
      assert(s1 === 200)
      assert(limited ===
        fnJson(HistoryServerApi.applications(canon, limit = 1)))
      val (s2, _) = get(port, "/api/v1/nope")
      assert(s2 === 404)
      val (s3, _) = get(port, "/api/v1/applications/app-http-1/unknown")
      assert(s3 === 404)
    } finally http.stop()
  }

  test("a limit that is not a non-negative integer is a 400 with a JSON error") {
    val http = new HistoryServerHttp(spark, canon)
    val port = http.start()
    try {
      for (route <- Seq("/api/v1/applications", "/api/v1/optimization/resource-hogs");
           bad <- Seq("abc", "-1", "99999999999")) {
        val (status, body) = get(port, s"$route?limit=$bad")
        assert(status === 400, s"$route?limit=$bad")
        assert(body === s"""{"error":"limit must be a non-negative integer, got: $bad"}""")
      }
      val (s0, zero) = get(port, "/api/v1/applications?limit=0")
      assert(s0 === 200 && zero === "[]")
    } finally http.stop()
  }

  test("a malformed percent escape in a query value is a 400, never a 500") {
    // the JDK server refuses such a request target itself, so no
    // handler ever URL-decodes a malformed escape
    val http = new HistoryServerHttp(spark, canon)
    val port = http.start()
    try {
      for (q <- Seq("/api/v1/applications?minDate=%zz",
                    "/api/v1/applications?limit=%zz",
                    "/api/v1/capacity/usage-trends?startDate=%2",
                    "/api/v1/capacity/usage-trends?endDate=2024%"))
        assert(rawStatus(port, q) === 400, q)
      // a well-formed escape still decodes to the unescaped value
      val (s1, escaped) = get(port, "/api/v1/applications?limit=%31")
      assert(s1 === 200)
      assert(escaped === fnJson(HistoryServerApi.applications(canon, limit = 1)))
    } finally http.stop()
  }

  test("store-maintenance surface: stats carry FS counts, compact trigger works, POST-only") {
    def post(port: Int, path: String): (Int, String) = {
      val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.close()
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body = scala.io.Source.fromInputStream(stream, "UTF-8").mkString
      conn.disconnect()
      (status, body)
    }
    // fragmented store: several append batches, like incremental ingest
    val store = tmpDir("http-store") + "/store"
    for (_ <- 0 until 3)
      canon.write.mode("append").partitionBy("event_date").parquet(store)
    def storeFiles = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("event_date="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val rowsBefore = spark.read.parquet(store).count()
    val filesBefore = storeFiles
    val http = new HistoryServerHttp(spark, canon, storeDir = Some(store))
    val port = http.start()
    try {
      val (ss, stats) = get(port, "/api/v1/store/stats")
      assert(ss === 200)
      for (f <- Seq("total_events", "total_applications", "max_event_time_us",
          "n_date_partitions", "store_files", "store_bytes"))
        assert(stats.contains("\"" + f + "\""), s"missing $f in $stats")
      // GET on the trigger is rejected; POST compacts in place
      val (gs, _) = get(port, "/api/v1/store/compact")
      assert(gs === 405)
      val (ps, pbody) = post(port, "/api/v1/store/compact")
      assert(ps === 200, pbody)
      assert(pbody.contains("\"compacted\":true"))
      assert(storeFiles < filesBefore, s"$storeFiles vs $filesBefore")
      assert(spark.read.parquet(store).count() === rowsBefore)
    } finally http.stop()
    // without a configured store dir the trigger is a 409, stats still serve
    val bare = new HistoryServerHttp(spark, canon)
    val barePort = bare.start()
    try {
      val (s1, body) = get(barePort, "/api/v1/store/stats")
      assert(s1 === 200)
      assert(!body.contains("store_files"))
      val (s2, _) = post(barePort, "/api/v1/store/compact")
      assert(s2 === 409)
    } finally bare.stop()
  }

  test("dashboard routes serve HTML with row-content parity to the analytics frames") {
    val http = new HistoryServerHttp(spark, canon)
    val port = http.start()
    try {
      // / and /optimize render the optimize view over the same frames
      // the /api/v1 routes serve: every app id in the resource-hog and
      // cost frames must appear in the page
      for (path <- Seq("/", "/optimize")) {
        val (status, html) = get(port, path)
        assert(status === 200, path)
        assert(html.contains("<html"), path)
        val hogApps = HistoryServerApi.topResourceConsumers(canon, 20)
          .select("app_id").collect().map(_.getString(0))
        assert(hogApps.nonEmpty)
        for (app <- hogApps) assert(html.contains(app), s"$path missing $app")
        val costApps = HistoryServerApi.costOptimization(canon, 20)
          .select("app_id").collect().map(_.getString(0))
        for (app <- costApps) assert(html.contains(app), s"$path missing $app")
        assert(html.contains("total_resource_hogs"), path)
        assert(html.contains("potential_monthly_savings"), path)
      }
      val (rs, rhtml) = get(port, "/resources")
      assert(rs === 200)
      assert(rhtml.contains("url=/optimize"), rhtml)
      val (ts, thtml) = get(port, "/teams")
      assert(ts === 200)
      assert(thtml.contains("Teams"), thtml)
    } finally http.stop()
  }

  test("explicit nulls: route payloads carry every field even when null-valued") {
    // the duration field is null for an app with no end event —
    // Dataset.toJSON would DROP the key; the server must emit it
    val http = new HistoryServerHttp(spark, canon)
    val port = http.start()
    try {
      val (_, body) = get(port, "/api/v1/applications?limit=5")
      val cols = HistoryServerApi.applications(canon, limit = 5).columns
      for (c <- cols)
        assert(body.contains("\"" + c + "\""), s"field $c absent from $body")
    } finally http.stop()
  }
}
