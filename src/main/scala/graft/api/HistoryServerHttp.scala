package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Minimal HTTP binding over [[HistoryServerApi]]: serves the
 * reference's route surface (reference: src/api.rs:24-48 for the v1
 * router, src/analytics_api.rs:16-32 for the nested analytics
 * routes, plus /health, plus the dashboard views src/dashboard.rs:
 * 47-52 — `/` and `/optimize` render the server-side optimize page,
 * `/resources` redirects into it, `/teams` is the static
 * placeholder) from the JDK's built-in HttpServer — no extra
 * dependency, ~one screen of routing. Each route is exactly
 * one [[HistoryServerApi]] function call serialized row-per-object
 * via Dataset.toJSON, so the HTTP layer adds no query semantics of
 * its own and the DataFrame functions stay the single source of
 * truth (HistoryServerHttpSpec asserts route bytes == function
 * rows).
 *
 * Scale note: responses are bounded by each route's `limit`
 * parameter (reference AnalyticsQuery semantics), so the
 * driver-side collect inside toJSON is serving-bounded, never
 * corpus-bounded. A production deployment would put the canonical
 * frame behind a cached view and this server on the driver; the
 * query plans are the same pruned/pushed-down plans the library
 * runs everywhere else.
 */
class HistoryServerHttp(spark: SparkSession, canon: DataFrame, port: Int = 0,
                        host: String = "127.0.0.1",
                        storeDir: Option[String] = None) {

  private val server =
    HttpServer.create(new InetSocketAddress(host, port), 0)

  // Small fixed pool: one slow analytics query must not block the
  // health probe (the single-dispatch-thread default would).
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)

  /** Start serving; returns the bound port (ephemeral when 0). */
  def start(): Int = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }

  /** The raw query comes from a parsed `java.net.URI`, so every
   *  percent escape in it is well-formed: the JDK server answers a
   *  malformed one (`%zz`) with its own 400 before any handler runs. */
  private def param(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap {
      _.split("&").iterator.map(_.split("=", 2)).collectFirst {
        case Array(k, v) if k == name =>
          java.net.URLDecoder.decode(v, "UTF-8")
      }
    }

  /** A request parameter no route can serve: answered 400, not 500. */
  private final class BadRequest(msg: String) extends Exception(msg)

  /** A non-negative integer parameter (`limit`), or `dflt` when absent. */
  private def intParam(ex: HttpExchange, name: String, dflt: Int): Int =
    param(ex, name).map(v => v.toIntOption.filter(_ >= 0).getOrElse(
      throw new BadRequest(s"$name must be a non-negative integer, got: $v")))
      .getOrElse(dflt)

  /** One JSON array, one object per row — the shape the reference's
   *  Vec<T> serde serialization produces. `to_json` with
   *  `ignoreNullFields=false` (NOT Dataset.toJSON, which drops
   *  null-valued fields entirely) so every row carries every key,
   *  nulls explicit — the reference's serde serializes Option::None
   *  as an explicit null, and a consumer keying on field presence
   *  would otherwise see ragged objects. */
  private def rowsJson(df: DataFrame): String = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .collect().map(_.getString(0)).mkString("[", ",", "]")
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  private def respondHtml(ex: HttpExchange, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    ex.sendResponseHeaders(200, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  private def escapeHtml(s: String): String =
    s.flatMap {
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '&' => "&amp;"
      case '"' => "&quot;"
      case c => c.toString
    }

  private def htmlTable(title: String, cols: Array[String],
                        rows: Array[org.apache.spark.sql.Row]): String = {
    val head = cols.map(c => s"<th>${escapeHtml(c)}</th>").mkString
    val body = rows.map(r => "<tr>" + cols.indices.map(i =>
      s"<td>${escapeHtml(String.valueOf(r.get(i)))}</td>").mkString + "</tr>")
      .mkString
    s"<h2>${escapeHtml(title)}</h2>\n<table border='1'><tr>$head</tr>$body</table>\n"
  }

  /** Server-rendered optimization dashboard — the reference's
   *  dashboard surface (reference: src/dashboard.rs:47-52 routes `/`
   *  and `/optimize` to the platform-engineering optimize view;
   *  templates/platform_engineering_optimize.html): summary stats
   *  derived from the same four analytics frames the /api/v1 routes
   *  serve (hog count, over/under-provisioned split, summed
   *  max(current-optimized, 0) savings, high-confidence count —
   *  src/dashboard.rs:98-130), then one HTML table per frame.
   *  Serving-bounded: every frame carries its route `limit`. */
  private def optimizeHtml(): String = {
    val hogsDf = HistoryServerApi.topResourceConsumers(canon, 20)
    val hogs = hogsDf.collect()
    val effDf = HistoryServerApi.efficiencyAnalysis(canon, 20)
    val eff = effDf.collect()
    val catIx = effDf.columns.indexOf("efficiency_category")
    val trendsDf = HistoryServerApi.capacityTrends(canon, 20)
    val trends = trendsDf.collect()
    val costDf = HistoryServerApi.costOptimization(canon, 20)
    val cost = costDf.collect()
    val curIx = costDf.columns.indexOf("current_cost")
    val optIx = costDf.columns.indexOf("optimized_cost")
    val confIx = costDf.columns.indexOf("confidence_score")
    val savings = cost.map(r =>
      math.max(r.getDouble(curIx) - r.getDouble(optIx), 0.0)).sum
    val stats = Seq(
      "total_resource_hogs" -> hogs.length.toString,
      "over_provisioned_apps" ->
        eff.count(_.getString(catIx) == "OverProvisioned").toString,
      "under_provisioned_apps" ->
        eff.count(_.getString(catIx) == "UnderProvisioned").toString,
      "potential_monthly_savings" -> f"$$$savings%.2f",
      "high_confidence_optimizations" ->
        cost.count(_.getDouble(confIx) > 80.0).toString)
    val statsHtml = stats.map { case (k, v) =>
      s"<tr><td>${escapeHtml(k)}</td><td>${escapeHtml(v)}</td></tr>"
    }.mkString
    s"""<!DOCTYPE html>
<html><head><title>Spark Platform — Optimization</title></head><body>
<nav><a href="/">Overview</a> | <a href="/resources">Resources</a> |
<a href="/optimize">Optimize</a> | <a href="/teams">Teams</a></nav>
<h1>Optimization Dashboard</h1>
<h2>Summary</h2>
<table border='1'>$statsHtml</table>
${htmlTable("Resource Hogs", hogsDf.columns, hogs)}
${htmlTable("Efficiency Analysis", effDf.columns, eff)}
${htmlTable("Capacity Trends", trendsDf.columns, trends)}
${htmlTable("Cost Optimization", costDf.columns, cost)}
</body></html>"""
  }

  /** `/resources` redirects into the optimize view (reference:
   *  src/dashboard.rs:161-186 — the analytics view was folded in). */
  private val resourcesHtml: String =
    """<!DOCTYPE html>
<html><head><title>Resources - Spark Platform</title>
<meta http-equiv="refresh" content="0; url=/optimize"></head>
<body><h2>Resources View Moved</h2>
<p>The resources view has been integrated into the
<a href="/optimize">Optimization Dashboard</a>.</p></body></html>"""

  /** Static teams placeholder (reference: src/dashboard.rs:189-215). */
  private val teamsHtml: String =
    """<!DOCTYPE html>
<html><head><title>Teams - Spark Platform</title></head>
<body><h2>Teams View</h2><p>Teams functionality coming soon...</p>
<p><a href="/">&larr; Back to Overview</a></p></body></html>"""

  /** Route table: the v1 application routes take the app id as the
   *  path segment between /applications/ and the trailing verb. */
  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    try {
      path match {
        case "/" | "/optimize" => respondHtml(ex, optimizeHtml()); return
        case "/resources" => respondHtml(ex, resourcesHtml); return
        case "/teams" => respondHtml(ex, teamsHtml); return
        case _ => ()
      }
      val body: Option[String] = path match {
        case "/health" =>
          Some(rowsJson(HistoryServerApi.health(canon)))
        case "/api/v1/version" =>
          Some(rowsJson(HistoryServerApi.version(spark)))
        case "/api/v1/applications" =>
          Some(rowsJson(HistoryServerApi.applications(canon,
            param(ex, "minDate"), param(ex, "maxDate"),
            intParam(ex, "limit", 100))))
        case "/api/v1/optimization/resource-hogs" =>
          Some(rowsJson(HistoryServerApi.topResourceConsumers(canon,
            intParam(ex, "limit", 10))))
        case "/api/v1/optimization/efficiency-analysis" =>
          Some(rowsJson(HistoryServerApi.efficiencyAnalysis(canon,
            intParam(ex, "limit", 20))))
        case "/api/v1/capacity/usage-trends" =>
          Some(rowsJson(HistoryServerApi.capacityTrends(canon,
            intParam(ex, "limit", 30),
            param(ex, "startDate"), param(ex, "endDate"))))
        case "/api/v1/capacity/cost-optimization" =>
          Some(rowsJson(HistoryServerApi.costOptimization(canon,
            intParam(ex, "limit", 15))))
        // Store-maintenance surface (reference:
        // src/storage/duckdb_store.rs:514-531): corpus-side stats from
        // the one-row partial agg, filesystem-side stats from ONE
        // getContentSummary RPC (server-side walk — never a
        // driver-side file listing), and the compaction trigger.
        case "/api/v1/store/stats" =>
          val stats = HistoryServerApi.storeStats(canon)
          Some(storeDir match {
            case Some(dir) =>
              val p = new org.apache.hadoop.fs.Path(dir)
              val cs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .getContentSummary(p)
              rowsJson(stats
                .withColumn("store_files", org.apache.spark.sql.functions.lit(cs.getFileCount))
                .withColumn("store_bytes", org.apache.spark.sql.functions.lit(cs.getLength)))
            case None => rowsJson(stats)
          })
        case "/api/v1/store/compact" =>
          if (ex.getRequestMethod != "POST") {
            respond(ex, 405, """{"error":"compaction trigger is POST-only"}""")
            return
          }
          storeDir match {
            case Some(dir) =>
              graft.sources.EventLogSource.compactStore(spark, dir)
              Some(s"""{"compacted":true,"store_dir":${ujsonString(dir)}}""")
            case None =>
              respond(ex, 409, """{"error":"no store_dir configured"}""")
              return
          }
        case AppRoute(appId, verb) => verb match {
          case "" =>
            Some(rowsJson(HistoryServerApi.application(canon, appId)))
          case "jobs" =>
            Some(rowsJson(HistoryServerApi.jobs(canon, appId)))
          case "stages" =>
            Some(rowsJson(HistoryServerApi.stages(canon, appId)))
          case "executors" =>
            Some(rowsJson(HistoryServerApi.executors(canon, appId)))
          case "storage/rdd" =>
            Some(rowsJson(HistoryServerApi.storage(canon, appId)))
          case "environment" =>
            Some(rowsJson(HistoryServerApi.environment(canon, appId)))
          case "sql" =>
            Some(rowsJson(HistoryServerApi.sqlExecutions(canon, appId)))
          case _ => None
        }
        case _ => None
      }
      body match {
        case Some(b) => respond(ex, 200, b)
        case None => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case e: BadRequest =>
        respond(ex, 400, s"""{"error":${ujsonString(e.getMessage)}}""")
      case e: Throwable =>
        respond(ex, 500,
          s"""{"error":${ujsonString(e.toString)}}""")
    }
  }

  private def ujsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private object AppRoute {
    private val Prefix = "/api/v1/applications/"
    def unapply(path: String): Option[(String, String)] =
      if (!path.startsWith(Prefix)) None
      else {
        val rest = path.stripPrefix(Prefix)
        val slash = rest.indexOf('/')
        if (slash < 0) Some((rest, ""))
        else Some((rest.take(slash), rest.drop(slash + 1)))
      }
  }
}
