package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{HistoryServerApi, HistoryServerHttp}
import graft.events.EventModel
import graft.sources.EventLogSource

/** One request of the mix: its route family, path, and the app it names. */
final case class Req(family: String, path: String, app: Option[String])

/** A completed request: when it was due, sent and done (ns), and what came back. */
final case class Done(req: Req, dueNs: Long, sentNs: Long, doneNs: Long,
                      status: Int, body: String, error: Option[String])

/** `history_serving`: the store's read side. The fleet is parsed into a
 *  store during set-up, read back and cached as `ServerMain` does, and
 *  served by `HistoryServerHttp`. An open loop at a fixed rate gives
 *  latency, timed from each request's scheduled send time; a closed
 *  loop of `cpus` clients gives capacity. */
final class HistoryServing extends Workload {
  import HistoryServing._

  private var server: HistoryServerHttp = null
  private var canon: DataFrame = null

  def run(spark: SparkSession, cfg: Config, setup: Setup, report: Report): Unit = {
    if (cfg.trace) Trace.active = Some(new Tracer(spark))
    var gen: EventLogGen = null
    (1 to SetupReps).foreach { _ =>
      Util.deleteRecursively(cfg.dir("fleet"))
      gen = setup.rep { val g = new EventLogGen(cfg.seed, HistoryIngest.Fleet); g.writeFleet(cfg.dir("fleet")); g }
    }
    val port = setup.once {
      Trace.span("sources", "writeStore")(EventLogSource.writeStore(
        Trace.span("events", "readDirectory")(EventLogSource.readDirectory(spark, cfg.uri("fleet"))),
        cfg.uri("store")))
      canon = spark.read.parquet(cfg.uri("store")).cache()
      canon.count()
      server = new HistoryServerHttp(spark, canon, 0, "127.0.0.1")
      server.start()
    }
    val facts = StoreCheck.facts(canon)
    val truths = gen.truths
    val (_, storeBytes) = Util.dataFiles(cfg.dir("store"))
    report.info("fleet") = gen.describe
    val mix = new Mix(cfg.seed, truths.map(_.appId))
    val client = new Client(port)
    setup.once(warmUp(client, new Mix(cfg.seed ^ 0x5eedL, truths.map(_.appId)), cfg.cpus))
    Util.log("set-up done")

    val nOpen = math.max(100, cfg.seconds * OpenRequestsPer20s / 20)
    val (open, late) = openLoop(client, mix.take(nOpen), OpenRate, cfg.cpus)
    Util.log(s"open loop done: $nOpen requests at $OpenRate/s")
    val closedMs = cfg.seconds * ClosedMsPer20s / 20
    val cpu0 = Util.cpuMs()
    val (closed, closedS) = closedLoop(client, mix, cfg.cpus, closedMs)
    val closedCpuS = (Util.cpuMs() - cpu0) / 1000.0
    Util.log(s"closed loop done: ${closed.size} requests in ${closedS}s")

    val checker = new Checker(truths, facts)
    (open ++ closed).foreach(d => report.op(checker.verdict(d)))
    val lat = open.map(d => (d.doneNs - d.dueNs) / 1e6)
    report.info("request_mix") = mix.describe(open.map(_.req) ++ closed.map(_.req))
    report.info("open_loop") = Map("rate_per_s" -> OpenRate, "requests" -> open.size,
      "clients" -> cfg.cpus, "p50_ms" -> Stats.median(lat), "p90_ms" -> Stats.quantile(lat, 0.9),
      "generator_late_p90_ms" -> Stats.quantile(late, 0.9))
    report.info("closed_loop") = Map("clients" -> cfg.cpus, "requests" -> closed.size,
      "seconds" -> closedS, "capacity_rps" -> closed.size / closedS)
    report.info("closed_p50_ms_by_family") = closed.groupBy(_.req.family).map { case (f, ds) =>
      f -> Stats.median(ds.map(d => (d.doneNs - d.sentNs) / 1e6)) }
    if (!cfg.trace) {
      report.metric("items_per_cpu_s", closed.size / closedCpuS, "1/s")
      report.metric("op_cpu_ms", closedCpuS * 1000.0 / closed.size, "ms")
      report.metric("bytes_per_item", storeBytes.toDouble / gen.events, "B")
    }
    Trace.active.foreach { t =>
      PerLayer.emit(report, t, probe(canon, client, mix) ++ Map(
        "api.generator_late_p90_ms" -> Stats.quantile(late, 0.9),
        "trace.op_p50_ms" -> Stats.median(lat),
        "events.rows_out" -> facts.rows.toDouble,
        "events.lines_dropped" -> (truths.map(_.lines).sum - facts.rows).toDouble,
        "events.task_rows_null_stage" -> facts.taskRowsNullStage.toDouble,
        "events.apps_split" -> (facts.appIds.size - truths.size).toDouble))
    }
  }

  override def close(): Unit = {
    if (server != null) server.stop()
    if (canon != null) canon.unpersist()
  }
}

object HistoryServing {
  val SetupReps = 3
  /** Open loop: fixed arrival rate (requests/s) and request count. */
  val OpenRate = 6.0
  val OpenRequestsPer20s = 100
  val ClosedMsPer20s = 4000
  val TracedPerFamily = 3

  /** Seeded request mix: 60% per-app v1 routes with Zipf(1.1) app
   *  popularity, 25% cross-app analytics, 10% /health, 5% /optimize. */
  final class Mix(seed: Long, apps: Seq[String]) {
    private val rng = new SplittableRandom(seed ^ 0x5e7eL)
    private val ranked = {
      val r = new SplittableRandom(seed ^ 0xa995L)
      apps.map(a => (r.nextLong(), a)).sortBy(_._1).map(_._2)
    }
    private val zipfCdf = {
      val w = ranked.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    val perApp: Seq[String] = Seq("application", "jobs", "stages", "executors", "environment")
    val crossApp: Map[String, String] = Map(
      "applications" -> "/api/v1/applications",
      "resource_hogs" -> "/api/v1/optimization/resource-hogs",
      "efficiency" -> "/api/v1/optimization/efficiency-analysis",
      "capacity_trends" -> "/api/v1/capacity/usage-trends",
      "cost_optimization" -> "/api/v1/capacity/cost-optimization")
    val families: Seq[String] = perApp ++ crossApp.keys.toSeq.sorted ++ Seq("health", "optimize")

    private def app(u: Double): String = ranked(zipfCdf.indexWhere(_ >= u) max 0)

    def request(family: String, a: => String): Req = family match {
      case f if perApp.contains(f) =>
        val id = a
        Req(f, s"/api/v1/applications/$id" + (if (f == "application") "" else s"/$f"), Some(id))
      case "health" => Req("health", "/health", None)
      case "optimize" => Req("optimize", "/optimize", None)
      case f => Req(f, crossApp(f), None)
    }

    def next(): Req = synchronized {
      val u = rng.nextDouble()
      val fam =
        if (u < 0.60) perApp(rng.nextInt(perApp.size))
        else if (u < 0.85) crossApp.keys.toSeq.sorted.apply(rng.nextInt(crossApp.size))
        else if (u < 0.95) "health"
        else "optimize"
      request(fam, app(rng.nextDouble()))
    }

    def take(n: Int): Seq[Req] = Seq.fill(n)(next())

    /** `n` requests of one family, apps drawn by popularity. */
    def sample(family: String, n: Int): Seq[Req] = {
      val r = new SplittableRandom(seed ^ family.hashCode)
      Seq.fill(n)(request(family, app(r.nextDouble())))
    }

    def describe(reqs: Seq[Req]): Map[String, Any] = Map(
      "by_family" -> reqs.groupBy(_.family).map { case (k, v) => k -> v.size },
      "distinct_apps" -> reqs.flatMap(_.app).distinct.size,
      "zipf_s" -> 1.1)
  }

  final class Client(port: Int) {
    def get(r: Req, dueNs: Long): Done = {
      val sent = System.nanoTime()
      try {
        val c = URI.create(s"http://127.0.0.1:$port${r.path}").toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        c.setConnectTimeout(10000)
        c.setReadTimeout(60000)
        val status = c.getResponseCode
        val in = if (status < 400) c.getInputStream else c.getErrorStream
        val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        Done(r, dueNs, sent, System.nanoTime(), status, body, None)
      } catch {
        case e: Exception => Done(r, dueNs, sent, System.nanoTime(), -1, "", Some(e.toString))
      }
    }
  }

  /** Requests are due at fixed intervals whatever the server does; each
   *  is handed to one of `clients` threads, and its latency runs from
   *  the due time, so a stall also delays the requests queued behind it.
   *  Also returns how late (ms) the generator handed each request over. */
  def openLoop(client: Client, reqs: Seq[Req], rate: Double, clients: Int): (Seq[Done], Seq[Double]) = {
    val pool = Executors.newFixedThreadPool(clients)
    val t0 = System.nanoTime() + 50000000L
    val late = mutable.ArrayBuffer.empty[Double]
    val futures = reqs.zipWithIndex.map { case (r, i) =>
      val due = t0 + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) {
        val waitNs = due - now
        if (waitNs > 2000000L) Thread.sleep((waitNs - 1000000L) / 1000000L) else Thread.onSpinWait()
        now = System.nanoTime()
      }
      late += (now - due) / 1e6
      pool.submit(() => client.get(r, due))
    }
    val out = futures.map(_.get())
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    (out, late.toSeq)
  }

  /** `clients` threads, each sending its next request when the previous
   *  one returns, for `ms` milliseconds. Returns the completed requests
   *  and the elapsed seconds. */
  def closedLoop(client: Client, mix: Mix, clients: Int, ms: Long): (Seq[Done], Double) = {
    val pool = Executors.newFixedThreadPool(clients)
    val t0 = System.nanoTime()
    val stop = t0 + ms * 1000000L
    val futures = (1 to clients).map { _ =>
      pool.submit { () =>
        val out = mutable.ArrayBuffer.empty[Done]
        while (System.nanoTime() < stop) out += client.get(mix.next(), System.nanoTime())
        out.toSeq
      }
    }
    val done = futures.flatMap(_.get())
    val elapsed = (done.map(_.doneNs).max - t0) / 1e9
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    (done, elapsed)
  }

  /** Checks each response against the generator's truth. The store
   *  facts gathered at set-up decide whether a mismatch is one of the
   *  known defects. */
  final class Checker(truths: Seq[AppTruth], facts: StoreFacts) {
    private val mapper = new ObjectMapper()
    private val byId = truths.map(t => t.appId -> t).toMap
    private val splitIds = facts.appIds.filter(a => a.endsWith(".inprogress"))
    private val stageNull = facts.stageTasks.isEmpty && facts.taskRowsNullStage > 0
    private val propsNull = facts.envRowsNullProps > 0 &&
      facts.envRowsNullProps == facts.counts.collect { case ((_, EventModel.EnvironmentUpdate), n) => n }.sum
    private val events = truths.map(_.events).sum
    private val types = truths.flatMap(_.eventCounts.keys).distinct.size

    private def rows(body: String): Seq[JsonNode] = mapper.readTree(body).elements().asScala.toSeq

    def verdict(d: Done): Verdict = {
      if (d.error.nonEmpty) return Verdict.Wrong(s"${d.req.path}: ${d.error.get}")
      if (d.status != 200) return Verdict.Wrong(s"${d.req.path}: HTTP ${d.status} ${d.body.take(200)}")
      try check(d.req, d.body)
      catch { case e: Exception => Verdict.Wrong(s"${d.req.path}: unreadable response: $e") }
    }

    private def known(ds: String*): Verdict = Verdict.Known(ds)

    private def check(r: Req, body: String): Verdict = {
      val split = r.app.exists(a => splitIds.contains(a + ".inprogress"))
      lazy val rs = rows(body)
      def expect(ok: Boolean, what: => String): Verdict =
        if (ok) Verdict.Ok else Verdict.Wrong(s"${r.path}: $what")
      r.family match {
        case "application" =>
          val t = byId(r.app.get)
          expect(rs.size == 1 && rs.head.get("id").asText == t.appId &&
            rs.head.get("completed").asLong == (if (t.inProgress) 0L else 1L),
            s"expected one row for ${t.appId}, got ${body.take(200)}")
        case "jobs" =>
          val t = byId(r.app.get)
          if (rs.size == t.jobs) Verdict.Ok
          else if (split && rs.isEmpty) known(KnownDefects.InProgressSplit)
          else Verdict.Wrong(s"${r.path}: ${rs.size} jobs, expected ${t.jobs}")
        case "stages" =>
          val t = byId(r.app.get)
          val got = rs.map(n => n.get("stage_id").asLong.toInt -> n.get("num_tasks").asLong.toInt).toMap
          val want = t.stageTasks.toMap
          if (got == want) Verdict.Ok
          else if (split && rs.isEmpty) known(KnownDefects.InProgressSplit)
          else if (stageNull && got.keySet == want.keySet && got.values.forall(_ == 0))
            known(KnownDefects.TaskStageNull)
          else Verdict.Wrong(s"${r.path}: stages/tasks ${got.take(3)} expected ${want.take(3)}")
        case "executors" =>
          val t = byId(r.app.get)
          val tasks = rs.map(_.get("completed_tasks").asLong).sum
          if (rs.size == t.executors.size && tasks == t.tasks) Verdict.Ok
          else if (split && rs.isEmpty) known(KnownDefects.InProgressSplit)
          else Verdict.Wrong(s"${r.path}: ${rs.size} executors with $tasks tasks, " +
            s"expected ${t.executors.size} with ${t.tasks}")
        case "environment" =>
          val t = byId(r.app.get)
          if (rs.size == t.sparkProps) Verdict.Ok
          else if (split && rs.isEmpty) known(KnownDefects.InProgressSplit)
          else if (propsNull && rs.isEmpty) known(KnownDefects.EnvPropsObject)
          else Verdict.Wrong(s"${r.path}: ${rs.size} properties, expected ${t.sparkProps}")
        case "applications" =>
          val ids = rs.map(_.get("app_id").asText).toSet
          if (ids == byId.keySet) Verdict.Ok
          else if (ids == byId.keySet ++ splitIds) known(KnownDefects.InProgressSplit)
          else Verdict.Wrong(s"${r.path}: ${ids.size} apps, expected ${byId.size}")
        case "health" =>
          val h = rs.head
          val apps = h.get("total_applications").asLong
          if (h.get("total_events").asLong != events) Verdict.Wrong(s"/health: ${h.get("total_events")} events, expected $events")
          else if (h.get("event_types").asLong != types) Verdict.Wrong(s"/health: ${h.get("event_types")} event types, expected $types")
          else if (apps == truths.size) Verdict.Ok
          else if (apps == truths.size + splitIds.size) known(KnownDefects.InProgressSplit)
          else Verdict.Wrong(s"/health: $apps apps, expected ${truths.size}")
        case "optimize" =>
          expect(body.contains("<h1>Optimization Dashboard</h1>") && body.contains("Cost Optimization"),
            "dashboard page incomplete")
        case f =>
          // Cross-app analytics: non-empty, within the route's limit, and
          // naming only apps of the fleet.
          val limit = Map("resource_hogs" -> 10, "efficiency" -> 20, "capacity_trends" -> 30,
            "cost_optimization" -> 15)(f)
          val named = rs.flatMap(n => Option(n.get("app_id")).map(_.asText))
          val unknown = named.filterNot(a => byId.contains(a))
          if (rs.isEmpty || rs.size > limit) Verdict.Wrong(s"${r.path}: ${rs.size} rows, limit $limit")
          else if (unknown.isEmpty) Verdict.Ok
          else if (unknown.forall(splitIds.contains)) known(KnownDefects.InProgressSplit)
          else Verdict.Wrong(s"${r.path}: unknown apps ${unknown.take(3).mkString(",")}")
      }
    }
  }

  /** Traced runs only: each route family called directly through
   *  `HistoryServerApi` (plus collect), then the same request over HTTP;
   *  the difference is the HTTP layer's overhead. */
  def probe(canon: DataFrame, client: Client, mix: Mix): Map[String, Double] = {
    val direct = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val overhead = mutable.ArrayBuffer.empty[Double]
    val reqs = mix.families.flatMap(f => mix.sample(f, TracedPerFamily))
    reqs.zipWithIndex.foreach { case (r, i) =>
      // Alternate which goes first, so neither side always runs warmer.
      def viaApi(): Double = Util.timeMs(Trace.span("analytics", r.family)(directCall(canon, r)))._2
      def viaHttp(): Double = {
        val d = Trace.span("api", r.family)(client.get(r, System.nanoTime()))
        (d.doneNs - d.sentNs) / 1e6
      }
      val (ms, httpMs) = if (i % 2 == 0) { val a = viaApi(); (a, viaHttp()) }
                         else { val h = viaHttp(); (viaApi(), h) }
      direct.getOrElseUpdate(r.family, mutable.ArrayBuffer.empty) += ms
      overhead += httpMs - ms
    }
    val tracer = Trace.active.get
    val jobs = tracer.allSpans.filter(_.layer == "analytics").map(s => tracer.listener.forSpan(s.id).jobs.toDouble)
    PerLayer.routeFamilies.map(f => s"analytics.${f}_ms" ->
      direct.get(f).map(b => Stats.median(b.toSeq)).getOrElse(0.0)).toMap ++ Map(
      "analytics.jobs_per_request" -> (if (jobs.isEmpty) 0.0 else jobs.sum / jobs.size),
      "api.overhead_p50_ms" -> Stats.median(overhead.toSeq))
  }

  private def directCall(canon: DataFrame, r: Req): Unit = {
    def c(df: DataFrame): Unit = { df.collect(); () }
    r.family match {
      case "applications" => c(HistoryServerApi.applications(canon))
      case "application" => c(HistoryServerApi.application(canon, r.app.get))
      case "jobs" => c(HistoryServerApi.jobs(canon, r.app.get))
      case "stages" => c(HistoryServerApi.stages(canon, r.app.get))
      case "executors" => c(HistoryServerApi.executors(canon, r.app.get))
      case "environment" => c(HistoryServerApi.environment(canon, r.app.get))
      case "resource_hogs" => c(HistoryServerApi.topResourceConsumers(canon, 10))
      case "efficiency" => c(HistoryServerApi.efficiencyAnalysis(canon, 20))
      case "capacity_trends" => c(HistoryServerApi.capacityTrends(canon, 30))
      case "cost_optimization" => c(HistoryServerApi.costOptimization(canon, 15))
      case "health" => c(HistoryServerApi.health(canon))
      case "optimize" =>
        c(HistoryServerApi.topResourceConsumers(canon, 20))
        c(HistoryServerApi.efficiencyAnalysis(canon, 20))
        c(HistoryServerApi.capacityTrends(canon, 20))
        c(HistoryServerApi.costOptimization(canon, 20))
    }
  }

  /** Serve a store, warm every route family, run the probe, and stop:
   *  how a workload that does not serve still measures the api and
   *  analytics layers in its traced run. */
  def probeStore(spark: SparkSession, storeUri: String, apps: Seq[String], seed: Long,
                 cpus: Int): Map[String, Double] = {
    val canon = spark.read.parquet(storeUri).cache()
    canon.count()
    val server = new HistoryServerHttp(spark, canon, 0, "127.0.0.1")
    try {
      val client = new Client(server.start())
      val mix = new Mix(seed, apps)
      mix.families.foreach(f => mix.sample(f, 1).foreach(r => client.get(r, System.nanoTime())))
      probe(canon, client, mix)
    } finally {
      server.stop()
      canon.unpersist()
    }
  }

  /** Warm-up: a throwaway request sequence against the real server,
   *  every route family first one at a time, then concurrently, so JIT
   *  and codegen are done before anything is timed. */
  def warmUp(client: Client, mix: Mix, clients: Int): Unit = {
    mix.families.foreach(f => mix.sample(f, 1).foreach(r => client.get(r, System.nanoTime())))
    val (d, _) = closedLoop(client, mix, clients, 2000L)
    Util.log(s"warm-up done: ${mix.families.size + d.size} requests")
  }
}
