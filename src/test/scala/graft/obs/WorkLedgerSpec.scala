package graft.obs

import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec
import graft.streaming.{StateStores, StreamingDedup}
import org.apache.spark.graft.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

class WorkLedgerSpec extends SparkSpec {
  private lazy val ledger = WorkLedger.install(spark)

  /** Every job and task the session ran, billed to no scope: the
   *  reference a scope's counts are checked against. */
  private object Everything extends SparkListener {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  }

  /** `body`'s jobs and tasks as `Everything` counts them. */
  private def counted(body: => Unit): (Long, Long) = {
    BusAccess.drain(spark.sparkContext)
    val (j0, t0) = (Everything.jobs.get, Everything.tasks.get)
    body
    BusAccess.drain(spark.sparkContext)
    (Everything.jobs.get - j0, Everything.tasks.get - t0)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    ledger
    spark.sparkContext.addSparkListener(Everything)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(Everything)
    spark.sparkContext.removeSparkListener(ledger)
    super.afterAll()
  }

  private def range = spark.range(0, 600, 1, 6)

  test("three collects on a 6-partition range: 3 jobs, 3 stages, 18 tasks") {
    val (rows, w) = ledger.measure {
      range.collect(); range.collect(); range.collect().length
    }
    assert(rows === 600)
    assert(w.jobs === 3)
    assert(w.stages === 3)
    assert(w.tasks === 18)
    assert(w.taskCpuMs > 0)
    assert(w.shuffleBytes === 0)
    assert(w.driverGapMs >= 0 && w.driverGapMs <= w.wallMs)
  }

  test("every job of a state commit is billed to the scope, pool-thread appends included") {
    val base = tmpDir("ledger-commit")
    val docs = range.selectExpr("id AS doc_id")
    var w: Work = null
    val (jobs, tasks) = counted {
      w = ledger.measure(StateStores.commit(None, s"$base/docs" -> docs,
        s"$base/hashes" -> docs.selectExpr("doc_id", "md5(CAST(doc_id AS STRING)) AS h"),
        s"$base/bloom" -> docs.selectExpr("doc_id % 7 AS word")))._2
    }
    assert(jobs >= 3, "one write job per store")
    assert(w.jobs === jobs)
    assert(w.tasks === tasks)
    assert(spark.read.parquet(s"$base/bloom").count() === 600)
  }

  test("a 200 ms sleep between two jobs is driver gap") {
    val (_, w) = ledger.measure {
      range.collect()
      Thread.sleep(200)
      range.collect()
    }
    assert(w.jobs === 2)
    assert(w.driverGapMs >= 200, w)
    assert(w.wallMs >= w.driverGapMs)
  }

  test("two sequential scopes share no jobs") {
    var a, b: Work = null
    val (jobs, _) = counted {
      a = ledger.measure { range.collect(); range.collect() }._2
      b = ledger.measure(range.collect())._2
    }
    assert(a.jobs === 2)
    assert(b.jobs === 1)
    assert(a.jobs + b.jobs === jobs)
    assert(a.tasks === 12 && b.tasks === 6)
  }

  test("a bounded n-gram trigger bills the bytes of the four files the driver wrote") {
    import spark.implicits._
    val root = tmpDir("ledger-driver-out") + "/c"
    val stores = Seq(root, root + "_pairs", root + "_shingles", root + "_gramdf")
    def trigger(batch: Seq[(Long, String)], id: Long) =
      StreamingDedup.processBatch(batch.toDF("doc_id", "text"), id, root,
        root + "_pairs", root + "_shingles", root + "_gramdf", 5L, 0.2)
    def partFiles = stores.flatMap(d => new java.io.File(d).listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getPath -> f.length()))
    trigger(Seq((0L, "alpha beta gamma delta epsilon zeta eta theta")), 0L)
    val before = partFiles.toMap
    val (_, w) = ledger.measure(trigger(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),
      (2L, "kappa lambda mu nu xi omicron pi rho")), 1L))
    val written = partFiles.filterNot(f => before.contains(f._1))
    assert(written.length === 4, written)
    assert(w.driverOutputBytes === written.map(_._2).sum, w)
    assert(w.counters.toMap.get("driver_output_bytes") === Some(w.driverOutputBytes.toDouble))
  }
}
