package graft

import graft.obs.Work
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Bench.Scenarios` is the one declaration of every bench key outside
  * `SparkEntry.queries`: gating, warm-up, measured runs and results
  * all derive from it. These checks enumerate the table without
  * starting Spark, so a dropped or renamed scenario fails here instead
  * of silently vanishing from the bench artifact. The trigger rule is
  * checked on hand-built counters. */
class BenchScenariosSpec extends AnyFunSuite {
  private val tableKeys =
    Bench.Scenarios.flatMap(s => Seq(s.keys._1, s.keys._2))

  /** `SparkEntry.queries` keys that the committed artifact still times
    * but that were retired as duplicates (an alias of a base key, the
    * unpinned twin of an `_incr` key, or the `poly` gram-id twin of a
    * base key once `poly` became the only family). */
  private val RetiredKeys = Set(
    "winnow_fingerprints_expr", "cdc_chunk_dedup_expr", "dedup_simhash_expr",
    "span_dedup_incr_store", "cdc_chunk_dedup_incr_store", "dedup_exact_incr_store",
    "dedup_minhash_incr_store", "dedup_ngram_incr_store", "dedup_simhash_incr_store",
    "dedup_embedding_incr_store", "dedup_minhash_fast", "dedup_simhash_fast")

  test("scenario keys equal the non-SparkEntry keys of bench_local_last.json") {
    val queries = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("bench_local_last.json")).get("queries")
    val artifactKeys = queries.fieldNames().asScala.toSet
    val expected = artifactKeys -- SparkEntry.queries.keySet -- RetiredKeys
    assert(expected.size === 24)
    assert(tableKeys.size === tableKeys.distinct.size, "duplicate scenario key")
    assert(tableKeys.toSet === expected)
  }

  test("no scenario key collides with SparkEntry.queries") {
    assert(tableKeys.filter(SparkEntry.queries.contains).isEmpty)
  }

  test("trigger rule flags moved work counters, not wall time, against a baseline") {
    def work(wallMs: Double, jobs: Long, cpuMs: Double, shuffle: Long): Map[String, Double] =
      Bench.counterMedians(Seq(Work(wallMs, jobs, stages = 2 * jobs, tasks = 8 * jobs,
        cpuMs, shuffle, spillBytes = 0L, inputBytes = 1L << 20,
        driverGapMs = wallMs / 2, driverOutputBytes = 0L))).toMap
    val k = "stream_trigger_full_corpus"
    val prev = Map(k -> work(1000, 5, 800, 4096))
    def flagged(now: Map[String, Double]) = Bench.triggerRegressions(Map(k -> now), prev)

    assert(flagged(work(1000, 6, 800, 4096)) === Seq(k -> Seq(("jobs", 5.0, 6.0))))
    assert(flagged(work(1000, 5, 1300, 4096)) === Seq(k -> Seq(("task_cpu_ms", 800.0, 1300.0))))
    assert(flagged(work(1000, 5, 800, 8192)) === Seq(k -> Seq(("shuffle_bytes", 4096.0, 8192.0))))
    assert(flagged(work(1000, 5, 1100, 6000)).isEmpty, "within 1.5x")
    assert(flagged(work(3000, 5, 800, 4096)).isEmpty, "wall time and driver gap tripled")
    assert(Bench.triggerRegressions(
      Map("stream_cdc_trigger_full_corpus" -> work(1000, 9, 5000, 1 << 20)), prev).isEmpty,
      "no baseline")
    assert(Bench.triggerRegressions(Map("dedup_ngram" -> work(1000, 9, 800, 4096)),
      Map("dedup_ngram" -> work(1000, 5, 800, 4096))).isEmpty, "not a trigger key")
  }

  test("median reports the middle sample and fails on any failed sample") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === ((2.0, 1.0, 3.0)))
    assert(Bench.median(Seq(1.0, -1.0, 2.0)) === ((-1.0, -1.0, -1.0)))
  }
}
