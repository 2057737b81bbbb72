package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Bench.Scenarios` is the one declaration of every bench key outside
  * `SparkEntry.queries`: gating, warm-up, timed runs, results and the
  * standalone re-measure all derive from it. These checks enumerate
  * the table without starting Spark, so a dropped or renamed scenario
  * fails here instead of silently vanishing from the bench artifact. */
class BenchScenariosSpec extends AnyFunSuite {
  private val tableKeys =
    Bench.Scenarios.flatMap(s => Seq(s.keys._1, s.keys._2))

  test("scenario keys equal the non-SparkEntry keys of bench_local_last.json") {
    val queries = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("bench_local_last.json")).get("queries")
    val artifactKeys = queries.fieldNames().asScala.toSet
    val expected = artifactKeys -- SparkEntry.queries.keySet
    assert(expected.size === 24)
    assert(tableKeys.size === tableKeys.distinct.size, "duplicate scenario key")
    assert(tableKeys.toSet === expected)
  }

  test("no scenario key collides with SparkEntry.queries") {
    assert(tableKeys.filter(SparkEntry.queries.contains).isEmpty)
  }

  test("every trigger key has a standalone re-measure") {
    val triggers = tableKeys.filter(_.contains("_trigger_"))
    assert(triggers.size === 20)
    assert(triggers.filter(Bench.remeasure(_).isEmpty).isEmpty)
  }

  test("median reports the middle sample and fails on any failed sample") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === ((2.0, 1.0, 3.0)))
    assert(Bench.median(Seq(1.0, -1.0, 2.0)) === ((-1.0, -1.0, -1.0)))
  }
}
