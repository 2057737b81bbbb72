package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private val shape = HistoryIngest.WarmFleet

  private def fleet(seed: Long, tails: Int = 0): Map[String, Array[Byte]] = {
    val dir = Files.createTempDirectory("fleet")
    try {
      val g = new EventLogGen(seed, shape)
      g.writeFleet(dir)
      (1 to tails).foreach(_ => g.appendTail(dir, 5))
      Files.list(dir).iterator().asScala.map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap
    } finally Util.deleteRecursively(dir)
  }

  test("the same seed gives byte-identical event logs, tails included") {
    val a = fleet(7, tails = 2)
    val b = fleet(7, tails = 2)
    assert(a.keySet == b.keySet)
    a.foreach { case (name, bytes) => assert(java.util.Arrays.equals(bytes, b(name)), name) }
  }

  test("another seed gives another fleet") {
    val a = fleet(7)
    val b = fleet(8)
    assert(a.keySet != b.keySet || a.exists { case (n, bytes) => !java.util.Arrays.equals(bytes, b(n)) })
  }

  test("logs are Spark 4.1 JSON: one event per line, stage id at the top level of task events") {
    val mapper = new ObjectMapper()
    val g = new EventLogGen(3, shape)
    val dir = Files.createTempDirectory("fleet")
    try {
      g.writeFleet(dir)
      val files = Files.list(dir).iterator().asScala.toSeq
      assert(files.count(_.getFileName.toString.endsWith(".inprogress")) == shape.inProgress)
      assert(files.forall(f => !f.getFileName.toString.stripSuffix(".inprogress").contains(".")))
      val events = files.flatMap(f => Files.readAllLines(f).asScala).map(mapper.readTree)
      assert(events.size == g.events)
      val tasks = events.filter(e => e.get("Event").asText.startsWith("SparkListenerTask"))
      assert(tasks.nonEmpty && tasks.forall(t => t.has("Stage ID") && !t.get("Task Info").has("Stage ID")))
      val env = events.find(_.get("Event").asText == "SparkListenerEnvironmentUpdate").get
      assert(env.get("Spark Properties").isObject)
      assert(g.truths.map(_.lines).sum == events.size)
    } finally Util.deleteRecursively(dir)
  }

  test("truth counts what was written") {
    val g = new EventLogGen(5, shape)
    val dir = Files.createTempDirectory("fleet")
    try {
      g.writeFleet(dir)
      val before = g.events
      val appended = g.appendTail(dir, 7)
      assert(appended > 0 && g.events > before)
      val onDisk = Files.list(dir).iterator().asScala.map(p => Files.size(p)).sum
      assert(onDisk == g.bytes)
      g.truths.filter(_.inProgress).foreach(t => assert(t.stageTasks.values.sum >= 7))
    } finally Util.deleteRecursively(dir)
  }

  test("the corpus is a pure function of the seed, with copies and variants after their sources") {
    val a = new DocGen(11, 400)
    val b = new DocGen(11, 400)
    assert(a.docs == b.docs)
    assert(new DocGen(12, 400).docs != a.docs)
    a.docs.foreach { d =>
      val words = d.text.split(" ").length
      assert(words >= 10 && words <= 100)
      d.copyOf.foreach { o => assert(o < d.id && a.docs(o.toInt).text == d.text) }
      d.variantOf.foreach { o =>
        assert(o < d.id && a.replicaOf(o) == d.replica)
        assert(d.text.startsWith(a.docs(o.toInt).text + " dup"))
      }
    }
    assert(a.exactCopies.nonEmpty && a.nearDupPairs.nonEmpty)
    // Replica r > 0 suffixes every word, so replicas share no word, and
    // each replica repeats replica 0's near-duplicate structure.
    val words = a.docs.groupBy(_.replica).map { case (r, ds) => r -> ds.flatMap(_.text.split(" ")).toSet }
    assert(words.size == 4)
    for (r1 <- words.keys; r2 <- words.keys if r1 < r2) assert((words(r1) & words(r2)).isEmpty)
    assert(a.nearDupPairs.count(_._1 < 100) == a.nearDupPairs.count(p => p._1 >= 100 && p._1 < 200))
  }
}
