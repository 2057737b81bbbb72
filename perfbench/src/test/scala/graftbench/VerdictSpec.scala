package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.events.EventModel

class VerdictSpec extends AnyFunSuite {
  private val gen = new EventLogGen(21, HistoryIngest.WarmFleet)
  gen.apps.foreach { a => val sb = new StringBuilder; a.head(sb); a.jobs(sb, a.totalTasks) }
  private val truths = gen.truths

  /** The facts a correct store of the fleet would have. */
  private def correctFacts: StoreFacts = {
    val counts = truths.flatMap(t => t.eventCounts.map { case (e, n) => (t.appId, e) -> n }).toMap
    StoreFacts(counts.values.sum, truths.map(_.appId).toSet, counts, 0L,
      truths.flatMap(t => t.stageTasks.collect { case (s, n) if n > 0 => (t.appId, s.toLong) -> n.toLong }).toMap)
  }

  /** The facts a store built at the baseline commit has: task rows lose
   *  their stage, and non-start rows of in-progress logs get a split id. */
  private def baselineFacts: StoreFacts = {
    val f = correctFacts
    val counts = f.counts.map { case ((a, e), n) =>
      val t = truths.find(_.appId == a).get
      val id = if (t.inProgress && e != EventModel.AppStart) a + ".inprogress" else a
      (id, e) -> n
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val taskRows = truths.map(t => t.eventCounts.getOrElse(EventModel.TaskStart, 0L) +
      t.eventCounts.getOrElse(EventModel.TaskEnd, 0L)).sum
    StoreFacts(f.rows, counts.keySet.map(_._1), counts, taskRows, Map.empty)
  }

  test("a correct store is Ok") {
    assert(StoreCheck.verdict(correctFacts, truths) == Verdict.Ok)
  }

  test("the baseline defects are counted as known, not as failures") {
    val v = StoreCheck.verdict(baselineFacts, truths)
    assert(v == Verdict.Known(Seq(KnownDefects.InProgressSplit, KnownDefects.TaskStageNull)))
    val r = new Report
    r.op(v)
    assert(r.failed == 0 && r.correct && r.knownOps == 1)
  }

  test("a planted wrong answer in a store is counted as failed") {
    val f = correctFacts
    val k = f.counts.keys.toSeq.sorted.head
    val planted = f.copy(counts = f.counts.updated(k, f.counts(k) + 1))
    val r = new Report
    r.op(StoreCheck.verdict(planted, truths))
    r.op(Verdict.Ok)
    assert(r.attempted == 2 && r.failed == 1 && !r.correct)
    assert(r.failures.head.contains("event counts differ"))
  }

  test("a planted wrong answer on top of a known defect is still a failure") {
    val f = baselineFacts
    val k = f.counts.keys.toSeq.sorted.last
    val planted = f.copy(counts = f.counts.updated(k, f.counts(k) - 1))
    assert(StoreCheck.verdict(planted, truths).isInstanceOf[Verdict.Wrong])
  }

  test("route responses: a wrong job count fails, a right one passes") {
    val checker = new HistoryServing.Checker(truths, correctFacts)
    val t = truths.find(!_.inProgress).get
    val req = Req("jobs", s"/api/v1/applications/${t.appId}/jobs", Some(t.appId))
    def body(n: Int) = (0 until n).map(i => s"""{"app_id":"${t.appId}","job_id":$i}""").mkString("[", ",", "]")
    def done(b: String) = Done(req, 0L, 0L, 1L, 200, b, None)
    assert(checker.verdict(done(body(t.jobs))) == Verdict.Ok)
    assert(checker.verdict(done(body(t.jobs + 1))).isInstanceOf[Verdict.Wrong])
    assert(checker.verdict(Done(req, 0L, 0L, 1L, 500, "{}", None)).isInstanceOf[Verdict.Wrong])
  }

  test("route responses: zero tasks per stage is the known defect only when the store shows it") {
    val t = truths.find(!_.inProgress).get
    val req = Req("stages", s"/api/v1/applications/${t.appId}/stages", Some(t.appId))
    val zero = t.stageTasks.keys.map(s => s"""{"stage_id":$s,"num_tasks":0}""").mkString("[", ",", "]")
    val d = Done(req, 0L, 0L, 1L, 200, zero, None)
    assert(new HistoryServing.Checker(truths, baselineFacts).verdict(d) ==
      Verdict.Known(Seq(KnownDefects.TaskStageNull)))
    assert(new HistoryServing.Checker(truths, correctFacts).verdict(d).isInstanceOf[Verdict.Wrong])
  }

  private val corpus = new DocGen(5, 300)
  /** Replica 0, which holds both exact copies and variants. */
  private val batch: Seq[Doc] = corpus.docs.take(75)
  private val batchIds = batch.map(_.id).toSet -- corpus.exactCopies
  private val batchPairs = corpus.nearDupPairs.toSeq.filter(p => batchIds(p._1)).map(_.swap)
  private def trig(ids: Set[Long] = batchIds, pairs: Seq[(Long, Long)] = batchPairs,
                   admitted: Option[Long] = None) =
    CorpusPipeline.Trigger(1.0, 0.9, 0.1, 0.3, 0.5, 0.2, ids, pairs,
      admitted.getOrElse(ids.size.toLong - pairs.size), 0L, 0L, 0L)

  test("corpus: the trigger that finds exactly the injected duplicates is Ok") {
    assert(batchPairs.nonEmpty && batch.exists(d => corpus.exactCopies(d.id)))
    assert(trig().check(batch, corpus) == Verdict.Ok)
  }

  test("corpus: an exact copy that survives the exact gate fails the trigger") {
    assert(trig(ids = batchIds + corpus.exactCopies.filter(batch.map(_.id).contains).head)
      .check(batch, corpus).isInstanceOf[Verdict.Wrong])
  }

  test("corpus: a missed near-duplicate, or a pair that was not injected, fails the trigger") {
    val missed = trig(pairs = Nil, admitted = Some(batchIds.size.toLong)).check(batch, corpus)
    assert(missed.isInstanceOf[Verdict.Wrong])
    assert(missed.asInstanceOf[Verdict.Wrong].why.contains("missed"))
    val cross = (corpus.docs.find(_.replica == 0).get.id, corpus.docs.find(_.replica == 1).get.id)
    assert(trig(pairs = batchPairs :+ cross).check(batch, corpus).isInstanceOf[Verdict.Wrong])
  }

  test("corpus: a trigger that admits the wrong number of documents fails") {
    assert(trig(admitted = Some(batchIds.size.toLong)).check(batch, corpus).isInstanceOf[Verdict.Wrong])
  }

  test("corpus: a batch phase that keeps nothing or keeps both docs of a pair fails") {
    val prefix = (0L until CorpusPipeline.Prefix.toLong).toSet
    val exact = prefix -- corpus.exactCopies
    val pairs = corpus.nearDupPairs.toSeq.filter(p => prefix(p._1)).map(_.swap)
    val manifest = exact -- pairs.map(_._2)
    def out(m: Set[Long], p: Seq[(Long, Long)] = pairs) =
      new CorpusPipeline.BatchOut(Some(m), exact, p, Nil, Map.empty)
    val admitted = exact.size.toLong - pairs.size
    assert(out(manifest).check(corpus, admitted) == Verdict.Ok)
    assert(out(Set.empty).check(corpus, admitted).isInstanceOf[Verdict.Wrong])
    assert(out(manifest ++ pairs.map(_._2)).check(corpus, admitted).isInstanceOf[Verdict.Wrong])
    assert(out(manifest, Nil).check(corpus, admitted).isInstanceOf[Verdict.Wrong])
    assert(out(manifest).check(corpus, admitted + 1).isInstanceOf[Verdict.Wrong])
    assert(new CorpusPipeline.BatchOut(None, exact, pairs, Nil, Map.empty).check(corpus, admitted) == Verdict.Ok)
  }

  test("the result line has exactly the four keys and every metric with its unit") {
    val r = new Report
    r.op(Verdict.Ok)
    r.metric("op_p50_ms", 12.5, "ms")
    r.metric("setup_s", 3.25, "s")
    val n = new ObjectMapper().readTree(r.resultLine)
    assert(n.fieldNames().next() == "correct")
    assert(Set("correct", "attempted", "failed", "metrics") ==
      scala.jdk.CollectionConverters.IteratorHasAsScala(n.fieldNames()).asScala.toSet)
    assert(n.get("attempted").asLong == 1 && n.get("failed").asLong == 0 && n.get("correct").asBoolean)
    assert(n.get("metrics").get("op_p50_ms").get("value").asDouble == 12.5)
    assert(n.get("metrics").get("setup_s").get("unit").asText == "s")
    assertThrows[IllegalArgumentException](r.metric("bad", Double.NaN, "ms"))
  }

  test("quantiles and interval unions") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6)
    assert(Stats.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 25L) == 20.0)
  }
}
