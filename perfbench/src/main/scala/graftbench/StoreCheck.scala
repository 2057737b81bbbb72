package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.events.EventModel

/** Defects present at the baseline commit, by the name the output
 *  counts them under (see the README for how each shows). */
object KnownDefects {
  /** Task rows get a NULL `stage_id`: the parser reads `Task Info.Stage
   *  ID`, while Spark writes the stage id at the top level of
   *  TaskStart/TaskEnd. */
  val TaskStageNull = "task_stage_id_null"
  /** Rows of an `.inprogress` log other than ApplicationStart get the
   *  file name, suffix included, as `app_id`, which splits the app. */
  val InProgressSplit = "inprogress_app_split"
  /** Spark writes "Spark Properties" as a JSON object; the parser's
   *  schema expects `[[key, value], ...]` pairs, so `spark_props` is
   *  NULL and the environment route answers with no properties. */
  val EnvPropsObject = "env_props_object_unparsed"
}

/** What a canonical store holds, compared with the generator's truth. */
final case class StoreFacts(rows: Long, appIds: Set[String],
                            counts: Map[(String, String), Long],
                            taskRowsNullStage: Long,
                            stageTasks: Map[(String, Long), Long],
                            envRowsNullProps: Long = 0L)

object StoreCheck {
  def normalize(appId: String): String = appId.stripSuffix(".inprogress")

  /** One aggregation: rows per (app, event type, stage, missing field). */
  def facts(store: DataFrame): StoreFacts = {
    val isTask = col("event_type").isin(EventModel.TaskStart, EventModel.TaskEnd)
    val missing = when(isTask && col("stage_id").isNull, "stage")
      .when(col("event_type") === EventModel.EnvironmentUpdate && col("spark_props").isNull, "props")
    val rows = store
      .groupBy(col("app_id"), col("event_type"), when(isTask, col("stage_id")).as("stage"),
        missing.as("missing"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
        Option(r.getString(3)), r.getLong(4)))
    val counts = rows.toSeq.groupMapReduce(r => (r._1, r._2))(_._5)(_ + _)
    def missingRows(what: String): Long = rows.filter(_._4.contains(what)).map(_._5).sum
    StoreFacts(counts.values.sum, counts.keySet.map(_._1), counts, missingRows("stage"),
      rows.collect { case (a, EventModel.TaskEnd, Some(st), _, n) => (a, st) -> n }.toMap,
      missingRows("props"))
  }

  /** Verdict on a store built from the logs the truths describe: event
   *  counts per app and type, total rows, task counts per stage, and the
   *  Spark properties of environment rows.
   *  Mismatches that the known defects fully explain are `Known`. */
  def verdict(f: StoreFacts, truths: Seq[AppTruth]): Verdict = {
    val known = Seq.newBuilder[String]
    val wrong = Seq.newBuilder[String]
    val expected = truths.flatMap(t => t.eventCounts.map { case (e, n) => (t.appId, e) -> n }).toMap
    val folded = f.counts.toSeq.groupMapReduce { case ((a, e), _) => (normalize(a), e) }(_._2)(_ + _)
    if (folded != expected) {
      val diff = (expected.keySet ++ folded.keySet).toSeq.sorted
        .filter(k => expected.getOrElse(k, 0L) != folded.getOrElse(k, 0L)).take(3)
        .map(k => s"$k expected ${expected.getOrElse(k, 0L)} got ${folded.getOrElse(k, 0L)}")
      wrong += s"event counts differ: ${diff.mkString("; ")}"
    }
    val split = f.appIds.filter(_.endsWith(".inprogress"))
    if (split.nonEmpty) {
      if (split.forall(a => truths.exists(t => t.inProgress && t.appId == normalize(a))))
        known += KnownDefects.InProgressSplit
      else wrong += s"unexpected app ids ${split.take(3).mkString(",")}"
    }
    val expStages = truths.flatMap(t => t.stageTasks.collect {
      case (s, n) if n > 0 => (t.appId, s.toLong) -> n.toLong })
      .toMap
    val gotStages = f.stageTasks.toSeq.groupMapReduce { case ((a, s), _) => (normalize(a), s) }(_._2)(_ + _)
    if (gotStages != expStages) {
      val taskEvents = truths.map(t => t.eventCounts.getOrElse(EventModel.TaskStart, 0L) +
        t.eventCounts.getOrElse(EventModel.TaskEnd, 0L)).sum
      if (gotStages.isEmpty && f.taskRowsNullStage == taskEvents) known += KnownDefects.TaskStageNull
      else wrong += s"task counts per stage differ (${gotStages.size} stages with tasks, " +
        s"expected ${expStages.size}; ${f.taskRowsNullStage} task rows without a stage)"
    }
    if (f.envRowsNullProps > 0) {
      val envRows = f.counts.collect { case ((_, EventModel.EnvironmentUpdate), n) => n }.sum
      if (f.envRowsNullProps == envRows) known += KnownDefects.EnvPropsObject
      else wrong += s"${f.envRowsNullProps} of $envRows environment rows lost their properties"
    }
    val w = wrong.result()
    val k = known.result()
    if (w.nonEmpty) Verdict.Wrong(w.mkString(" | "))
    else if (k.nonEmpty) Verdict.Known(k)
    else Verdict.Ok
  }
}
