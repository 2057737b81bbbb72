package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Optimization-round utility: dump `explain("formatted")` for a
  * comma-separated list of `SparkEntry.queries` keys to
  * `<outDir>/<key>_<suffix>.txt`, and the plans that EXECUTED while the
  * key's frame was built (the pinned operators' cache/checkpoint
  * brackets, see [[executedPlans]]) to `<outDir>/<key>_<suffix>_executed.txt`
  * — the before/after plan evidence the optimization rounds commit
  * under plans/r16 etc. Runs in the bench's session ([[DevSession]]) so
  * plan shapes (broadcast decisions, AQE) match what the bench times.
  *
  * Usage: runMain graft.PlanDump <keys> <sfDir> <outDir> <suffix> */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: runMain graft.PlanDump <keys> <sfDir> <outDir> <suffix>")
      sys.exit(2)
    }
    val Array(keyList, sfDir, outDir, suffix) = args.take(4)
    val keys = keyList.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = DevSession.local("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(name: String, text: String): Unit = {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, name), text)
      println(s"[plandump] wrote $outDir/$name")
    }
    for (k <- keys) {
      try {
        val (df, executed) = executedPlans(spark)(SparkEntry.queries(k)(spark, sfDir))
        write(s"${k}_$suffix.txt", df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        write(s"${k}_${suffix}_executed.txt", executed.zipWithIndex.map {
          case (p, i) => s"== executed query ${i + 1} ==\n${p.treeString}"
        }.mkString("\n"))
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $k failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** `body`'s result and the physical plan of every query that
   *  completed successfully while it ran, in completion order. Pinned
   *  operators run their heavy work inside the call (cache and
   *  `localCheckpoint` brackets) and return a scan over pinned blocks,
   *  so these — not the returned frame's plan — are the plans a
   *  scale audit must inspect.
   *
   *  Each plan is flattened: an AQE root becomes its final plan, a
   *  query stage its stage plan, and the first scan of each cached
   *  relation in a plan becomes that relation's `cachedPlan` (a cache
   *  materializes once however often it is read, so later scans of it
   *  stay leaves, as does a reused exchange).
   *
   *  Listener delivery is asynchronous: every query of `body` posts
   *  its completion before returning, so once the listener bus has
   *  drained, every one has been recorded. The bus is drained before
   *  the listener registers too, so a query that completed before
   *  `body` but was delivered late is not recorded as `body`'s. */
  def executedPlans[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val completed = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = completed.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    BusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val result = try {
      val r = body
      BusAccess.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    (result, completed.asScala.toSeq.map(qe => flatten(qe.executedPlan,
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()))))
  }

  private def flatten(p: SparkPlan, inlined: java.util.Set[SparkPlan]): SparkPlan =
    p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan, inlined)
      case s: QueryStageExec => flatten(s.plan, inlined)
      case m: InMemoryTableScanExec if inlined.add(m.relation.cachedPlan) =>
        flatten(m.relation.cachedPlan, inlined)
      case other => other.withNewChildren(other.children.map(flatten(_, inlined)))
    }
}
