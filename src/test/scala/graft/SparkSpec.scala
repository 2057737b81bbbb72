package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Audit surface for operators that pin: `body`'s frame, run to
   *  completion, and the plans that EXECUTED while it was built and
   *  run, as flattened by [[PlanDump.executedPlans]]. A pinned frame's
   *  own plan is a scan over checkpointed blocks and proves nothing. */
  def executedPlans(body: => DataFrame): (DataFrame, Seq[SparkPlan]) =
    PlanDump.executedPlans(spark) { val df = body; df.collect(); df }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
