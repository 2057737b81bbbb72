package graft

import org.apache.spark.sql.SparkSession

/** The one `local[n]` session of the dev mains (`Bench`, `Verify`,
  * `PlanDump`, `tools.ScaleProbe`). `ServerMain` builds its own
  * cluster session. */
object DevSession {
  /** `SPARK_GRAFT_CPUS`, or every available processor when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with as many shuffle partitions, a UTC session
    * (date/epoch columns match DuckDB), testdata's ns timestamps read
    * as longs, and graft's SQL extensions. */
  def local(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
