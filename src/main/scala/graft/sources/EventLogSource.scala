package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.events.EventLogParser

/**
 * Event-log directory listing + batched reading over any Hadoop
 * filesystem (file://, hdfs://, s3a://). The reference implements three
 * separate readers (src/storage/file_reader.rs:32-62 local, :69-338
 * HDFS, :341-516 S3); on Spark the Hadoop FS API is the shared
 * abstraction — one code path, scheme picked by URI.
 */
object EventLogSource {

  /** Known event-log file extensions (reference filters the same set,
   *  src/storage/file_reader.rs:44-55), including codec-compressed
   *  variants (.gz/.lz4/.snappy) — the parser already strips those
   *  suffixes for app-id fallback, and Hadoop's text reader
   *  auto-decompresses them. */
  private val logPattern =
    ".*((\\.json|\\.log|\\.txt)(\\.gz|\\.lz4|\\.snappy)?|\\binprogress)$".r

  /** List event-log files under a directory URI (driver-side metadata
   *  op — one RPC per directory, NOT per file; at 100k apps use
   *  incremental ingest below rather than re-listing hot loops). */
  def listLogs(spark: SparkSession, dirUri: String): Seq[FileStatus] = {
    val path = new Path(dirUri)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isFile &&
        (logPattern.matches(s.getPath.getName) || !s.getPath.getName.contains(".")))
  }

  /** Read + parse all logs in a directory into the canonical frame. */
  def readDirectory(spark: SparkSession, dirUri: String): DataFrame = {
    val files = listLogs(spark, dirUri).map(_.getPath.toString)
    if (files.isEmpty) EventLogParser.parseLines(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("log_file",
            org.apache.spark.sql.types.StringType)))))
    else EventLogParser.read(spark, files: _*)
  }

  /** Read + parse logs matching a glob pattern WITHOUT a driver-side
   *  listing: the glob goes straight to the reader, so enumeration
   *  happens in Spark's distributed file listing
   *  (`spark.sql.sources.parallelPartitionDiscovery`), not one
   *  driver RPC per 100k files. Prefer this over [[readDirectory]]
   *  for large log fleets; use `{json,log,txt,inprogress}`-style
   *  globs to scope extensions. */
  def readGlob(spark: SparkSession, globUri: String): DataFrame =
    EventLogParser.read(spark, globUri)

  /** Write the canonical frame as a partitioned store:
   *  `partitionBy(event_date)` so per-day/per-app analytics prune; sort
   *  within partitions by app_id so parquet row-group stats make
   *  `app_id = ?` scans skip row groups. */
  def writeStore(canon: DataFrame, outDir: String): Unit =
    canon
      .repartition(col("event_date"))
      .sortWithinPartitions("app_id", "event_time_us")
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(outDir)

  /** Compact a partitioned store in place: incremental ingest appends
   *  one small file per batch per date, and a 100 TB store dies by a
   *  thousand 2 MB parquet files (driver listing cost, row-group
   *  overhead, no scan locality). Rewrites the store range-partitioned
   *  on (event_date, app_id, event_time_us) into ~targetBytes output
   *  files — each date directory ends up with ceil(dateBytes /
   *  targetBytes) sorted files — then swaps directories
   *  ([[graft.streaming.StateStores.swapIn]]; a missing store is left
   *  alone).
   *
   *  The swap is two FS renames (atomic per rename on HDFS/POSIX, not
   *  on object stores — there, write to a fresh location and repoint
   *  the catalog instead; this helper is for filesystem-backed
   *  stores). */
  def compactStore(spark: SparkSession, storeDir: String,
                   targetBytes: Long = 512L << 20): Unit =
    graft.streaming.StateStores.swapIn(spark, storeDir) { tmp =>
      val path = new Path(storeDir)
      val totalBytes = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(path).getLength
      val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      spark.read.parquet(storeDir)
        .repartitionByRange(n, col("event_date"), col("app_id"), col("event_time_us"))
        .sortWithinPartitions("event_date", "app_id", "event_time_us")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(tmp)
    }

  /** Write the canonical frame as a bucketed table: `bucketBy(app_id)`
   *  pre-shuffles once at write time, so every subsequent per-app
   *  aggregation or app-keyed join reads co-located buckets with NO
   *  exchange (asserted in PlanAuditSpec). At 100 TB this is the
   *  difference between one shuffle at ingest and one per query. */
  def writeBucketedStore(canon: DataFrame, tableName: String,
                         buckets: Int = 64): Unit =
    canon.write.mode("overwrite")
      .bucketBy(buckets, "app_id")
      .sortBy("app_id", "event_time_us")
      .format("parquet")
      .saveAsTable(tableName) // managed table in the session warehouse
}
