package graft.events

/** Synthetic but format-faithful Spark event-log lines (the JSON key
  * structure of real SparkListener events): task events carry `Stage
  * ID` at the top level and EnvironmentUpdate writes `Spark
  * Properties` as a JSON object, as Spark's JsonProtocol does. */
object EventLogFixture {

  def appLog(appId: String, baseTs: Long = 1700000000000L): Seq[String] = Seq(
    s"""{"Event":"SparkListenerApplicationStart","App Name":"nightly-etl","App ID":"$appId","Timestamp":$baseTs,"User":"svc_etl","Spark Version":"3.5.1"}""",
    s"""{"Event":"SparkListenerExecutorAdded","Timestamp":${baseTs + 1000},"Executor ID":"1","Executor Info":{"Host":"worker-a","Total Cores":4,"Max Memory":2147483648}}""",
    s"""{"Event":"SparkListenerExecutorAdded","Timestamp":${baseTs + 1100},"Executor ID":"2","Executor Info":{"Host":"worker-b","Total Cores":8,"Max Memory":4294967296}}""",
    s"""{"Event":"SparkListenerJobStart","Job ID":0,"Timestamp":${baseTs + 2000}}""",
    s"""{"Event":"SparkListenerStageSubmitted","Stage Info":{"Stage ID":0,"Submission Time":${baseTs + 2100}}}""",
    s"""{"Event":"SparkListenerTaskStart","Stage ID":0,"Stage Attempt ID":0,"Task Info":{"Task ID":0,"Executor ID":"1","Host":"worker-a","Locality":"PROCESS_LOCAL","Launch Time":${baseTs + 2200}}}""",
    s"""{"Event":"SparkListenerTaskEnd","Stage ID":0,"Stage Attempt ID":0,"Task End Reason":{"Reason":"Success"},"Task Info":{"Task ID":0,"Executor ID":"1","Host":"worker-a","Locality":"PROCESS_LOCAL","Launch Time":${baseTs + 2200},"Finish Time":${baseTs + 5200}},"Task Metrics":{"Executor Run Time":2800,"Executor CPU Time":2100000000,"JVM GC Time":120,"Peak Execution Memory":268435456,"Memory Bytes Spilled":0,"Disk Bytes Spilled":0,"Input Metrics":{"Bytes Read":1048576},"Output Metrics":{"Bytes Written":524288},"Shuffle Read Metrics":{"Total Bytes Read":65536,"Remote Bytes Read":32768,"Local Bytes Read":32768},"Shuffle Write Metrics":{"Shuffle Bytes Written":16384}},"Task Executor Metrics":{"JVMHeapMemory":1073741824}}""",
    s"""{"Event":"SparkListenerTaskEnd","Stage ID":0,"Stage Attempt ID":0,"Task End Reason":{"Reason":"ExceptionFailure"},"Task Info":{"Task ID":1,"Executor ID":"2","Host":"worker-b","Locality":"NODE_LOCAL","Launch Time":${baseTs + 2300},"Finish Time":${baseTs + 4300}},"Task Metrics":{"Executor Run Time":1500,"Executor CPU Time":900000000,"JVM GC Time":40,"Peak Execution Memory":134217728,"Memory Bytes Spilled":1024,"Disk Bytes Spilled":2048,"Input Metrics":{"Bytes Read":2097152},"Output Metrics":{"Bytes Written":0},"Shuffle Read Metrics":{"Total Bytes Read":0,"Remote Bytes Read":0,"Local Bytes Read":0},"Shuffle Write Metrics":{"Shuffle Bytes Written":0}},"Task Executor Metrics":{"JVMHeapMemory":2147483648}}""",
    s"""{"Event":"SparkListenerStageCompleted","Stage Info":{"Stage ID":0,"Submission Time":${baseTs + 2100},"Completion Time":${baseTs + 5300}}}""",
    s"""{"Event":"SparkListenerJobEnd","Job ID":0,"Timestamp":${baseTs + 5400}}""",
    s"""{"Event":"SparkListenerExecutorRemoved","Timestamp":${baseTs + 6000},"Executor ID":"2","Removed Reason":"idle"}""",
    s"""{"Event":"SparkListenerApplicationEnd","Timestamp":${baseTs + 7000}}"""
  )

  /** The remaining typed events (block manager, environment, SQL) plus
    * a malformed line and an unknown event type. */
  def extendedLog(baseTs: Long = 1700000000000L): Seq[String] = Seq(
    s"""{"Event":"SparkListenerBlockManagerAdded","Timestamp":${baseTs + 100},"Block Manager ID":{"Executor ID":"3","Host":"worker-c","Port":45123},"Maximum Memory":3221225472}""",
    s"""{"Event":"SparkListenerBlockManagerRemoved","Timestamp":${baseTs + 200},"Block Manager ID":{"Executor ID":"3","Host":"worker-c","Port":45123}}""",
    s"""{"Event":"SparkListenerEnvironmentUpdate","Spark Properties":{"spark.version":"3.5.7","spark.master":"yarn"}}""",
    s"""{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart","executionId":7,"time":${baseTs + 300}}""",
    s"""{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd","executionId":7,"time":${baseTs + 400}}""",
    s"""{"Event":"SparkListenerCustomPluginThing","Timestamp":${baseTs + 500}}""",
    """this line is not json at all {{{""",
    """{"no_event_field":true}"""
  )

  /** Write one app log per app id into dir; returns file paths. */
  def writeLogs(dir: String, appIds: Seq[String]): Seq[String] =
    appIds.zipWithIndex.map { case (appId, idx) =>
      val p = java.nio.file.Paths.get(dir, s"$appId.json")
      java.nio.file.Files.write(p,
        appLog(appId, 1700000000000L + idx * 86400000L)
          .mkString("\n").getBytes("UTF-8"))
      p.toString
    }
}
