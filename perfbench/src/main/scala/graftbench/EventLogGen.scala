package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** What the generator wrote for one application: the answers a correct
 *  ingest and a correct history server must give. */
final class AppTruth(val appId: String, val fileName: String, val inProgress: Boolean) {
  val eventCounts = mutable.TreeMap.empty[String, Long]
  /** stage id -> tasks that ended in it */
  val stageTasks = mutable.TreeMap.empty[Int, Int]
  var jobs = 0
  val executors = mutable.TreeSet.empty[String]
  var sparkProps = 0
  var lines = 0L
  var bytes = 0L

  def events: Long = eventCounts.values.sum
  def tasks: Long = stageTasks.values.map(_.toLong).sum
}

/** Shape of a generated fleet: `bigApps` big, `mediumApps` medium and
 *  the rest small apps, each with a task count drawn from its range;
 *  the last `inProgress` apps are still running. The counts are fixed
 *  so that every seed asks for about the same work. */
final case class FleetShape(apps: Int, bigApps: Int, mediumApps: Int, inProgress: Int,
                            smallTasks: (Int, Int), mediumTasks: (Int, Int),
                            bigTasks: (Int, Int))

/** Writes single-file Spark 4.1 event logs, line for line in the JSON
 *  layout Spark's `JsonProtocol` emits (field names, nesting, and the
 *  top-level "Stage ID" on TaskStart/TaskEnd), for a seeded fleet of
 *  applications. Completed logs are extension-less and named by app id;
 *  in-progress logs carry the `.inprogress` suffix and can be grown
 *  with [[appendTail]]. Output is a pure function of the seed. */
final class EventLogGen(seed: Long, shape: FleetShape) {
  import EventLogGen.DayMs

  private val rootRng = new SplittableRandom(seed)

  final class AppGen(val index: Int, rng: SplittableRandom) {
    val yarn: Boolean = rng.nextInt(3) == 0
    val appId: String =
      if (yarn) f"application_${DayMs / 1000}%d_${index + 1}%04d"
      else f"app-20261017${rng.nextInt(24)}%02d${rng.nextInt(60)}%02d${rng.nextInt(60)}%02d-${index}%04d"
    val inProgress: Boolean = index >= shape.apps - shape.inProgress
    val truth = new AppTruth(appId, if (inProgress) appId + ".inprogress" else appId, inProgress)
    private val user = Seq("etl", "analytics", "ml", "reporting")(rng.nextInt(4))
    private val name = Seq("daily-rollup", "sessionize", "feature-build", "dedup-join",
      "report-export")(rng.nextInt(5)) + "-" + index
    private val nExec = 2 + rng.nextInt(11)
    private val coresPerExec = Seq(2, 4, 8)(rng.nextInt(3))
    private val hosts = (0 until nExec).map(i => s"10.0.${index % 250}.${10 + i}")
    private var clock = DayMs + rng.nextInt(3) * 86400000L + rng.nextInt(80000000)
    private var nextJob = 0
    private var nextStage = 0
    private var nextTask = 0L
    private var nextSql = 0
    val totalTasks: Int = {
      def in(r: (Int, Int)) = r._1 + rng.nextInt(r._2 - r._1 + 1)
      if (index < shape.bigApps) in(shape.bigTasks)
      else if (index < shape.bigApps + shape.mediumApps) in(shape.mediumTasks)
      else in(shape.smallTasks)
    }

    private def tick(maxMs: Int): Long = { clock += 1 + rng.nextInt(maxMs); clock }

    private def emit(out: StringBuilder, event: String, json: String): Unit = {
      out.append(json).append('\n')
      truth.eventCounts(event) = truth.eventCounts.getOrElse(event, 0L) + 1
      truth.lines += 1
      truth.bytes += json.getBytes(StandardCharsets.UTF_8).length + 1
    }

    private def props(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")

    private def sparkProps: Seq[(String, String)] = Seq(
      "spark.app.id" -> appId, "spark.app.name" -> name,
      "spark.app.startTime" -> clock.toString, "spark.app.submitTime" -> (clock - 900).toString,
      "spark.driver.host" -> s"10.0.${index % 250}.2", "spark.driver.port" -> "40123",
      "spark.driver.memory" -> "4g", "spark.executor.memory" -> "8g",
      "spark.executor.cores" -> coresPerExec.toString,
      "spark.executor.instances" -> nExec.toString,
      "spark.eventLog.enabled" -> "true", "spark.eventLog.dir" -> "hdfs:///spark-logs",
      "spark.eventLog.rolling.enabled" -> "false",
      "spark.master" -> (if (yarn) "yarn" else "spark://master:7077"),
      "spark.submit.deployMode" -> (if (yarn) "cluster" else "client"),
      "spark.sql.adaptive.enabled" -> "true", "spark.sql.shuffle.partitions" -> "200",
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
      "spark.dynamicAllocation.enabled" -> "false", "spark.scheduler.mode" -> "FIFO",
      "spark.sql.warehouse.dir" -> "hdfs:///warehouse", "spark.executor.id" -> "driver",
      "spark.rdd.compress" -> "True", "spark.ui.enabled" -> "true")

    private def stageInfo(stage: Int, tasks: Int, submitted: Option[Long],
                          completed: Option[Long]): String = {
      val sb = new StringBuilder
      sb ++= s"""{"Stage ID":$stage,"Stage Attempt ID":0,"Stage Name":"save at Job.scala:${40 + stage % 60}","Number of Tasks":$tasks,"""
      sb ++= s""""RDD Info":[{"RDD ID":${stage * 3},"Name":"MapPartitionsRDD","Scope":"{\\"id\\":\\"${stage + 1}\\",\\"name\\":\\"WholeStageCodegen (1)\\"}","Callsite":"save at Job.scala:${40 + stage % 60}","Parent IDs":[],"Storage Level":{"Use Disk":false,"Use Memory":false,"Use Off Heap":false,"Deserialized":false,"Replication":1},"Barrier":false,"DeterministicLevel":"DETERMINATE","Number of Partitions":$tasks,"Number of Cached Partitions":0,"Memory Size":0,"Disk Size":0}],"""
      sb ++= s""""Parent IDs":[],"Details":"org.apache.spark.sql.Dataset.save(Dataset.scala:1120)","""
      submitted.foreach(t => sb ++= s""""Submission Time":$t,""")
      completed.foreach(t => sb ++= s""""Completion Time":$t,""")
      sb ++= """"Accumulables":[],"Resource Profile Id":0,"Shuffle Push Enabled":false,"Shuffle Push Mergers Count":0}"""
      sb.toString
    }

    /** Application preamble: everything Spark logs before the first job. */
    def head(out: StringBuilder): Unit = {
      emit(out, "SparkListenerLogStart", """{"Event":"SparkListenerLogStart","Spark Version":"4.1.2"}""")
      emit(out, "SparkListenerResourceProfileAdded",
        s"""{"Event":"SparkListenerResourceProfileAdded","Resource Profile Id":0,"Executor Resource Requests":{"cores":{"Resource Name":"cores","Amount":$coresPerExec,"Discovery Script":"","Vendor":""},"memory":{"Resource Name":"memory","Amount":8192,"Discovery Script":"","Vendor":""},"offHeap":{"Resource Name":"offHeap","Amount":0,"Discovery Script":"","Vendor":""}},"Task Resource Requests":{"cpus":{"Resource Name":"cpus","Amount":1.0}}}""")
      val t0 = tick(50)
      emit(out, "SparkListenerBlockManagerAdded",
        s"""{"Event":"SparkListenerBlockManagerAdded","Block Manager ID":{"Executor ID":"driver","Host":"10.0.${index % 250}.2","Port":40200},"Maximum Memory":2101975449,"Timestamp":$t0,"Maximum Onheap Memory":2101975449,"Maximum Offheap Memory":0}""")
      val sp = sparkProps
      truth.sparkProps = sp.size
      emit(out, "SparkListenerEnvironmentUpdate",
        s"""{"Event":"SparkListenerEnvironmentUpdate","JVM Information":{"Java Home":"/usr/lib/jvm/java-17-openjdk-amd64","Java Version":"17.0.20 (Debian)","Scala Version":"version 2.13.17"},"Spark Properties":${props(sp)},"Hadoop Properties":${props(Seq("fs.defaultFS" -> "hdfs://nn:8020", "dfs.replication" -> "3", "io.file.buffer.size" -> "65536", "mapreduce.job.reduces" -> "1"))},"System Properties":${props(Seq("java.vm.name" -> "OpenJDK 64-Bit Server VM", "file.encoding" -> "UTF-8", "user.timezone" -> "UTC", "os.name" -> "Linux"))},"Metrics Properties":${props(Seq("*.sink.servlet.class" -> "org.apache.spark.metrics.sink.MetricsServlet", "*.sink.servlet.path" -> "/metrics/json"))},"Classpath Entries":${props(Seq("/srv/spark/jars/spark-core_2.13-4.1.2.jar" -> "System Classpath", "/srv/spark/jars/spark-sql_2.13-4.1.2.jar" -> "System Classpath", "/srv/spark/conf/" -> "System Classpath"))}}""")
      val attempt = if (yarn) ""","App Attempt ID":"1"""" else ""
      emit(out, "SparkListenerApplicationStart",
        s"""{"Event":"SparkListenerApplicationStart","App Name":${Json.str(name)},"App ID":"$appId","Timestamp":${clock - 900},"User":"$user"$attempt}""")
      (1 to nExec).foreach { e =>
        val t = tick(400)
        truth.executors += e.toString
        emit(out, "SparkListenerExecutorAdded",
          s"""{"Event":"SparkListenerExecutorAdded","Timestamp":$t,"Executor ID":"$e","Executor Info":{"Host":"${hosts(e - 1)}","Total Cores":$coresPerExec,"Log Urls":{"stdout":"http://${hosts(e - 1)}:8042/node/containerlogs/$e/stdout","stderr":"http://${hosts(e - 1)}:8042/node/containerlogs/$e/stderr"},"Attributes":{},"Resources":{},"Resource Profile Id":0,"Registration Time":$t,"Request Time":${t - 300}}}""")
        emit(out, "SparkListenerBlockManagerAdded",
          s"""{"Event":"SparkListenerBlockManagerAdded","Block Manager ID":{"Executor ID":"$e","Host":"${hosts(e - 1)}","Port":${41000 + e}},"Maximum Memory":4772302848,"Timestamp":${t + 5},"Maximum Onheap Memory":4772302848,"Maximum Offheap Memory":0}""")
      }
    }

    /** One SQL execution running one job of 1-3 stages over `tasks` tasks. */
    def job(out: StringBuilder, tasks: Int): Unit = {
      val sql = nextSql; nextSql += 1
      val jobId = nextJob; nextJob += 1
      val nStages = math.min(tasks, 1 + rng.nextInt(3))
      val stages = (0 until nStages).map(_ => { val s = nextStage; nextStage += 1; s })
      val split = (0 until nStages).map(i => tasks / nStages + (if (i < tasks % nStages) 1 else 0))
      val tStart = tick(2000)
      emit(out, "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        s"""{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart","executionId":$sql,"rootExecutionId":$sql,"description":"save at Job.scala:42","details":"org.apache.spark.sql.Dataset.save(Dataset.scala:1120)","physicalPlanDescription":"== Physical Plan ==\\nAdaptiveSparkPlan (4)\\n+- Exchange (3)\\n   +- Project (2)\\n      +- Scan parquet (1)\\n","sparkPlanInfo":{"nodeName":"AdaptiveSparkPlan","simpleString":"AdaptiveSparkPlan isFinalPlan=false","children":[],"metadata":{},"metrics":[]},"time":$tStart,"modifiedConfigs":{},"jobTags":[]}""")
      val infos = stages.zip(split).map { case (s, n) => stageInfo(s, n, None, None) }
      val propsJson = props(Seq("spark.sql.execution.id" -> sql.toString, "spark.job.description" -> s"job $jobId",
        "spark.rdd.scope" -> s"""{"id":"$jobId","name":"save"}""", "callSite.short" -> "save at Job.scala:42"))
      emit(out, "SparkListenerJobStart",
        s"""{"Event":"SparkListenerJobStart","Job ID":$jobId,"Submission Time":$tStart,"Stage Infos":${infos.mkString("[", ",", "]")},"Stage IDs":${stages.mkString("[", ",", "]")},"Properties":$propsJson}""")
      truth.jobs += 1
      stages.zip(split).foreach { case (s, n) =>
        val sub = tick(20)
        emit(out, "SparkListenerStageSubmitted",
          s"""{"Event":"SparkListenerStageSubmitted","Stage Info":${stageInfo(s, n, Some(sub), None)},"Properties":$propsJson}""")
        (0 until n).foreach { i =>
          val taskId = nextTask; nextTask += 1
          val e = 1 + rng.nextInt(nExec)
          val host = hosts(e - 1)
          val launch = tick(8)
          val run = 20 + rng.nextInt(4000)
          val finish = launch + run + rng.nextInt(30)
          val locality = if (rng.nextInt(5) == 0) "NODE_LOCAL" else "PROCESS_LOCAL"
          val info = s""""Task ID":$taskId,"Index":$i,"Attempt":0,"Partition ID":$i,"Launch Time":$launch,"Executor ID":"$e","Host":"$host","Locality":"$locality","Speculative":false,"Getting Result Time":0"""
          emit(out, "SparkListenerTaskStart",
            s"""{"Event":"SparkListenerTaskStart","Stage ID":$s,"Stage Attempt ID":0,"Task Info":{$info,"Finish Time":0,"Failed":false,"Killed":false,"Accumulables":[]}}""")
          val inBytes = rng.nextInt(1 << 26).toLong
          val shW = rng.nextInt(1 << 22).toLong
          val shR = if (s == stages.head) 0L else rng.nextInt(1 << 22).toLong
          val cpu = run.toLong * (400000L + rng.nextInt(500000))
          val gc = rng.nextInt(1 + run / 10)
          val spill = if (rng.nextInt(20) == 0) rng.nextInt(1 << 24).toLong else 0L
          val peak = (1L << 20) * (1 + rng.nextInt(256))
          emit(out, "SparkListenerTaskEnd",
            s"""{"Event":"SparkListenerTaskEnd","Stage ID":$s,"Stage Attempt ID":0,"Task Type":"${if (s == stages.last) "ResultTask" else "ShuffleMapTask"}","Task End Reason":{"Reason":"Success"},"Task Info":{$info,"Finish Time":$finish,"Failed":false,"Killed":false,"Accumulables":[{"ID":${1000 + s},"Name":"number of output rows","Update":"${inBytes / 100}","Value":"${inBytes / 100}","Internal":true,"Count Failed Values":true,"Metadata":"sql"},{"ID":${2000 + s},"Name":"internal.metrics.executorRunTime","Update":$run,"Value":$run,"Internal":true,"Count Failed Values":true}]},"Task Executor Metrics":{"JVMHeapMemory":${peak * 3},"JVMOffHeapMemory":${peak / 2},"OnHeapExecutionMemory":$peak,"OffHeapExecutionMemory":0,"OnHeapStorageMemory":0,"OffHeapStorageMemory":0,"OnHeapUnifiedMemory":$peak,"OffHeapUnifiedMemory":0,"DirectPoolMemory":0,"MappedPoolMemory":0,"ProcessTreeJVMVMemory":0,"ProcessTreeJVMRSSMemory":0,"ProcessTreePythonVMemory":0,"ProcessTreePythonRSSMemory":0,"ProcessTreeOtherVMemory":0,"ProcessTreeOtherRSSMemory":0,"MinorGCCount":${gc / 10},"MinorGCTime":$gc,"MajorGCCount":0,"MajorGCTime":0,"TotalGCTime":$gc,"ConcurrentGCCount":0,"ConcurrentGCTime":0},"Task Metrics":{"Executor Deserialize Time":${1 + rng.nextInt(40)},"Executor Deserialize CPU Time":${rng.nextInt(30000000)},"Executor Run Time":$run,"Executor CPU Time":$cpu,"Peak Execution Memory":$peak,"Peak On Heap Execution Memory":$peak,"Peak Off Heap Execution Memory":0,"Result Size":${2000 + rng.nextInt(3000)},"JVM GC Time":$gc,"Result Serialization Time":${rng.nextInt(3)},"Memory Bytes Spilled":$spill,"Disk Bytes Spilled":${spill / 3},"Shuffle Read Metrics":{"Remote Blocks Fetched":0,"Local Blocks Fetched":${if (shR > 0) 4 else 0},"Fetch Wait Time":0,"Remote Bytes Read":${shR / 2},"Remote Bytes Read To Disk":0,"Local Bytes Read":${shR - shR / 2},"Total Records Read":${shR / 64},"Remote Requests Duration":0,"Push Based Shuffle":{"Corrupt Merged Block Chunks":0,"Merged Fetch Fallback Count":0,"Merged Remote Blocks Fetched":0,"Merged Local Blocks Fetched":0,"Merged Remote Chunks Fetched":0,"Merged Local Chunks Fetched":0,"Merged Remote Bytes Read":0,"Merged Local Bytes Read":0,"Merged Remote Requests Duration":0}},"Shuffle Write Metrics":{"Shuffle Bytes Written":$shW,"Shuffle Write Time":${shW * 3},"Shuffle Records Written":${shW / 64}},"Input Metrics":{"Bytes Read":$inBytes,"Records Read":${inBytes / 100}},"Output Metrics":{"Bytes Written":0,"Records Written":0},"Updated Blocks":[]}}""")
          truth.stageTasks(s) = truth.stageTasks.getOrElse(s, 0) + 1
          clock = math.max(clock, launch)
        }
        val done = tick(30)
        emit(out, "SparkListenerStageCompleted",
          s"""{"Event":"SparkListenerStageCompleted","Stage Info":${stageInfo(s, n, Some(sub), Some(done))}}""")
        if (!truth.stageTasks.contains(s)) truth.stageTasks(s) = 0
      }
      val end = tick(30)
      emit(out, "SparkListenerJobEnd",
        s"""{"Event":"SparkListenerJobEnd","Job ID":$jobId,"Completion Time":$end,"Job Result":{"Result":"JobSucceeded"}}""")
      emit(out, "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
        s"""{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd","executionId":$sql,"time":${end + 3},"errorMessage":""}""")
    }

    /** Jobs covering `tasks` tasks, 10-2000 tasks per job. */
    def jobs(out: StringBuilder, tasks: Int): Unit = {
      var left = tasks
      while (left > 0) {
        val n = math.min(left, 10 + rng.nextInt(math.max(1, math.min(2000, tasks / 3))))
        job(out, n)
        left -= n
      }
    }

    def tail(out: StringBuilder): Unit = {
      (1 to nExec by 3).foreach { e =>
        val t = tick(100)
        emit(out, "SparkListenerExecutorRemoved",
          s"""{"Event":"SparkListenerExecutorRemoved","Timestamp":$t,"Executor ID":"$e","Removed Reason":"Executor killed by driver."}""")
      }
      val t = tick(100)
      emit(out, "SparkListenerApplicationEnd",
        s"""{"Event":"SparkListenerApplicationEnd","Timestamp":$t,"ExitCode":0}""")
    }
  }

  val apps: IndexedSeq[AppGen] =
    (0 until shape.apps).map(i => new AppGen(i, rootRng.split()))

  /** Write every log of the fleet into `dir` (created if missing). */
  def writeFleet(dir: Path): Unit = {
    Files.createDirectories(dir)
    apps.foreach { a =>
      val out = new StringBuilder
      a.head(out)
      a.jobs(out, a.totalTasks)
      if (!a.inProgress) a.tail(out)
      Files.write(dir.resolve(a.truth.fileName), out.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Append one job of `tasks` tasks to every in-progress log; returns
   *  the bytes appended. */
  def appendTail(dir: Path, tasks: Int): Long = {
    var total = 0L
    apps.filter(_.inProgress).foreach { a =>
      val out = new StringBuilder
      a.job(out, tasks)
      val bytes = out.toString.getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(a.truth.fileName), bytes, StandardOpenOption.APPEND)
      total += bytes.length
    }
    total
  }

  def truths: Seq[AppTruth] = apps.map(_.truth)
  def events: Long = truths.map(_.events).sum
  def bytes: Long = truths.map(_.bytes).sum

  /** Input properties for the run's output. */
  def describe: Map[String, Any] = {
    val tasks = truths.map(_.tasks.toDouble)
    Map(
      "files" -> truths.size,
      "in_progress_files" -> truths.count(_.inProgress),
      "events" -> events,
      "bytes" -> bytes,
      "tasks_per_app_p50" -> Stats.median(tasks),
      "tasks_per_app_p90" -> Stats.quantile(tasks, 0.9),
      "tasks_per_app_max" -> tasks.max,
      "tasks_total" -> tasks.sum)
  }
}

object EventLogGen {
  /** Midnight UTC of the day the generated applications start from. */
  private val DayMs = 1792195200000L
}
