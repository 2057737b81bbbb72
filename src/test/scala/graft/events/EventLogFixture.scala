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

  /** A JSON value as Spark's JsonProtocol would write it: maps keep
    * their key order (a `Seq` of pairs), strings are escaped. */
  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => d.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + js(x) }.mkString("{", ",", "}")
    case a: Seq[_] => a.map(js).mkString("[", ",", "]")
  }

  private final case class Obj(fields: (String, Any)*)

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A seeded fleet of Spark-shaped logs (file name -> lines): the
    * events and nested payloads Spark 3.x writes — LogStart, resource
    * profiles, environment with JVM/Hadoop/system properties, jobs
    * with stage infos and RDD infos, tasks with accumulables and full
    * metrics (with and without `Total Bytes Read`), failures with stack
    * traces, SQL executions with plans, driver accumulator updates —
    * over YARN attempts, `.inprogress`, extension-less and `.log`
    * names, and unicode app names. */
  def fleet(seed: Long, apps: Int): Seq[(String, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    val names = Seq("nightly-etl", "ETL – naïve ✓", "データパイプ",
      "feature build 🚀", "ad-hoc \"quoted\" \\ job")
    (0 until apps).map { a =>
      val yarn = a % 3 == 1
      val appId = if (yarn) f"application_1700000000000_$a%04d" else f"app-20240101$a%06d-$a%04d"
      val attempt = if (yarn) Some((1 + a % 2).toString) else None
      val file = (a % 4 match {
        case 0 => appId + ".json"
        case 1 => appId + attempt.fold("")("_" + _)
        case 2 => appId + ".inprogress"
        case _ => appId + ".log"
      })
      var ts = 1700000000000L + a * 86400000L + rnd.nextInt(3600000)
      def tick(): Long = { ts += 1 + rnd.nextInt(2000); ts }
      val out = Seq.newBuilder[String]
      def emit(fields: (String, Any)*): Unit = out += js(Obj(fields: _*))
      emit("Event" -> "SparkListenerLogStart", "Spark Version" -> "3.5.1")
      emit("Event" -> "SparkListenerResourceProfileAdded", "Resource Profile Id" -> 0,
        "Executor Resource Requests" -> Obj("cores" -> Obj("Resource Name" -> "cores",
          "Amount" -> 4, "Discovery Script" -> "", "Vendor" -> "")),
        "Task Resource Requests" -> Obj("cpus" -> Obj("Resource Name" -> "cpus", "Amount" -> 1.0)))
      emit("Event" -> "SparkListenerBlockManagerAdded",
        "Block Manager ID" -> Obj("Executor ID" -> "driver", "Host" -> "10.0.0.1", "Port" -> (40000 + a)),
        "Maximum Memory" -> (2004123456L + a), "Timestamp" -> tick(),
        "Maximum Onheap Memory" -> 2004123456L, "Maximum Offheap Memory" -> 0)
      val props = Seq("spark.master" -> (if (yarn) "yarn" else "local[4]"),
        "spark.app.name" -> names(a % names.size), "spark.driver.memory" -> "4g",
        "spark.executor.cores" -> "4", "spark.sql.shuffle.partitions" -> "200",
        "spark.eventLog.enabled" -> "true", "spark.version" -> "3.5.1") ++
        (if (a % 2 == 0) Seq("spark.app.version" -> s"2.$a.0") else Nil) ++
        (0 until rnd.nextInt(20)).map(i => s"spark.custom.key$i" -> ("v" * (1 + rnd.nextInt(40))))
      emit("Event" -> "SparkListenerEnvironmentUpdate",
        "JVM Information" -> Obj("Java Home" -> "/usr/lib/jvm/java-17", "Java Version" -> "17.0.9 (Eclipse Adoptium)",
          "Scala Version" -> "version 2.12.18"),
        "Spark Properties" -> Obj(props: _*),
        "Hadoop Properties" -> Obj("fs.defaultFS" -> "hdfs://nn:8020", "io.file.buffer.size" -> "65536"),
        "System Properties" -> Obj("java.io.tmpdir" -> "/tmp", "line.separator" -> "\n", "user.name" -> "svc"),
        "Metrics Properties" -> Obj(),
        "Classpath Entries" -> Obj("/srv/spark/jars/spark-core_2.12-3.5.1.jar" -> "System Classpath"),
        "Resource Profiles" -> Seq())
      emit(Seq("Event" -> "SparkListenerApplicationStart", "App Name" -> names(a % names.size),
        "App ID" -> appId, "Timestamp" -> tick(), "User" -> (if (a % 2 == 0) "svc_etl" else "émilie")) ++
        attempt.map("App Attempt ID" -> _) ++
        Seq("Driver Logs" -> Obj("stdout" -> s"http://nm:8042/node/containerlogs/$appId/stdout"),
          "Driver Attributes" -> Obj("CONTAINER_ID" -> "container_1")): _*)
      val executors = 1 + rnd.nextInt(4)
      (1 to executors).foreach { e =>
        emit(Seq("Event" -> "SparkListenerExecutorAdded", "Timestamp" -> tick(), "Executor ID" -> e.toString,
          "Executor Info" -> Obj(Seq("Host" -> s"worker-$e.example", "Total Cores" -> (2 << rnd.nextInt(4)),
            "Log Urls" -> Obj("stdout" -> s"http://w$e:8042/stdout", "stderr" -> s"http://w$e:8042/stderr"),
            "Attributes" -> Obj(), "Resources" -> Obj(), "Resource Profile Id" -> 0,
            "Registration Time" -> ts, "Request Time" -> Obj()) ++
            (if (e % 2 == 0) Seq("Max Memory" -> (1L << 31) * e) else Nil): _*)): _*)
        emit("Event" -> "SparkListenerBlockManagerAdded",
          "Block Manager ID" -> Obj("Executor ID" -> e.toString, "Host" -> s"worker-$e.example", "Port" -> (41000 + e)),
          "Maximum Memory" -> 1073741824L * e, "Timestamp" -> tick())
      }
      var taskId = 0L
      (0 until 1 + rnd.nextInt(3)).foreach { job =>
        val stage = job
        val stageInfo = Obj("Stage ID" -> stage, "Stage Attempt ID" -> 0, "Stage Name" -> s"collect at <console>:$job",
          "Number of Tasks" -> 8,
          "RDD Info" -> Seq(Obj("RDD ID" -> job, "Name" -> "MapPartitionsRDD", "Scope" -> "{\"id\":\"1\",\"name\":\"map\"}",
            "Callsite" -> "map at <console>:1", "Parent IDs" -> Seq(0), "Storage Level" -> Obj("Use Disk" -> false,
              "Use Memory" -> false, "Deserialized" -> false, "Replication" -> 1),
            "Barrier" -> false, "DeterministicLevel" -> "DETERMINATE", "Number of Partitions" -> 8,
            "Number of Cached Partitions" -> 0, "Memory Size" -> 0, "Disk Size" -> 0)),
          "Parent IDs" -> Seq(), "Details" -> "org.apache.spark.rdd.RDD.collect(RDD.scala:1048)\n\tat $line",
          "Accumulables" -> Seq(), "Resource Profile Id" -> 0, "Shuffle Push Enabled" -> false,
          "Shuffle Push Mergers Count" -> 0)
        val jobProps = Obj("spark.rdd.scope" -> "{\"id\":\"3\"}", "spark.job.description" -> s"job $job",
          "spark.sql.execution.id" -> job.toString)
        emit("Event" -> "SparkListenerJobStart", "Job ID" -> job, "Submission Time" -> tick(),
          "Stage Infos" -> Seq(stageInfo), "Stage IDs" -> Seq(stage), "Properties" -> jobProps)
        emit("Event" -> "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId" -> job,
          "rootExecutionId" -> job, "description" -> s"collect at <console>:$job", "details" -> "",
          "physicalPlanDescription" -> "== Physical Plan ==\n* HashAggregate (4)\n+- Exchange (3)",
          "sparkPlanInfo" -> Obj("nodeName" -> "HashAggregate", "simpleString" -> "HashAggregate(keys=[])",
            "children" -> Seq(Obj("nodeName" -> "Exchange", "children" -> Seq(), "metadata" -> Obj(),
              "metrics" -> Seq(Obj("name" -> "shuffle bytes written", "accumulatorId" -> 3, "metricType" -> "size")))),
            "metadata" -> Obj(), "metrics" -> Seq()),
          "time" -> tick(), "modifiedConfigs" -> Obj(), "jobTags" -> Seq())
        emit("Event" -> "SparkListenerStageSubmitted",
          "Stage Info" -> Obj((stageInfo.fields :+ ("Submission Time" -> tick())): _*), "Properties" -> jobProps)
        (0 until 2 + rnd.nextInt(12)).foreach { _ =>
          val ex = 1 + rnd.nextInt(executors)
          val launch = tick()
          val info = Seq("Task ID" -> taskId, "Index" -> (taskId % 8), "Attempt" -> 0, "Partition ID" -> (taskId % 8),
            "Launch Time" -> launch, "Executor ID" -> ex.toString, "Host" -> s"worker-$ex.example",
            "Locality" -> Seq("PROCESS_LOCAL", "NODE_LOCAL", "RACK_LOCAL", "ANY")(rnd.nextInt(4)),
            "Speculative" -> false, "Getting Result Time" -> 0)
          emit("Event" -> "SparkListenerTaskStart", "Stage ID" -> stage, "Stage Attempt ID" -> 0,
            "Task Info" -> Obj((info ++ Seq("Finish Time" -> 0, "Failed" -> false, "Killed" -> false,
              "Accumulables" -> Seq())): _*))
          val failed = rnd.nextInt(10) == 0
          val finish = tick()
          val run = rnd.nextInt(5000)
          val shuffleRead = Seq("Remote Blocks Fetched" -> rnd.nextInt(10), "Local Blocks Fetched" -> rnd.nextInt(10),
            "Fetch Wait Time" -> rnd.nextInt(10), "Remote Bytes Read" -> rnd.nextInt(1 << 20).toLong,
            "Remote Bytes Read To Disk" -> 0, "Local Bytes Read" -> rnd.nextInt(1 << 20).toLong,
            "Total Records Read" -> rnd.nextInt(1000)) ++
            (if (rnd.nextBoolean()) Seq("Total Bytes Read" -> rnd.nextInt(1 << 21).toLong) else Nil)
          emit(Seq("Event" -> "SparkListenerTaskEnd", "Stage ID" -> stage, "Stage Attempt ID" -> 0,
            "Task Type" -> "ResultTask",
            "Task End Reason" -> (if (failed) Obj("Reason" -> "ExceptionFailure",
              "Class Name" -> "java.lang.RuntimeException", "Description" -> "boom ⚠",
              "Stack Trace" -> Seq(Obj("Declaring Class" -> "Foo", "Method Name" -> "bar",
                "File Name" -> "Foo.scala", "Line Number" -> 12)),
              "Full Stack Trace" -> "java.lang.RuntimeException: boom\n\tat Foo.bar(Foo.scala:12)",
              "Accumulator Updates" -> Seq()) else Obj("Reason" -> "Success")),
            "Task Info" -> Obj((info ++ Seq("Finish Time" -> finish, "Failed" -> failed, "Killed" -> false,
              "Accumulables" -> Seq(Obj("ID" -> 7, "Name" -> "internal.metrics.executorRunTime",
                "Update" -> run, "Value" -> run, "Internal" -> true, "Count Failed Values" -> true)))): _*),
            "Task Executor Metrics" -> Obj("JVMHeapMemory" -> rnd.nextInt(1 << 30).toLong,
              "JVMOffHeapMemory" -> 1024, "OnHeapExecutionMemory" -> 0, "ProcessTreeJVMVMemory" -> 0,
              "MinorGCCount" -> 3, "MajorGCTime" -> 0)) ++
            (if (rnd.nextInt(8) == 0) Nil else Seq("Task Metrics" -> Obj(
              "Executor Deserialize Time" -> 10, "Executor Deserialize CPU Time" -> 9000,
              "Executor Run Time" -> run, "Executor CPU Time" -> run * 900000L, "Peak Execution Memory" -> (1L << 20),
              "Result Size" -> 1500, "JVM GC Time" -> rnd.nextInt(100), "Result Serialization Time" -> 0,
              "Memory Bytes Spilled" -> 0, "Disk Bytes Spilled" -> rnd.nextInt(2) * 4096,
              "Shuffle Read Metrics" -> Obj(shuffleRead: _*),
              "Shuffle Write Metrics" -> Obj("Shuffle Bytes Written" -> rnd.nextInt(1 << 20),
                "Shuffle Write Time" -> 1000, "Shuffle Records Written" -> 10),
              "Input Metrics" -> Obj("Bytes Read" -> rnd.nextInt(1 << 24), "Records Read" -> 100),
              "Output Metrics" -> Obj("Bytes Written" -> 0, "Records Written" -> 0),
              "Updated Blocks" -> Seq()))): _*)
          taskId += 1
        }
        emit("Event" -> "SparkListenerStageCompleted", "Stage Info" -> Obj((stageInfo.fields ++
          Seq("Submission Time" -> (ts - 500), "Completion Time" -> tick())): _*))
        emit("Event" -> "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
          "executionId" -> job, "accumUpdates" -> Seq(Seq(3, 12)))
        emit("Event" -> "SparkListenerJobEnd", "Job ID" -> job, "Completion Time" -> tick(),
          "Job Result" -> Obj("Result" -> "JobSucceeded"))
        emit("Event" -> "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
          "executionId" -> job, "time" -> tick(), "errorMessage" -> "")
      }
      if (executors > 1) {
        emit("Event" -> "SparkListenerExecutorRemoved", "Timestamp" -> tick(), "Executor ID" -> executors.toString,
          "Removed Reason" -> "Executor killed by driver.")
        emit("Event" -> "SparkListenerBlockManagerRemoved", "Timestamp" -> tick(),
          "Block Manager ID" -> Obj("Executor ID" -> executors.toString, "Host" -> s"worker-$executors.example",
            "Port" -> (41000 + executors)))
      }
      if (a % 4 != 2) emit("Event" -> "SparkListenerApplicationEnd", "Timestamp" -> tick())
      file -> out.result()
    }
  }

  /** Lines `from_json` reads by its own rules, one per rule: wrong
    * JSON types, 20-digit ints, floats and strings in long fields,
    * numbers, objects and null in string fields and in `Spark
    * Properties`, array-form properties, duplicate keys, syntax errors
    * inside and between fields, truncated JSON, empty and non-object
    * lines, unicode and invalid UTF-8. */
  val edgeLines: Seq[Array[Byte]] = {
    val te = "\"Event\":\"SparkListenerTaskEnd\",\"Stage ID\":1"
    val ea = "\"Event\":\"SparkListenerExecutorAdded\",\"Timestamp\":1700000000000,\"Executor ID\":\"1\""
    val env = "\"Event\":\"SparkListenerEnvironmentUpdate\""
    val ti = "\"Task Info\":{\"Task ID\":4,\"Executor ID\":\"1\",\"Host\":\"h\",\"Launch Time\":1700000000000,\"Finish Time\":1700000001000}"
    val text = Seq(
      s"""{$te,"Task Info":{"Task ID":12345678901234567890,"Executor ID":"1","Host":"h","Launch Time":1700000000000}}""",
      s"""{$te,"Task Info":{"Task ID":-9223372036854775808,"Stage ID":9223372036854775807,"Launch Time":-0}}""",
      s"""{$te,"Timestamp":1.7e12,$ti,"Task Metrics":{"Executor Run Time":5.0,"JVM GC Time":"7","Executor CPU Time":""}}""",
      s"""{$te,"Timestamp":NaN,$ti,"Task Metrics":{"Executor Run Time":true,"Peak Execution Memory":[1,2],"Disk Bytes Spilled":{"a":1}}}""",
      s"""{$te,$ti,"Task Metrics":{"Executor Run Time":1e999999999,"Memory Bytes Spilled":-5}}""",
      s"""{"Event":"SparkListenerTaskStart","Stage ID":"1",$ti}""",
      s"""{$ea,"Executor Info":{"Host":5,"Total Cores":4,"Max Memory":1}}""",
      s"""{$ea,"Executor Info":{"Host":{"a":[1,  2.50,"s",null,true]},"Total Cores":"4"}}""",
      s"""{$ea,"Executor Info":{"Host":null,"Total Cores":null},"Executor ID":12}""",
      s"""{$ea,"Executor Info":{"Host":[1e400,-1.0E-5,12345678901234567890123]}}""",
      s"""{"Event":5,"Timestamp":1}""",
      s"""{"Event":{"nested":"event"},"Timestamp":1}""",
      s"""{"Event":true,"Timestamp":1}""",
      s"""{"Event":null,"Timestamp":1}""",
      s"""{"Event":1.50e1}""",
      s"""{$env,"Spark Properties":{"a":1,"b":true,"c":null,"d":{"x":[1,{"y":2}]},"spark.version":3.5}}""",
      s"""{$env,"Spark Properties":{"spark.app.version":null,"spark.version":"3.5.0"}}""",
      s"""{$env,"Spark Properties":{"spark.version":"1","spark.version":"2","spark.app.version":"9","spark.app.version":"8"}}""",
      s"""{$env,"Spark Properties":[["spark.master","yarn"],["spark.version","2.4.8"]]}""",
      s"""{$env,"Spark Properties":"spark.master=yarn"}""",
      s"""{$env,"Spark Properties":42}""",
      s"""{$env,"Spark Properties":null}""",
      s"""{$env,"Spark Properties":{}}""",
      s"""{$env,"Spark Properties":{"k":1e400,"big":"${"x" * 100000}"}}""",
      s"""{$env,"Spark Properties":{"a":"b"},"Spark Properties":{"c":"d"}}""",
      s"""{$env,"Spark Properties":{"a":"b"},"Spark Properties":[1]}""",
      s"""{"Event":"SparkListenerJobStart","Event":"SparkListenerJobEnd","Job ID":1,"Job ID":2,"Timestamp":5,"Timestamp":null}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":1,"Job ID":"x","Timestamp":1,"Timestamp":2.5}""",
      s"""{$te,$ti,"Task Info":{"Host":"z"}}""",
      s"""{$te,$ti,"Task Info":{"Task ID":1,"Task ID":null,"Host":"y","Host":7}}""",
      s"""{$te,$ti,"Task Info":5}""",
      s"""{$te,$ti,"Task Info":[1,2]}""",
      s"""{$te,$ti,"Task Info":null}""",
      s"""{$te,$ti,"Task Info":"str"}""",
      s"""{$te,$ti,"Task Info":""}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":1,"Timestamp":17000000""",
      s"""{"Event":"SparkListenerJobStart","Job ID"""",
      s"""{"Event":"SparkListenerJobStart","Job ID":1,"Task Info":{"Task ID":1}""",
      "",
      "   ",
      s"""[{"Event":"SparkListenerJobStart","Job ID":1}]""",
      "null",
      "5",
      "\"SparkListenerJobStart\"",
      "{}",
      s"""{"Job ID":1,"Timestamp":1}""",
      s"""{"Event":"SparkListenerApplicationStart","App Name":"データ ✓ 🚀","App ID":"app-é","User":"\\u00e9\\ud83d\\ude00","Timestamp":1700000000000}""",
      s"""{"Event":"SparkListenerApplicationStart","App Name":"\\ud83d","App Attempt ID":"1","Timestamp":1700000000000}""",
      s"""{"\\u0045vent":"SparkListenerJobStart","Job \\u0049D":3,"Timestamp":1700000000000}""",
      s"""   {"Event":"SparkListenerJobStart","Job ID":4,"Timestamp":1700000000000}""",
      "\uFEFF" + s"""{"Event":"SparkListenerJobStart","Job ID":5,"Timestamp":1700000000000}""",
      s"""{'Event':'SparkListenerJobStart','Job ID':6,'Timestamp':1700000000000}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":7,"Timestamp":1700000000000} trailing""",
      s"""{"Event":"SparkListenerJobStart","Job ID":8,"Timestamp":1700000000000}}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":9,"Timestamp":1700000000000}{"Event":"x"}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":01,"Timestamp":1700000000000}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":1,"Timestamp":1700000000000,"X":tru}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":1,"Timestamp":1700000000000,}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":1,"Timestamp":1700000000000 "X":2}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":1, /* c */ "Timestamp":1700000000000}""",
      s"""{"Event":"SparkListenerJobStart","Job ID":1,Timestamp:1700000000000}""",
      s"""{"Event":"SparkListener\tJobStart","Job ID":1}""",
      s"""{"Event":"SparkListenerJobStart\\q","Job ID":1}""",
      s"""{$te,"Timestamp":1700000000000,"Task Info":{"Task ID":01,"Host":"h"}}""",
      s"""{$te,"Timestamp":1700000000000,"Task Info":{"Host":"h","Q":01}}""",
      s"""{$te,"Timestamp":1700000000000,"Task Info":{"Task ID":1,"Host":tru},"Task End Reason":{"Reason":"Success"}}""",
      s"""{$te,"Timestamp":1700000000000,"Task Info":{"Task ID":1,"Host":["a",01]}}""",
      s"""{$te,"Timestamp":1700000000000,"Task Info":[01]}""",
      s"""{$te,"Timestamp":1700000000000,$ti,"Task Info":{"Task ID":2,"X":01}}""",
      s"""{$env,"Timestamp":1,"Spark Properties":{"a":01}}""",
      s"""{$env,"Timestamp":1,"Spark Properties":{"a":"b","c":[1,01]}}""",
      s"""{$env,"Timestamp":1,"Spark Properties":{"a":"b"},"Spark Properties":{"a":"c","d":[01]}}""",
      s"""{$te,"Timestamp":1700000000000,"Accumulables":${"[" * 60}1${"]" * 60},$ti}""",
      s"""{$te,"Timestamp":1700000000000,"Unknown":{"deep":{"er":[{"a":"\\"}"},{"b":[]}]}},$ti}""",
      s"""{"Event":"SparkListenerBlockManagerAdded","Block Manager ID":{"Executor ID":"3","Host":"h","Port":"x"},"Maximum Memory":1.5}""",
      s"""{"Event":"SparkListenerBlockManagerAdded","Block Manager ID":{"Executor ID":"3","Host":"h","Port":99999999999999999999},"Maximum Memory":7}""",
      s"""{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart","executionId":"1","time":1700000000000}"""
    ).map(_.getBytes("UTF-8"))
    val invalidUtf8 = Seq(
      "{\"Event\":\"SparkListenerJobStart\",\"Job ID\":1,\"Timestamp\":1,\"User\":\"a".getBytes("UTF-8") ++
        Array(0xc3, 0x28, 0xff).map(_.toByte) ++ "z\"}".getBytes("UTF-8"),
      "{\"Event\":\"SparkListener".getBytes("UTF-8") ++ Array(0xe2, 0x82).map(_.toByte) ++
        "JobStart\",\"Job ID\":2}".getBytes("UTF-8"))
    text ++ invalidUtf8
  }

  /** Lines whose values overflow the canonical column under ANSI mode
    * (`Total Cores` past an int, a timestamp or a shuffle-read sum past
    * `Long` micros/bytes): the old parse failed the query on them. */
  val poisonLines: Seq[String] = Seq(
    """{"Event":"SparkListenerExecutorAdded","Timestamp":1700000000000,"Executor ID":"9","Executor Info":{"Host":"big","Total Cores":4000000000,"Max Memory":1}}""",
    """{"Event":"SparkListenerExecutorAdded","Timestamp":1700000000000,"Executor ID":"8","Executor Info":{"Host":"neg","Total Cores":-2147483649}}""",
    """{"Event":"SparkListenerJobStart","Job ID":77,"Timestamp":9300000000000000}""",
    """{"Event":"SparkListenerJobEnd","Job ID":77,"Timestamp":-9223372036854775808}""",
    """{"Event":"SparkListenerTaskEnd","Stage ID":1,"Task Info":{"Task ID":5,"Finish Time":1700000001000},"Task Metrics":{"Shuffle Read Metrics":{"Remote Bytes Read":9223372036854775807,"Local Bytes Read":1}}}"""
  )
}
