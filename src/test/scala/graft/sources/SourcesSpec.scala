package graft.sources

import graft.SparkSpec
import graft.events.{EventLogFixture, EventLogParser}
import graft.obs.WorkLedger
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

/** The local file system under the `headcount` scheme: records the name
 *  of every file read from byte 0 (its head); otherwise the local FS. */
class HeadCountFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("headcount:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    new FSDataInputStream(new FSInputStream {
      private def note(): Unit = if (in.getPos == 0L) HeadCountFs.headReads.add(f.getName)
      override def seek(pos: Long): Unit = in.seek(pos)
      override def getPos: Long = in.getPos
      override def seekToNewSource(target: Long): Boolean = false
      override def read(): Int = { note(); in.read() }
      override def read(b: Array[Byte], off: Int, len: Int): Int = { note(); in.read(b, off, len) }
      override def close(): Unit = in.close()
    })
  }
}

object HeadCountFs {
  val headReads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class SourcesSpec extends SparkSpec {

  private lazy val ledger = WorkLedger.install(spark)

  private val ts = 1700000000000L
  private def appStart(app: String, attempt: String) =
    s"""{"Event":"SparkListenerApplicationStart","App Name":"a","App ID":"$app","App Attempt ID":"$attempt","Timestamp":$ts,"User":"u","Spark Version":"3.5.1"}"""
  private def taskEnd(t: Int) =
    s"""{"Event":"SparkListenerTaskEnd","Stage ID":0,"Task Info":{"Task ID":$t,"Executor ID":"1","Host":"h","Launch Time":${ts + t},"Finish Time":${ts + t + 5}},"Task Metrics":{"Executor Run Time":5}}"""
  /** An EnvironmentUpdate line of at least `bytes` bytes, as real
   *  clusters write it: many properties plus the classpath. */
  private def bigEnvironment(bytes: Int) = {
    val entries = Iterator.from(0)
      .map(i => s"""["/srv/spark/jars/dependency-$i.jar","System Classpath"]""")
    val cp = new StringBuilder
    while (cp.length < bytes) { if (cp.nonEmpty) cp += ','; cp ++= entries.next() }
    s"""{"Event":"SparkListenerEnvironmentUpdate","Spark Properties":{"spark.version":"3.5.1"},"Classpath Entries":[$cp]}"""
  }
  private def append(p: java.nio.file.Path, lines: Seq[String]): Unit =
    java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

  test("listLogs lists only log-shaped files") {
    val d = tmpDir("srclist")
    EventLogFixture.writeLogs(d, Seq("app-x"))
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "junk.parquet"),
      "not a log".getBytes)
    // compressed logs must be listed too (the parser strips these
    // suffixes and Hadoop auto-decompresses)
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "app-z.json.gz"),
      Array[Byte](0x1f, 0x8b.toByte))
    val names = EventLogSource.listLogs(spark, s"file://$d")
      .map(_.getPath.getName).sorted
    assert(names === Seq("app-x.json", "app-z.json.gz"))
  }

  test("readDirectory parses a file:// URI directory end-to-end") {
    val d = tmpDir("srcdir")
    EventLogFixture.writeLogs(d, Seq("app-a", "app-b", "app-c"))
    val canon = EventLogSource.readDirectory(spark, s"file://$d")
    assert(canon.count() === 36)
    assert(canon.select("app_id").distinct().count() === 3)
  }

  test("readDirectory of a missing directory yields an empty frame") {
    assert(EventLogSource.readDirectory(spark, "file:///nonexistent-graft").count() === 0)
  }

  test("gzip-compressed logs decompress and parse to the same app_id") {
    val d = tmpDir("srcgz")
    val bytes = EventLogFixture.appLog("app-gz").mkString("\n").getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "app-gz.json.gz"), out.toByteArray)
    val canon = EventLogSource.readDirectory(spark, s"file://$d")
    assert(canon.count() === 12)
    // .json.gz strips to the bare app id
    assert(canon.select("app_id").distinct().collect().map(_.getString(0)).toSeq
      === Seq("app-gz"))
  }

  test("compactStore merges fragmented partitions, preserving content") {
    val d = tmpDir("compact-logs")
    EventLogFixture.writeLogs(d, Seq("app-c1", "app-c2"))
    val store = tmpDir("compact-store") + "/store"
    // simulate incremental ingest: several small append batches
    val canon = EventLogSource.readDirectory(spark, s"file://$d")
    for (_ <- 0 until 4)
      canon.write.mode("append").partitionBy("event_date").parquet(store)
    def files = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("event_date="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    def contentHash = spark.read.parquet(store)
      .agg(sum(expr("hash(event_id, app_id, event_type, event_time_us)")))
      .collect()(0).getLong(0)
    val (filesBefore, hashBefore, rowsBefore) =
      (files, contentHash, spark.read.parquet(store).count())
    EventLogSource.compactStore(spark, store)
    assert(files < filesBefore, s"$files vs $filesBefore")
    assert(spark.read.parquet(store).count() === rowsBefore)
    assert(contentHash === hashBefore)
  }

  test("readGlob reads matching logs without a driver-side listing") {
    val d = tmpDir("srcglob")
    EventLogFixture.writeLogs(d, Seq("app-g1", "app-g2"))
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "junk.parquet"),
      "not a log".getBytes)
    val canon = EventLogSource.readGlob(spark, s"file://$d/*.json")
    assert(canon.count() === 24)
    assert(canon.select("app_id").distinct().count() === 2)
  }

  test("writeStore partitions by event_date and survives a round-trip") {
    val d = tmpDir("srcstore")
    EventLogFixture.writeLogs(d, Seq("app-a", "app-b"))
    val out = tmpDir("store-out")
    EventLogSource.writeStore(EventLogSource.readDirectory(spark, s"file://$d"), out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("event_date=")) >= 2) // one day per app in fixture
    val back = spark.read.parquet(out)
    assert(back.count() === 24)
    // partition pruning: a one-day filter must scan a subset
    val oneDay = back.filter(col("event_date") === dirs.sorted.head.stripPrefix("event_date="))
    assert(oneDay.count() === 12)
  }

  test("incremental ingest parses only the delta; checkpoint commits after processing") {
    val d = tmpDir("incr")
    val ckpt = tmpDir("incr-ckpt") + "/state.tsv"
    EventLogFixture.writeLogs(d, Seq("app-a"))
    val ing = new IncrementalIngest(spark, ckpt)
    var n = 0L
    ing.ingest(s"file://$d")(df => n = df.count())
    assert(n === 12)
    assert(ing.ingest(s"file://$d")(_ => fail("no delta expected")).isEmpty)
    // a failing processor must NOT commit — the files stay pending
    EventLogFixture.writeLogs(d, Seq("app-b"))
    intercept[RuntimeException] {
      ing.ingest(s"file://$d")(_ => throw new RuntimeException("sink down"))
    }
    var apps: Seq[String] = Nil
    ing.ingest(s"file://$d")(df => apps =
      df.select("app_id").distinct().collect().map(_.getString(0)).toSeq)
    assert(apps === Seq("app-b"))
  }

  test("offset tracking: a grown file re-ingests exactly the appended tail, once") {
    val d = tmpDir("incr-tail")
    val ckpt = tmpDir("incr-tail-ckpt") + "/state.tsv"
    val p = java.nio.file.Paths.get(d, "app-t.json")
    val lines = EventLogFixture.appLog("app-t")
    java.nio.file.Files.writeString(p, lines.take(8).mkString("", "\n", "\n"))
    val ing = new IncrementalIngest(spark, ckpt)
    var got: Seq[Long] = Nil
    def run(): Unit = { got = Nil
      ing.ingest(s"file://$d")(df =>
        got = df.select("event_time_us").collect().map(_.getLong(0)).toSeq.sorted)
    }
    run()
    assert(got.size === 8)
    // append 4 complete events + one PARTIAL line (writer mid-append)
    val partial = lines(11).substring(0, 30)
    java.nio.file.Files.writeString(p,
      lines.slice(8, 11).mkString("", "\n", "\n") + partial,
      java.nio.file.StandardOpenOption.APPEND)
    run()
    // exactly the 3 new complete events — the partial line is held back
    assert(got.size === 3)
    // completing the partial line delivers it, once
    java.nio.file.Files.writeString(p,
      lines(11).substring(30) + "\n", java.nio.file.StandardOpenOption.APPEND)
    run()
    assert(got.size === 1)
    // and a no-change rescan is empty
    assert(ing.ingest(s"file://$d")(_ => fail("no delta expected")).isEmpty)
  }

  test("tail-ingested events carry the file's attempt_id from the checkpoint") {
    val d = tmpDir("incr-att")
    val ckpt = tmpDir("incr-att-ckpt") + "/state.tsv"
    val p = java.nio.file.Paths.get(d, "app-att.json")
    append(p, Seq(appStart("app-att", "2"), taskEnd(0)))
    val ing = new IncrementalIngest(spark, ckpt)
    var atts: Seq[String] = Nil
    def run(): Unit = ing.ingest(s"file://$d")(df => atts =
      df.select("attempt_id").collect().map(_.getString(0)).toSeq)
    run()
    assert(atts.toSet === Set("2")) // whole-file read: window attribution
    // the appended tail has no ApplicationStart in view — the attempt
    // must come from the checkpoint, not default to null
    append(p, Seq(taskEnd(1), taskEnd(2)))
    run()
    assert(atts.size === 2)
    assert(atts.toSet === Set("2"))
  }

  test("one scan handles 1k concurrently-grown tails without per-file driver serialization") {
    val d = tmpDir("incr-fleet")
    val ckpt = tmpDir("incr-fleet-ckpt") + "/state.tsv"
    val n = 1000
    val paths = (0 until n).map(i => java.nio.file.Paths.get(d, f"app-f$i%04d.json"))
    for ((p, i) <- paths.zipWithIndex) append(p, Seq(appStart(s"app-f$i", s"$i"), taskEnd(0)))
    val ing = new IncrementalIngest(spark, ckpt)
    var cnt = 0L
    ing.ingest(s"file://$d")(df => cnt = df.count())
    assert(cnt === 2L * n)
    // every file grows by one event; the re-scan must ingest exactly
    // the 1000 tails — two Spark jobs (metadata collect + the collect
    // that reads the tails), with the per-file seeks running in
    // executors, not a driver loop
    paths.foreach(append(_, Seq(taskEnd(1))))
    var tails: Array[org.apache.spark.sql.Row] = Array.empty
    val (_, work) = ledger.measure(ing.ingest(s"file://$d")(df =>
      tails = df.select("app_id", "attempt_id").collect()))
    assert(tails.length === n)
    assert(work.jobs <= 2, work)
    // attempt ids come from the checkpoint written by the first scan —
    // each tail row is stamped with ITS OWN file's attempt
    assert(tails.map(_.getString(1)).distinct.length === n)
    assert(ing.ingest(s"file://$d")(_ => fail("no delta expected")).isEmpty)
  }

  test("a same-length in-place rewrite is detected via mtime and re-read whole") {
    val d = tmpDir("incr-rw")
    val ckpt = tmpDir("incr-rw-ckpt") + "/state.tsv"
    val p = java.nio.file.Paths.get(d, "app-rw.json")
    val lines = EventLogFixture.appLog("app-rw")
    val body = lines.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(p, body)
    val ing = new IncrementalIngest(spark, ckpt)
    var n = -1L
    ing.ingest(s"file://$d")(df => n = df.count())
    assert(n === 12)
    // rewrite the file with DIFFERENT bytes of the SAME length, mtime
    // bumped past the recorded one (length-only detection misses this)
    val rewritten = body.replace("nightly-etl", "nightly-ETL")
    assert(rewritten.length === body.length)
    java.nio.file.Files.writeString(p, rewritten)
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(p).toMillis + 5000))
    n = -1L
    ing.ingest(s"file://$d")(df => n = df.count())
    assert(n === 12) // whole-file re-read, not skipped, not a tail
  }

  test("checkpoint commits via tmp-swap; a torn FINAL line re-scans its file only") {
    val d = tmpDir("incr-torn")
    val ckpt = tmpDir("incr-torn-ckpt") + "/state.tsv"
    EventLogFixture.writeLogs(d, Seq("app-t1", "app-t2"))
    val ing = new IncrementalIngest(spark, ckpt)
    ing.ingest(s"file://$d")(df => df.count())
    val ckptPath = java.nio.file.Paths.get(ckpt)
    // a successful commit leaves no .tmp behind (write-then-rename)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt + ".tmp")))
    val lines = java.nio.file.Files.readString(ckptPath).split("\n")
    assert(lines.length === 2)
    // tampering out-of-band invalidates the Hadoop local-FS checksum
    // sidecar — drop it (a real torn write would have a torn crc too)
    def dropCrc(): Unit = java.nio.file.Files.deleteIfExists(
      ckptPath.getParent.resolve("." + ckptPath.getFileName + ".crc"))
    // simulate the pre-swap failure mode: the final line cut mid-entry
    // (before its first tab, so no field parses)
    java.nio.file.Files.writeString(ckptPath,
      lines(0) + "\n" + lines(1).takeWhile(_ != '\t'))
    dropCrc()
    // the torn entry is dropped -> exactly that file re-ingests; the
    // intact entry stays committed
    var apps: Seq[String] = Nil
    ing.ingest(s"file://$d")(df => apps =
      df.select("app_id").distinct().collect().map(_.getString(0)).toSeq)
    val intactApp = lines(0).split("\t")(0).split("/").last.stripSuffix(".json")
    assert(apps.size === 1)
    assert(apps.head != intactApp)
    // a torn INTERIOR line is real corruption and still fails loudly
    java.nio.file.Files.writeString(ckptPath,
      lines(0).takeWhile(_ != '\t') + "\n" + lines(1))
    dropCrc()
    intercept[Exception] { ing.ingest(s"file://$d")(_ => ()) }
  }

  test("a grown-only round runs the same jobs for 4 and for 64 files, at most 2") {
    def grownRoundJobs(files: Int): Long = {
      val d = tmpDir(s"incr-jobs$files")
      val ing = new IncrementalIngest(spark, tmpDir(s"incr-jobs$files-ckpt") + "/state.tsv")
      val paths = (0 until files).map(i => java.nio.file.Paths.get(d, f"app-j$i%03d.json"))
      for ((p, i) <- paths.zipWithIndex) append(p, Seq(appStart(s"app-j$i", "1"), taskEnd(0)))
      ing.ingest(s"file://$d")(_.count())
      paths.foreach(append(_, Seq(taskEnd(1), taskEnd(2))))
      val (touched, work) = ledger.measure(ing.ingest(s"file://$d")(
        _.write.format("noop").mode("overwrite").save()))
      assert(touched.size === files)
      work.jobs
    }
    val (few, many) = (grownRoundJobs(4), grownRoundJobs(64))
    assert(few === many)
    assert(many <= 2L, many)
  }

  test("headAttemptId reads past a large EnvironmentUpdate and stops after the start") {
    val d = tmpDir("incr-head")
    def attempt(name: String, lines: Seq[String], partialTail: String = "") = {
      val p = java.nio.file.Paths.get(d, name)
      java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n") + partialTail)
      val hp = new org.apache.hadoop.fs.Path(p.toUri)
      val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      IncrementalIngest.headAttemptId(f, hp, java.nio.file.Files.size(p))
    }
    val env = bigEnvironment(300 << 10)
    assert(env.length > (200 << 10))
    val preamble = Seq("""{"Event":"SparkListenerLogStart","Spark Version":"3.5.1"}""", env)
    assert(attempt("big.json", preamble ++ Seq(appStart("app-h", "3"), taskEnd(0))) ===
      Some(Some("3")))
    // a start line that has no newline yet still counts
    assert(attempt("partial.json", preamble, appStart("app-h", "4")) === Some(Some("4")))
    // no start line before the first job: resolved with no attempt, and
    // no scan to the cap
    assert(attempt("nostart.json", preamble ++ Seq(
      """{"Event":"SparkListenerJobStart","Job ID":0,"Timestamp":1}""",
      appStart("app-h", "5"))) === Some(None))
    // only the preamble so far: unresolved, the start line is still to come
    assert(attempt("preamble.json", preamble) === None)
  }

  test("tail deltas equal a whole-file parse of the appended lines, attempt_id included") {
    val d = tmpDir("incr-parity")
    val ckpt = tmpDir("incr-parity-ckpt") + "/state.tsv"
    val p = java.nio.file.Paths.get(d, "app-par.json")
    val env = bigEnvironment(256 << 10)
    assert(env.length > (200 << 10))
    // the first scan sees only the preamble; the start line arrives in
    // the first tail, later tails carry neither start nor environment
    val rounds = Seq(
      Seq("""{"Event":"SparkListenerLogStart","Spark Version":"3.5.1"}""", env),
      Seq(appStart("app-par", "7")) ++ EventLogFixture.appLog("app-par").slice(1, 6),
      EventLogFixture.appLog("app-par").slice(6, 11),
      Seq(taskEnd(40), taskEnd(41)))
    val ing = new IncrementalIngest(spark, ckpt)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.drop("event_id").collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for ((lines, r) <- rounds.zipWithIndex) {
      append(p, lines)
      var delta: Seq[String] = Nil
      ing.ingest(s"file://$d")(df => delta = rowsOf(df))
      val whole = EventLogParser.parseLines(spark.read.textFile(p.toString).toDF("value")
          .withColumn("log_file", input_file_name()), keepRaw = true)
        .filter(col("raw").isin(lines: _*)).drop("raw")
      assert(delta === rowsOf(whole), s"round $r")
      assert(delta.size === lines.size, s"round $r")
      if (r > 0) assert(whole.filter(col("attempt_id") === "7").count() === lines.size)
    }
  }

  test("under ANSI an overflowing value reads null; bulk and tail ingest go on") {
    val old = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val d = tmpDir("ansi-poison")
      val p = java.nio.file.Paths.get(d, "app-poison.json")
      val app = EventLogFixture.appLog("app-poison")
      val poison = EventLogFixture.poisonLines
      append(p, app.take(6) :+ poison.head) // Total Cores 4000000000
      // bulk: a collect and a store write, where the ANSI cast failed
      val store = tmpDir("ansi-poison-store")
      assert(EventLogSource.readDirectory(spark, s"file://$d").collect().length === 7)
      EventLogSource.writeStore(EventLogSource.readDirectory(spark, s"file://$d"), s"file://$store")
      val bulk = spark.read.parquet(store)
      assert(bulk.count() === 7)
      assert(bulk.filter(col("host") === "big").select("cores").collect()
        .map(_.isNullAt(0)).toSeq === Seq(true))
      // incremental: the whole file, then two tail rounds that each
      // carry a poison line; every round commits
      val ing = new IncrementalIngest(spark, tmpDir("ansi-poison-ckpt") + "/state.tsv")
      val tails = tmpDir("ansi-poison-tails")
      def round(): Seq[String] =
        ing.ingest(s"file://$d")(_.write.mode("append").parquet(s"file://$tails"))
      assert(round().size === 1)
      append(p, app.slice(6, 9) ++ poison.drop(2)) // timestamps, a shuffle-read sum
      assert(round().size === 1)
      append(p, Seq(poison(1), taskEnd(50)))
      assert(round().size === 1)
      assert(round().isEmpty) // the checkpoint advanced past every line
      val rows = spark.read.parquet(tails)
      assert(rows.count() === 7 + 3 + (poison.size - 2) + 2)
      assert(rows.filter(col("job_id") === 77 && col("event_time_us").isNull).count() === 2)
      assert(rows.filter(col("task_id") === 5 && col("shuffle_read_bytes").isNull).count() === 1)
      assert(rows.filter(col("event_type") === "SparkListenerExecutorAdded" && col("cores").isNull)
        .count() === 2)
    } finally old.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
      spark.conf.set("spark.sql.ansi.enabled", _))
  }

  test("lastLineEnd finds a newline past its first window; a file with none commits 0") {
    val d = tmpDir("incr-lastline")
    def lastLineEnd(name: String, body: String): Long = {
      val p = java.nio.file.Paths.get(d, name)
      java.nio.file.Files.writeString(p, body)
      val hp = new Path(p.toUri)
      IncrementalIngest.lastLineEnd(hp.getFileSystem(spark.sparkContext.hadoopConfiguration),
        hp, java.nio.file.Files.size(p))
    }
    val first = IncrementalIngest.LastLineFirstWindow
    val head = taskEnd(0) + "\n"
    // a partial line several windows long: the scan grows past it
    assert(lastLineEnd("long.json", head + "x" * (5 * first)) === head.length)
    assert(lastLineEnd("ends.json", head + taskEnd(1) + "\n") === (head + taskEnd(1) + "\n").length)
    assert(lastLineEnd("none.json", "x" * (3 * first)) === 0L)
    assert(lastLineEnd("empty.json", "") === 0L)
  }

  test("a non-YARN log's resolved head is read once, not on every grown round") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.headcount.impl", classOf[HeadCountFs].getName)
    val d = tmpDir("incr-headonce")
    val ckpt = tmpDir("incr-headonce-ckpt") + "/state.tsv"
    val p = java.nio.file.Paths.get(d, "app-h1.inprogress")
    // a start line without an attempt id; the file is longer than
    // lastLineEnd's first window, so only the head scan reads byte 0
    append(p, s"""{"Event":"SparkListenerApplicationStart","App Name":"a","App ID":"app-h1","Timestamp":$ts,"User":"u","Spark Version":"3.5.1"}""" +:
      (0 until 10).map(taskEnd))
    val ing = new IncrementalIngest(spark, ckpt)
    val uri = s"headcount://$d"
    var rows = Seq.empty[org.apache.spark.sql.Row]
    def round(next: Int): Int = {
      append(p, Seq(taskEnd(next)))
      HeadCountFs.headReads.clear()
      ing.ingest(uri)(df => rows = df.select("app_id", "attempt_id").collect().toSeq)
      assert(rows.map(_.getString(0)) === Seq("app-h1"))
      assert(rows.head.isNullAt(1))
      HeadCountFs.headReads.size
    }
    ing.ingest(uri)(df => assert(df.count() === 11))
    assert(round(10) === 0)
    assert(round(11) === 0)
    // checkpoints written before the head flag: a 5-field line with no
    // attempt, or a 4-field one, loads and reads the head once more
    val ck = java.nio.file.Paths.get(ckpt)
    for ((fields, r) <- Seq(5, 4).zip(Seq(12, 14))) {
      java.nio.file.Files.writeString(ck, java.nio.file.Files.readString(ck)
        .split("\n").map(_.split("\t", -1).take(fields).mkString("\t")).mkString("\n"))
      java.nio.file.Files.deleteIfExists(ck.getParent.resolve("." + ck.getFileName + ".crc"))
      assert(round(r) === 1, s"$fields-field checkpoint")
      assert(round(r + 1) === 0, s"$fields-field checkpoint")
    }
  }
}
