package graft.events

import java.io.ByteArrayOutputStream
import java.time.{Instant, LocalDate, ZoneId, ZoneOffset}
import java.util.regex.Pattern

import scala.util.control.{NoStackTrace, NonFatal}

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.exc.InputCoercionException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, LegacyDateFormats, MapData, TimestampFormatter}
import org.apache.spark.sql.graft.SqlAccess
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.{CalendarInterval, GeographyVal, GeometryVal, UTF8String, VariantVal}

/**
 * Native Catalyst expression: one event-log line (`value`, the JSON
 * text, and `log_file`, its file's path) to the canonical per-line
 * struct [[EventLine.Schema]] — every canonical column but `event_id`
 * and `attempt_id`, plus the start line's own `attempt_raw`.
 *
 * Why a native expression: `from_json` is `CodegenFallback`, so its
 * project runs outside whole-stage codegen, generates an
 * `UnsafeProjection` for the whole ~64-field parsed struct in every
 * task, writes that struct per row and parses through a char
 * `Reader`; the canonical columns then took 35 CASE WHEN expressions
 * over it. This expression reads the line's UTF-8 bytes in one
 * streaming Jackson pass, keeps only the fields the canonical columns
 * read, skips everything else with `skipChildren()`, and writes the
 * canonical values straight into a row of primitive slots. Its
 * generated code is one call into [[EventLineParser]], so the parse
 * runs inside the whole-stage-codegen stage.
 *
 * A line gives the row `from_json(value, <the fields read here>)` and
 * the old canonical projection gave, under the same rules (pinned by
 * EventLogParserSpec against that projection): a value of the wrong
 * JSON type or an integer outside `Long` reads null and the rest of
 * the line still parses; a non-string value in a string field reads
 * as its JSON text; for a duplicate key the last one wins; a
 * malformed, truncated or non-object line gives null (no row).
 *
 * `ansi` is the session's `spark.sql.ansi.enabled` when the frame was
 * built. With it off, `Total Cores` past an int, a timestamp past
 * `Long` micros and a shuffle-read sum past `Long` wrap, as the legacy
 * cast and arithmetic do; with it on they read null and the line is
 * kept (the ANSI cast and arithmetic failed the whole query on one
 * such line). `event_date` formats in the session time zone exactly as
 * `date_format(.., "yyyy-MM-dd")` does.
 */
case class EventLine(value: Expression, logFile: Expression, ansi: Boolean,
                     timeZoneId: Option[String] = None)
    extends BinaryExpression with TimeZoneAwareExpression {

  override def left: Expression = value
  override def right: Expression = logFile

  override def checkInputDataTypes(): TypeCheckResult =
    (value.dataType, logFile.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case (v, f) => TypeCheckResult.TypeCheckFailure(
        s"event_line expects (string, string), got (${v.catalogString}, ${f.catalogString})")
    }

  override def dataType: DataType = EventLine.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "event_line"

  /** Declared non-deterministic so the optimizer never copies the
   *  parse: a filter on its fields is otherwise pushed below the
   *  projection that computes it (the alias substituted), and every
   *  line is parsed twice, once for the filter and once for the
   *  projection. The result depends on the line alone. */
  override lazy val deterministic: Boolean = false

  override def withTimeZone(timeZoneId: String): EventLine =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val parser = new EventLineParser(zoneId, ansi)

  override def eval(input: InternalRow): Any =
    parser.parse(value.eval(input).asInstanceOf[UTF8String],
      logFile.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one parser per generated stage, so per task: it holds the
    // task's Jackson factory, date and app-id memos
    val p = ctx.addReferenceObj("eventLine", new EventLineParser(zoneId, ansi))
    val v = value.genCode(ctx)
    val f = logFile.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      ${f.code}
      InternalRow ${ev.value} =
        $p.parse(${v.isNull} ? null : ${v.value}, ${f.isNull} ? null : ${f.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EventLine =
    copy(value = newLeft, logFile = newRight)
}

object EventLine {
  /** The canonical per-line struct, in the order of the canonical
   *  frame's columns (`attempt_raw` sits where `attempt_id` goes). */
  val Schema: StructType = StructType(Seq(
    "app_id" -> StringType, "event_type" -> StringType,
    "event_time" -> TimestampType, "event_time_us" -> LongType,
    "event_date" -> StringType, "job_id" -> LongType, "stage_id" -> LongType,
    "task_id" -> LongType, "sql_execution_id" -> LongType,
    "duration_ms" -> LongType, "executor_id" -> StringType,
    "host" -> StringType, "cores" -> IntegerType, "max_memory" -> LongType,
    "run_time_ms" -> LongType, "cpu_time_ns" -> LongType,
    "gc_time_ms" -> LongType, "input_bytes" -> LongType,
    "output_bytes" -> LongType, "shuffle_read_bytes" -> LongType,
    "shuffle_write_bytes" -> LongType, "memory_spilled_bytes" -> LongType,
    "disk_spilled_bytes" -> LongType, "peak_memory_bytes" -> LongType,
    "jvm_heap_bytes" -> LongType, "locality" -> StringType,
    "end_reason" -> StringType, "removed_reason" -> StringType,
    "app_user" -> StringType, "spark_version" -> StringType,
    "app_name" -> StringType, "attempt_raw" -> StringType,
    "spark_props" -> MapType(StringType, StringType)
  ).map { case (n, t) => StructField(n, t) })
}

/**
 * The per-task kernel of [[EventLine]]. Parsing mirrors `from_json`'s
 * `JacksonParser` call for call (the same Jackson calls in the same
 * order, the same per-field catches, the same `skipChildren()`), so a
 * line reads as it did there:
 *  - the fast pass reads the line's bytes with the byte-stream parser
 *    and catches only a number outside `Long` (the field reads null);
 *  - any other parse error, a line that does not start with `{`, or
 *    bytes that are not UTF-8 send the line to the exact pass, which
 *    reads it through the same char `Reader` `from_json` opens and
 *    catches where `from_json` catches. Well-formed lines never get
 *    there.
 * The app-id fallback is computed once per run of lines from one file,
 * and the `event_date` string once per day.
 */
final class EventLineParser(zone: ZoneId, ansi: Boolean) extends Serializable {
  import EventLineParser._

  @transient private[this] var factory: JsonFactory = _
  @transient private[this] var formatter: TimestampFormatter = _
  @transient private[this] var longs: Array[Long] = _
  @transient private[this] var strs: Array[UTF8String] = _
  @transient private[this] var set = 0L // bit s: long slot s holds a value
  @transient private[this] var props: MapData = _
  @transient private[this] var keys: java.util.ArrayList[UTF8String] = _
  @transient private[this] var values: java.util.ArrayList[UTF8String] = _
  @transient private[this] var text: ByteArrayOutputStream = _
  @transient private[this] var memoFile: UTF8String = _
  @transient private[this] var memoApp: UTF8String = _
  @transient private[this] var dayLo = 0L
  @transient private[this] var dayHi = 0L
  @transient private[this] var dayStr: UTF8String = _

  private def init(): Unit = {
    factory = SqlAccess.jsonFactory()
    formatter = TimestampFormatter(DateFormat, zone, LegacyDateFormats.SIMPLE_DATE_FORMAT,
      false, false)
    longs = new Array[Long](NumLongs)
    strs = new Array[UTF8String](NumStrs)
    keys = new java.util.ArrayList[UTF8String]()
    values = new java.util.ArrayList[UTF8String]()
    text = new ByteArrayOutputStream()
  }

  /** The line's canonical struct, or null when it gives no row. */
  def parse(line: UTF8String, logFile: UTF8String): InternalRow = {
    if (line == null) return null
    if (factory == null) init()
    val onHeap = line.getBaseObject match {
      case _: Array[Byte] => line
      case _ => UTF8String.fromBytes(line.getBytes)
    }
    val bytes = onHeap.getBaseObject.asInstanceOf[Array[Byte]]
    val off = (onHeap.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
    val len = onHeap.numBytes
    // a line opening with `{` and a non-zero byte is read as UTF-8 by
    // the byte-stream parser (any other opening may be a BOM or a
    // UTF-16/32 guess, which the char reader does not make)
    val parsed =
      if (len >= 2 && bytes(off) == '{' && bytes(off + 1) != 0) {
        try readLine(factory.createParser(bytes, off, len), exact = false)
        catch { case NonFatal(_) => readExact(onHeap) }
      } else readExact(onHeap)
    if (parsed) canonical(logFile) else null
  }

  private def readExact(line: UTF8String): Boolean =
    try readLine(SqlAccess.readerParser(factory, line), exact = true)
    catch { case NonFatal(_) => false }

  /** The root object into the slots; false when the line is not an
   *  object. A root-level error propagates: no row. */
  private def readLine(p: JsonParser, exact: Boolean): Boolean =
    try {
      set = 0L
      java.util.Arrays.fill(strs.asInstanceOf[Array[AnyRef]], null)
      props = null
      if (p.nextToken() != JsonToken.START_OBJECT) false
      else { readObject(p, Root, exact); true }
    } finally p.close()

  /** `JacksonParser.convertObject`: an error converting a field keeps
   *  the field's earlier value and skips the value; an error between
   *  fields propagates. */
  private def readObject(p: JsonParser, t: Table, exact: Boolean): Unit = {
    var tok = p.nextToken()
    while (tok != null && (tok ne JsonToken.END_OBJECT)) {
      val f = t.fields.get(p.currentName)
      if (f == null) p.skipChildren()
      else try readField(p, f, exact) catch {
        case NonFatal(e) if exact || (e eq Mismatch) || e.isInstanceOf[InputCoercionException] =>
          p.skipChildren()
      }
      tok = p.nextToken()
    }
  }

  private def readField(p: JsonParser, f: Field, exact: Boolean): Unit = {
    if (f.kind == StrKind) { strs(f.slot) = readString(p); return }
    val tok = p.nextToken()
    if (tok == null || (tok eq JsonToken.VALUE_NULL)) {
      if (f.kind == LongKind) set &= ~(1L << f.slot)
      else if (f.kind == StructKind) clear(f.sub)
      else props = null
    } else f.kind match {
      case LongKind =>
        if (tok ne JsonToken.VALUE_NUMBER_INT) mismatch(p, tok)
        longs(f.slot) = p.getLongValue
        set |= 1L << f.slot
      case StructKind =>
        if (tok ne JsonToken.START_OBJECT) mismatch(p, tok)
        readStruct(p, f.sub, exact)
      case _ =>
        if (tok ne JsonToken.START_OBJECT) mismatch(p, tok)
        props = readMap(p, exact)
    }
  }

  /** `JacksonParser.failedConversion`: a string's length is read (the
   *  token completes), then the field's conversion fails. */
  private def mismatch(p: JsonParser, tok: JsonToken): Nothing = {
    if (tok eq JsonToken.VALUE_STRING) p.getTextLength
    throw Mismatch
  }

  /** A nested object replaces the struct's fields; an error that
   *  escapes it leaves the struct as it was before (exact pass). */
  private def readStruct(p: JsonParser, t: Table, exact: Boolean): Unit = {
    val before = if (exact) (set, longs.clone(), strs.clone()) else null
    clear(t)
    try readObject(p, t, exact) catch {
      case NonFatal(e) =>
        if (before != null) {
          set = (set & ~t.longMask) | (before._1 & t.longMask)
          t.longSlots.foreach(s => longs(s) = before._2(s))
          t.strSlots.foreach(s => strs(s) = before._3(s))
        }
        throw e
    }
  }

  private def clear(t: Table): Unit = {
    set &= ~t.longMask
    var i = 0
    while (i < t.strSlots.length) { strs(t.strSlots(i)) = null; i += 1 }
  }

  /** `JacksonParser.convertMap` over string values: keys in order,
   *  duplicates kept; a value that fails to convert fails the map. */
  private def readMap(p: JsonParser, exact: Boolean): MapData = {
    keys.clear()
    values.clear()
    var bad = false
    var tok = p.nextToken()
    while (tok != null && (tok ne JsonToken.END_OBJECT)) {
      keys.add(UTF8String.fromString(p.currentName))
      try values.add(readString(p)) catch {
        case NonFatal(_) if exact => bad = true; p.skipChildren()
      }
      tok = p.nextToken()
    }
    if (bad) throw Mismatch
    new ArrayBasedMapData(new GenericArrayData(keys.toArray()),
      new GenericArrayData(values.toArray()))
  }

  /** A string field: a JSON string as its text, null as null, any
   *  other value as its JSON text (Jackson's compact copy). */
  private def readString(p: JsonParser): UTF8String = {
    val tok = p.nextToken()
    if (tok eq JsonToken.VALUE_STRING) UTF8String.fromString(p.getText)
    else if (tok == null || (tok eq JsonToken.VALUE_NULL)) null
    else {
      text.reset()
      val g = factory.createGenerator(text, JsonEncoding.UTF8)
      try g.copyCurrentStructure(p) finally g.close()
      UTF8String.fromBytes(text.toByteArray)
    }
  }

  private def has(s: Int): Boolean = (set >>> s & 1L) != 0

  /** Output field `o` from long slot `s`, null when `s` is empty. */
  private def slot(row: EventLineRow, o: Int, s: Int): Unit = if (has(s)) row.long(o, longs(s))

  /** The canonical struct from the parsed slots (the old projection's
   *  CASE WHEN per column). */
  private def canonical(logFile: UTF8String): InternalRow = {
    val event = strs(SEvent)
    if (event == null) return null // filtered out: no event type
    val kind: Int = EventKinds.getOrDefault(event, Int.box(Other))
    val row = new EventLineRow
    val task = kind == TaskStart || kind == TaskEnd
    val taskEnd = kind == TaskEnd
    row.str(OAppId, if (strs(SAppId) != null) strs(SAppId) else fileAppId(logFile))
    row.str(OEventType, event)
    val ts = firstSet(TimeSlots)
    if (ts >= 0) {
      val ms = longs(ts)
      val us = ms * 1000L
      if (!ansi || (ms <= MaxMs && ms >= MinMs)) {
        row.long(OEventTime, us)
        row.long(OEventTimeUs, us)
        row.str(OEventDate, date(us))
      }
    }
    if (kind == JobStart || kind == JobEnd) slot(row, OJobId, LJobId)
    if (kind == StageSubmitted || kind == StageCompleted) slot(row, OStageId, LStageInfoStageId)
    else if (task) slot(row, OStageId, if (has(LStageId)) LStageId else LTaskStageId)
    if (task) slot(row, OTaskId, LTaskId)
    if (kind == SqlStart || kind == SqlEnd) slot(row, OSqlExecutionId, LExecutionId)
    if (taskEnd) slot(row, ODuration, LRunTime)
    if (task) {
      row.str(OExecutorId, strs(STaskExecutorId))
      row.str(OHost, strs(STaskHost))
      row.str(OLocality, strs(STaskLocality))
    } else if (kind == ExecutorAdded || kind == ExecutorRemoved) {
      row.str(OExecutorId, strs(SExecutorId))
      if (kind == ExecutorAdded) row.str(OHost, strs(SExecutorHost))
    } else if (kind == BlockManagerAdded || kind == BlockManagerRemoved) {
      row.str(OExecutorId, strs(SBlockExecutorId))
      row.str(OHost, strs(SBlockHost))
    }
    if (kind == ExecutorAdded) {
      if (has(LTotalCores)) {
        val c = longs(LTotalCores)
        if (!ansi || c == c.toInt) row.long(OCores, c.toInt)
      }
      slot(row, OMaxMemory, LMaxMemory)
    } else if (kind == BlockManagerAdded) slot(row, OMaxMemory, LMaximumMemory)
    if (taskEnd) {
      slot(row, ORunTime, LRunTime)
      slot(row, OCpuTime, LCpuTime)
      slot(row, OGcTime, LGcTime)
      slot(row, OInputBytes, LBytesRead)
      slot(row, OOutputBytes, LBytesWritten)
      if (has(LTotalBytesRead)) slot(row, OShuffleRead, LTotalBytesRead)
      else if (has(LRemoteBytesRead) && has(LLocalBytesRead)) {
        val a = longs(LRemoteBytesRead)
        val b = longs(LLocalBytesRead)
        val sum = a + b
        // Math.addExact's overflow test
        if (!ansi || ((a ^ sum) & (b ^ sum)) >= 0) row.long(OShuffleRead, sum)
      }
      slot(row, OShuffleWrite, if (has(LShuffleBytesWritten)) LShuffleBytesWritten
        else LShuffleWriteBytesWritten)
      slot(row, OMemorySpilled, LMemorySpilled)
      slot(row, ODiskSpilled, LDiskSpilled)
      slot(row, OPeakMemory, LPeakMemory)
      slot(row, OJvmHeap, LJvmHeap)
      row.str(OEndReason, strs(SReason))
    }
    if (kind == ExecutorRemoved) row.str(ORemovedReason, strs(SRemovedReason))
    if (kind == AppStart) {
      row.str(OAppUser, strs(SUser))
      row.str(OSparkVersion, strs(SSparkVersion))
      row.str(OAppName, strs(SAppName))
      row.str(OAttemptRaw, strs(SAttemptId))
    } else if (kind == EnvironmentUpdate && props != null) {
      val v = prop(AppVersionKey)
      row.str(OSparkVersion, if (v != null) v else prop(VersionKey))
      row.map(OSparkProps, props)
    }
    row
  }

  /** The first long slot of `slots` that holds a value, else -1. */
  private def firstSet(slots: Array[Int]): Int = {
    var i = 0
    while (i < slots.length) { if (has(slots(i))) return slots(i); i += 1 }
    -1
  }

  /** `element_at(props, key)`: the value of the first entry with the
   *  key. */
  private def prop(key: UTF8String): UTF8String = {
    val k = props.keyArray()
    var i = 0
    while (i < k.numElements()) {
      if (k.getUTF8String(i) == key) return props.valueArray().getUTF8String(i)
      i += 1
    }
    null
  }

  /** The log's file name less its extension, codec and `.inprogress`
   *  suffixes; one regex per run of lines from the same file. */
  private def fileAppId(f: UTF8String): UTF8String =
    if (f == null) null
    else if (f == memoFile) memoApp
    else {
      val path = f.toString
      val name = path.substring(path.lastIndexOf('/') + 1)
      memoFile = f.clone()
      memoApp = UTF8String.fromString(AppIdSuffix.matcher(name).replaceAll(""))
      memoApp
    }

  /** `date_format(timestamp_micros(us), "yyyy-MM-dd")` in the session
   *  zone; the string is reused while `us` stays within its local day. */
  private def date(us: Long): UTF8String =
    if (us >= dayLo && us < dayHi) dayStr
    else {
      val s = UTF8String.fromString(formatter.format(us))
      if (us >= DayMemoLo && us < DayMemoHi) {
        val day = Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
          .atZone(zone).toLocalDate
        dayLo = micros(day, zone)
        dayHi = micros(day.plusDays(1), zone)
        dayStr = s
      }
      s
    }
}

object EventLineParser {
  private final val LongKind = 0
  private final val StrKind = 1
  private final val StructKind = 2
  private final val MapKind = 3

  private final class Field(val kind: Int, val slot: Int, val sub: Table)

  /** One JSON object level: its fields by name and every long/string
   *  slot beneath it. */
  private final class Table(named: (String, Field)*) {
    val fields = new java.util.HashMap[String, Field]()
    named.foreach { case (n, f) => fields.put(n, f) }
    private val leaves: Seq[Field] = named.flatMap {
      case (_, f) if f.kind == StructKind => f.sub.leaves
      case (_, f) => Seq(f)
    }
    val longSlots: Array[Int] = leaves.filter(_.kind == LongKind).map(_.slot).toArray
    val strSlots: Array[Int] = leaves.filter(_.kind == StrKind).map(_.slot).toArray
    val longMask: Long = longSlots.foldLeft(0L)((m, s) => m | 1L << s)
  }

  // long slots
  private final val LTimestamp = 0
  private final val LJobId = 1
  private final val LCompletionTime = 2
  private final val LSubmissionTime = 3
  private final val LStageId = 4
  private final val LStageInfoStageId = 5
  private final val LStageSubmission = 6
  private final val LStageCompletion = 7
  private final val LTotalCores = 8
  private final val LMaxMemory = 9
  private final val LTaskId = 10
  private final val LTaskStageId = 11
  private final val LLaunchTime = 12
  private final val LFinishTime = 13
  private final val LRunTime = 14
  private final val LCpuTime = 15
  private final val LGcTime = 16
  private final val LPeakMemory = 17
  private final val LMemorySpilled = 18
  private final val LDiskSpilled = 19
  private final val LBytesRead = 20
  private final val LBytesWritten = 21
  private final val LTotalBytesRead = 22
  private final val LRemoteBytesRead = 23
  private final val LLocalBytesRead = 24
  private final val LShuffleBytesWritten = 25
  private final val LShuffleWriteBytesWritten = 26
  private final val LJvmHeap = 27
  private final val LPort = 28
  private final val LMaximumMemory = 29
  private final val LExecutionId = 30
  private final val LTime = 31
  private final val NumLongs = 32

  // string slots
  private final val SEvent = 0
  private final val SAppId = 1
  private final val SAppName = 2
  private final val SAttemptId = 3
  private final val SUser = 4
  private final val SSparkVersion = 5
  private final val SExecutorId = 6
  private final val SRemovedReason = 7
  private final val SExecutorHost = 8
  private final val STaskExecutorId = 9
  private final val STaskHost = 10
  private final val STaskLocality = 11
  private final val SReason = 12
  private final val SBlockExecutorId = 13
  private final val SBlockHost = 14
  private final val NumStrs = 15

  // output fields, in [[EventLine.Schema]] order
  private final val OAppId = 0
  private final val OEventType = 1
  private final val OEventTime = 2
  private final val OEventTimeUs = 3
  private final val OEventDate = 4
  private final val OJobId = 5
  private final val OStageId = 6
  private final val OTaskId = 7
  private final val OSqlExecutionId = 8
  private final val ODuration = 9
  private final val OExecutorId = 10
  private final val OHost = 11
  private final val OCores = 12
  private final val OMaxMemory = 13
  private final val ORunTime = 14
  private final val OCpuTime = 15
  private final val OGcTime = 16
  private final val OInputBytes = 17
  private final val OOutputBytes = 18
  private final val OShuffleRead = 19
  private final val OShuffleWrite = 20
  private final val OMemorySpilled = 21
  private final val ODiskSpilled = 22
  private final val OPeakMemory = 23
  private final val OJvmHeap = 24
  private final val OLocality = 25
  private final val OEndReason = 26
  private final val ORemovedReason = 27
  private final val OAppUser = 28
  private final val OSparkVersion = 29
  private final val OAppName = 30
  private final val OAttemptRaw = 31
  private final val OSparkProps = 32

  private def long(slot: Int) = new Field(LongKind, slot, null)
  private def str(slot: Int) = new Field(StrKind, slot, null)
  private def struct(fields: (String, Field)*) = new Field(StructKind, -1, new Table(fields: _*))

  /** The fields of a SparkListener event line the canonical columns
   *  read: the reference's extraction (spark_events.rs:158-265) plus
   *  the task-metric paths of duckdb_store_backup.rs:326-452. Every
   *  field of the old `from_json` schema is here, `Port` included, so
   *  a line's errors are caught where they were. */
  private val Root = new Table(
    "Event" -> str(SEvent),
    "Timestamp" -> long(LTimestamp),
    "Job ID" -> long(LJobId),
    "Completion Time" -> long(LCompletionTime),
    "Submission Time" -> long(LSubmissionTime),
    "App ID" -> str(SAppId),
    "App Name" -> str(SAppName),
    "App Attempt ID" -> str(SAttemptId),
    "User" -> str(SUser),
    "Spark Version" -> str(SSparkVersion),
    "Executor ID" -> str(SExecutorId),
    "Removed Reason" -> str(SRemovedReason),
    "Stage ID" -> long(LStageId),
    "Stage Info" -> struct(
      "Stage ID" -> long(LStageInfoStageId),
      "Submission Time" -> long(LStageSubmission),
      "Completion Time" -> long(LStageCompletion)),
    "Executor Info" -> struct(
      "Host" -> str(SExecutorHost),
      "Total Cores" -> long(LTotalCores),
      "Max Memory" -> long(LMaxMemory)),
    "Task Info" -> struct(
      "Task ID" -> long(LTaskId),
      "Stage ID" -> long(LTaskStageId),
      "Executor ID" -> str(STaskExecutorId),
      "Host" -> str(STaskHost),
      "Locality" -> str(STaskLocality),
      "Launch Time" -> long(LLaunchTime),
      "Finish Time" -> long(LFinishTime)),
    "Task End Reason" -> struct("Reason" -> str(SReason)),
    "Task Metrics" -> struct(
      "Executor Run Time" -> long(LRunTime),
      "Executor CPU Time" -> long(LCpuTime),
      "JVM GC Time" -> long(LGcTime),
      "Peak Execution Memory" -> long(LPeakMemory),
      "Memory Bytes Spilled" -> long(LMemorySpilled),
      "Disk Bytes Spilled" -> long(LDiskSpilled),
      "Input Metrics" -> struct("Bytes Read" -> long(LBytesRead)),
      "Output Metrics" -> struct("Bytes Written" -> long(LBytesWritten)),
      "Shuffle Read Metrics" -> struct(
        "Total Bytes Read" -> long(LTotalBytesRead),
        "Remote Bytes Read" -> long(LRemoteBytesRead),
        "Local Bytes Read" -> long(LLocalBytesRead)),
      "Shuffle Write Metrics" -> struct(
        "Shuffle Bytes Written" -> long(LShuffleBytesWritten),
        "Bytes Written" -> long(LShuffleWriteBytesWritten))),
    "Task Executor Metrics" -> struct("JVMHeapMemory" -> long(LJvmHeap)),
    "Block Manager ID" -> struct(
      "Executor ID" -> str(SBlockExecutorId),
      "Host" -> str(SBlockHost),
      "Port" -> long(LPort)),
    "Maximum Memory" -> long(LMaximumMemory),
    "Spark Properties" -> new Field(MapKind, -1, null),
    "executionId" -> long(LExecutionId),
    "time" -> long(LTime))

  /** Event time: the first of these that is present, in ms. */
  private val TimeSlots = Array(LTimestamp, LFinishTime, LLaunchTime, LStageCompletion,
    LStageSubmission, LCompletionTime, LSubmissionTime, LTime)

  /** Bounds of a ms value whose micros fit a `Long`. */
  private final val MaxMs = Long.MaxValue / 1000L
  private final val MinMs = Long.MinValue / 1000L

  // event kinds
  private final val Other = 0
  private final val AppStart = 1
  private final val JobStart = 2
  private final val JobEnd = 3
  private final val StageSubmitted = 4
  private final val StageCompleted = 5
  private final val TaskStart = 6
  private final val TaskEnd = 7
  private final val ExecutorAdded = 8
  private final val ExecutorRemoved = 9
  private final val BlockManagerAdded = 10
  private final val BlockManagerRemoved = 11
  private final val EnvironmentUpdate = 12
  private final val SqlStart = 13
  private final val SqlEnd = 14

  private val EventKinds: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    Seq(EventModel.AppStart -> AppStart, EventModel.JobStart -> JobStart,
      EventModel.JobEnd -> JobEnd, EventModel.StageSubmitted -> StageSubmitted,
      EventModel.StageCompleted -> StageCompleted, EventModel.TaskStart -> TaskStart,
      EventModel.TaskEnd -> TaskEnd, EventModel.ExecutorAdded -> ExecutorAdded,
      EventModel.ExecutorRemoved -> ExecutorRemoved,
      EventModel.BlockManagerAdded -> BlockManagerAdded,
      EventModel.BlockManagerRemoved -> BlockManagerRemoved,
      EventModel.EnvironmentUpdate -> EnvironmentUpdate,
      EventModel.SqlExecutionStart -> SqlStart, EventModel.SqlExecutionEnd -> SqlEnd)
      .foreach { case (n, k) => m.put(UTF8String.fromString(n), Int.box(k)) }
    m
  }

  private val AppVersionKey = UTF8String.fromString("spark.app.version")
  private val VersionKey = UTF8String.fromString("spark.version")

  private val AppIdSuffix =
    Pattern.compile("(\\.(json|log|txt)(\\.gz|\\.lz4|\\.snappy)?)?(\\.inprogress)?$")

  private final val DateFormat = "yyyy-MM-dd"

  /** Micros range whose dates the day memo reuses (1900 up to 2037,
   *  where every formatter policy reads the same zone rules). */
  private val DayMemoLo = micros(LocalDate.of(1900, 1, 2), ZoneOffset.UTC)
  private val DayMemoHi = micros(LocalDate.of(2037, 1, 1), ZoneOffset.UTC)

  private def micros(day: LocalDate, zone: ZoneId): Long =
    day.atStartOfDay(zone).toEpochSecond * 1000000L

  /** A field's value does not convert: thrown without a stack, caught
   *  where `from_json` catches its conversion errors. */
  private object Mismatch extends RuntimeException with NoStackTrace
}

/** The canonical struct of one line: primitive slots for the numbers,
 *  references for strings and the map, a null bit per field. */
final class EventLineRow private (longs: Array[Long], refs: Array[AnyRef], private var nulls: Long)
    extends InternalRow {

  def this() = this(new Array[Long](EventLineRow.Width), new Array[AnyRef](EventLineRow.Width),
    (1L << EventLineRow.Width) - 1)

  private[events] def long(i: Int, v: Long): Unit = { longs(i) = v; nulls &= ~(1L << i) }
  private[events] def str(i: Int, v: UTF8String): Unit =
    if (v != null) { refs(i) = v; nulls &= ~(1L << i) }
  private[events] def map(i: Int, v: MapData): Unit = { refs(i) = v; nulls &= ~(1L << i) }

  override def numFields: Int = EventLineRow.Width
  override def setNullAt(i: Int): Unit = nulls |= 1L << i
  override def update(i: Int, value: Any): Unit = value match {
    case null => setNullAt(i)
    case v: Long => long(i, v)
    case v: Int => long(i, v)
    case v: AnyRef => refs(i) = v; nulls &= ~(1L << i)
  }
  override def copy(): InternalRow = new EventLineRow(longs.clone(), refs.clone(), nulls)

  override def isNullAt(i: Int): Boolean = (nulls >>> i & 1L) != 0
  override def getLong(i: Int): Long = longs(i)
  override def getInt(i: Int): Int = longs(i).toInt
  override def getUTF8String(i: Int): UTF8String = refs(i).asInstanceOf[UTF8String]
  override def getMap(i: Int): MapData = refs(i).asInstanceOf[MapData]
  override def get(i: Int, dataType: DataType): AnyRef =
    if (isNullAt(i)) null
    else dataType match {
      case LongType | TimestampType => Long.box(longs(i))
      case IntegerType => Int.box(longs(i).toInt)
      case _ => refs(i)
    }

  private def unsupported(what: String) =
    new UnsupportedOperationException(s"EventLineRow holds no $what")
  override def getBoolean(i: Int): Boolean = throw unsupported("boolean")
  override def getByte(i: Int): Byte = throw unsupported("byte")
  override def getShort(i: Int): Short = throw unsupported("short")
  override def getFloat(i: Int): Float = throw unsupported("float")
  override def getDouble(i: Int): Double = throw unsupported("double")
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal = throw unsupported("decimal")
  override def getBinary(i: Int): Array[Byte] = throw unsupported("binary")
  override def getGeography(i: Int): GeographyVal = throw unsupported("geography")
  override def getGeometry(i: Int): GeometryVal = throw unsupported("geometry")
  override def getInterval(i: Int): CalendarInterval = throw unsupported("interval")
  override def getVariant(i: Int): VariantVal = throw unsupported("variant")
  override def getStruct(i: Int, numFields: Int): InternalRow = throw unsupported("struct")
  override def getArray(i: Int): ArrayData = throw unsupported("array")
}

object EventLineRow {
  private[events] val Width: Int = EventLine.Schema.length
}
