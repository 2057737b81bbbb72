package graftbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}

/** Minimal JSON writer: the benchmark's output is a handful of flat
 *  objects, so a dependency-free encoder keeps the output format in
 *  one place. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case m: mutable.LinkedHashMap[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** How one benchmark operation ended. `Known` is a wrong answer that is
 *  fully explained by a defect listed as present at baseline (see the
 *  benchmark README); it is counted apart from `failed`. */
sealed trait Verdict
object Verdict {
  case object Ok extends Verdict
  final case class Known(defects: Seq[String]) extends Verdict
  final case class Wrong(why: String) extends Verdict
}

/** Everything one run reports: metrics, operation counts, and the
 *  input properties and per-operation series that explain them. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val knownDefects = mutable.TreeMap.empty[String, Long]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Operations whose only wrong answers are known-at-baseline defects. */
  var knownOps = 0L

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  /** Record one operation's verdict. */
  def op(v: Verdict): Unit = {
    attempted += 1
    v match {
      case Verdict.Ok => ()
      case Verdict.Known(ds) =>
        knownOps += 1
        ds.foreach(d => knownDefects(d) = knownDefects.getOrElse(d, 0L) + 1)
      case Verdict.Wrong(why) =>
        failed += 1
        if (failures.size < 20) failures += why
    }
  }

  /** An operation that threw: failed, with its reason kept. */
  def threw(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    if (failures.size < 20) failures += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
  }

  def correct: Boolean = failed == 0 && attempted > 0

  /** The last line of standard output: the only line the harness parses. */
  def resultLine: String = Json.obj(Seq(
    "correct" -> correct,
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> mutable.LinkedHashMap(metrics.toSeq.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)))

  def infoLine: String = Json.obj(Seq(
    "info" -> info,
    "known_defect_ops" -> knownDefects.toMap,
    "known_defect_op_count" -> knownOps,
    "error_rate_incl_known" ->
      (if (attempted == 0) 0.0 else (failed + knownOps).toDouble / attempted),
    "failures" -> failures.toSeq))
}
