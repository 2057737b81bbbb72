package graft

import org.scalatest.funsuite.AnyFunSuite

/** Grading-contract guard: SURVEY.md §2's table is the judged
  * inventory, and it has drifted from `SparkEntry.queries` in 5 of 6
  * rounds — always by hand. This spec diffs the two mechanically:
  * every `queries` key must appear as a key cell in §2, and §2 must
  * not claim a key that doesn't exist. A key cell is a table cell
  * that is EXACTLY one backticked [a-z0-9_]+ token — impl paths
  * contain `/`, reference paths contain `.`, and prose cells contain
  * spaces, so none of those false-positive. */
class SurveyInventorySpec extends AnyFunSuite {

  test("SURVEY §2 key cells equal SparkEntry.queries.keySet") {
    val text = {
      val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
      try src.mkString finally src.close()
    }
    val sec2 = text.split("\n## ").find(_.startsWith("§2"))
      .getOrElse(fail("SURVEY.md has no '## §2' section"))
    val keyCell = "^`([a-z0-9_]+)`$".r
    val claimed = sec2.linesIterator
      .filter(_.trim.startsWith("|"))
      .flatMap(_.split("\\|").map(_.trim).collect {
        case keyCell(k) => k
      })
      .toSet
    val actual = SparkEntry.queries.keySet
    assert((actual -- claimed).isEmpty,
      s"queries keys missing from SURVEY §2: ${(actual -- claimed).toSeq.sorted}")
    assert((claimed -- actual).isEmpty,
      s"SURVEY §2 claims keys with no queries entry: ${(claimed -- actual).toSeq.sorted}")
  }

  test("every queries key has an oracleSql twin (CLAUDE.md invariant)") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("no oracle embeds a Scala-interpolated null (object-init-order guard)") {
    // A strict val that s-interpolates (or concatenates) another val
    // declared LATER in the same object silently embeds the literal
    // string "null" — this exact class of bug shipped twice
    // (quality_drift round 6, the minhash family round 10) and each
    // time turned the DuckDB gate red with a SQL parse error. Oracle
    // SQL here writes keywords uppercase (DuckDB is case-insensitive),
    // so a bare lowercase `null` token can only be interpolation rot.
    val bareNull = "(?<![A-Za-z0-9_])null(?![A-Za-z0-9_])".r
    val offenders = SparkEntry.oracleSql.collect {
      case (k, sql) if bareNull.findFirstIn(sql).isDefined =>
        s"$k: ...${sql.slice(math.max(0, sql.indexOf("null") - 60), sql.indexOf("null") + 10)}..."
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("SURVEY §4 generated block equals bench_local_last.json at HEAD " +
    "(CLAUDE.md closing-commit gate)") {
    // The gate text exists since r12 and was violated by hand in r12,
    // r13 AND r16 — each time the closing commit updated
    // bench_local_last.json without re-running tools/survey_numbers.py.
    // This makes `sbt test` itself the enforcement: parse the block's
    // headline numbers and diff them against the artifact.
    val survey = {
      val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
      try src.mkString finally src.close()
    }
    val block = survey
      .split(java.util.regex.Pattern.quote(
        "<!-- BEGIN GENERATED NUMBERS (tools/survey_numbers.py) -->"))(1)
      .split(java.util.regex.Pattern.quote("<!-- END GENERATED NUMBERS -->"))(0)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val bench = mapper.readTree(new java.io.File("bench_local_last.json"))
    val headline =
      """- (\d+) benched queries at sf[0-9.]+ / local\[\d+\]: ([0-9.]+) s total""".r
    val m = headline.findFirstMatchIn(block)
      .getOrElse(fail("SURVEY §4 generated block has no headline line"))
    val claimedN = m.group(1).toInt
    val claimedTotal = m.group(2).toDouble
    val queries = bench.get("queries")
    val actualN = queries.size()
    val actualTotal = bench.get("value").asDouble()
    assert(claimedN === actualN,
      s"SURVEY §4 claims $claimedN benched queries; bench_local_last.json has $actualN — rerun tools/survey_numbers.py")
    assert(math.abs(claimedTotal - actualTotal) <= 0.06,
      f"SURVEY §4 claims $claimedTotal%.1f s total; bench_local_last.json says $actualTotal%.1f — rerun tools/survey_numbers.py")
    val slowest = """- Slowest query: ([a-z0-9_]+) at ([0-9.]+) s median""".r
    val sm = slowest.findFirstMatchIn(block)
      .getOrElse(fail("SURVEY §4 generated block has no slowest-query line"))
    val actualSlowest = {
      val it = queries.fields()
      var best: (String, Double) = ("", Double.MinValue)
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.asDouble() > best._2)
          best = (e.getKey, e.getValue.asDouble())
      }
      best
    }
    assert(sm.group(1) === actualSlowest._1 &&
      math.abs(sm.group(2).toDouble - actualSlowest._2) <= 0.006,
      s"SURVEY §4 slowest-query line (${sm.group(1)} ${sm.group(2)}) != artifact " +
        f"(${actualSlowest._1} ${actualSlowest._2}%.2f) — rerun tools/survey_numbers.py")
  }

  test("Bench.SurveyCpus is the core count SURVEY §4 claims (closing-artifact gate)") {
    val survey = {
      val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
      try src.mkString finally src.close()
    }
    val claimed = """benched queries at sf[0-9.]+ / local\[(\d+)\]""".r
      .findFirstMatchIn(survey)
      .getOrElse(fail("SURVEY §4 generated block has no headline line"))
    assert(claimed.group(1).toInt === Bench.SurveyCpus)
  }
}
