package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's final stdout line — the driver parses ONE JSON object
  * carrying metric/value/unit/queries/sf. Rounds 15-18 truncated the
  * queries map to a char budget on the (never-validated) belief that the
  * driver reads only a 2000-char tail; the driver's parse recorded null
  * in every round regardless, because sbt's LoggedOutput prefixed every
  * line with "[info] " (fixed via `run / outputStrategy := StdoutOutput`).
  * The line now names EVERY query — these tests pin completeness and
  * structure instead of the old fits-the-tail budget.
  */
class BenchLineSpec extends AnyFunSuite {

  test("total line names every declared query") {
    val results = SparkEntry.queries.keys.toSeq.map(k => k -> 1.234)
    val line = Bench.totalLine(results, "/root/testdata/sf0.1")
    for (k <- SparkEntry.queries.keys)
      assert(line.contains("\"" + k + "\":"), s"missing $k")
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(line.contains(s""""nq":${SparkEntry.queries.size}"""))
  }

  test("total line is parseable JSON shape-wise (balanced, no stray newlines)") {
    val results = (1 to 500).map(i =>
      s"extremely_long_query_name_that_pads_the_line_$i" -> (i * 37.5))
    val line = Bench.totalLine(results, "/root/testdata/sf0.1")
    assert(!line.contains("\n"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.contains("\"nq\":500"))
    assert(line.contains("extremely_long_query_name_that_pads_the_line_500"))
  }

  test("stream lines are short and carry rows/sec") {
    val l = Bench.streamLine("stream_dedup", "dropDuplicatesWithinWatermark",
      4.567, 123456L, "/root/testdata/sf0.1")
    assert(l.length <= 170, s"stream line is ${l.length} chars")
    assert(l.contains("\"rows\":123456") && l.contains("\"rows_per_sec\":27032"))
    // zero-duration guard (SPARK_GRAFT_ONLY skip path) must not divide by 0
    assert(Bench.streamLine("stream_total", "q", 0.0, 10L, "sf")
      .contains("\"rows_per_sec\":0"))
  }

  test("host_band rides the total line outside the queries object") {
    val hb = ""","host_band":{"control":"q1_pricing_summary","head_sec":1.23,"mid_sec":2.34,"tail_sec":4.56,"ratio":3.71}"""
    val results = SparkEntry.queries.keys.toSeq.map(k => k -> 1.234)
    val line = Bench.totalLine(results, "/root/testdata/sf0.1", 5.0, hb)
    assert(line.contains("\"host_band\":{\"control\":\"q1_pricing_summary\""))
    assert(line.contains("\"ratio\":3.71"))
    // band must sit OUTSIDE the queries object (a driver jq picks it at
    // the top level), and the line must stay one JSON object
    assert(line.indexOf("\"host_band\"") < line.indexOf("\"queries\""))
    // empty band (SPARK_GRAFT_ONLY path) leaves the line untouched
    assert(!Bench.totalLine(results, "sf").contains("host_band"))
    // the control query exists in the real query surface
    assert(SparkEntry.queries.contains(Bench.ControlQuery))
  }

  test("total accounts for every query (nothing silently dropped)") {
    val results = (1 to 300).map(i => s"q$i" -> 1.0)
    val line = Bench.totalLine(results, "sf")
    val total = "\"value\":([0-9.]+)".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(total - 300.0) < 0.01)
    // every query is named on the line, so "other" is identically zero
    assert(line.contains("\"other\":0.00"))
  }

  test("a failed entry is not summed and is named under failed") {
    val results = Seq("q_a" -> 1.0, "q_b" -> 2.5)
    val line = Bench.totalLine(results, "sf", 4.0, "",
      failed = Seq("q_boom", "stream_total"))
    val total = "\"value\":([0-9.]+)".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(total - 3.5) < 0.01)
    assert(line.contains("\"nq\":2"))
    assert(line.contains("\"failed\":[\"q_boom\",\"stream_total\"]"))
    // a failed entry carries no timing anywhere on the line
    assert(!line.contains("\"q_boom\":"))
    assert(!line.contains("\"stream_total\":"))
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // a clean run still carries the key, empty
    assert(Bench.totalLine(results, "sf").contains("\"failed\":[]"))
  }
}
