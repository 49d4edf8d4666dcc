package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, MapData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SyslogKernel, SyslogParse}

/** parse_syslog vs the reference's syslog parsers
  * (filebeat/input/syslog/rfc3164_parser.rl / rfc5424_parser.rl):
  *  - an RFC 3164 case table written from RFC 3164 sections 4 and 5 (test
  *    resource `graft/rfc3164_syslog.json`) replayed case by case
  *  - RFC5424 cases mirror rfc5424_test.go (RFC 5424 §6.5 doc examples,
  *    escape handling, NIL fields, parse-failure cases)
  *  - format auto-detection mirrors format_check.rl
  */
class SyslogSpec extends SparkSpec {

  // ---- direct kernel harness --------------------------------------------

  private def parse(line: String, mode: String = "auto", year: Int = 2024,
                    tz: Int = 0): InternalRow =
    SyslogParse(Literal(line), mode, year, tz)
      .evalInput(UTF8String.fromString(line))

  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString
  private def int(r: InternalRow, i: Int): Int =
    if (r.isNullAt(i)) Int.MinValue else r.getInt(i)
  private def ts(r: InternalRow): java.lang.Long =
    if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))

  private val I = {
    val f = SyslogKernel.schema.fieldNames.zipWithIndex.toMap
    f
  }

  private def sdMap(r: InternalRow): Map[String, Map[String, String]] = {
    if (r.isNullAt(I("sd"))) return null
    val m = r.getMap(I("sd"))
    (0 until m.numElements()).map { i =>
      val id = m.keyArray().getUTF8String(i).toString
      val inner = m.valueArray().getMap(i)
      id -> (0 until inner.numElements()).map { j =>
        (inner.keyArray().getUTF8String(j).toString,
          inner.valueArray().getUTF8String(j).toString)
      }.toMap
    }.toMap
  }

  private def micros(year: Int, month: Int, day: Int, hour: Int, min: Int,
                     sec: Int, nanos: Int, offSec: Int): Long =
    java.time.LocalDateTime.of(year, month, day, hour, min, sec, nanos)
      .toEpochSecond(java.time.ZoneOffset.ofTotalSeconds(offSec)) * 1000000L +
      nanos / 1000

  // ---- the RFC 3164 case table (test resource graft/rfc3164_syslog.json) --

  test("RFC 3164 table replays (25+ cases)") {
    val in = getClass.getResourceAsStream("/graft/rfc3164_syslog.json")
    val cases =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in).get("cases")
      finally in.close()
    assert(cases.size() >= 25, s"only ${cases.size()} cases")
    cases.forEach { c =>
      val line = c.get("line").asText()
      val r = parse(line, mode = "rfc3164", year = 2018)
      val what = s"[${c.get("name").asText()}] ${line.take(60)}"
      // null (or absent) in the table = null in the parsed struct
      def text(k: String) = if (c.path(k).isTextual) c.get(k).asText() else null
      def num(k: String) = if (c.path(k).isNumber) c.get(k).asInt() else Int.MinValue
      for (k <- Seq("message", "hostname", "program"))
        assert(str(r, I(k)) == text(k), s"$k $what")
      for (k <- Seq("priority", "pid", "sequence"))
        assert(int(r, I(k)) == num(k), s"$k $what")
      val t = c.get("ts")
      val expTs: java.lang.Long =
        if (t.isNull) null
        else java.lang.Long.valueOf(micros(t.get("year").asInt(), t.get("month").asInt(),
          t.get("day").asInt(), t.get("hour").asInt(), t.get("minute").asInt(),
          t.get("second").asInt(), t.get("nanosecond").asInt(), t.get("offset_seconds").asInt()))
      assert(ts(r) == expTs, s"ts $what")
    }
  }

  test("RFC3164 sequence + severity/facility split (Cisco case)") {
    val r = parse("<190>589265: Feb 8 18:55:31.306: %SEC-11: list denied",
      mode = "rfc3164", year = 2018)
    assert(int(r, I("sequence")) == 589265)
    assert(int(r, I("priority")) == 190)
    assert(int(r, I("severity")) == 6)
    assert(str(r, I("severity_label")) == "Informational")
    assert(int(r, I("facility")) == 23)
    assert(str(r, I("facility_label")) == "local7")
    assert(r.getBoolean(I("valid")))
  }

  test("RFC3164 defaultTzSeconds applies only without an explicit offset") {
    val line = "<34>Oct 11 22:14:15 mymachine su: hi"
    val r0 = parse(line, year = 2020, tz = 0)
    val r1 = parse(line, year = 2020, tz = 3600)
    assert(ts(r0) - ts(r1) == 3600000000L)
    val zline = "<190>2018-06-19T02:13:38.635322Z super mon msg"
    assert(ts(parse(zline, tz = 7200)) == ts(parse(zline, tz = 0)))
  }

  // ---- RFC5424 (rfc5424_test.go + RFC 5424 §6.5 examples) ---------------

  private val BOM = "\ufeff"
  private val ex1 = s"<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - $BOM'su root' failed for lonvick on /dev/pts/8"
  private val ex2 = "<165>1 2003-08-24T05:14:15.000003-07:00 192.0.2.1 myproc 8710 - - %% It's time to make the do-nuts."
  private val ex3 = s"""<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 [exampleSDID@32473 iut="3" eventSource="Application" eventID="1011"] ${BOM}An application event log entry..."""
  private val ex4 = """<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 [exampleSDID@32473 iut="3" eventSource="Application" eventID="1011"][examplePriority@32473 class="high"]"""

  test("RFC5424 doc example 1: full header, NIL SD, BOM message") {
    val r = parse(ex1, mode = "rfc5424")
    assert(str(r, I("format")) == "rfc5424")
    assert(int(r, I("priority")) == 34)
    assert(int(r, I("version")) == 1)
    assert(str(r, I("hostname")) == "mymachine.example.com")
    assert(str(r, I("app_name")) == "su")
    assert(str(r, I("proc_id")) == "-")
    assert(str(r, I("msg_id")) == "ID47")
    assert(str(r, I("message")) == "'su root' failed for lonvick on /dev/pts/8")
    assert(ts(r) == micros(2003, 10, 11, 22, 14, 15, 3000000, 0))
    assert(sdMap(r) == null)
    assert(r.getBoolean(I("valid")))
  }

  test("RFC5424 doc example 2: numeric offset, microsecond fraction") {
    val r = parse(ex2, mode = "rfc5424")
    assert(int(r, I("priority")) == 165)
    assert(str(r, I("hostname")) == "192.0.2.1")
    assert(str(r, I("app_name")) == "myproc")
    assert(str(r, I("proc_id")) == "8710")
    assert(str(r, I("msg_id")) == "-")
    assert(str(r, I("message")) == "%% It's time to make the do-nuts.")
    assert(ts(r) == micros(2003, 8, 24, 5, 14, 15, 3000, -7 * 3600))
  }

  test("RFC5424 doc example 3: one SD element + message") {
    val r = parse(ex3, mode = "rfc5424")
    assert(sdMap(r) == Map("exampleSDID@32473" ->
      Map("iut" -> "3", "eventSource" -> "Application", "eventID" -> "1011")))
    assert(str(r, I("message")) == "An application event log entry...")
  }

  test("RFC5424 doc example 4: two SD elements, no message") {
    val r = parse(ex4, mode = "rfc5424")
    assert(sdMap(r) == Map(
      "exampleSDID@32473" ->
        Map("iut" -> "3", "eventSource" -> "Application", "eventID" -> "1011"),
      "examplePriority@32473" -> Map("class" -> "high")))
    assert(str(r, I("message")) == null)
    assert(r.getBoolean(I("valid"))) // SD present counts (IsValid)
  }

  test("RFC5424 SD param value escapes \\\" \\] \\\\ (common.rl set_bs)") {
    val line = """<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 [exampleSDID@32473 iut="\]3" eventSource="\"Application\"" eventID="1011"] m"""
    val r = parse(line, mode = "rfc5424")
    assert(sdMap(r) == Map("exampleSDID@32473" ->
      Map("iut" -> "]3", "eventSource" -> "\"Application\"", "eventID" -> "1011")))
  }

  test("RFC5424 NIL timestamp parses, yields null ts and valid=false") {
    val r = parse("<34>1 - host app - - - msg", mode = "rfc5424")
    assert(ts(r) == null)
    assert(str(r, I("hostname")) == "host")
    assert(str(r, I("message")) == "msg")
    assert(!r.getBoolean(I("valid"))) // day/hour/... are absent (event.go:380)
  }

  test("RFC5424 structural failures keep the parsed prefix") {
    // bad version (leading zero → not NONZERO_DIGIT)
    val r0 = parse("<34>0 2003-10-11T22:14:15.003Z h a - - - m", mode = "rfc5424")
    assert(int(r0, I("version")) == Int.MinValue)
    assert(!r0.getBoolean(I("valid")))
    // priority out of range
    assert(!parse("<192>1 2003-10-11T22:14:15.003Z h a - - - m",
      mode = "rfc5424").getBoolean(I("valid")))
    // lowercase t separator is 3164-only, 5424 requires 'T'
    val r2 = parse("<34>1 2003-10-11t22:14:15.003Z h a - - - m", mode = "rfc5424")
    assert(ts(r2) == null)
    // missing offset entirely
    assert(ts(parse("<34>1 2003-10-11T22:14:15.003 h a - - - m",
      mode = "rfc5424")) == null)
  }

  // ---- format auto-detection (format_check.rl) --------------------------

  test("auto mode routes by IsRFC5424Format") {
    val r5 = parse(ex1)
    assert(str(r5, I("format")) == "rfc5424")
    assert(str(r5, I("app_name")) == "su")
    val r3 = parse("<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed")
    assert(str(r3, I("format")) == "rfc3164")
    assert(str(r3, I("program")) == "su")
    assert(int(r3, I("pid")) == 230)
    // version present but no 4-digit year after the space → 3164
    val amb = parse("<34>1 Oct 11 22:14:15 host msg")
    assert(str(amb, I("format")) == "rfc3164")
    // priority 192 is out of the 5424 PRIVAL range → 3164
    assert(str(parse("<192>1 2003-10-11T22:14:15.003Z h a - - - m"),
      I("format")) == "rfc3164")
    // truncated 5424 prefix: the generated format_check.go sets isRFC5424 on
    // the FIRST year digit and never resets it on error, so `<34>1 20`
    // classifies (and fails) as RFC5424 — not as a 3164 fallback
    val trunc = parse("<34>1 20")
    assert(str(trunc, I("format")) == "rfc5424")
    assert(int(trunc, I("priority")) == 34)
    assert(!trunc.getBoolean(I("valid")))
  }

  test("classic two-digit day 32-39 falls through to the message-only catch-all") {
    // multiple_digits_day = [012][0-9] | 3[01]: day 35 is not a timestamp,
    // so the whole payload lands in the catch-all (no silent month rollover)
    val r = parse("<34>Oct 35 10:00:00 mymachine msg")
    assert(str(r, I("format")) == "rfc3164")
    assert(ts(r) == null)
    assert(str(r, I("hostname")) == null)
    assert(str(r, I("message")).startsWith("Oct 35"))
    // day 31 still parses as a timestamp
    val ok = parse("<34>Oct 31 10:00:00 mymachine msg")
    assert(ts(ok) != null && str(ok, I("hostname")) == "mymachine")
  }

  // ---- end-to-end through the column API (exercises codegen) ------------

  test("DataFrame round-trip with mixed formats") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      ex1, ex3,
      "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",
      "--- last message repeated 1 time ---"
    ).toDF("line")
      .withColumn("s", graft.functions.parse_syslog(col("line"), "auto", 2018, 0))
    val rows = df.select($"s.format", $"s.hostname", $"s.program", $"s.pid",
      $"s.app_name", $"s.valid",
      element_at(element_at($"s.sd", "exampleSDID@32473"), "eventID").as("eid"))
      .collect()
    assert(rows(0).getString(0) == "rfc5424" && rows(0).getString(4) == "su")
    assert(rows(1).getString(6) == "1011")
    assert(rows(2).getString(0) == "rfc3164" && rows(2).getString(2) == "su" &&
      rows(2).getInt(3) == 230)
    assert(rows(3).getString(1) == null && !rows(3).getBoolean(5))
    // interpreted vs codegen parity on the same lines
    codegenParity("parse_syslog")(df.select($"s"))
  }
}
