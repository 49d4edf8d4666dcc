package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Syslog line parser: RFC3164 (BSD, lenient) and RFC5424 (strict), plus the
  * reference's format auto-detection.
  *
  * Reimplements the semantics of the reference's ragel grammars from scratch
  * as a byte-level recursive-descent parser:
  *  - RFC3164: `filebeat/input/syslog/parser/syslog_rfc3164.rl` — grammar
  *    `prio? sequence? (header msg | timestamp space message | message)`,
  *    with both the classic `Mmm d HH:mm:ss` timestamp and the BSD-style
  *    RFC3339 variant, hostname charset validation with the `--`/`..`
  *    duplicate bail-out to a catch-all message, and `program[pid]:` tags.
  *  - RFC5424: `parser/syslog_rfc5424.rl` — strict
  *    `PRI VERSION SP TIMESTAMP SP HOSTNAME SP APP-NAME SP PROCID SP MSGID
  *    SP STRUCTURED-DATA (SP MSG)?` with `\"`/`\]`/`\\` param-value escapes
  *    and BOM-stripped message.
  *  - detection: `parser/format_check.rl` (`IsRFC5424Format`) — a line is
  *    5424 iff it starts `<0..191>` + nonzero version + SP + 4 digits.
  *
  * Field semantics follow `filebeat/input/syslog/event.go`:
  *  - nanoseconds right-pad to 9 digits (`SetNanosecond`, event.go:302-316)
  *  - timezone token: leading `Z`/`z` wins (UTC) whatever follows; else
  *    `±hh`, `±hhmm`, `±hh:mm` (`SetTimeZone`, event.go:104-135)
  *  - the year is absent from classic 3164 timestamps; the reference fills
  *    `time.Now().Year()` (event.go:97) — here a `defaultYear` parameter so
  *    results stay deterministic. Likewise `defaultTzSeconds` stands in for
  *    the input's `timezone` config when the line carries no offset.
  *  - severity = priority & 7, facility = priority >> 3, with the label
  *    tables of `filebeat/input/syslog/input.go:51-87`
  *  - `valid` mirrors `event.IsValid()` (event.go:378-381)
  *  - message: BOM stripped (`SetMessage`, event.go:211-219), trailing
  *    newlines trimmed (`createEvent`, input.go:208)
  *
  * The struct keeps every RFC3164 and RFC5424 field side by side (null when
  * absent) so one scan parses a mixed stream in `auto` mode — format choice
  * is a per-row branch, not a per-table config.
  */
object SyslogKernel {

  val sdType: MapType = MapType(StringType, MapType(StringType, StringType))

  val schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("valid", BooleanType, nullable = false),
    StructField("ts", TimestampType),
    StructField("hostname", StringType),
    StructField("message", StringType),
    StructField("priority", IntegerType),
    StructField("severity", IntegerType),
    StructField("severity_label", StringType),
    StructField("facility", IntegerType),
    StructField("facility_label", StringType),
    StructField("program", StringType),
    StructField("pid", IntegerType),
    StructField("sequence", IntegerType),
    StructField("version", IntegerType),
    StructField("app_name", StringType),
    StructField("proc_id", StringType),
    StructField("msg_id", StringType),
    StructField("sd", sdType)
  ))

  // input.go:51-60
  private val severityLabels: Array[UTF8String] = Array(
    "Emergency", "Alert", "Critical", "Error", "Warning", "Notice",
    "Informational", "Debug").map(UTF8String.fromString)

  // input.go:62-87 (indexes 4 and 10 are both security/authorization,
  // 9 and 15 both clock — faithful to the reference table)
  private val facilityLabels: Array[UTF8String] = Array(
    "kernel", "user-level", "mail", "system", "security/authorization",
    "syslogd", "line printer", "network news", "UUCP", "clock",
    "security/authorization", "FTP", "NTP", "log audit", "log alert",
    "clock", "local0", "local1", "local2", "local3", "local4", "local5",
    "local6", "local7").map(UTF8String.fromString)

  private val FmtRfc3164 = UTF8String.fromString("rfc3164")
  private val FmtRfc5424 = UTF8String.fromString("rfc5424")

  // month short names, 1-indexed; full names share the first three letters
  private val monthShort = Array("", "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val monthFullSuffix = Array("", "uary", "ruary", "ch", "il", "",
    "e", "y", "ust", "tember", "ober", "ember", "ember")

  /** mutable per-row parse state; (start,end) byte offsets per string field,
    * -1 start = absent. Reused across rows on one thread. */
  final class Scratch {
    var format: UTF8String = _
    var priority = -1
    var sequence = -1
    var pid = -1
    var version = -1
    var year = -1; var month = -1; var day = -1
    var hour = -1; var minute = -1; var second = -1; var nanos = 0
    var tzSet = false; var tzSeconds = 0
    var hostS = -1; var hostE = -1
    var progS = -1; var progE = -1
    var appS = -1; var appE = -1
    var procS = -1; var procE = -1
    var msgidS = -1; var msgidE = -1
    var msgS = -1; var msgE = -1
    // structured data (5424): parallel id → (param keys, param values)
    var sdIds: java.util.ArrayList[UTF8String] = _
    var sdKeys: java.util.ArrayList[java.util.ArrayList[UTF8String]] = _
    var sdVals: java.util.ArrayList[java.util.ArrayList[UTF8String]] = _

    def reset(): Unit = {
      format = null
      priority = -1; sequence = -1; pid = -1; version = -1
      year = -1; month = -1; day = -1
      hour = -1; minute = -1; second = -1; nanos = 0
      tzSet = false; tzSeconds = 0
      hostS = -1; hostE = -1; progS = -1; progE = -1
      appS = -1; appE = -1; procS = -1; procE = -1
      msgidS = -1; msgidE = -1; msgS = -1; msgE = -1
      sdIds = null; sdKeys = null; sdVals = null
    }
  }

  @inline private def digit(c: Byte): Boolean = c >= '0' && c <= '9'
  @inline private def toInt(b: Array[Byte], s: Int, e: Int): Int = {
    var v = 0; var i = s
    while (i < e) { v = v * 10 + (b(i) - '0'); i += 1 }
    v
  }

  /** digit run → Int, or -1 (the unset sentinel) when the value exceeds
    * Int.MaxValue — Go strconv.Atoi errors with ErrRange and the reference
    * leaves the field unset; unbounded accumulation would WRAP
    * ("4294967297" → 1), emitting garbage indistinguishable from real
    * values. For the unbounded-width fields (pid, sequence); the ≤4-digit
    * grammar fields keep the unchecked fast path. */
  @inline private def toIntBounded(b: Array[Byte], s: Int, e: Int): Int = {
    var v = 0L; var i = s
    while (i < e) {
      v = v * 10 + (b(i) - '0')
      if (v > Int.MaxValue) return -1
      i += 1
    }
    v.toInt
  }

  /** event.go:302-316 — right-pad short fractions to 9 digits; fractions
    * longer than 9 digits keep their first 9 (Go would overflow-adjacent;
    * sub-nanosecond digits carry no information). */
  private def setNanos(b: Array[Byte], s: Int, e: Int): Int = {
    val len = math.min(e - s, 9)
    var v = toInt(b, s, s + len)
    var pad = 9 - len
    while (pad > 0) { v *= 10; pad -= 1 }
    v
  }

  /** days from civil date (proleptic Gregorian) — Howard Hinnant's
    * `days_from_civil`, pure integer math (no java.time allocation). */
  private def epochDays(y: Int, m: Int, d: Int): Long = {
    val yy = if (m <= 2) y - 1 else y
    val era = (if (yy >= 0) yy else yy - 399) / 400
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365L + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  // ---------------------------------------------------------------- RFC3164

  /** `format_check.rl` IsRFC5424Format: `<0..191>` NONZERO_DIGIT digit{0,2}
    * SP digit{4}. */
  def isRfc5424(b: Array[Byte], n: Int): Boolean = {
    var p = 0
    if (p >= n || b(p) != '<') return false
    p += 1
    val ds = p
    while (p < n && digit(b(p)) && p - ds < 3) p += 1
    if (p == ds || p >= n || b(p) != '>') return false
    if (b(ds) == '0' && p - ds > 1) return false // no leading zeros
    if (toInt(b, ds, p) > 191) return false
    p += 1
    if (p >= n || b(p) < '1' || b(p) > '9') return false
    p += 1
    var vd = 0
    while (p < n && digit(b(p)) && vd < 2) { p += 1; vd += 1 }
    if (p >= n || b(p) != ' ') return false
    p += 1
    // the reference's generated format_check.go sets isRFC5424 = true on the
    // FIRST year digit (ragel `>set_true` entering action) and never resets
    // it on a later parse error, so a truncated prefix like `<34>1 20` still
    // classifies as RFC5424 there — match that, not a strict 4-digit probe
    p < n && digit(b(p))
  }

  /** classic `Mmm d`/`Mmm dd` month token: 3-letter key, optionally the
    * full-name suffix (grammar `"Jan" ("uary")?` …). Returns end offset or
    * -1; sets s.month. */
  private def parseMonthName(b: Array[Byte], p0: Int, n: Int, s: Scratch): Int = {
    if (p0 + 3 > n) return -1
    var m = 1
    while (m <= 12) {
      val sh = monthShort(m)
      if (b(p0) == sh.charAt(0) && b(p0 + 1) == sh.charAt(1) && b(p0 + 2) == sh.charAt(2)) {
        var p = p0 + 3
        val suf = monthFullSuffix(m)
        if (suf.nonEmpty && p + suf.length <= n) {
          var i = 0
          var ok = true
          while (i < suf.length && ok) {
            if (b(p + i) != suf.charAt(i)) ok = false
            i += 1
          }
          if (ok) p += suf.length
        }
        s.month = m
        return p
      }
      m += 1
    }
    -1
  }

  /** `HH:mm:ss ("." digit+)?` with 3164's ranges; returns end offset or -1. */
  private def parseTime(b: Array[Byte], p0: Int, n: Int, s: Scratch,
                        maxFrac: Int): Int = {
    var p = p0
    if (p + 8 > n) return -1
    if (!(digit(b(p)) && digit(b(p + 1)) && b(p + 2) == ':' &&
          digit(b(p + 3)) && digit(b(p + 4)) && b(p + 5) == ':' &&
          digit(b(p + 6)) && digit(b(p + 7)))) return -1
    val h = toInt(b, p, p + 2)
    val mi = toInt(b, p + 3, p + 5)
    val se = toInt(b, p + 6, p + 8)
    if (h > 23 || mi > 59 || se > 59) return -1
    p += 8
    if (p < n && b(p) == '.' && p + 1 < n && digit(b(p + 1))) {
      val fs = p + 1
      var fe = fs
      while (fe < n && digit(b(fe)) && (maxFrac <= 0 || fe - fs < maxFrac)) fe += 1
      s.nanos = setNanos(b, fs, fe)
      p = fe
    }
    s.hour = h; s.minute = mi; s.second = se
    p
  }

  /** 3164 timezone token per `SetTimeZone` (event.go:104-135): a leading
    * `Z`/`z` means UTC and swallows any following `±hh[[:]mm]`; otherwise
    * `±hh`, `±hhmm` or `±hh:mm`. Returns end offset (== p0 when no tz). */
  private def parseTz3164(b: Array[Byte], p0: Int, n: Int, s: Scratch): Int = {
    var p = p0
    var zulu = false
    if (p < n && (b(p) == 'Z' || b(p) == 'z')) { zulu = true; p += 1 }
    if (p < n && (b(p) == '+' || b(p) == '-')) {
      val sign = if (b(p) == '-') -1 else 1
      var q = p + 1
      if (q + 2 <= n && digit(b(q)) && digit(b(q + 1))) {
        val h = toInt(b, q, q + 2)
        q += 2
        var m = 0
        if (q < n && b(q) == ':' && q + 3 <= n && digit(b(q + 1)) && digit(b(q + 2))) {
          m = toInt(b, q + 1, q + 3); q += 3
        } else if (q + 2 <= n && digit(b(q)) && digit(b(q + 1))) {
          m = toInt(b, q, q + 2); q += 2
        }
        if (!zulu) { s.tzSet = true; s.tzSeconds = sign * (h * 3600 + m * 60) }
        p = q
      } else if (!zulu) return p0 // a bare sign is not a timezone
    }
    if (zulu) { s.tzSet = true; s.tzSeconds = 0 }
    p
  }

  /** `timestamp_rfc3339` of the 3164 grammar: `yyyy-MM-dd (T|t|space) time
    * timezone?`. Month/day here are loose two-digit fields (grammar
    * `month_numeric = digit{2}`, `day_two_digits = [0-3][0-9]`). */
  private def parseTs3339Loose(b: Array[Byte], p0: Int, n: Int, s: Scratch): Int = {
    var p = p0
    if (p + 10 > n) return -1
    var i = 0
    while (i < 4) { if (!digit(b(p + i))) return -1; i += 1 }
    if (b(p + 4) != '-' || !digit(b(p + 5)) || !digit(b(p + 6)) ||
        b(p + 7) != '-' || !digit(b(p + 8)) || !digit(b(p + 9))) return -1
    val day0 = toInt(b, p + 8, p + 10)
    if (day0 > 39) return -1 // [0-3][0-9]
    val y = toInt(b, p, p + 4)
    val mo = toInt(b, p + 5, p + 7)
    p += 10
    if (p >= n || !(b(p) == 'T' || b(p) == 't' || b(p) == ' ')) return -1
    p += 1
    val te = parseTime(b, p, n, s, maxFrac = 0)
    if (te < 0) return -1
    s.year = y; s.month = mo; s.day = day0
    parseTz3164(b, te, n, s)
  }

  /** classic `Mmm d HH:mm:ss[.frac]` (no year, no tz). */
  private def parseTsClassic(b: Array[Byte], p0: Int, n: Int, s: Scratch): Int = {
    var p = parseMonthName(b, p0, n, s)
    if (p < 0) return -1
    if (p >= n || b(p) != ' ') { s.month = -1; return -1 }
    p += 1
    // day = space? [1-9] | [0-3][0-9]
    if (p < n && b(p) == ' ') p += 1
    if (p >= n || !digit(b(p))) { s.month = -1; return -1 }
    if (p + 1 < n && digit(b(p + 1))) {
      // grammar multiple_digits_day = [012][0-9] | 3[01]: 32-39 is invalid
      // and must fall through to the message-only catch-all
      if (b(p) > '3' || (b(p) == '3' && b(p + 1) > '1')) { s.month = -1; return -1 }
      s.day = toInt(b, p, p + 2); p += 2
    } else {
      if (b(p) == '0') { s.month = -1; return -1 }
      s.day = b(p) - '0'; p += 1
    }
    if (p >= n || b(p) != ' ') { s.month = -1; s.day = -1; return -1 }
    p += 1
    val te = parseTime(b, p, n, s, maxFrac = 0)
    if (te < 0) { s.month = -1; s.day = -1; return -1 }
    te
  }

  /** 3164 `timestamp = syncflag? (rfc3339 | rfc3164) ":"?`; returns end or
    * -1 with scratch date fields untouched. */
  private def parseTimestamp3164(b: Array[Byte], p0: Int, n: Int, s: Scratch,
                                 defaultYear: Int): Int = {
    var p = p0
    if (p < n && (b(p) == ' ' || b(p) == '*' || b(p) == '.')) {
      val e = timestampBody(b, p + 1, n, s, defaultYear)
      if (e >= 0) return e
    }
    timestampBody(b, p, n, s, defaultYear)
  }

  private def timestampBody(b: Array[Byte], p0: Int, n: Int, s: Scratch,
                            defaultYear: Int): Int = {
    var e = parseTs3339Loose(b, p0, n, s)
    if (e < 0) {
      e = parseTsClassic(b, p0, n, s)
      if (e >= 0) s.year = defaultYear
    }
    if (e < 0) return -1
    if (e < n && b(e) == ':') e + 1 else e
  }

  /** hostname charset/shape check (grammar `([a-zA-Z0-9._:-]*(alnum|"::"))+`
    * with the `lookahead_duplicates` bail on `--`/`..`). */
  private def validHostname(b: Array[Byte], s: Int, e: Int): Boolean = {
    if (e <= s) return false
    var i = s
    var prev: Byte = 0
    while (i < e) {
      val c = b(i)
      val ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '.' || c == '-' || c == '_' || c == ':'
      if (!ok) return false
      if ((c == '-' || c == '.') && c == prev) return false
      prev = c
      i += 1
    }
    val last = b(e - 1)
    val alnumLast = (last >= 'a' && last <= 'z') || (last >= 'A' && last <= 'Z') ||
      (last >= '0' && last <= '9')
    alnumLast || (e - s >= 2 && last == ':' && b(e - 2) == ':')
  }

  /** `msg = syslogprog? message`; `syslogprog = program ("[" pid "]")? ":"
    * space`. program = any non-space, non-bracket chars. */
  private def parseMsg3164(b: Array[Byte], p0: Int, n: Int, s: Scratch): Unit = {
    var p = p0
    // scan the program token: up to space, '[' or ']'
    var t = p
    while (t < n && b(t) != ' ' && b(t) != '[' && b(t) != ']') t += 1
    if (t > p && t < n && b(t) == '[') {
      // program "[" pid "]" ":" space
      var q = t + 1
      val ds = q
      while (q < n && digit(b(q))) q += 1
      if (q > ds && q + 2 < n && b(q) == ']' && b(q + 1) == ':' && b(q + 2) == ' ') {
        s.progS = p; s.progE = t
        s.pid = toIntBounded(b, ds, q)
        setMessage(b, q + 3, n, s)
        return
      }
    } else if (t > p + 1 && t < n && b(t) == ' ' && b(t - 1) == ':') {
      // program ":" space  (the ':' is the token's last char)
      s.progS = p; s.progE = t - 1
      setMessage(b, t + 1, n, s)
      return
    }
    setMessage(b, p, n, s)
  }

  /** `SetMessage` (BOM strip) + `createEvent` TrimRight("\n"). */
  private def setMessage(b: Array[Byte], s0: Int, n0: Int, s: Scratch): Unit = {
    var from = s0
    var until = n0
    if (until - from >= 3 && (b(from) & 0xff) == 0xef &&
        (b(from + 1) & 0xff) == 0xbb && (b(from + 2) & 0xff) == 0xbf) from += 3
    while (until > from && b(until - 1) == '\n') until -= 1
    if (until > from) { s.msgS = from; s.msgE = until }
    else { s.msgS = -1; s.msgE = -1 }
  }

  /** RFC3164 entry — total (always produces at least a message). */
  def parse3164(b: Array[Byte], n: Int, s: Scratch, defaultYear: Int): Unit = {
    s.format = FmtRfc3164
    var p = 0
    // prio = "<" digit{1,5} ">"
    if (p < n && b(p) == '<') {
      val ds = p + 1
      var q = ds
      while (q < n && digit(b(q)) && q - ds < 5) q += 1
      if (q > ds && q < n && b(q) == '>') {
        s.priority = toInt(b, ds, q)
        p = q + 1
      }
    }
    val afterPrio = p
    // sequence = digit+ ":" space — committed only when a timestamp follows
    if (p < n && digit(b(p))) {
      var q = p
      while (q < n && digit(b(q))) q += 1
      if (q + 1 < n && b(q) == ':' && b(q + 1) == ' ') {
        val seqVal = toIntBounded(b, p, q)
        val e = parseTimestamp3164(b, q + 2, n, s, defaultYear)
        if (e >= 0) {
          s.sequence = seqVal
          afterTimestamp(b, e, n, s)
          return
        }
      }
    }
    val e = parseTimestamp3164(b, p, n, s, defaultYear)
    if (e >= 0) afterTimestamp(b, e, n, s)
    else setMessage(b, afterPrio, n, s)
  }

  /** `header msg | timestamp space message` continuation after a parsed
    * timestamp (+optional ':'). */
  private def afterTimestamp(b: Array[Byte], e: Int, n: Int, s: Scratch): Unit = {
    if (e >= n || b(e) != ' ') { s.msgS = -1; s.msgE = -1; return }
    val hs = e + 1
    var he = hs
    while (he < n && b(he) != ' ') he += 1
    // hostVars = (hostname ":") | hostname
    var hostEnd = -1
    if (validHostname(b, hs, he)) hostEnd = he
    else if (he - 1 > hs && b(he - 1) == ':' && validHostname(b, hs, he - 1)) hostEnd = he - 1
    if (hostEnd > 0 && he < n) {
      s.hostS = hs; s.hostE = hostEnd
      parseMsg3164(b, he + 1, n, s)
    } else {
      // `timestamp space message` / duplicates catch-all: rest is message
      setMessage(b, hs, n, s)
    }
  }

  // ---------------------------------------------------------------- RFC5424

  @inline private def printAscii(c: Byte): Boolean = c >= 33 && c <= 126

  /** one `PRINT_US_ASCII{1,max}` token up to SP; returns end or -1. */
  private def parseToken5424(b: Array[Byte], p0: Int, n: Int, max: Int): Int = {
    var p = p0
    while (p < n && b(p) != ' ') {
      if (!printAscii(b(p)) || p - p0 >= max) return -1
      p += 1
    }
    if (p == p0) -1 else p
  }

  /** strict RFC5424 parse; fields set as components complete, so a
    * structurally invalid suffix keeps the valid prefix (ragel actions fire
    * on traversal — same observable behavior). */
  def parse5424(b: Array[Byte], n: Int, s: Scratch): Unit = {
    s.format = FmtRfc5424
    var p = 0
    // PRI
    if (p >= n || b(p) != '<') return
    p += 1
    val ds = p
    while (p < n && digit(b(p)) && p - ds < 3) p += 1
    if (p == ds || p >= n || b(p) != '>') return
    if (b(ds) == '0' && p - ds > 1) return
    val pri = toInt(b, ds, p)
    if (pri > 191) return
    p += 1
    // VERSION = nonzero digit{1,3}
    if (p >= n || b(p) < '1' || b(p) > '9') return
    val vs = p
    p += 1
    while (p < n && digit(b(p)) && p - vs < 3) p += 1
    s.priority = pri
    s.version = toInt(b, vs, p)
    if (p >= n || b(p) != ' ') return
    p += 1
    // TIMESTAMP = NIL | FULL_DATE "T" FULL_TIME
    if (p < n && b(p) == '-') p += 1
    else {
      val e = parseTs5424(b, p, n, s)
      if (e < 0) return
      p = e
    }
    if (p >= n || b(p) != ' ') return
    p += 1
    // HOSTNAME APP-NAME PROCID MSGID (NIL is a printable token — stored
    // literally, as the reference's actions do)
    var e = parseToken5424(b, p, n, 255)
    if (e < 0) return
    s.hostS = p; s.hostE = e; p = e
    if (p >= n || b(p) != ' ') return
    p += 1
    e = parseToken5424(b, p, n, 48)
    if (e < 0) return
    s.appS = p; s.appE = e; p = e
    if (p >= n || b(p) != ' ') return
    p += 1
    e = parseToken5424(b, p, n, 128)
    if (e < 0) return
    s.procS = p; s.procE = e; p = e
    if (p >= n || b(p) != ' ') return
    p += 1
    e = parseToken5424(b, p, n, 32)
    if (e < 0) return
    s.msgidS = p; s.msgidE = e; p = e
    if (p >= n || b(p) != ' ') return
    p += 1
    // STRUCTURED-DATA = NIL | SD_ELEMENT+
    if (p < n && b(p) == '-') p += 1
    else {
      var any = false
      while (p < n && b(p) == '[') {
        val e2 = parseSdElement(b, p, n, s)
        if (e2 < 0) return
        p = e2
        any = true
      }
      if (!any) return
    }
    // (SP MSG)?
    if (p < n) {
      if (b(p) != ' ') return
      setMessage(b, p + 1, n, s)
    }
  }

  /** FULL_DATE "T" FULL_TIME (strict: upper-case T/Z, frac 1-6, offset
    * `±[0-5]\d:[0-5]\d`). */
  private def parseTs5424(b: Array[Byte], p0: Int, n: Int, s: Scratch): Int = {
    var p = p0
    if (p + 10 > n) return -1
    var i = 0
    while (i < 4) { if (!digit(b(p + i))) return -1; i += 1 }
    if (b(p + 4) != '-') return -1
    val mo = if (digit(b(p + 5)) && digit(b(p + 6))) toInt(b, p + 5, p + 7) else return -1
    if (mo < 1 || mo > 12) return -1
    if (b(p + 7) != '-') return -1
    val dy = if (digit(b(p + 8)) && digit(b(p + 9))) toInt(b, p + 8, p + 10) else return -1
    if (dy < 1 || dy > 31) return -1
    val y = toInt(b, p, p + 4)
    p += 10
    if (p >= n || b(p) != 'T') return -1
    p += 1
    val te = parseTime(b, p, n, s, maxFrac = 6)
    if (te < 0) return -1
    p = te
    // TIME_OFFSET = 'Z' | ±hh:mm
    if (p < n && b(p) == 'Z') { s.tzSet = true; s.tzSeconds = 0; p += 1 }
    else if (p + 6 <= n && (b(p) == '+' || b(p) == '-') &&
             digit(b(p + 1)) && digit(b(p + 2)) && b(p + 3) == ':' &&
             digit(b(p + 4)) && digit(b(p + 5))) {
      val sign = if (b(p) == '-') -1 else 1
      val h = toInt(b, p + 1, p + 3)
      val m = toInt(b, p + 4, p + 6)
      if (h > 59 || m > 59) return -1
      s.tzSet = true; s.tzSeconds = sign * (h * 3600 + m * 60)
      p += 6
    } else return -1
    s.year = y; s.month = mo; s.day = dy
    p
  }

  /** `"[" SD_ID (SP SD_PARAM+)* "]"`; params may also abut. Escapes `\"`,
    * `\]`, `\\` in param values are unescaped (common.rl set_bs/SetData). */
  private def parseSdElement(b: Array[Byte], p0: Int, n: Int, s: Scratch): Int = {
    var p = p0 + 1 // past '['
    val ids = p
    while (p < n && printAscii(b(p)) && b(p) != '=' && b(p) != ']' && b(p) != '"' && p - ids < 32) p += 1
    if (p == ids) return -1
    val id = UTF8String.fromBytes(b, ids, p - ids)
    if (s.sdIds == null) {
      s.sdIds = new java.util.ArrayList[UTF8String](4)
      s.sdKeys = new java.util.ArrayList[java.util.ArrayList[UTF8String]](4)
      s.sdVals = new java.util.ArrayList[java.util.ArrayList[UTF8String]](4)
    }
    // duplicate SD-IDs merge into the existing element
    var idx = s.sdIds.indexOf(id)
    if (idx < 0) {
      s.sdIds.add(id)
      s.sdKeys.add(new java.util.ArrayList[UTF8String](4))
      s.sdVals.add(new java.util.ArrayList[UTF8String](4))
      idx = s.sdIds.size() - 1
    }
    val ks = s.sdKeys.get(idx)
    val vs = s.sdVals.get(idx)
    while (p < n && b(p) != ']') {
      if (b(p) == ' ') { p += 1 }
      else {
        // PARAM_NAME "=" '"' PARAM_VALUE '"'
        val ns = p
        while (p < n && printAscii(b(p)) && b(p) != '=' && b(p) != ']' && b(p) != '"' && p - ns < 32) p += 1
        if (p == ns || p >= n || b(p) != '=') return -1
        val name = UTF8String.fromBytes(b, ns, p - ns)
        p += 1
        if (p >= n || b(p) != '"') return -1
        p += 1
        val vsOff = p
        var escapes = 0
        var done = false
        while (!done) {
          if (p >= n) return -1
          val c = b(p)
          if (c == '\\') {
            if (p + 1 >= n) return -1
            val nx = b(p + 1)
            if (nx == '"' || nx == ']' || nx == '\\') { escapes += 1; p += 2 }
            else p += 1 // a lone backslash is a plain OCTET
          } else if (c == '"') done = true
          else if (c == ']') return -1
          else p += 1
        }
        val value =
          if (escapes == 0) UTF8String.fromBytes(b, vsOff, p - vsOff)
          else {
            val out = new Array[Byte](p - vsOff - escapes)
            var i = vsOff; var o = 0
            while (i < p) {
              if (b(i) == '\\' && i + 1 < p &&
                  (b(i + 1) == '"' || b(i + 1) == ']' || b(i + 1) == '\\')) i += 1
              out(o) = b(i); o += 1; i += 1
            }
            UTF8String.fromBytes(out, 0, o)
          }
        p += 1 // past closing quote
        val ki = ks.indexOf(name)
        if (ki < 0) { ks.add(name); vs.add(value) }
        else vs.set(ki, value) // repeated param overwrites (SetData)
      }
    }
    if (p >= n) return -1
    p + 1 // past ']'
  }

  // ------------------------------------------------------------------ emit

  /** scratch → InternalRow matching [[schema]]. */
  def emit(b: Array[Byte], s: Scratch, defaultTzSeconds: Int): InternalRow = {
    val r = new GenericInternalRow(18)
    r.update(0, s.format)
    val hasTs = s.year > 0 && s.month >= 1 && s.month <= 12 && s.day >= 1 &&
      s.hour >= 0 && s.minute >= 0 && s.second >= 0
    val hasMsg = s.msgS >= 0 && s.msgE > s.msgS
    val hasSd = s.sdIds != null && !s.sdIds.isEmpty
    // IsValid (event.go:378-381): day/hour/minute/second present and a
    // non-empty message or structured data
    r.setBoolean(1, s.day != -1 && s.hour != -1 && s.minute != -1 &&
      s.second != -1 && (hasMsg || hasSd))
    if (hasTs) {
      val off = if (s.tzSet) s.tzSeconds else defaultTzSeconds
      val sec = epochDays(s.year, s.month, s.day) * 86400L +
        s.hour * 3600L + s.minute * 60L + s.second - off
      r.setLong(2, sec * 1000000L + s.nanos / 1000)
    } else r.setNullAt(2)
    if (s.hostS >= 0) r.update(3, UTF8String.fromBytes(b, s.hostS, s.hostE - s.hostS)) else r.setNullAt(3)
    if (hasMsg) r.update(4, UTF8String.fromBytes(b, s.msgS, s.msgE - s.msgS)) else r.setNullAt(4)
    if (s.priority >= 0) {
      val sev = s.priority & 7
      val fac = s.priority >> 3
      r.setInt(5, s.priority)
      r.setInt(6, sev)
      r.update(7, severityLabels(sev))
      r.setInt(8, fac)
      if (fac < facilityLabels.length) r.update(9, facilityLabels(fac)) else r.setNullAt(9)
    } else { r.setNullAt(5); r.setNullAt(6); r.setNullAt(7); r.setNullAt(8); r.setNullAt(9) }
    if (s.progS >= 0) r.update(10, UTF8String.fromBytes(b, s.progS, s.progE - s.progS)) else r.setNullAt(10)
    if (s.pid >= 0) r.setInt(11, s.pid) else r.setNullAt(11)
    if (s.sequence >= 0) r.setInt(12, s.sequence) else r.setNullAt(12)
    if (s.version >= 0) r.setInt(13, s.version) else r.setNullAt(13)
    if (s.appS >= 0) r.update(14, UTF8String.fromBytes(b, s.appS, s.appE - s.appS)) else r.setNullAt(14)
    if (s.procS >= 0) r.update(15, UTF8String.fromBytes(b, s.procS, s.procE - s.procS)) else r.setNullAt(15)
    if (s.msgidS >= 0) r.update(16, UTF8String.fromBytes(b, s.msgidS, s.msgidE - s.msgidS)) else r.setNullAt(16)
    if (hasSd) {
      val m = s.sdIds.size()
      val ids = new Array[Any](m)
      val maps = new Array[Any](m)
      var i = 0
      while (i < m) {
        ids(i) = s.sdIds.get(i)
        maps(i) = new ArrayBasedMapData(
          new GenericArrayData(s.sdKeys.get(i).toArray.asInstanceOf[Array[AnyRef]]),
          new GenericArrayData(s.sdVals.get(i).toArray.asInstanceOf[Array[AnyRef]]))
        i += 1
      }
      r.update(17, new ArrayBasedMapData(new GenericArrayData(ids), new GenericArrayData(maps)))
    } else r.setNullAt(17)
    r
  }
}

/** `parse_syslog` expression: string line → typed syslog struct.
  *
  * `mode`: "rfc3164" | "rfc5424" | "auto" (auto = the reference's
  * `format_check.rl` prefix probe per row). `defaultYear` supplies the year
  * classic 3164 timestamps omit; `defaultTzSeconds` stands in for the
  * input's `timezone` config when a line has no explicit offset. Emitted
  * `ts` is UTC microseconds.
  */
case class SyslogParse(child: Expression, mode: String,
                       defaultYear: Int, defaultTzSeconds: Int)
  extends UnaryKernelExpression[UTF8String] {

  require(mode == "rfc3164" || mode == "rfc5424" || mode == "auto",
    s"unknown syslog format '$mode' (rfc3164|rfc5424|auto)")

  override def dataType: DataType = SyslogKernel.schema
  override def nullable: Boolean = true
  override def prettyName: String = "parse_syslog"

  @transient private lazy val scratch =
    new ThreadLocal[SyslogKernel.Scratch] {
      override def initialValue(): SyslogKernel.Scratch = new SyslogKernel.Scratch
    }

  private val modeTag: Int = mode match {
    case "rfc3164" => 0
    case "rfc5424" => 1
    case _         => 2
  }

  def evalInput(input: UTF8String): InternalRow = {
    val n = input.numBytes
    val b = new Array[Byte](n)
    org.apache.spark.unsafe.Platform.copyMemory(
      input.getBaseObject, input.getBaseOffset, b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, n.toLong)
    val s = scratch.get()
    s.reset()
    val use5424 = modeTag == 1 || (modeTag == 2 && SyslogKernel.isRfc5424(b, n))
    if (use5424) SyslogKernel.parse5424(b, n, s)
    else SyslogKernel.parse3164(b, n, s, defaultYear)
    SyslogKernel.emit(b, s, defaultTzSeconds)
  }

  override protected def withNewChildInternal(newChild: Expression): SyslogParse =
    copy(child = newChild)
}
