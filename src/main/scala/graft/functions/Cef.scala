package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ArcSight Common Event Format (CEF) decoder — a from-scratch byte-level
  * reimplementation of the reference's ragel machine
  * (x-pack/filebeat/processors/decode_cef/cef/cef.rl) and processor mapping
  * (decode_cef.go:60-176, cef.go:116-152):
  *
  *  - leading data before `CEF:` is ignored (decode_cef.go:77-85); no header
  *    at all → null struct (the processor fails/ignores the event)
  *  - header: `CEF:version|vendor|product|version|class_id|name|severity|`
  *    with `\|` and `\\` escapes; an invalid header escape or a truncated
  *    header keeps the fields already completed and records the machine
  *    error, exactly like the ragel actions that already fired
  *  - extensions: `key=value` pairs separated by single literal spaces;
  *    values may contain spaces/pipes, escape `\=` `\\` `\n` `\r`; a
  *    non-final value keeps everything up to one char before the next key
  *    (extra separator spaces stay in the value — cef.rl extension_key
  *    action slices `data[valueStart:mark-1]`); the final value is trimmed
  *    of trailing whitespace (valueEnd only advances on non-space chars)
  *  - malformed values (unescaped `=`, invalid escape) drop the CURRENT
  *    key, record `malformed value for <key> at pos <n>`, and recover by
  *    gobbling to the next ` key=` occurrence (cef.rl gobble_extension)
  *  - keys are renamed to their full ArcSight names and validated against
  *    the CEF data-type dictionary (keys.go, generated from the public
  *    ArcSight CEF 23/25 guides); a value failing its type validation is
  *    dropped with `error in field '<key>'` (cef.go:137-143). Unlike the
  *    Go processor the surviving value stays a STRING in the map — in
  *    Spark you cast at use site; the validation/drop semantics are what
  *    affect observable keys.
  */
object CefKernel {

  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType),
    StructField("device_vendor", StringType),
    StructField("device_product", StringType),
    StructField("device_version", StringType),
    StructField("device_event_class_id", StringType),
    StructField("name", StringType),
    StructField("severity", StringType),
    StructField("extensions", MapType(StringType, StringType)),
    StructField("errors", ArrayType(StringType))
  ))

  // full-name + data-type dictionary, `shortKey|fullName|type` with type
  // i=int l=long f=float d=double s=string b=bool p=ip m=mac t=timestamp —
  // the public ArcSight CEF extension directory (reference keys.go:22-699)
  private val dictRaw: String =
    "act|deviceAction|s agentDnsDomain|agentDnsDomain|s agentNtDomain|agentNtDomain|s " +
      "agentTranslatedAddress|agentTranslatedAddress|p " +
      "agentTranslatedZoneExternalID|agentTranslatedZoneExternalID|s " +
      "agentTranslatedZoneURI|agentTranslatedZoneURI|s agentZoneExternalID|agentZoneExternalID|s " +
      "agentZoneURI|agentZoneURI|s agt|agentAddress|p ahost|agentHostName|s aid|agentId|s " +
      "amac|agentMacAddress|m app|applicationProtocol|s art|agentReceiptTime|t atz|agentTimeZone|s " +
      "at|agentType|s av|agentVersion|s c6a1Label|deviceCustomIPv6Address1Label|s " +
      "c6a1|deviceCustomIPv6Address1|p c6a2Label|deviceCustomIPv6Address2Label|s " +
      "c6a2|deviceCustomIPv6Address2|p c6a3Label|deviceCustomIPv6Address3Label|s " +
      "c6a3|deviceCustomIPv6Address3|p c6a4Label|deviceCustomIPv6Address4Label|s " +
      "c6a4|deviceCustomIPv6Address4|p cat|deviceEventCategory|s " +
      "catdt|categoryDeviceType|s cfp1Label|deviceCustomFloatingPoint1Label|s " +
      "cfp1|deviceCustomFloatingPoint1|f cfp2Label|deviceCustomFloatingPoint2Label|s " +
      "cfp2|deviceCustomFloatingPoint2|f cfp3Label|deviceCustomFloatingPoint3Label|s " +
      "cfp3|deviceCustomFloatingPoint3|f cfp4Label|deviceCustomFloatingPoint4Label|s " +
      "cfp4|deviceCustomFloatingPoint4|f cn1Label|deviceCustomNumber1Label|s " +
      "cn1|deviceCustomNumber1|l cn2Label|deviceCustomNumber2Label|s cn2|deviceCustomNumber2|l " +
      "cn3Label|deviceCustomNumber3Label|s cn3|deviceCustomNumber3|l cnt|baseEventCount|i " +
      "cs1Label|deviceCustomString1Label|s cs1|deviceCustomString1|s " +
      "cs2Label|deviceCustomString2Label|s cs2|deviceCustomString2|s " +
      "cs3Label|deviceCustomString3Label|s cs3|deviceCustomString3|s " +
      "cs4Label|deviceCustomString4Label|s cs4|deviceCustomString4|s " +
      "cs5Label|deviceCustomString5Label|s cs5|deviceCustomString5|s " +
      "cs6Label|deviceCustomString6Label|s cs6|deviceCustomString6|s " +
      "customerExternalID|customerExternalID|s customerURI|customerURI|s " +
      "destinationDnsDomain|destinationDnsDomain|s destinationServiceName|destinationServiceName|s " +
      "destinationTranslatedAddress|destinationTranslatedAddress|p " +
      "destinationTranslatedPort|destinationTranslatedPort|i " +
      "destinationTranslatedZoneExternalID|destinationTranslatedZoneExternalID|s " +
      "destinationTranslatedZoneURI|destinationTranslatedZoneURI|s " +
      "destinationZoneExternalID|destinationZoneExternalID|s " +
      "destinationZoneURI|destinationZoneURI|s deviceCustomDate1Label|deviceCustomDate1Label|s " +
      "deviceCustomDate1|deviceCustomDate1|t deviceCustomDate2Label|deviceCustomDate2Label|s " +
      "deviceCustomDate2|deviceCustomDate2|t deviceDirection|deviceDirection|i " +
      "deviceDnsDomain|deviceDnsDomain|s deviceExternalId|deviceExternalId|s " +
      "deviceFacility|deviceFacility|s deviceInboundInterface|deviceInboundInterface|s " +
      "deviceNtDomain|deviceNtDomain|s deviceOutboundInterface|deviceOutboundInterface|s " +
      "devicePayloadId|devicePayloadId|s deviceProcessName|deviceProcessName|s " +
      "deviceTranslatedAddress|deviceTranslatedAddress|p " +
      "deviceTranslatedZoneExternalID|deviceTranslatedZoneExternalID|s " +
      "deviceTranslatedZoneURI|deviceTranslatedZoneURI|s deviceZoneExternalID|deviceZoneExternalID|s " +
      "deviceZoneURI|deviceZoneURI|s dhost|destinationHostName|s dlat|destinationGeoLatitude|d " +
      "dlong|destinationGeoLongitude|d dmac|destinationMacAddress|m dntdom|destinationNtDomain|s " +
      "dpid|destinationProcessId|i dpriv|destinationUserPrivileges|s " +
      "dproc|destinationProcessName|s dpt|destinationPort|i dst|destinationAddress|p " +
      "dtz|deviceTimeZone|s duid|destinationUserId|s duser|destinationUserName|s " +
      "dvchost|deviceHostName|s dvcmac|deviceMacAddress|m dvcpid|deviceProcessId|i " +
      "dvc|deviceAddress|p end|endTime|t eventId|eventId|l externalId|externalId|s " +
      "fileCreateTime|fileCreateTime|t fileHash|fileHash|s fileId|fileId|s " +
      "fileModificationTime|fileModificationTime|t filePath|filePath|s " +
      "filePermission|filePermission|s fileType|fileType|s flexDate1Label|flexDate1Label|s " +
      "flexDate1|flexDate1|t flexNumber1Label|flexNumber1Label|s flexNumber1|flexNumber1|l " +
      "flexNumber2Label|flexNumber2Label|s flexNumber2|flexNumber2|l " +
      "flexString1Label|flexString1Label|s flexString1|flexString1|s " +
      "flexString2Label|flexString2Label|s flexString2|flexString2|s fname|fileName|s " +
      "fsize|fileSize|i in|bytesIn|i msg|message|s oldFileCreateTime|oldFileCreateTime|t " +
      "oldFileHash|oldFileHash|s oldFileId|oldFileId|s " +
      "oldFileModificationTime|oldFileModificationTime|t oldFileName|oldFileName|s " +
      "oldFilePath|oldFilePath|s oldFilePermission|oldFilePermission|s oldFileSize|oldFileSize|i " +
      "oldFileType|oldFileType|s outcome|eventOutcome|s out|bytesOut|i proto|transportProtocol|s " +
      "reason|Reason|s requestClientApplication|requestClientApplication|s " +
      "requestContext|requestContext|s requestCookies|requestCookies|s requestMethod|requestMethod|s " +
      "request|requestUrl|s rt|deviceReceiptTime|t shost|sourceHostName|s slat|sourceGeoLatitude|d " +
      "slong|sourceGeoLongitude|d smac|sourceMacAddress|m sntdom|sourceNtDomain|s " +
      "sourceDnsDomain|sourceDnsDomain|s sourceServiceName|sourceServiceName|s " +
      "sourceTranslatedAddress|sourceTranslatedAddress|p sourceTranslatedPort|sourceTranslatedPort|i " +
      "sourceTranslatedZoneExternalID|sourceTranslatedZoneExternalID|s " +
      "sourceTranslatedZoneURI|sourceTranslatedZoneURI|s sourceZoneExternalID|sourceZoneExternalID|s " +
      "sourceZoneURI|sourceZoneURI|s spid|sourceProcessId|i spriv|sourceUserPrivileges|s " +
      "sproc|sourceProcessName|s spt|sourcePort|i src|sourceAddress|p start|startTime|t " +
      "suid|sourceUserId|s suser|sourceUserName|s type|type|i"

  private final case class Mapped(target: String, targetUtf8: UTF8String, tpe: Char)

  /** lowercase short key → mapping (mirrors extensionMappingLowerCase). */
  private val mapping: java.util.HashMap[String, Mapped] = {
    val m = new java.util.HashMap[String, Mapped]()
    dictRaw.split(' ').foreach { entry =>
      val parts = entry.split('|')
      m.put(parts(0).toLowerCase(java.util.Locale.ROOT),
        Mapped(parts(1), UTF8String.fromString(parts(1)), parts(2).charAt(0)))
    }
    m
  }

  // ---------------------------------------------------------------- types

  /** Go strconv.ParseInt(v, 0, bits): optional sign, 0x/0o/0b/leading-0
    * prefixes, '_' digit separators (only adjacent to digits). */
  private[graft] def validGoInt(s: String, bits: Int): Boolean = {
    var i = 0
    val n = s.length
    if (n == 0) return false
    if (s.charAt(0) == '+' || s.charAt(0) == '-') i = 1
    if (i >= n) return false
    var base = 10
    var body = s.substring(i)
    if (body.length > 1 && body.charAt(0) == '0') {
      body.charAt(1) match {
        case 'x' | 'X' => base = 16; body = body.substring(2)
        case 'o' | 'O' => base = 8; body = body.substring(2)
        case 'b' | 'B' => base = 2; body = body.substring(2)
        case _         => base = 8; body = body.substring(1)
      }
    }
    if (body.isEmpty) return false
    val clean = if (body.contains('_')) {
      if (body.startsWith("_") || body.endsWith("_") || body.contains("__")) return false
      body.replace("_", "")
    } else body
    try {
      val v = java.lang.Long.parseLong(
        (if (s.charAt(0) == '-') "-" else "") + clean, base)
      if (bits == 32) v >= Int.MinValue && v <= Int.MaxValue else true
    } catch { case _: NumberFormatException => false }
  }

  private[graft] def validGoFloat(s: String): Boolean = {
    if (s.isEmpty) return false
    val low = s.toLowerCase(java.util.Locale.ROOT)
    val body = low.stripPrefix("+").stripPrefix("-")
    if (body == "inf" || body == "infinity" || body == "nan") return true
    try { java.lang.Double.parseDouble(s); true }
    catch { case _: NumberFormatException => false }
  }

  /** Go strconv.ParseBool: the boolean, or null for any other string. */
  private[graft] def parseGoBool(s: String): java.lang.Boolean = s match {
    case "1" | "t" | "T" | "TRUE" | "true" | "True"    => true
    case "0" | "f" | "F" | "FALSE" | "false" | "False" => false
    case _                                             => null
  }

  private[graft] def validGoBool(s: String): Boolean = parseGoBool(s) != null

  /** net.ParseMAC after insertMACSeparators (types.go:92-130): EUI-48/64 as
    * bare hex, or hex pairs with `:`/`-`, or dotted 4-hex groups. */
  private[graft] def validMac(s: String): Boolean = {
    val v = if ((s.length == 12 || s.length == 16) && s.forall(isHex))
      s.grouped(2).mkString(":") else s
    v.matches("([0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}") ||
      v.matches("([0-9a-fA-F]{2}:){7}[0-9a-fA-F]{2}") ||
      v.matches("([0-9a-fA-F]{2}-){5}[0-9a-fA-F]{2}") ||
      v.matches("([0-9a-fA-F]{2}-){7}[0-9a-fA-F]{2}") ||
      v.matches("([0-9a-fA-F]{4}\\.){2}[0-9a-fA-F]{4}") ||
      v.matches("([0-9a-fA-F]{4}\\.){3}[0-9a-fA-F]{4}")
  }
  @inline private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** CEF timestamps (types.go:132-194): unix epoch millis, or the
    * `MMM dd [yyyy] HH:mm:ss[.SSS] [zone]` layout family. Validation only —
    * the surviving value stays a raw string. */
  private val tsRe = java.util.regex.Pattern.compile(
    "(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)" +
      " ( ?\\d|\\d{2}) (?:(\\d{4}) )?(\\d{2}):(\\d{2}):(\\d{2})(?:\\.\\d{3})?" +
      "(?: (?:[A-Z]{2,5}|[+-]\\d{4}|[+-]\\d{2}:\\d{2}|GMT[+-]\\d{2}:\\d{2}))?")
  private[graft] def validTimestamp(s: String): Boolean = {
    if (validGoInt(s, 64)) return true
    val m = tsRe.matcher(s)
    if (!m.matches()) return false
    val day = m.group(2).trim.toInt
    val h = m.group(4).toInt; val mi = m.group(5).toInt; val se = m.group(6).toInt
    day >= 1 && day <= 31 && h <= 23 && mi <= 59 && se <= 59
  }

  private def validType(s: String, tpe: Char): Boolean = tpe match {
    case 'i' => validGoInt(s, 32)
    case 'l' => validGoInt(s, 64)
    case 'f' | 'd' => validGoFloat(s)
    case 'b' => validGoBool(s)
    case 'p' => IpOps.isValidIp(s)
    case 'm' => validMac(s)
    case 't' => validTimestamp(s)
    case _   => true
  }

  // ---------------------------------------------------------------- parse

  @inline private def digit(c: Byte): Boolean = c >= '0' && c <= '9'
  @inline private def keyStart(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || digit(c) || c == '_'
  @inline private def keyChar(c: Byte): Boolean =
    keyStart(c) || c == '.' || c == ',' || c == '[' || c == ']'
  @inline private def spaceClass(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x0b || c == 0x0c

  /** per-row mutable parse state (reused per thread). */
  final class Scratch {
    var version = -1
    val header = new Array[UTF8String](6) // vendor..name, severity at 5
    val extKeys = new java.util.ArrayList[UTF8String](16)
    val extVals = new java.util.ArrayList[UTF8String](16)
    val errors = new java.util.ArrayList[UTF8String](4)
    def reset(): Unit = {
      version = -1
      java.util.Arrays.fill(header.asInstanceOf[Array[AnyRef]], null)
      extKeys.clear(); extVals.clear(); errors.clear()
    }
  }

  private def err(s: Scratch, msg: String): Unit =
    s.errors.add(UTF8String.fromString(msg))

  /** unescape a value/header slice given recorded backslash positions. */
  private def unescape(b: Array[Byte], from: Int, until: Int,
                       escapes: java.util.ArrayList[Integer]): UTF8String = {
    if (escapes == null || escapes.isEmpty)
      return UTF8String.fromBytes(b, from, until - from)
    var cnt = 0
    var i = 0
    while (i < escapes.size()) {
      if (escapes.get(i) >= from && escapes.get(i) < until - 1) cnt += 1
      i += 1
    }
    if (cnt == 0) return UTF8String.fromBytes(b, from, until - from)
    val out = new Array[Byte](until - from - cnt)
    var o = 0
    var p = from
    i = 0
    // escapes are in ascending order; skip ones before `from`
    var ei = 0
    while (ei < escapes.size() && escapes.get(ei) < from) ei += 1
    while (p < until) {
      if (ei < escapes.size() && escapes.get(ei) == p && p < until - 1) {
        val c = b(p + 1)
        out(o) = c match {
          case 'n' => '\n'
          case 'r' => '\r'
          case other => other
        }
        o += 1; p += 2; ei += 1
      } else {
        out(o) = b(p); o += 1; p += 1
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  private def pushExtension(b: Array[Byte], s: Scratch, keyS: Int, keyE: Int,
                            valS: Int, valE: Int,
                            escapes: java.util.ArrayList[Integer]): Unit = {
    val key = new String(b, keyS, keyE - keyS, java.nio.charset.StandardCharsets.UTF_8)
    val value = unescape(b, valS, math.max(valS, valE), escapes)
    val m = mapping.get(key.toLowerCase(java.util.Locale.ROOT))
    if (m == null) {
      putExt(s, UTF8String.fromBytes(b, keyS, keyE - keyS), value)
    } else if (m.tpe == 's' || validType(value.toString, m.tpe)) {
      putExt(s, m.targetUtf8, value)
    } else {
      err(s, s"error in field '$key'")
    }
  }

  /** map-semantics put: a repeated key overwrites (Go map assignment). */
  private def putExt(s: Scratch, key: UTF8String, value: UTF8String): Unit = {
    val i = s.extKeys.indexOf(key)
    if (i < 0) { s.extKeys.add(key); s.extVals.add(value) }
    else s.extVals.set(i, value)
  }

  /** full parse; returns null when no `CEF:<digits>|` header exists. */
  def parse(b: Array[Byte], n: Int, s: Scratch): InternalRow = {
    // strings.Index(data, "CEF:") — ignore leading junk (decode_cef.go:78)
    var start = -1
    var i = 0
    while (start < 0 && i <= n - 4) {
      if (b(i) == 'C' && b(i + 1) == 'E' && b(i + 2) == 'F' && b(i + 3) == ':') start = i
      i += 1
    }
    if (start < 0) return null
    var p = start + 4
    val ds = p
    while (p < n && digit(b(p))) p += 1
    if (p == ds || p >= n || b(p) != '|') return null
    s.version = {
      val len = math.min(p - ds, 9)
      var v = 0; var j = ds
      while (j < ds + len) { v = v * 10 + (b(j) - '0'); j += 1 }
      v
    }
    p += 1
    @inline def pos(idx: Int): Int = idx - start + 1
    // five escaped header fields
    var f = 0
    val escapes = new java.util.ArrayList[Integer](4)
    while (f < 5) {
      val fs = p
      escapes.clear()
      var fieldEnd = -1
      while (fieldEnd < 0) {
        if (p >= n) { err(s, "unexpected end of CEF event"); return emit(s) }
        val c = b(p)
        if (c == '|') fieldEnd = p
        else if (c == '\\') {
          if (p + 1 >= n) { err(s, "unexpected end of CEF event"); return emit(s) }
          val nx = b(p + 1)
          if (nx == '|' || nx == '\\') { escapes.add(p); p += 2 }
          else { err(s, s"error in CEF event at pos ${pos(p + 1)}"); return emit(s) }
        } else p += 1
      }
      s.header(f) = unescape(b, fs, fieldEnd, escapes)
      p = fieldEnd + 1
      f += 1
    }
    // severity: (alpha | digit | '-')* then '|'
    val ss = p
    while (p < n && (keyStart(b(p)) && b(p) != '_' || b(p) == '-')) p += 1
    if (p >= n) { err(s, "unexpected end of CEF event"); return emit(s) }
    if (b(p) != '|') { err(s, s"error in CEF event at pos ${pos(p)}"); return emit(s) }
    s.header(5) = UTF8String.fromBytes(b, ss, p - ss)
    p += 1
    // extensions (optional) — but once a space is consumed the grammar is
    // inside `extensions`, which requires at least one key=value pair, so a
    // header followed only by trailing spaces ends the machine non-final and
    // the reference records "unexpected end of CEF event"
    val extStart = p
    while (p < n && b(p) == ' ') p += 1
    if (p >= n) {
      if (p > extStart) err(s, "unexpected end of CEF event")
      return emit(s)
    }
    // first key
    var keyS = p
    var keyE = -1
    if (keyStart(b(p))) {
      var q = p + 1
      while (q < n && keyChar(b(q))) q += 1
      if (q < n && b(q) == '=') keyE = q
    }
    if (keyE < 0) { err(s, s"error in CEF event at pos ${pos(p)}"); return emit(s) }
    p = keyE + 1
    // value loop
    var done = false
    while (!done) {
      val vs = p
      escapes.clear()
      var lastNonSpace = vs - 1
      var boundary = -1 // index of an unescaped '='
      var failed = false
      while (boundary < 0 && !failed && p < n) {
        val c = b(p)
        if (c == '=') boundary = p
        else if (c == '\\') {
          if (p + 1 >= n) {
            err(s, "unexpected end of CEF event")
            return emit(s) // current extension lost (machine died mid-value)
          }
          val nx = b(p + 1)
          if (nx == '=' || nx == '\\' || nx == 'n' || nx == 'r') {
            escapes.add(p); p += 2; lastNonSpace = p - 1
          } else {
            err(s, s"malformed value for ${keyString(b, keyS, keyE)} at pos ${pos(p + 1)}")
            failed = true
          }
        } else {
          if (!spaceClass(c)) lastNonSpace = p
          p += 1
        }
      }
      if (failed) {
        val g = gobble(b, n, p)
        if (g < 0) return emit(s)
        keyS = (g >>> 32).toInt; keyE = g.toInt; p = keyE + 1
      } else if (boundary < 0) {
        // EOF: final value, trailing whitespace excluded
        pushExtension(b, s, keyS, keyE, vs, lastNonSpace + 1, escapes)
        done = true
      } else {
        // walk back from '=' over key chars to find the next key
        var ks = boundary
        while (ks > vs && keyChar(b(ks - 1))) ks -= 1
        val valid = ks < boundary && keyStart(b(ks)) && ks - 1 >= vs && b(ks - 1) == ' '
        if (valid) {
          pushExtension(b, s, keyS, keyE, vs, ks - 1, escapes)
          keyS = ks; keyE = boundary; p = boundary + 1
        } else {
          err(s, s"malformed value for ${keyString(b, keyS, keyE)} at pos ${pos(boundary)}")
          val g = gobble(b, n, boundary + 1)
          if (g < 0) return emit(s)
          keyS = (g >>> 32).toInt; keyE = g.toInt; p = keyE + 1
        }
      }
    }
    emit(s)
  }

  private def keyString(b: Array[Byte], ks: Int, ke: Int): String =
    new String(b, ks, ke - ks, java.nio.charset.StandardCharsets.UTF_8)

  /** cef.rl gobble_extension: leftmost ` key=` at or after `from`; returns
    * (keyStart << 32) | keyEnd, or -1 when none. */
  private def gobble(b: Array[Byte], n: Int, from: Int): Long = {
    var g = from
    while (g < n) {
      if (b(g) == ' ' && g + 1 < n && keyStart(b(g + 1))) {
        var q = g + 2
        while (q < n && keyChar(b(q))) q += 1
        if (q < n && b(q) == '=') return ((g + 1).toLong << 32) | q.toLong
      }
      g += 1
    }
    -1L
  }

  private def emit(s: Scratch): InternalRow = {
    val r = new GenericInternalRow(9)
    r.setInt(0, s.version)
    var i = 0
    while (i < 6) {
      val v = s.header(i)
      if (v == null || v.numBytes() == 0) r.setNullAt(i + 1) else r.update(i + 1, v)
      i += 1
    }
    if (s.extKeys.isEmpty) r.setNullAt(7)
    else r.update(7, new ArrayBasedMapData(
      new GenericArrayData(s.extKeys.toArray.asInstanceOf[Array[AnyRef]]),
      new GenericArrayData(s.extVals.toArray.asInstanceOf[Array[AnyRef]])))
    if (s.errors.isEmpty) r.setNullAt(8)
    else r.update(8, new GenericArrayData(s.errors.toArray.asInstanceOf[Array[AnyRef]]))
    r
  }
}

/** `decode_cef` expression: string line → typed CEF struct (null when the
  * line carries no `CEF:<digits>|` header, matching the processor's
  * missing-header failure).
  */
case class DecodeCef(child: Expression) extends UnaryKernelExpression[UTF8String] {

  override def dataType: DataType = CefKernel.schema
  override def nullable: Boolean = true
  override def prettyName: String = "decode_cef"

  @transient private lazy val scratch =
    new ThreadLocal[CefKernel.Scratch] {
      override def initialValue(): CefKernel.Scratch = new CefKernel.Scratch
    }

  def evalInput(input: UTF8String): InternalRow = {
    val n = input.numBytes
    val b = new Array[Byte](n)
    org.apache.spark.unsafe.Platform.copyMemory(
      input.getBaseObject, input.getBaseOffset, b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, n.toLong)
    val s = scratch.get()
    s.reset()
    CefKernel.parse(b, n, s)
  }

  override protected def withNewChildInternal(newChild: Expression): DecodeCef =
    copy(child = newChild)
}
