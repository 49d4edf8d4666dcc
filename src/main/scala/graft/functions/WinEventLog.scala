package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** decode_xml_wineventlog (libbeat/processors/decode_xml_wineventlog/
  * processor.go:90-161 + winlogbeat/sys/winevent/event.go:49-155) — the
  * Windows-event-log XML → `winlog.*` projection, as one typed struct.
  *
  * Semantics mirrored from the reference's non-Windows decoder
  * (decoder.go:34-42): `winevent.UnmarshalXML` → `EnrichRawValuesWithNames
  * (nil, …)` → `Event.Fields()`:
  *   - System>{Provider,EventID,Version,Level,Task,Opcode,Keywords,
  *     TimeCreated,EventRecordID,Correlation,Execution,Channel,Computer,
  *     Security} parsed with the reference's numeric strictness: a malformed
  *     numeric field fails the WHOLE decode (Go encoding/xml), → NULL struct,
  *     EXCEPT `Version`, whose invalid values are explicitly ignored
  *     (event.go:303-312).
  *   - `Keywords` is Go `ParseUint(s, 0, 64)`: 0x-hex / 0-octal / decimal.
  *   - RenderingInfo supplies message/level/task/opcode/keywords when
  *     present; otherwise level/opcode/task/keywords are enriched from the
  *     raw values via the static winmeta.xml tables (winmeta.go:29-63,
  *     event.go:336-390). Keyword bits are emitted in ascending mask order
  *     (the reference iterates a Go map — unordered; ascending is the
  *     deterministic choice).
  *   - `outcome`: Audit Failure bit (0x10000000000000) wins over Audit
  *     Success (0x20000000000000) (event.go:108-112).
  *   - `level` is lowercased locale-independently; `message` and every
  *     event_data/user_data value get `RemoveWindowsLineEndings` (CRLF→LF,
  *     trailing LF trimmed; sys/strings.go:43-46).
  *   - event_data/user_data pairs: key = `Name` attribute else element name,
  *     `""`/`"Data"` keys become `paramN` (N = 1-based position across ALL
  *     parsed pairs, skipped-empties included), empty values dropped, dup
  *     keys first-wins, empty dict → NULL (maputil.go:44-83). user_data
  *     additionally carries `xml_name` = its wrapper element's name, only
  *     when the dict is non-empty (event.go:144-146).
  *   - Zero/empty values are absent (NULL here): AddOptional semantics.
  *     `event_id` is the one always-present field (`fmt.Sprint(ID)`).
  *
  * The reference nests `user`/`process` sub-objects and dotted error keys in
  * a dynamic map; this struct flattens them to `user_identifier`,
  * `process_pid`, `process_thread_id`, `error_code` (fixed columnar schema).
  * Like the reference's non-Windows build, the SID is never resolved, so
  * user name/domain/type are always absent. One documented divergence: a
  * missing `TimeCreated` emits NULL rather than Go's zero `time.Time`
  * (0001-01-01) — NULL is the columnar idiom for absent.
  */
object WinEventLogKernel {

  val schema: StructType = StructType(Seq(
    StructField("channel", StringType),
    StructField("event_id", StringType),
    StructField("provider_name", StringType),
    StructField("record_id", LongType),
    StructField("task", StringType),
    StructField("computer_name", StringType),
    StructField("keywords", ArrayType(StringType)),
    StructField("opcode", StringType),
    StructField("provider_guid", StringType),
    StructField("version", IntegerType),
    StructField("time_created", TimestampType),
    StructField("outcome", StringType),
    StructField("level", StringType),
    StructField("message", StringType),
    StructField("user_identifier", StringType),
    StructField("event_data", MapType(StringType, StringType)),
    StructField("user_data", MapType(StringType, StringType)),
    StructField("activity_id", StringType),
    StructField("related_activity_id", StringType),
    StructField("process_pid", LongType),
    StructField("process_thread_id", LongType),
    StructField("processor_id", LongType),
    StructField("session_id", LongType),
    StructField("kernel_time", LongType),
    StructField("user_time", LongType),
    StructField("processor_time", LongType),
    StructField("error_code", LongType)
  ))

  // winmeta.xml static tables (winmeta.go:29-63)
  private val keywordMasks: Array[(Long, String)] = Array(
    0x1000000000000L  -> "Response Time",
    0x4000000000000L  -> "WDI Diag",
    0x8000000000000L  -> "SQM",
    0x10000000000000L -> "Audit Failure",
    0x20000000000000L -> "Audit Success",
    0x40000000000000L -> "Correlation Hint",
    0x80000000000000L -> "Classic")
  private val levels = Map(0 -> "Information", 1 -> "Critical", 2 -> "Error",
    3 -> "Warning", 4 -> "Information", 5 -> "Verbose")
  private val opcodes = Map(0 -> "Info", 1 -> "Start", 2 -> "Stop",
    3 -> "DCStart", 4 -> "DCStop", 5 -> "Extension", 6 -> "Reply",
    7 -> "Resume", 8 -> "Suspend", 9 -> "Send")

  private val keywordAuditFailure = 0x10000000000000L
  private val keywordAuditSuccess = 0x20000000000000L

  /** sys.RemoveWindowsLineEndings (sys/strings.go:43-46). */
  def removeWindowsLineEndings(s: String): String = {
    var t = s.replace("\r\n", "\n")
    var end = t.length
    while (end > 0 && t.charAt(end - 1) == '\n') end -= 1
    if (end == t.length) t else t.substring(0, end)
  }

  /** Marks a reference-equivalent decode failure (Go xml.Decode error). */
  private object DecodeError extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Go strconv.ParseUint(s, base, bits); throws DecodeError like a failed
    * xml unmarshal. base 0 = Go auto: 0x/0X hex, 0b/0B binary, 0o/0O or
    * bare-leading-0 octal, decimal, with Go 1.13 underscore separators
    * (between digits / after the prefix, base-0 mode only). Overflow past
    * uint64 or past `max` is ErrRange → decode failure, like Go. */
  private def parseUint(raw: String, base: Int, max: Long): Long = {
    val s = raw.trim // encoding/xml copyValue trims space around numerics
    if (s.isEmpty) throw DecodeError
    val auto = base == 0
    var b = base
    var i = 0
    if (auto) {
      if (s.length > 1 && s.charAt(0) == '0') {
        s.charAt(1) match {
          case 'x' | 'X' => b = 16; i = 2
          case 'b' | 'B' => b = 2; i = 2
          case 'o' | 'O' => b = 8; i = 2
          case _         => b = 8; i = 1
        }
      } else b = 10
    }
    // Go allows one '_' after the prefix (e.g. 0x_1f) in base-0 mode
    if (auto && i > 0 && i < s.length && s.charAt(i) == '_') i += 1
    if (i >= s.length) throw DecodeError
    val cutoff = java.lang.Long.divideUnsigned(-1L, b) // maxUint64 / base
    var acc = 0L
    var lastWasDigit = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '_') {
        // separator: base-0 mode only, between digits
        if (!auto || !lastWasDigit || i + 1 >= s.length) throw DecodeError
        lastWasDigit = false
      } else {
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else throw DecodeError
        if (d >= b) throw DecodeError
        if (java.lang.Long.compareUnsigned(acc, cutoff) > 0) throw DecodeError
        acc = acc * b
        if (java.lang.Long.compareUnsigned(acc + d, acc) < 0) throw DecodeError
        acc = acc + d
        lastWasDigit = true
      }
      i += 1
    }
    if (max > 0 && java.lang.Long.compareUnsigned(acc, max) > 0) throw DecodeError
    acc
  }

  // --- Reads the XmlNode tree by local name (like Go encoding/xml):
  // elements, attributes, and direct character data. The tree's reader
  // normalizes line endings and rejects a DOCTYPE or an undefined entity
  // (a per-row decode failure).
  private def children(e: XmlNode): Iterator[XmlNode] =
    if (e.kids == null) Iterator.empty
    else scala.jdk.CollectionConverters.ListHasAsScala(e.kids).asScala.iterator

  private def child(e: XmlNode, name: String): XmlNode = {
    if (e == null || e.kids == null) return null // absent parent ⇒ absent child
    var i = 0
    while (i < e.kids.size()) {
      val c = e.kids.get(i)
      if (c.local == name) return c
      i += 1
    }
    null
  }

  /** direct character data of an element (Go `xml:",chardata"`). */
  private def text(e: XmlNode): String =
    if (e == null) "" else e.text.toString

  private def attr(e: XmlNode, name: String): String =
    if (e == null) "" else e.attr(name)

  private def utf8(s: String): UTF8String =
    if (s == null || s.isEmpty) null else UTF8String.fromString(s)

  /** AddPairs (maputil.go:44-83): ordered dict or null. */
  private def addPairs(pairs: Seq[(String, String)])
      : scala.collection.mutable.LinkedHashMap[String, String] = {
    if (pairs.isEmpty) return null
    val h = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    pairs.foreach { case (key, value) =>
      i += 1 // paramN counts every parsed pair, skipped empties included
      if (value.nonEmpty) {
        val k = if (key.isEmpty || key == "Data") s"param$i" else key
        if (!h.contains(k)) h(k) = removeWindowsLineEndings(value)
      }
    }
    if (h.isEmpty) null else h
  }

  private def toMapData(
      h: scala.collection.mutable.LinkedHashMap[String, String]): ArrayBasedMapData =
    if (h == null) null
    else new ArrayBasedMapData(
      new GenericArrayData(h.keysIterator.map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(h.valuesIterator.map(UTF8String.fromString).toArray[Any]))

  /** KeyValue children of a wrapper element (event.go:266-296). */
  private def kvPairs(wrapper: XmlNode): Seq[(String, String)] =
    if (wrapper == null) Nil
    else children(wrapper).map { c =>
      val nameAttr = attr(c, "Name")
      val k = if (nameAttr.nonEmpty) nameAttr else c.local
      (k, text(c))
    }.toSeq

  /** Full decode; null on any reference-equivalent unmarshal error. */
  def decode(xml: String): InternalRow = {
    val root = XmlNode.parse(xml)
    if (root == null) return null
    try decodeDoc(root)
    catch { case DecodeError => null }
  }

  private def decodeDoc(root: XmlNode): InternalRow = {
    val sys = child(root, "System")
    val provider = child(sys, "Provider")
    def sysOrNull(name: String): XmlNode =
      if (sys == null) null else child(sys, name)

    val eventId = {
      val e = sysOrNull("EventID")
      // Qualifiers is a uint16 attr in the reference struct (event.go:188):
      // present-but-malformed fails the whole Go decode, though its value is
      // never emitted by Fields() — validate-and-discard mirrors that.
      if (e != null && e.hasAttr("Qualifiers"))
        parseUint(e.attr("Qualifiers"), 10, 0xFFFFL)
      if (e == null) 0L else parseUint(text(e), 10, 0xFFFFFFFFL)
    }
    val version = {
      val e = sysOrNull("Version")
      if (e == null) 0L
      else try parseUint(text(e), 10, 0xFFL)
      catch { case DecodeError => 0L } // invalid Version ignored (event.go:303)
    }
    val levelRaw = {
      val e = sysOrNull("Level")
      if (e == null) 0 else parseUint(text(e), 10, 0xFFL).toInt
    }
    val taskRaw = {
      val e = sysOrNull("Task")
      if (e == null) 0 else parseUint(text(e), 10, 0xFFFFL).toInt
    }
    val opcodeRaw: Integer = {
      val e = sysOrNull("Opcode")
      if (e == null) null else Int.box(parseUint(text(e), 10, 0xFFL).toInt)
    }
    val keywordsRaw = {
      val e = sysOrNull("Keywords")
      if (e == null) 0L else parseUint(text(e), 0, 0L) // HexInt64: base-0, 64-bit
    }
    val recordId = {
      val e = sysOrNull("EventRecordID")
      if (e == null) 0L else parseUint(text(e), 10, 0L)
    }
    val timeCreated: java.lang.Long = {
      val tc = sysOrNull("TimeCreated")
      val st = attr(tc, "SystemTime")
      if (st.nonEmpty) {
        val odt =
          try java.time.OffsetDateTime.parse(st)
          catch { case _: java.time.format.DateTimeParseException => throw DecodeError }
        Long.box(odt.toInstant.getEpochSecond * 1000000L + odt.getNano / 1000L)
      } else if (attr(tc, "RawTime").nonEmpty && attr(tc, "RawTime") != "0") {
        throw DecodeError // "failed to unmarshal TimeCreated RawTime" (event.go:215)
      } else null
    }
    val correlation = sysOrNull("Correlation")
    val execution = sysOrNull("Execution")
    def execAttr(name: String): Long = {
      val v = attr(execution, name)
      if (v.isEmpty) 0L else parseUint(v, 10, 0xFFFFFFFFL)
    }
    val channel = text(sysOrNull("Channel"))
    val computer = text(sysOrNull("Computer"))
    val userId = attr(sysOrNull("Security"), "UserID")

    val eventData = addPairs(kvPairs(child(root, "EventData")))
    val userDataWrapper = child(root, "UserData")
    val userDataInner =
      if (userDataWrapper == null) null else children(userDataWrapper).nextOption().orNull
    // UserData.UnmarshalXML reads tokens until a StartElement; an empty
    // <UserData/> hits end-of-element first and fails the WHOLE decode
    // (event.go:240-262) — mirrored.
    if (userDataWrapper != null && userDataInner == null) throw DecodeError
    val userData = addPairs(kvPairs(userDataInner))
    if (userData != null)
      userData("xml_name") = userDataInner.local // Put overwrites (event.go:145)

    val rendering = child(root, "RenderingInfo")
    def rend(name: String): String = text(if (rendering == null) null else child(rendering, name))
    val renderedKeywords: Seq[String] = {
      val kw = if (rendering == null) null else child(rendering, "Keywords")
      if (kw == null) Nil
      else children(kw).filter(_.local == "Keyword").map(text).toSeq
    }
    val errorCode = {
      val ped = child(root, "ProcessingErrorData")
      val e = if (ped == null) null else child(ped, "ErrorCode")
      if (e == null) 0L else parseUint(text(e), 10, 0xFFFFFFFFL)
    }

    // EnrichRawValuesWithNames(nil, evt) — event.go:336-390
    val keywords: Seq[String] =
      if (renderedKeywords.nonEmpty) renderedKeywords
      else keywordMasks.collect { case (m, n) if (keywordsRaw & m) != 0 => n }.toSeq
    val opcode = {
      val r = rend("Opcode")
      if (r.nonEmpty) r
      else if (opcodeRaw != null) opcodes.getOrElse(opcodeRaw.intValue, "")
      else ""
    }
    val level = { val r = rend("Level"); if (r.nonEmpty) r else levels.getOrElse(levelRaw, "") }
    val task = { val r = rend("Task"); if (r.nonEmpty) r else if (taskRaw == 0) "None" else "" }
    val message = removeWindowsLineEndings(rend("Message"))
    val outcome =
      if ((keywordsRaw & keywordAuditFailure) != 0) "failure"
      else if ((keywordsRaw & keywordAuditSuccess) != 0) "success"
      else ""

    val r = new GenericInternalRow(27)
    r.update(0, utf8(channel))
    r.update(1, UTF8String.fromString(java.lang.Long.toUnsignedString(eventId))) // always present
    r.update(2, utf8(attr(provider, "Name")))
    r.update(3, if (recordId == 0L) null else Long.box(recordId))
    r.update(4, utf8(task))
    r.update(5, utf8(computer))
    r.update(6, if (keywords.isEmpty) null
      else new GenericArrayData(keywords.map(UTF8String.fromString).toArray[Any]))
    r.update(7, utf8(opcode))
    r.update(8, utf8(attr(provider, "Guid")))
    r.update(9, if (version == 0L) null else Int.box(version.toInt))
    r.update(10, timeCreated)
    r.update(11, utf8(outcome))
    r.update(12, utf8(level.toLowerCase(java.util.Locale.ROOT)))
    r.update(13, utf8(message))
    r.update(14, utf8(userId))
    r.update(15, toMapData(eventData))
    r.update(16, toMapData(userData))
    r.update(17, utf8(attr(correlation, "ActivityID")))
    r.update(18, utf8(attr(correlation, "RelatedActivityID")))
    def optLong(v: Long, ord: Int): Unit =
      r.update(ord, if (v == 0L) null else Long.box(v))
    optLong(execAttr("ProcessID"), 19)
    optLong(execAttr("ThreadID"), 20)
    optLong(execAttr("ProcessorID"), 21)
    optLong(execAttr("SessionID"), 22)
    optLong(execAttr("KernelTime"), 23)
    optLong(execAttr("UserTime"), 24)
    optLong(execAttr("ProcessorTime"), 25)
    optLong(errorCode, 26)
    r
  }
}

/** `decode_wineventlog(xml)` → typed winlog struct; NULL on undecodable
  * input (→ the processor's error/dead-letter path, processor.go:90-97). */
case class DecodeWinEventLog(child: Expression) extends UnaryKernelExpression[UTF8String] {
  override def dataType: DataType = WinEventLogKernel.schema
  override def nullable: Boolean = true
  override def prettyName: String = "decode_wineventlog"

  def evalInput(input: UTF8String): InternalRow =
    WinEventLogKernel.decode(input.toString)

  override protected def withNewChildInternal(newChild: Expression): DecodeWinEventLog =
    copy(child = newChild)
}
