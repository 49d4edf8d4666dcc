package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DecodeWinEventLog, WinEventLogKernel}

/** decode_xml_wineventlog vs the reference
  * (libbeat/processors/decode_xml_wineventlog + winlogbeat/sys/winevent):
  * a Security 4672 event (in-repo fixture) checked field by field against
  * the reference's expected decode, plus closed-form edges for every
  * enrichment/AddOptional/AddPairs rule the decoder mirrors.
  */
class WinEventLogSpec extends SparkSpec {

  private def parse(xml: String): InternalRow =
    DecodeWinEventLog(Literal(xml)).evalInput(UTF8String.fromString(xml))

  private val I = WinEventLogKernel.schema.fieldNames.zipWithIndex.toMap

  private def str(r: InternalRow, name: String): String = {
    val i = I(name)
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString
  }
  private def lng(r: InternalRow, name: String): java.lang.Long = {
    val i = I(name)
    if (r.isNullAt(i)) null else r.getLong(i)
  }
  private def keywords(r: InternalRow): Seq[String] = {
    if (r.isNullAt(I("keywords"))) return Nil
    val a = r.getArray(I("keywords"))
    (0 until a.numElements()).map(a.getUTF8String(_).toString)
  }
  private def mp(r: InternalRow, name: String): Map[String, String] = {
    if (r.isNullAt(I(name))) return Map.empty
    val m = r.getMap(I(name))
    (0 until m.numElements()).map { i =>
      m.keyArray().getUTF8String(i).toString ->
        m.valueArray().getUTF8String(i).toString
    }.toMap
  }

  /** A Security 4672 ("Special privileges assigned to new logon") event,
    * hand-written in the Windows event XML schema with exactly the fields
    * the assertions below pin (test resource `graft/security_4672.xml`). */
  private lazy val refXml: String = {
    val in = getClass.getResourceAsStream("/graft/security_4672.xml")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("reference corpus event decodes to the reference's expected fields") {
    val r = parse(refXml)
    assert(r != null)
    assert(str(r, "channel") == "Security")
    assert(str(r, "event_id") == "4672")
    assert(str(r, "provider_name") == "Microsoft-Windows-Security-Auditing")
    assert(lng(r, "record_id") == 11303L)
    assert(str(r, "task") == "Special Logon")
    assert(str(r, "computer_name") == "vagrant")
    assert(keywords(r) == Seq("Audit Success"))
    assert(str(r, "opcode") == "Info")
    assert(str(r, "provider_guid") == "{54849625-5478-4994-a5ba-3e3b0328c30d}")
    assert(r.isNullAt(I("version"))) // Version 0 → AddOptional skip
    val expectMicros = java.time.OffsetDateTime
      .parse("2021-03-23T09:56:13.137310000Z").toInstant.toEpochMilli * 1000L + 310L
    assert(lng(r, "time_created") == expectMicros)
    assert(str(r, "outcome") == "success")
    assert(str(r, "level") == "information")
    val msg = str(r, "message")
    assert(msg.startsWith("Special privileges assigned to new logon."))
    assert(msg.contains("\n\nSubject:\n\tSecurity ID:\t\tS-1-5-18"))
    assert(msg.endsWith("SeDelegateSessionUserImpersonatePrivilege"))
    val ed = mp(r, "event_data")
    assert(ed.size == 5)
    assert(ed("SubjectUserSid") == "S-1-5-18")
    assert(ed("SubjectUserName") == "SYSTEM")
    assert(ed("SubjectDomainName") == "NT AUTHORITY")
    assert(ed("SubjectLogonId") == "0x3e7")
    assert(ed("PrivilegeList").startsWith("SeAssignPrimaryTokenPrivilege\n\t\t\tSeTcbPrivilege"))
    assert(r.isNullAt(I("user_data")))
    assert(str(r, "activity_id") == "{ffb23523-1f32-0000-c335-b2ff321fd701}")
    assert(r.isNullAt(I("related_activity_id")))
    assert(lng(r, "process_pid") == 652L)
    assert(lng(r, "process_thread_id") == 4660L)
    assert(r.isNullAt(I("user_identifier")))
    assert(r.isNullAt(I("error_code")))
  }

  private def sysEvent(inner: String, extra: String = ""): String =
    s"<Event xmlns='http://schemas.microsoft.com/win/2004/08/events/event'>" +
      s"<System>$inner</System>$extra</Event>"

  test("winmeta enrichment from raw values when RenderingInfo is absent") {
    val r = parse(sysEvent(
      "<EventID>7</EventID><Level>1</Level><Task>0</Task><Opcode>2</Opcode>" +
        "<Keywords>0x8010000000000000</Keywords>"))
    assert(str(r, "level") == "critical") // Levels[1] lowercased
    assert(str(r, "task") == "None")      // Tasks[0]
    assert(str(r, "opcode") == "Stop")    // Opcodes[2]
    assert(keywords(r) == Seq("Audit Failure"))
    assert(str(r, "outcome") == "failure") // failure bit wins
    assert(str(r, "event_id") == "7")
  }

  test("keyword bits decode in ascending mask order; classic has no outcome") {
    val r = parse(sysEvent("<Keywords>0xb0000000000000</Keywords>"))
    // 0x10000000000000 | 0x20000000000000 | 0x80000000000000
    assert(keywords(r) == Seq("Audit Failure", "Audit Success", "Classic"))
    assert(str(r, "outcome") == "failure")
    val c = parse(sysEvent("<Keywords>0x80000000000000</Keywords>"))
    assert(keywords(c) == Seq("Classic"))
    assert(str(c, "outcome") == null)
  }

  test("out-of-table raw values leave level/task/opcode absent") {
    val r = parse(sysEvent("<Level>9</Level><Task>77</Task><Opcode>99</Opcode>"))
    assert(str(r, "level") == null)
    assert(str(r, "task") == null)
    assert(str(r, "opcode") == null)
    val noOp = parse(sysEvent("<Level>4</Level>"))
    assert(str(noOp, "opcode") == null) // OpcodeRaw nil → no lookup at all
    assert(str(noOp, "level") == "information")
  }

  test("event_data AddPairs: paramN, empty-value drop, dup first-wins, CRLF") {
    val r = parse(sysEvent("<EventID>1</EventID>",
      "<EventData><Data>plain</Data><Data Name='K'>first</Data>" +
        "<Data Name='K'>second</Data><Data Name='Empty'></Data>" +
        "<Data Name='Crlf'>a\r\nb\n</Data><Custom>tag-key</Custom></EventData>"))
    val ed = mp(r, "event_data")
    assert(ed("param1") == "plain")      // "Data" key → param<1-based index>
    assert(ed("K") == "first")           // duplicate dropped, first wins
    assert(!ed.contains("Empty"))        // empty value skipped
    assert(ed("Crlf") == "a\nb")         // CRLF→LF, trailing LF trimmed
    assert(ed("Custom") == "tag-key")    // element name when no Name attr
    assert(ed.size == 4)
    // all-empty dict → absent
    val none = parse(sysEvent("", "<EventData><Data Name='E'></Data></EventData>"))
    assert(none.isNullAt(I("event_data")))
  }

  test("user_data wraps the inner element and records xml_name; empty UserData fails") {
    val r = parse(sysEvent("",
      "<UserData><MyOperation xmlns='urn:x'><Key>v</Key></MyOperation></UserData>"))
    val ud = mp(r, "user_data")
    assert(ud("Key") == "v")
    assert(ud("xml_name") == "MyOperation")
    // reference's UserData token loop errors on an empty element → whole
    // decode fails (event.go:240-262)
    assert(parse(sysEvent("", "<UserData></UserData>")) == null)
  }

  test("numeric strictness matches Go encoding/xml: bad fields fail, bad Version is ignored") {
    assert(parse(sysEvent("<Level>abc</Level>")) == null)
    assert(parse(sysEvent("<EventID>12x</EventID>")) == null)
    assert(parse(sysEvent("<Keywords></Keywords>")) == null)
    val v = parse(sysEvent("<Version>not-a-number</Version><EventID>3</EventID>"))
    assert(v != null && v.isNullAt(I("version"))) // event.go:303-312
    val v2 = parse(sysEvent("<Version>2</Version>"))
    assert(v2.getInt(I("version")) == 2)
  }

  test("zero/absent values are NULL; EventID defaults to \"0\"") {
    val r = parse(sysEvent("<Channel>Ch</Channel>"))
    assert(str(r, "event_id") == "0") // fmt.Sprint of the zero ID
    assert(r.isNullAt(I("record_id")))
    assert(r.isNullAt(I("time_created")))
    assert(r.isNullAt(I("process_pid")))
    assert(str(r, "channel") == "Ch")
  }

  test("an Event with no System decodes as the zero-valued Go struct") {
    // Go unmarshals <Event/> without error: ID 0, LevelRaw 0, TaskRaw 0 →
    // enrichment still yields information/None
    for (xml <- Seq("<Event></Event>", "<Event/>", "<Event><Other/></Event>")) {
      val r = parse(xml)
      assert(r != null, xml)
      assert(str(r, "event_id") == "0")
      assert(str(r, "level") == "information") // Levels[0]
      assert(str(r, "task") == "None")         // Tasks[0]
      assert(r.isNullAt(I("keywords")) && r.isNullAt(I("opcode")))
    }
  }

  test("parseUint parity: uint64 overflow fails, Go prefixes and separators accepted") {
    // > 2^64 → ErrRange in Go → whole decode fails
    assert(parse(sysEvent("<Keywords>0x11111111111111111</Keywords>")) == null)
    assert(parse(sysEvent("<EventID>4294967296</EventID>")) == null) // > uint32
    val ok = parse(sysEvent("<EventID>4294967295</EventID>"))
    assert(str(ok, "event_id") == "4294967295")
    // Go 1.13 base-0 forms: 0b binary, 0o octal, underscore separators
    val bin = parse(sysEvent("<Keywords>0b101</Keywords>"))
    assert(bin != null && bin.isNullAt(I("keywords"))) // bits not in winmeta
    val oct = parse(sysEvent("<Keywords>0o17</Keywords>"))
    assert(oct != null)
    val sep = parse(sysEvent("<Keywords>0x_20_000000000000</Keywords>"))
    assert(keywords(sep) == Seq("Audit Success"))
    // malformed separators still fail
    assert(parse(sysEvent("<Keywords>1__0</Keywords>")) == null)
    assert(parse(sysEvent("<Keywords>10_</Keywords>")) == null)
  }

  test("a malformed EventID Qualifiers attribute fails the decode like Go") {
    assert(parse(sysEvent("<EventID Qualifiers='abc'>7</EventID>")) == null)
    val r = parse(sysEvent("<EventID Qualifiers='16384'>7</EventID>"))
    assert(str(r, "event_id") == "7") // valid Qualifiers parsed and discarded
  }

  test("security SID, correlation, execution etl attrs") {
    val r = parse(sysEvent(
      "<Security UserID='S-1-5-18'/>" +
        "<Correlation ActivityID='{a}' RelatedActivityID='{b}'/>" +
        "<Execution ProcessID='11' ThreadID='22' ProcessorID='1' SessionID='2' " +
        "KernelTime='3' UserTime='4' ProcessorTime='5'/>"))
    assert(str(r, "user_identifier") == "S-1-5-18")
    assert(str(r, "activity_id") == "{a}")
    assert(str(r, "related_activity_id") == "{b}")
    assert(lng(r, "process_pid") == 11L)
    assert(lng(r, "process_thread_id") == 22L)
    assert(lng(r, "processor_id") == 1L)
    assert(lng(r, "session_id") == 2L)
    assert(lng(r, "kernel_time") == 3L)
    assert(lng(r, "user_time") == 4L)
    assert(lng(r, "processor_time") == 5L)
  }

  test("rendering info wins over raw enrichment; message line endings normalized") {
    val r = parse(sysEvent("<Level>2</Level><Opcode>0</Opcode>",
      "<RenderingInfo Culture='en-US'><Message>line1\r\nline2\n\n</Message>" +
        "<Level>Custom</Level><Opcode>MyOp</Opcode><Task>T</Task>" +
        "<Keywords><Keyword>K1</Keyword><Keyword>K2</Keyword></Keywords></RenderingInfo>"))
    assert(str(r, "level") == "custom") // rendered wins, lowercased
    assert(str(r, "opcode") == "MyOp")
    assert(str(r, "task") == "T")
    assert(keywords(r) == Seq("K1", "K2"))
    assert(str(r, "message") == "line1\nline2")
  }

  test("processing error code and malformed XML") {
    val r = parse(sysEvent("", "<ProcessingErrorData><ErrorCode>15003</ErrorCode>" +
      "<DataItemName>x</DataItemName></ProcessingErrorData>"))
    assert(lng(r, "error_code") == 15003L)
    assert(parse("<Event><System>") == null)
    assert(parse("not xml at all") == null)
  }

  test("Actions.decodeXmlWineventlog projects the ECS companion columns") {
    import spark.implicits._
    val df = Seq(refXml, "garbage").toDF("message")
    val out = graft.operators.Actions.decodeXmlWineventlog(df, "message").collect()
      .sortBy(r => Option(r.getAs[String]("event_code")).getOrElse(""))
    val bad = out(0); val ok = out(1)
    assert(ok.getAs[String]("event_code") == "4672")
    assert(ok.getAs[String]("event_kind") == "event")
    assert(ok.getAs[String]("event_provider") == "Microsoft-Windows-Security-Auditing")
    assert(ok.getAs[String]("event_action") == "Special Logon")
    assert(ok.getAs[String]("host_name") == "vagrant")
    assert(ok.getAs[String]("event_outcome") == "success")
    assert(ok.getAs[String]("log_level") == "information")
    assert(ok.getAs[String]("message").startsWith("Special privileges"))
    // undecodable row: NULL struct, ECS nulls, original message retained;
    // the reference writes NO ecs field on a failed decode — including kind
    assert(bad.getAs[org.apache.spark.sql.Row]("winlog") == null)
    assert(bad.getAs[String]("event_code") == null)
    assert(bad.getAs[String]("event_kind") == null)
    assert(ok.getAs[String]("event_kind") == "event")
    assert(bad.getAs[String]("message") == "garbage")
  }
}
