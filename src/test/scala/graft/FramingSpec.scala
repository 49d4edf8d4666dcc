package graft

import org.apache.spark.sql.functions.{col, posexplode}

import graft.functions.FramingKernel

/** RFC6587 / custom-delimiter TCP frame splitting with the stream
  * semantics of the reference scanner
  * (filebeat/inputsource/common/streaming/scan.go): a table of RFC 6587
  * cases per mode (test resource `graft/rfc6587_framing.json`) replayed
  * through [[FramingKernel]], plus the scanner edge semantics (Atoi abort,
  * incomplete-octet drop, 1-byte tail, zero-count frame).
  */
class FramingSpec extends SparkSpec {
  import spark.implicits._

  private def frames(s: String, delim: String = "\n",
                     rfc6587: Boolean = true): Seq[String] =
    FramingKernel.frames(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      delim.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      rfc6587).map(_.toString).toSeq

  // ---- the RFC 6587 case tables ------------------------------------------

  private case class Case(name: String, input: String,
                          expected: Seq[String], delimiter: String)

  private lazy val table: com.fasterxml.jackson.databind.JsonNode = {
    val in = getClass.getResourceAsStream("/graft/rfc6587_framing.json")
    try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    finally in.close()
  }

  private def cases(mode: String): Seq[Case] = {
    import scala.jdk.CollectionConverters._
    table.get(mode).elements().asScala.map { c =>
      Case(c.get("name").asText, c.get("input").asText,
        c.get("expected").elements().asScala.map(_.asText).toSeq,
        c.get("delimiter").asText)
    }.toSeq
  }

  test("RFC 6587 custom-delimiter table replays (delimiter mode)") {
    val delimCases = cases("delimiter")
    assert(delimCases.size >= 6)
    for (c <- delimCases)
      assert(frames(c.input, c.delimiter, rfc6587 = false) == c.expected,
        s"case '${c.name}'")
  }

  test("RFC 6587 octet-counting table replays (rfc6587 mode)") {
    val octetCases = cases("rfc6587")
    assert(octetCases.size >= 5)
    for (c <- octetCases)
      assert(frames(c.input, c.delimiter) == c.expected, s"case '${c.name}'")
  }

  // ---- scanner edge semantics (scan.go:51-90 + bufio.Scanner contract) ---

  test("octet count token that is not a valid int aborts, keeping prior frames") {
    // "1a" is digit-leading but Atoi fails → the reference Scanner errors out
    assert(frames("5 hello1a b rest") == Seq("hello"))
    // 19 digits overflow Go's int64 Atoi the same way
    assert(frames("9999999999999999999 x") == Seq.empty)
  }

  test("incomplete octet frame at end of stream is dropped") {
    assert(frames("5 hell") == Seq.empty)
    assert(frames("5 hello7 incomp") == Seq("hello"))
    assert(frames("12") == Seq.empty) // digits, no space before EOF
  }

  test("one-byte tail drops in rfc6587 mode but frames in delimiter mode") {
    assert(frames("5 helloX") == Seq("hello"))
    assert(frames("hello\nX", rfc6587 = false) == Seq("hello", "X"))
  }

  test("zero-count octet frame emits an empty string") {
    assert(frames("0 5 hello") == Seq("", "hello"))
  }

  test("octet frames may contain the delimiter; modes alternate per frame") {
    assert(frames("14 <9> message \n0<6> msg 1\n14 <3> message \n2") ==
      Seq("<9> message \n0", "<6> msg 1", "<3> message \n2"))
  }

  test("frame_split composes with parse_syslog over a reassembled stream") {
    val octetMsg = "<34>1 2026-01-02T03:04:05Z h a - - - hi"
    val stream = s"${octetMsg.length} $octetMsg" +
      "<13>Feb  5 17:32:18 host up\n"
    // octet-counted 5424 frame then a non-transparent classic line
    val out = Seq(stream).toDF("s")
      .select(posexplode(graft.functions.frame_split(col("s"))))
      .select(graft.functions.parse_syslog(col("col")).as("p"))
      .select(col("p.priority"), col("p.hostname"), col("p.valid"))
      .collect()
    assert(out.length == 2)
    assert(out(0).getInt(0) == 34 && out(0).getString(1) == "h" &&
      out(0).getBoolean(2))
    assert(out(1).getInt(0) == 13 && out(1).getString(1) == "host" &&
      out(1).getBoolean(2))
  }
}
