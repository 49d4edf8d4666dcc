package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import graft.functions._

/** Golden tests for the serverlog parse expression — case shapes mirror the
  * reference's table-driven parser tests
  * (libbeat/processors/parse_serverlog/parser_test.go), authored fresh. */
class ServerlogParseSpec extends SparkSpec {
  import spark.implicits._

  private def parseOne(line: String): Row = {
    val df = Seq(line).toDF("text").select(serverlog_parse(col("text")).as("p"))
    df.select("p.*").collect()(0)
  }

  private val okLine =
    "2024-01-01 00:16:06.738 svc-view host-2 info [t-1] com.example.Cls1 run6 [41] [t00001271] [s41] evt=view id=41"

  test("ok line extracts all positional fields") {
    val r = parseOne(okLine)
    assert(r.getAs[String]("status") == "ok")
    assert(r.getAs[String]("logtime") == "2024-01-01 00:16:06.738")
    assert(r.getAs[String]("service") == "svc-view")
    assert(r.getAs[String]("hostname") == "host-2")
    assert(r.getAs[String]("level") == "INFO")
    assert(r.getAs[String]("thread") == "t-1")
    assert(r.getAs[String]("class") == "com.example.Cls1")
    assert(r.getAs[String]("method") == "run6")
    assert(r.getAs[Long]("line") == 41L)
    assert(r.getAs[String]("trace_id") == "t00001271")
    assert(r.getAs[String]("span_id") == "s41")
    assert(r.getAs[String]("message") == null) // no ##JIDU## marker
  }

  test("service name comma is stripped once (parser.go:105)") {
    val r = parseOne(okLine.replace(" svc-view ", " svc-view, "))
    assert(r.getAs[String]("service") == "svc-view")
    assert(r.getAs[String]("status") == "ok")
  }

  test("short line (<11 items) passes through with status=short") {
    val r = parseOne("2024-01-01 00:16:06.738 short line only")
    assert(r.getAs[String]("status") == "short")
    assert(r.getAs[String]("logtime") == "2024-01-01 00:16:06.738")
    assert(r.getAs[String]("service") == null)
  }

  test("invalid service name → bad_service (dropped by reference)") {
    val r = parseOne(okLine.replace(" svc-view ", " Svc-view "))
    assert(r.getAs[String]("status") == "bad_service")
    assert(r.getAs[String]("hostname") == null)
  }

  test("benchmark trace id ^00000000[1-9a-f] short-circuits extraction") {
    val r = parseOne(okLine.replace("[t00001271]", "[000000001a042]"))
    assert(r.getAs[String]("status") == "benchmark")
    assert(r.getAs[String]("service") == "svc-view") // set before the check
    assert(r.getAs[String]("trace_id") == null)
  }

  test("all-zero trace id is NOT benchmark (9th char must be 1-9a-f)") {
    val r = parseOne(okLine.replace("[t00001271]", "[000000000x]"))
    assert(r.getAs[String]("status") == "ok")
    assert(r.getAs[String]("trace_id") == "000000000x")
  }

  test("##JIDU## envelope: message suffix + extra map merge (parser.go:138-151)") {
    val r = parseOne(okLine + " ##JIDU##{\"extra_k\": \"v7\", \"n\": 3}##JIDU##")
    assert(r.getAs[String]("status") == "ok")
    assert(r.getAs[String]("message").startsWith("##JIDU##{"))
    val extra = r.getAs[Map[String, String]]("extra")
    assert(extra("extra_k") == "v7")
    assert(extra("n") == "3") // non-text JSON values stringified
  }

  test("malformed embedded JSON leaves extra null, row still ok (json_error)") {
    val r = parseOne(okLine + " ##JIDU##{not json}##JIDU##")
    assert(r.getAs[String]("status") == "ok")
    assert(r.getAs[Map[String, String]]("extra") == null)
  }

  test("raw control characters in the embedded JSON are a json_error, escaped ones parse") {
    // RFC 8259 §7: U+0000–U+001F must be escaped inside a string
    for (json <- Seq("{\"k\": \"a\tb\"}", "{\"k\nx\": \"v\"}")) {
      val r = parseOne(okLine + s" ##JIDU##$json##JIDU##")
      assert(r.getAs[String]("status") == "ok")
      assert(r.getAs[Map[String, String]]("extra") == null, json)
    }
    val escaped = parseOne(okLine + " ##JIDU##{\"k\": \"a\\tb\"}##JIDU##")
    assert(escaped.getAs[Map[String, String]]("extra") == Map("k" -> "a\tb"))
  }

  test("non-numeric line number → fields withheld (script_error path)") {
    val r = parseOne(okLine.replace("[41]", "[x41]"))
    assert(r.getAs[String]("status") == "ok")
    assert(r.isNullAt(r.fieldIndex("line")))
    assert(r.getAs[String]("hostname") == null)
    // the event is KEPT and tagged, like the reference's script_error field
    // (parser.go:117-119) — the dead-letter taxonomy must see this case
    assert(r.getAs[String]("script_error") == "line_parse_error")
  }

  test("well-formed line carries no script_error") {
    assert(parseOne(okLine).getAs[String]("script_error") == null)
  }

  test("line number overflow is a script_error, not wrapped garbage") {
    // 19 digits > Long.MaxValue would silently wrap with an unchecked fold;
    // Go strconv errors (ErrRange) → the reference tags script_error
    val r = parseOne(okLine.replace("[41]", "[9999999999999999999]"))
    assert(r.getAs[String]("status") == "ok")
    assert(r.isNullAt(r.fieldIndex("line")))
    assert(r.getAs[String]("script_error") == "line_parse_error")
    // boundary values still parse
    val max = parseOne(okLine.replace("[41]", "[9223372036854775807]"))
    assert(max.getAs[Long]("line") == Long.MaxValue)
    val min = parseOne(okLine.replace("[41]", "[-9223372036854775808]"))
    assert(min.getAs[Long]("line") == Long.MinValue)
  }

  test("null input → null struct") {
    val df = Seq[String](null).toDF("text").select(serverlog_parse(col("text")).as("p"))
    assert(df.collect()(0).isNullAt(0))
  }

  test("interpreted eval and codegen agree") {
    val df = Seq(okLine, "2024-01-01 00:16:06.738 short line only").toDF("text")
    val viaCodegen = codegenParity("serverlog_parse") {
      df.select(serverlog_parse(col("text")).as("p")).select("p.status")
    }
    assert(viaCodegen == Seq("[ok]", "[short]"))
  }
}

/** serverlog_status (the router's allocation-free fast path) must make the
  * identical decision as the full parse for EVERY input. */
class ServerlogStatusSpec extends SparkSpec {
  import spark.implicits._

  test("status fast path agrees with parse().status on the full corpus") {
    val t = graft.sources.Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val diff = t
      .select(
        col("text"),
        serverlog_parse(col("text")).getField("status").as("slow"),
        serverlog_status(col("text")).as("fast"))
      .filter(col("slow") =!= col("fast"))
    assert(diff.count() == 0, diff.select("text", "slow", "fast").take(3).mkString("\n"))
  }

  test("status fast path agrees on adversarial hand-built lines") {
    val cases = Seq(
      "",                                  // empty
      "a b",                               // very short
      "x " * 15,                           // many items, service 'x' too short
      "2024 b Svc-bad h i [t] c m [1] [t123] [s1] rest",      // uppercase svc
      "2024 b svc-ok, h i [t] c m [1] [000000001a] [s1] rest", // benchmark
      "2024 b svc-ok h i [t] c m [1] [0000000099] [s1] rest",  // benchmark 9
      "2024 b svc-ok h i [t] c m [1] [00000000zz] [s1] rest",  // not benchmark
      "2024 b ,sv h i [t] c m [1] [x] [s1] rest",              // comma first
      "2024 b s, h i [t] c m [1] [x] [s1] rest",               // too short after strip
      "2024 b svc-ok h i [t] c m [1] [] [s1] rest",            // empty trace
      "2024 b svc-ok h i [t] c m [1] x [s1] rest"              // unbracketed trace
    )
    val diff = cases.toDF("text")
      .select(col("text"),
        serverlog_parse(col("text")).getField("status").as("slow"),
        serverlog_status(col("text")).as("fast"))
      .filter(col("slow") =!= col("fast"))
    assert(diff.count() == 0, diff.collect().mkString("\n"))
  }
}
