package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/** Dissect tokenizer spec: behavior cases for every modifier plus a table
  * of cases written from the public dissect syntax (test resource
  * `graft/dissect_syntax.json`), replayed through the map kernel. */
class DissectSpec extends SparkSpec {
  import spark.implicits._

  private def run(pattern: String, msg: String): Row = {
    val df = Seq(msg).toDF("t").select(dissect(col("t"), pattern).as("d"))
    df.collect()(0)
  }
  private def fields(pattern: String, msg: String): Row =
    run(pattern, msg).getStruct(0)

  /** direct kernel evaluation of the map variant (string-map semantics). */
  private def runMap(pattern: String, msg: String): Map[String, String] = {
    val m = Dissect.compile(pattern).runMap(UTF8String.fromString(msg))
    if (m == null) null
    else {
      val ks = m.keyArray; val vs = m.valueArray
      (0 until m.numElements).map(i =>
        ks.getUTF8String(i).toString -> vs.getUTF8String(i).toString).toMap
    }
  }

  test("simple space-delimited capture") {
    val r = fields("%{a} %{b} %{c}", "one two three")
    assert(r.getAs[String]("a") == "one")
    assert(r.getAs[String]("b") == "two")
    assert(r.getAs[String]("c") == "three")
  }

  test("literal prefix and mixed delimiters") {
    val r = fields("lvl=%{level} [%{thread}] msg=%{msg}", "lvl=INFO [t-1] msg=hello world")
    assert(r.getAs[String]("level") == "INFO")
    assert(r.getAs[String]("thread") == "t-1")
    assert(r.getAs[String]("msg") == "hello world") // last field takes rest
  }

  test("skip fields %{} and %{?name} are not emitted") {
    val r = fields("%{} %{?skipme} %{keep}", "a b c")
    assert(r.schema.fieldNames.toSeq == Seq("keep"))
    assert(r.getAs[String]("keep") == "c")
  }

  test("append %{+key} joins with the intervening delimiter") {
    val r = fields("%{+date} %{+date} %{rest}", "2024-01-01 00:00:00 x")
    assert(r.getAs[String]("date") == "2024-01-01 00:00:00")
    assert(r.getAs[String]("rest") == "x")
  }

  test("append with explicit order %{+key/n} (join = appended part's previous delim, default ' ')") {
    val r = fields("%{+name/2}-%{+name/1}", "world-hello")
    // part ordered 1 applies first ("hello"); part ordered 2 ("world") has no
    // preceding delimiter in the pattern → default " " join (field.go:230-235)
    assert(r.getAs[String]("name") == "hello world")
  }

  test("greedy %{key->} consumes repeated delimiters") {
    val r = fields("%{a->} %{b}", "one     two")
    assert(r.getAs[String]("a") == "one")
    assert(r.getAs[String]("b") == "two")
  }

  test("greedy is discarded on skip/pointer/indirect fields (field.go:263-278)") {
    // the reference's named-skip/pointer/indirect constructors never receive
    // the greedy flag — only normal/append fields pad-strip. With %{?pad->}
    // the padding stays part of the following capture.
    val m = runMap("%{?pad->} %{b}", "a   b")
    assert(m("b") == "  b")
    // same pattern with a NORMAL field does strip the padding
    val r = fields("%{pad->} %{b}", "a   b")
    assert(r.getAs[String]("b") == "b")
  }

  test("fixed length %{key#n} consumes exactly n bytes, no delimiter") {
    val r = fields("%{cls#1}%{month#2}%{day#2}", "A0118")
    assert(r.getAs[String]("cls") == "A")
    assert(r.getAs[String]("month") == "01")
    assert(r.getAs[String]("day") == "18")
    // trailing remainder after final fixed-length key → fail (dissect.go:171)
    assert(run("%{cls#1}%{month#2}%{day#2}", "A0118 ").isNullAt(0))
    // not enough input → fail
    assert(run("%{key#10}", "foobar").isNullAt(0))
  }

  test("indirect %{?key} %{&key} emits under the captured name (map variant)") {
    assert(runMap("%{?key} %{&key}", "hello world") == Map("hello" -> "world"))
    assert(runMap("%{*key} %{&key}", "hello world") == Map("hello" -> "world"))
    // struct variant rejects dynamic keys at plan time
    intercept[IllegalArgumentException] {
      Seq("x").toDF("t").select(dissect(col("t"), "%{?k} %{&k}"))
    }
  }

  test("trim modes (trim.go:60-70)") {
    val c = Dissect.compile("%{a},%{b}", Dissect.TrimAll, " \t")
    val m = c.runMap(UTF8String.fromString("  one\t, two  "))
    val ks = m.keyArray; val vs = m.valueArray
    val got = (0 until m.numElements).map(i =>
      ks.getUTF8String(i).toString -> vs.getUTF8String(i).toString).toMap
    assert(got == Map("a" -> "one", "b" -> "two"))
  }

  test("trim modes on the struct path (trim.go via DissectExpr)") {
    val df = Seq("  one\t, two  ", "x,y").toDF("t")
      .select(dissect(col("t"), "%{a},%{b}", Dissect.TrimAll, " \t").as("d"))
      .select(col("d.a"), col("d.b")).collect()
    assert(df(0).getString(0) == "one" && df(0).getString(1) == "two")
    assert(df(1).getString(0) == "x" && df(1).getString(1) == "y")
    // left/right-only variants
    val lr = Seq(" a , b ").toDF("t").select(
      dissect(col("t"), "%{x},%{y}", Dissect.TrimLeft).as("l"),
      dissect(col("t"), "%{x},%{y}", Dissect.TrimRight).as("r")).head()
    assert(lr.getStruct(0).getString(0) == "a " && lr.getStruct(0).getString(1) == "b ")
    assert(lr.getStruct(1).getString(0) == " a" && lr.getStruct(1).getString(1) == " b")
  }

  test("struct path trims before typed conversion") {
    val r = Seq(" 7 , 2.5 ").toDF("t")
      .select(dissect(col("t"), "%{n|integer},%{d|double}", Dissect.TrimAll).as("s"))
      .select(col("s.n"), col("s.d")).head()
    assert(r.getInt(0) == 7 && r.getDouble(1) == 2.5)
  }

  test("type conversion %{key|integer} / long / double / boolean / ip") {
    val r = fields("%{n|integer} %{l|long} %{d|double} %{b|boolean} %{i|ip}",
      "7 0x1F 2.5 true 10.1.2.3")
    assert(r.getAs[Int]("n") == 7)
    assert(r.getAs[Long]("l") == 31L) // 0x-prefix hex (dissect.go:241-248)
    assert(r.getAs[Double]("d") == 2.5)
    assert(r.getAs[Boolean]("b"))
    assert(r.getAs[String]("i") == "10.1.2.3")
  }

  test("unparseable typed value → null field, row survives") {
    val r = fields("%{n|integer} %{rest}", "abc def")
    assert(r.isNullAt(r.fieldIndex("n")))
    assert(r.getAs[String]("rest") == "def")
    val r2 = fields("%{i|ip} %{rest}", "999.1.2.3 x")
    assert(r2.isNullAt(r2.fieldIndex("i")))
  }

  test("delimiter miss → null struct (dissect_parsing_error analogue)") {
    assert(run("%{a}:%{b}", "no colon here").isNullAt(0))
  }

  test("prefix miss → null struct") {
    assert(run("LOG %{a}", "NOT a log").isNullAt(0))
  }

  test("config errors fail at plan time (field.go:237-279, validate.go)") {
    intercept[IllegalArgumentException] { Dissect.compile("%{a") } // unbalanced
    intercept[IllegalArgumentException] { Dissect.compile("no fields") }
    // unknown / missing type suffix must NOT silently fall through to string
    intercept[IllegalArgumentException] { Dissect.compile("%{a|int} %{b}") }
    intercept[IllegalArgumentException] { Dissect.compile("%{a|} %{b}") }
    intercept[IllegalArgumentException] { Dissect.compile("%{&+a} %{b}") }
    intercept[IllegalArgumentException] { Dissect.compile("%{+&a} %{b}") }
    // indirect without its ?/* reference
    intercept[IllegalArgumentException] { Dissect.compile("%{x} %{&nope}") }
  }

  // --- the dissect syntax table (test resource graft/dissect_syntax.json) --

  test("dissect syntax table replays (27+ cases)") {
    val in = getClass.getResourceAsStream("/graft/dissect_syntax.json")
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in).get("cases")
      finally in.close()
    assert(root.isArray && root.size() >= 27)
    var ran = 0
    root.forEach { c =>
      val name = c.get("name").asText()
      val tok = c.get("tok").asText()
      val msg = c.get("msg").asText()
      val skip = c.path("skip").asBoolean(false)
      val fail = c.path("fail").asBoolean(false)
      if (!skip) {
        ran += 1
        val got = runMap(tok, msg)
        if (fail) assert(got == null, s"[$name] expected parse failure, got $got")
        else {
          val exp = c.get("expected")
          val expected = scala.collection.mutable.Map.empty[String, String]
          exp.fields().forEachRemaining(e => expected(e.getKey) = e.getValue.asText())
          assert(got == expected.toMap, s"[$name] got $got expected $expected")
        }
      }
    }
    assert(ran >= 25)
  }
}
