package graft

import org.apache.spark.sql.functions._

import graft.operators.Actions
import graft.pipeline.TranscriptPipeline
import graft.sources.Transcripts

class ActionsSpec extends SparkSpec {
  import spark.implicits._

  lazy val t = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")

  test("sessionize: one row per conv, turns joined in turn_idx order") {
    val sess = Actions.sessionize(t)
    assert(sess.count() == t.select("conv_id").distinct().count())
    // per-turn ordering: session_text of a conv == texts sorted by turn_idx
    val conv = t.select("conv_id").as[String].head()
    val expect = t.filter(col("conv_id") === conv)
      .orderBy("turn_idx").select("text").as[String].collect().mkString("\n")
    val got = sess.filter(col("conv_id") === conv)
      .select("session_text").as[String].head()
    assert(got == expect)
  }

  test("rateLimit: kept ≤ limit, kept+dropped == group size") {
    val rl = Actions.rateLimitCounts(t, "conv_id", "turn_idx", 5)
    val sizes = t.groupBy("conv_id").count()
    val joined = rl.join(sizes, "conv_id")
      .filter(col("kept") > 5 || col("kept") + col("dropped") =!= col("count"))
    assert(joined.count() == 0)
  }

  test("kafkaPartition: stable, in range, all partitions used") {
    val parts = t.select(Actions.kafkaPartition(col("conv_id"), 16).as("p"))
      .distinct().as[Int].collect().toSet
    assert(parts.forall(p => p >= 0 && p < 16))
    assert(parts.size > 8, s"suspiciously few partitions hit: $parts")
  }

  test("dissect agrees with the serverlog parser on well-formed rows") {
    val pattern = "%{date} %{time} %{service} %{host} %{level} [%{thread}] " +
      "%{class} %{method} [%{line|integer}] [%{trace}] [%{span}] %{body}"
    val both = TranscriptPipeline.parse(t)
      .withColumn("_d", graft.functions.dissect(col("text"), pattern))
      .filter(col("status") === "ok")
    // serverlog strips one trailing comma from service and uppercases level;
    // dissect is purely positional — normalize before comparing
    val diff = both.filter(
      col("_d").isNull ||
        col("_d.host") =!= col("hostname") ||
        upper(col("_d.level")) =!= col("level") ||
        col("_d.thread") =!= col("thread") ||
        col("_d.class") =!= col("class") ||
        col("_d.method") =!= col("method") ||
        col("_d.line").cast("long") =!= col("line") ||
        col("_d.trace") =!= col("trace_id") ||
        col("_d.span") =!= col("span_id") ||
        regexp_replace(col("_d.service"), ",$", "") =!= col("service"))
    assert(diff.count() == 0, diff.select("text").take(3).mkString("\n"))
  }

  test("timestamp multi-format parse picks first matching layout") {
    val df = Seq("2024-01-02 03:04:05", "2024/01/02 03:04:05", "nope").toDF("s")
    val parsed = df.select(Actions.parseTimestamp(col("s"),
      Seq("yyyy-MM-dd HH:mm:ss", "yyyy/MM/dd HH:mm:ss")).as("ts"))
    assert(parsed.filter(col("ts").isNotNull).count() == 2)
  }

  test("decodeBase64 round-trips text") {
    val df = Seq("hello graft", "ünïcödé").toDF("s")
    val bad = df.withColumn("rt", Actions.decodeBase64(base64(col("s").cast("binary"))))
      .filter(col("rt") =!= col("s"))
    assert(bad.count() == 0)
  }

  test("multiline fold: continuation lines append to the previous event") {
    val df = Seq(
      ("c1", 0, "START a"), ("c1", 1, "  cont1"), ("c1", 2, "  cont2"),
      ("c1", 3, "START b"), ("c2", 0, "  orphan"), ("c2", 1, "START c")
    ).toDF("conv_id", "turn_idx", "text")
    val out = Actions.multilineFold(df, "^START")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(3), r.getString(4))).toMap
    // event_idx is the 1-based boundary count: a leading continuation line
    // opens event 1 (the reference starts its first buffer with whatever
    // line arrives first, pattern.go:131-140)
    assert(out(("c1", 1)) == ((3L, "START a\n  cont1\n  cont2")))
    assert(out(("c1", 2)) == ((1L, "START b")))
    assert(out(("c2", 1)) == ((1L, "  orphan")))   // leading continuation
    assert(out(("c2", 2)) == ((1L, "START c")))
    // totality: line counts add back up to the input
    assert(out.values.map(_._1).sum == 6L)
  }

  test("multiline match:before — previous line signals continuation") {
    val df = Seq(
      ("c1", 0, "a \\"), ("c1", 1, "b \\"), ("c1", 2, "c"),
      ("c1", 3, "d"), ("c1", 4, "e \\"), ("c1", 5, "f")
    ).toDF("conv_id", "turn_idx", "text")
    val out = Actions.multilinePattern(df, "\\\\$", matchMode = "before")
      .collect().map(r => r.getInt(1) -> r.getString(4)).toMap
    assert(out(1) == "a \\\nb \\\nc")
    assert(out(2) == "d")
    assert(out(3) == "e \\\nf")
  }

  test("multiline flush_pattern ends the event inclusively") {
    val df = Seq(
      ("c1", 0, "begin"), ("c1", 1, "mid"), ("c1", 2, "END"),
      ("c1", 3, "next"), ("c1", 4, "END")
    ).toDF("conv_id", "turn_idx", "text")
    // after+negate with a start pattern that never matches → everything would
    // fold into one event; flush_pattern splits at END lines (inclusive)
    val out = Actions.multilinePattern(df, "^NEVER", negate = true,
      matchMode = "after", flushPattern = Some("^END$"))
      .collect().map(r => r.getInt(1) -> r.getString(4)).toMap
    assert(out(1) == "begin\nmid\nEND")
    assert(out(2) == "next\nEND")
  }

  test("multiline max_lines truncates event text, keeps grouping and counts") {
    val df = Seq(
      ("c1", 0, "START"), ("c1", 1, "l1"), ("c1", 2, "l2"), ("c1", 3, "l3")
    ).toDF("conv_id", "turn_idx", "text")
    val out = Actions.multilinePattern(df, "^START", negate = true,
      matchMode = "after", maxLines = 2).collect()
    assert(out.length == 1)
    assert(out(0).getLong(3) == 4L)                 // n_lines counts all
    assert(out(0).getString(4) == "START\nl1")      // text truncated to 2
  }

  test("multiline count mode groups fixed-size blocks per conv") {
    val df = (0 until 7).map(i => ("c1", i, s"l$i")).toDF("conv_id", "turn_idx", "text")
    val out = Actions.multilineCount(df, 3)
      .collect().map(r => r.getInt(1) -> (r.getLong(3), r.getString(4))).toMap
    assert(out(0) == ((3L, "l0\nl1\nl2")))
    assert(out(1) == ((3L, "l3\nl4\nl5")))
    assert(out(2) == ((1L, "l6")))
  }

  test("go layout translation covers the Beats layout vocabulary") {
    assert(Actions.goLayoutToPattern("2006-01-02 15:04:05") == "yyyy-MM-dd HH:mm:ss")
    // Go parse semantics: a .999 fraction is elidable AND length-flexible
    // (stdFracSecond9: maximal digit run) → optional 9-'S' section, which
    // Spark parses as 1-9 fraction digits
    assert(Actions.goLayoutToPattern("2006-01-02T15:04:05.999") == "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]")
    assert(Actions.goLayoutToPattern("2006-01-02 15:04:05.000") == "yyyy-MM-dd HH:mm:ss.SSS")
    assert(Actions.goLayoutToPattern("02/Jan/2006 03:04 PM") == "dd/MMM/yyyy hh:mm a")
    val df = Seq("2024-01-02 03:04:05", "02/Jan/2024 03:04 PM", "junk").toDF("s")
    val parsed = df.select(Actions.parseTimestampGoLayouts(col("s"),
      Seq("2006-01-02 15:04:05", "02/Jan/2006 03:04 PM")).as("ts"))
    assert(parsed.filter(col("ts").isNotNull).count() == 2)
    // .999 layout accepts BOTH fraction-carrying and whole-second inputs
    // (Go time.Parse does; a required .SSS would null every whole-second row)
    val frac = Seq("2024-01-02 03:04:05.123", "2024-01-02 03:04:05").toDF("s")
      .select(Actions.parseTimestampGoLayouts(col("s"),
        Seq("2006-01-02 15:04:05.999")).as("ts"))
    assert(frac.filter(col("ts").isNotNull).count() == 2)
    // length-flexible: a .999 layout parses micro- and nanosecond inputs
    // (Go accepts any fraction length; the old fixed-width mapping nulled
    // everything but exactly 3 digits)
    val lens = Seq("2024-01-02 03:04:05.1", "2024-01-02 03:04:05.123456",
        "2024-01-02 03:04:05.123456789").toDF("s")
      .select(Actions.parseTimestampGoLayouts(col("s"),
        Seq("2006-01-02 15:04:05.999")).as("ts"))
    assert(lens.filter(col("ts").isNotNull).count() == 3)
    assert(lens.select(date_format(col("ts"), "SSSSSS")).as[String].collect()
      .toSeq == Seq("100000", "123456", "123456")) // micros kept (ns truncated)
    // adjacent literal letters share ONE quote pair — per-letter quoting
    // emitted 'U''T''C', which the Java formatter reads as an escaped quote
    // (literal U'T'C) and which therefore nulled every row of the layout
    assert(Actions.goLayoutToPattern("2006-01-02 15:04:05 UTC") ==
      "yyyy-MM-dd HH:mm:ss 'UTC'")
    val utc = Seq("2024-01-02 03:04:05 UTC", "junk").toDF("s")
      .select(Actions.parseTimestampGoLayouts(col("s"),
        Seq("2006-01-02 15:04:05 UTC")).as("ts"))
    assert(utc.filter(col("ts").isNotNull).count() == 1)
    // a literal run still stops where a vocabulary token starts
    assert(Actions.goLayoutToPattern("atJan") == "'at'MMM")
  }

  test("hardening: charset set, null tags, null fingerprint fields, ECS keep-prior") {
    // decodeCharset rejects JVM charsets Spark's decode() cannot execute —
    // at PLAN time, not as a per-task runtime failure
    intercept[IllegalArgumentException] {
      Actions.decodeCharset(col("b"), "windows-1252")
    }
    Actions.decodeCharset(col("b"), "utf8") // alias canonicalizes, supported
    // a null tag set initializes to the added tags (the reference CREATES
    // the list when the field is missing) instead of null-propagating
    val nulled = Seq((1, null: Array[String])).toDF("id", "tags")
      .select(Actions.addTags(col("tags"), Seq("b", "a")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(nulled == Seq("a", "b"))
    // null fields fingerprint distinctly from absent fields — concat_ws
    // alone would hash (a, null, c) and (a, c) identically
    val fp = Seq(("a", null: String, "c")).toDF("x", "y", "z")
      .select(Actions.fingerprint(Seq(col("x"), col("y"), col("z"))).as("h1"),
        Actions.fingerprint(Seq(col("x"), col("z"))).as("h2")).collect()(0)
    assert(fp.getString(0) != fp.getString(1))
    // a failed wineventlog decode keeps EVERY pre-existing ECS column, not
    // just message (the reference returns before writing any field on error)
    val prior = Seq(("not xml", "keep-me", "warn")).toDF("xml", "host_name", "log_level")
    val kept = Actions.decodeXmlWineventlog(prior, "xml")
      .select("host_name", "log_level").collect()(0)
    assert(kept.getString(0) == "keep-me" && kept.getString(1) == "warn")
  }

  test("kafka round_robin rotates through partitions per group") {
    val df = (0 until 10).map(i => ("k1", i)).toDF("key", "seq")
    val parts = Actions.kafkaPartitionRoundRobin(df, "key", "seq", 4)
      .orderBy("seq").select("part_id").as[Int].collect().toSeq
    assert(parts == Seq(0, 1, 2, 3, 0, 1, 2, 3, 0, 1))
  }

  test("addLabels flattens nested maps and arrays under labels.") {
    val df = Seq(1).toDF("x")
    val out = Actions.addLabels(df, Map(
      "env" -> "prod", "nested" -> Map("a" -> 1), "arr" -> Seq("u", "v")))
    val cols = out.columns.toSet
    assert(cols.contains("labels.env") && cols.contains("labels.nested.a"))
    assert(cols.contains("labels.arr.0") && cols.contains("labels.arr.1"))
    val r = out.select(col("`labels.nested.a`"), col("`labels.arr.1`")).head()
    assert(r.getInt(0) == 1 && r.getString(1) == "v")
  }

  test("truncateFieldBytes caps bytes without splitting code points") {
    val df = Seq("héllo").toDF("s") // h=1B, é=2B, l,l,o
    val out = df.select(
      Actions.truncateFieldBytes(col("s"), 2).as("t2"),  // é would split → back off
      Actions.truncateFieldBytes(col("s"), 3).as("t3"),
      Actions.truncateFieldBytes(col("s"), 99).as("tall")).head()
    assert(out.getString(0) == "h")
    assert(out.getString(1) == "hé")
    assert(out.getString(2) == "héllo")
  }

  test("unwrapEnvelope extracts contents.content, tags and time; null on junk") {
    val df = Seq(
      """{"contents": {"content": "the line"}, "tags": ["a","b"], "time": "t1"}""",
      "not json").toDF("envelope")
    val out = Actions.unwrapEnvelope(df)
      .select("content", "source_time").collect()
    assert(out(0).getString(0) == "the line" && out(0).getString(1) == "t1")
    assert(out(1).isNullAt(0))
  }

  test("processor chain applies in config order, global before client") {
    import org.apache.spark.sql.DataFrame
    val df = Seq("evt=click abcdef").toDF("text")
    val global: DataFrame => DataFrame =
      d => d.withColumn("text", Actions.replaceField(col("text"), "evt=", "event="))
    val client: DataFrame => DataFrame =
      d => d.withColumn("text", Actions.truncateField(col("text"), 9))
    // global-then-client: replace first, then truncate the REPLACED text
    val ordered = Actions.chain(df, Seq(global, client))
      .select("text").as[String].head()
    assert(ordered == "event=cli")
    // the reverse order yields a different result — order is semantic
    val reversed = Actions.chain(df, Seq(client, global))
      .select("text").as[String].head()
    assert(reversed == "event=click")
  }

  test("decode_xml_map: nesting, repeated-element lists, attributes, mixed text") {
    import graft.functions.decode_xml_map
    val xml =
      """<order id="7"><item>a</item><item>b</item>
        |<ship><city>Oslo</city>note</ship></order>""".stripMargin.replace("\n", "")
    val rows = Seq(xml, "<bad", "<ok>x</ok>").toDF("x")
      .select(decode_xml_map(col("x")).as("m")).collect()
    val m = rows(0).getMap[String, String](0)
    assert(m("order.id") == "7")
    assert(m("order.item.0") == "a" && m("order.item.1") == "b")
    assert(m("order.ship.city") == "Oslo")
    assert(m("order.ship.#text") == "note")
    assert(rows(1).isNullAt(0)) // malformed → null (dead-letter)
    assert(rows(2).getMap[String, String](0)("ok") == "x")
    // to_lower option (decode_xml config)
    val lower = Seq("<A><B>v</B></A>").toDF("x")
      .select(decode_xml_map(col("x"), toLower = true).as("m"))
      .collect()(0).getMap[String, String](0)
    assert(lower("a.b") == "v")
    // attribute vs same-named child: attribute wins (reference addAttributes
    // overwrites at EndElement, decode.go:104-110) and keys stay UNIQUE
    val clash = Seq("""<a x="attr"><x>child</x><y>k</y></a>""").toDF("x")
      .select(decode_xml_map(col("x")).as("m")).collect()(0).getMap[String, String](0)
    assert(clash("a.x") == "attr" && clash("a.y") == "k")
    assert(clash.keys.toSeq.distinct.size == clash.keys.size)
    // DTDs are rejected, not resolved (no XXE surface)
    val dtd = Seq("""<!DOCTYPE foo [<!ENTITY x SYSTEM "file:///etc/passwd">]><foo>&x;</foo>""")
      .toDF("x").select(decode_xml_map(col("x")).as("m")).collect()(0)
    assert(dtd.isNullAt(0))
  }

  test("decode_xml_map case table: entries in order, both to_lower settings") {
    import graft.functions.decode_xml_map
    import scala.jdk.CollectionConverters._
    val in = getClass.getResourceAsStream("/graft/decode_xml_map.json")
    val cases =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in).get("cases")
      finally in.close()
    assert(cases.size() >= 40, s"only ${cases.size()} cases")
    val all = cases.elements().asScala.toSeq
    // null in the table = a null map (malformed input)
    def want(j: com.fasterxml.jackson.databind.JsonNode): Seq[(String, String)] =
      if (j.isNull) null else j.elements().asScala.map(e => (e.get(0).asText(), e.get(1).asText())).toSeq
    // map_entries keeps the map's entry order
    val rows = all.map(_.get("xml").asText()).toDF("x")
      .select(map_entries(decode_xml_map(col("x"))),
        map_entries(decode_xml_map(col("x"), toLower = true))).collect()
    for ((c, r) <- all.zip(rows); (key, i) <- Seq("map" -> 0, "map_lower" -> 1)) {
      val got =
        if (r.isNullAt(i)) null
        else r.getSeq[org.apache.spark.sql.Row](i).map(e => (e.getString(0), e.getString(1)))
      assert(got == want(c.get(key)), s"$key [${c.get("name").asText()}]")
    }
  }

  test("one XML reader: local names under any prefix; a DOCTYPE or a leading BOM is malformed") {
    import graft.functions.{WinEventLogKernel, XmlKernel}
    val event = "<e:Event><e:System><e:EventID>4672</e:EventID>" +
      "<e:Channel>Security</e:Channel></e:System></e:Event>"
    // an undeclared prefix is no error (as in Go encoding/xml): the
    // wineventlog decoder matches local names, decode_xml_map keeps the
    // qualified ones
    val r = WinEventLogKernel.decode(event)
    assert(r != null && r.getUTF8String(0).toString == "Security" &&
      r.getUTF8String(1).toString == "4672")
    assert(XmlKernel.toFlatMap(event, false) ==
      Seq("e:Event.e:System.e:EventID" -> "4672", "e:Event.e:System.e:Channel" -> "Security"))
    for (bad <- Seq("<!DOCTYPE Event>" + event, "\uFEFF" + event)) {
      assert(WinEventLogKernel.decode(bad) == null, bad)
      assert(XmlKernel.toFlatMap(bad, false) == null, bad)
    }
  }

  test("urldecode round-trips percent-encoding") {
    val df = Seq("a%20b%2Fc", "plain").toDF("s")
      .select(Actions.urlDecode(col("s")).as("d")).as[String].collect()
    assert(df.toSeq == Seq("a b/c", "plain"))
  }

  test("decodeCsv handles quoted fields with embedded commas") {
    val r = Seq("""alpha,"b,eta",42""").toDF("s")
      .select(Actions.decodeCsv(col("s"), Seq("a", "b", "c")).as("p"))
      .select("p.*").collect()(0)
    assert(r.getString(0) == "alpha" && r.getString(1) == "b,eta" && r.getString(2) == "42")
  }

  test("extractArray maps 0-based indices to named columns, null past end") {
    val df = Seq(Seq("x", "y")).toDF("arr")
    val out = Actions.extractArray(df, "arr", Map("first" -> 0, "third" -> 2))
      .select("first", "third").collect()(0)
    assert(out.getString(0) == "x" && out.isNullAt(1))
  }

  test("fingerprint methods: digest_hex parity with Spark built-ins; xxhash; bad method rejected") {
    import graft.functions.digest_hex
    val df = Seq("alpha", "", "héllo—wörld").toDF("s")
    val r = df.select(
      digest_hex(col("s"), "MD5").as("m"), md5(col("s")).as("m2"),
      digest_hex(col("s"), "SHA-1").as("s1"), sha1(col("s")).as("s12"),
      digest_hex(col("s"), "SHA-256").as("s2"), sha2(col("s"), 256).as("s22"),
      digest_hex(col("s"), "SHA-512").as("s5"), sha2(col("s"), 512).as("s52"),
      Actions.fingerprint(Seq(col("s")), "xxhash").as("xx")).collect()
    r.foreach { row =>
      assert(row.getString(0) == row.getString(1))
      assert(row.getString(2) == row.getString(3))
      assert(row.getString(4) == row.getString(5))
      assert(row.getString(6) == row.getString(7))
      // fixed-width digest like the reference's hex encoding of 8 bytes
      assert(row.getString(8).length == 16)
    }
    intercept[IllegalArgumentException] {
      Actions.fingerprint(Seq(col("s")), "crc32")
    }
  }

  test("fingerprint: a U+0000 value is not null, and a '|' inside a value moves no boundary") {
    val nul = Seq(("\u0000", null: String)).toDF("zero", "none")
      .select(Actions.fingerprint(Seq(col("zero"))), Actions.fingerprint(Seq(col("none"))))
      .collect()(0)
    assert(nul.getString(0) != nul.getString(1))
    val bar = Seq(("a|b", "c", "a", "b|c")).toDF("x1", "y1", "x2", "y2")
      .select(Actions.fingerprint(Seq(col("x1"), col("y1"))),
        Actions.fingerprint(Seq(col("x2"), col("y2"))))
      .collect()(0)
    assert(bar.getString(0) != bar.getString(1))
    // the hashed string, stated: byte-length-prefixed fields, `-` for null
    val fp = Seq(("é|", null: String)).toDF("a", "b")
      .select(Actions.fingerprint(Seq(col("a"), col("b"), lit(7)), "md5"),
        md5(lit("3:é|-1:7"))).collect()(0)
    assert(fp.getString(0) == fp.getString(1))
  }

  test("xxh64_hex golden table: every length 0..130 at seed 0") {
    import graft.functions.method_digest
    // lengths 0..130 reach every XXH64 branch: the empty input, the <4, <8
    // and <32-byte tails, and 32-byte stripes followed by every tail length
    val golden = Seq(
      "ef46db3751d8e999", "e934a84adb052768", "28105d394690fecb", "a83378d1eb86ec62",
      "9882e57ed36c4cfc", "a4f368ad8dec9bad", "6ded3ca98a71009d", "f0aef407b44730f8",
      "a5bc8d8944331fe7", "a2852f960c31b119", "f8abb7f5e6907fb3", "aa89eac21870476f",
      "3e242b8c1a8f2048", "e71d3e4a72a9ed7b", "461c268aed47f3ee", "fc475824c96708d2",
      "e8c3e8c0203e3080", "0b16b13252de7233", "35564b6e34415b25", "292588ab64ef235a",
      "b87a86b91db237b9", "c589358241643d07", "061c8efc37511b87", "b259e55faf0d3a25",
      "01904fb22e599680", "e04e088005d9c9d2", "12ac7836ba254bf3", "e9c471af034e0166",
      "90d50ee2d78a2cb2", "c3dede6eaba68b4a", "cc6971bdb72e8e53", "fde643635593f757",
      "534cce89aa6534b7", "2a0a8254786e20de", "e923c62e7f554458", "ad90415ac699cdf4",
      "5d8d53e0a543cd20", "5240b4bf5968a05d", "b594cfcd4d6436cd", "e61b70aa2da0e26e",
      "ac4383c8e0b2939e", "cf8185c5d6c8faf9", "936b6b4ff16e75b5", "89324df8ca34eef5",
      "9e21f764f74a73f7", "a75704f6f9ca79dd", "a99a8c60423f33dd", "6573e0d30ec2742e",
      "cb99fc8c365b4335", "40eb16ca7aaae2b3", "0f3ea3dd4b7769f1", "54432178a35d154d",
      "6d59ca22e06feb61", "20067079c0e77c83", "a2e78ac2542f319c", "0711fa777767c3f8",
      "60a4df650bc588d9", "6c053a06900892bc", "6b7c60bed4a8a72a", "6c16f81b981460f3",
      "ca65363174b90ef3", "0e61ef8a64fbeac6", "1d1964ef4ea392e8", "95116af90d48de50",
      "38e43422f942db63", "5cd7d27974a3f37b", "5b9a243718e9b34c", "0d413b317217f142",
      "edd8669f8114b785", "cf791d9131fbffbe", "165fbcd9a145fe7c", "11db4ad4b9fd58c2",
      "9c4aa7ad3331acc3", "cd5a539600d9d379", "f8d9be726594b2d2", "b89886ac115b5930",
      "1305c8d471da823c", "4c62f997b7fb2bbd", "acfce06cf45c8fda", "bc512129197b910c",
      "d872e3eaf5d254d3", "415581233ad9a867", "4cc5cce9a2a635af", "58978581f86b850f",
      "65737ac3e6e5b6fd", "c5f1d50576c2589b", "a1b892ca2559c02b", "7fa484ad170ac7db",
      "edfe346f369341f7", "7b1be525d91a0272", "08502e19b6deb3df", "f489e3c38822de0d",
      "382fd23fc42deb8a", "e6f127bd68601114", "ab8c38a292364931", "4c80f08ca53b78b5",
      "d16e48640f5850b3", "6ffecf4756b1c560", "9d966c3be3359379", "9a370fc22b4c2fe6",
      "3bd5c3576bacbb43", "89725a418f33d51c", "8182bf1bee944f30", "d9401e00b45503db",
      "4370601b5a56a58e", "5edc60c69fd2696b", "5708d7ac7189150b", "5f2139cc78c1511f",
      "4603b3adc03e6cdc", "7b4f99dc1424ad86", "a149202c9db542cf", "1eb8e1af66ab7213",
      "5cc154b2d9eab728", "e3d44f46c76e2570", "dbb63a6697d95f7d", "6cb72e2c996be4ce",
      "1a6b87f116902289", "06c18c5de055392d", "f600d10f8416e6cd", "d4adc6a01be6a04b",
      "df990b75b6424bdf", "94dee084db31da08", "1eede6bea5a30766", "5fedd33dc7572f9d",
      "451e0feaccc40718", "d43de46e92bbf702", "76fc1edb711616b8", "b5b3e7d44a84dfda",
      "2d5ae6907ad2576c", "ef07b0abf4be656e", "9c956f4e6786b274")
    // the published spec vector for the empty input at seed 0
    assert(golden.head == "ef46db3751d8e999")
    val bytes = (0 to 130).map(n => Array.tabulate[Byte](n)(i => ((i * 131) ^ (i >> 3)).toByte))
    val got = bytes.toDF("b").select(method_digest(col("b").cast("string"), "xxhash"))
      .as[String].collect()
    assert(got.toSeq == golden)
  }

  test("fingerprint_fields is bit-identical to the reference processor (fingerprint_test.go goldens)") {
    import graft.functions.fingerprint_fields
    val df = Seq(("foo", "bar", "baz")).toDF("field1", "field2", "unused_field")
    // golden vectors: reference fingerprint_test.go TestHashMethods (:95-101)
    // over fields [field1, field2] → writeFields layout `|field1|foo|field2|bar|`
    val goldens = Map(
      "md5" -> "4c45df4792f3ef850c928ec5f5232538",
      "sha1" -> "22f76427d626516d3f7a05785165b99617683b22",
      "sha256" -> "1208288932231e313b369bae587ff574cd3016a408e52e7128d7bee752674003",
      "sha384" -> ("295adfe0bc03908948e4b0b6a54f441767867e426dda590430459c8a147fbba2" +
        "42a38cba282adee78335b9e08877b86c"),
      "sha512" -> ("f50ad51b63c92a0ed0c910527119b81806f3110f0afaa1dcb93506a78371ea76" +
        "1e50c0fc09b08c441d832dd2da1b45e5d8361adfb240e1fffc2695122a23e183"),
      "xxhash" -> "37bc50682fba6686")
    for ((method, want) <- goldens) {
      // fields passed UNsorted: the processor sorts+dedups by name
      // (fingerprint.go:55-58)
      val got = df.select(fingerprint_fields(
        Seq("field2" -> col("field2"), "field1" -> col("field1"),
          "field1" -> col("field1")), method).as("fp")).head().getString(0)
      assert(got == want, s"method=$method")
    }
  }

  test("decodeCharset round-trips JVM charsets, rejects unknown at plan time") {
    val df = Seq("héllo wörld — ascii too").toDF("s")
    for (cs <- Seq("UTF-8", "UTF-16LE", "UTF-16BE")) {
      val rt = df.select(Actions.decodeCharset(encode(col("s"), cs), cs).as("r"))
        .collect()(0).getString(0)
      assert(rt == "héllo wörld — ascii too", cs)
    }
    intercept[Exception] {
      Actions.decodeCharset(col("s").cast("binary"), "NOT-A-CHARSET")
    }
  }

  test("convert type ip keeps valid literals, nulls the rest") {
    val df = Seq("10.1.2.3", "2001:db8::1", "999.9.9.9", "nope", "10.1.2")
      .toDF("s").select(Actions.convertField(col("s"), "ip").as("ip"))
    val got = df.collect().map(r => Option(r.getString(0))).toSeq
    assert(got === Seq(Some("10.1.2.3"), Some("2001:db8::1"), None, None, None))
  }

  test("extractField splits on a literal separator, 0-based, null past end") {
    val df = Seq("a|b|c").toDF("s")
    val out = Actions.extractField(df, "s", "|", 1, "mid")
    assert(out.select("mid").collect()(0).getString(0) == "b")
    val past = Actions.extractField(df, "s", "|", 9, "none")
    assert(past.select("none").collect()(0).isNullAt(0))
  }

  test("gunzip round-trips and null-routes corrupt streams") {
    import graft.functions.{gunzip, detect_mime}
    val payload = "graft gzip payload ".repeat(10)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(payload.getBytes("UTF-8")); gz.close()
    val df = Seq(bos.toByteArray, Array[Byte](1, 2, 3)).toDF("bin")
      .withColumn("out", gunzip(col("bin")))
      .withColumn("mime", detect_mime(col("bin")))
    val rows = df.select(col("out").cast("string"), col("mime")).collect()
    assert(rows(0).getString(0) == payload && rows(0).getString(1) == "application/gzip")
    assert(rows(1).isNullAt(0) && rows(1).getString(1) == "application/octet-stream")
  }

  test("detect_mime sniffs text, json, and media container heads") {
    import graft.functions.detect_mime
    val cases = Seq(
      ("hello world".getBytes, "text/plain"),
      ("""  {"k": 1}""".getBytes, "application/json"),
      ("GRFTxxxx".getBytes, "application/x-grft-media"),
      (Array[Byte](0x89.toByte, 'P', 'N', 'G'), "image/png"))
    val out = cases.map(_._1).toDF("bin")
      .select(detect_mime(col("bin")).as("m")).as[String].collect()
    assert(out.toSeq == cases.map(_._2))
  }

  test("include/exclude line filters partition the input") {
    val inc = Actions.includeLines(t, "text", "evt=").count()
    val exc = Actions.excludeLines(t, "text", "evt=").count()
    assert(inc + exc == t.count())
  }
}
