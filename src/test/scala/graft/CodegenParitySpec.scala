package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Codegen ↔ interpreted agreement for every round-2 custom expression: the
  * same query evaluated with whole-stage codegen on and off (the interpreted
  * fallback Spark switches to when generated code fails to compile) must be
  * bit-identical — an expression whose doGenCode diverges from nullSafeEval
  * is a silent-corruption bug that only appears under fallback. */
class CodegenParitySpec extends SparkSpec {
  import spark.implicits._

  private def bothModes(build: => DataFrame): (Seq[String], Seq[String]) = {
    def run(): Seq[String] = build.collect().map(_.toString).toSeq.sorted
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp =
      try run()
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    (gen, interp)
  }

  private def check(name: String)(build: => DataFrame): Unit = {
    val (gen, interp) = bothModes(build)
    assert(gen == interp, s"$name: codegen and interpreted outputs differ")
    assert(gen.nonEmpty, s"$name: empty result proves nothing")
  }

  private lazy val texts = Seq(
    "src=10.1.2.3 dst=8.8.8.8 evt=click",
    "src=fd00::1 dst=2001:db8::9 evt=view",
    "src=bad dst=also-bad", "", "x"
  ).toDF("t")

  test("network expressions") {
    check("ip_in_networks") {
      texts.select(ip_in_networks(
        regexp_extract(col("t"), "src=(\\S+)", 1), Seq("private", "10.0.0.0/8")).as("r"))
    }
    check("network_direction") {
      texts.select(network_direction(
        regexp_extract(col("t"), "src=(\\S+)", 1),
        regexp_extract(col("t"), "dst=(\\S+)", 1), Seq("private")).as("r"))
    }
  }

  test("dissect expressions (struct + map)") {
    check("dissect") {
      texts.select(dissect(col("t"), "src=%{s} dst=%{d} %{rest}").as("r"))
    }
    check("dissect_map") {
      texts.select(dissect_map(col("t"), "src=%{?k} dst=%{&k} %{rest}").as("r"))
    }
  }

  test("scalar expressions: sha256_hex, truncate_utf8_bytes") {
    check("sha256_hex") { texts.select(sha256_hex(col("t")).as("r")) }
    check("truncate_utf8_bytes") {
      texts.select(truncate_utf8_bytes(concat(col("t"), lit("é ü")), 7).as("r"))
    }
  }

  test("sketch kernels: minhash_bands_tokens, shingle_jaccard_packed, ordered_topk") {
    check("minhash_bands_tokens") {
      texts.select(minhash_bands_tokens(split(col("t"), " "), 3, 32, 16).as("r"))
    }
    check("shingle_jaccard_packed") {
      texts.select(shingle_jaccard_packed(
        split(col("t"), " "), split(reverse(col("t")), " "), 3).as("r"))
    }
    check("ordered_topk") {
      Seq(("a", 3, "z"), ("a", 1, "x"), ("a", 2, "y"), ("b", 9, "q"))
        .toDF("k", "o", "v")
        .groupBy("k").agg(ordered_topk(col("o"), col("v"), 2).as("r"))
    }
  }

  test("round-3 parsers: parse_syslog, decode_cef, ngram_char_fracs") {
    lazy val lines = Seq(
      "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",
      "<165>1 2003-10-11T22:14:15.003Z host app 77 ID47 [x@1 k=\"v\"] msg body",
      "--- not syslog at all ---", "",
      "CEF:0|v|p|1.0|C1|name|5|src=10.0.0.1 spt=80 msg=hello world",
      "CEF:0|v|p\\|q|1.0|C1|n|5|k1=x =bad k2=ok",
      "a b a b a b c"
    ).toDF("t")
    check("parse_syslog") {
      lines.select(parse_syslog(col("t"), "auto", 2020, 0).as("r"))
    }
    check("decode_cef") {
      lines.select(decode_cef(col("t")).as("r"))
    }
    check("ngram_char_fracs") {
      lines.select(ngram_char_fracs(col("t"), 2).as("r"))
    }
  }

  test("round-4 parser: container_line") {
    lazy val lines = Seq(
      """{"log":"full line\n","stream":"stdout","time":"2017-11-09T13:27:36.277747246Z"}""",
      """{"log":"partial ","stream":"stderr","time":"2017-11-09T13:27:36Z","attrs":{"a":"1"}}""",
      """{"log":"x\n","stream":"stdout"}""", // missing time → invalid
      "2017-09-12T22:32:21.212861448Z stdout F a cri line",
      "2017-09-12T22:32:21.212861448Z stderr P partial cri\n",
      "neither json nor cri", ""
    ).toDF("t")
    check("container_line") {
      lines.select(container_line(col("t")).as("r"))
    }
    check("container_line_cri_noflags") {
      lines.select(container_line(col("t"), "cri", criFlags = false).as("r"))
    }
  }

  test("round-4 framing: frame_split") {
    lazy val streams = Seq(
      "13 <9> message 09 <6> msg 113 <3> message 2",
      "14 <9> message \n0<6> msg 1\n14 <3> message \n2",
      "<9> a\n<8> b\n", "5 hell", "0 5 hello", "1a b rest", "x", ""
    ).toDF("t")
    check("frame_split_rfc6587") {
      streams.select(frame_split(col("t")).as("r"))
    }
    check("frame_split_delim") {
      streams.select(frame_split(col("t"), "<END>", rfc6587 = false).as("r"))
    }
  }

  test("round-4 kernel: deflate_len") {
    check("deflate_len") {
      texts.select(col("t"),
        deflate_len(encode(col("t"), "UTF-8")).as("n"))
    }
  }

  test("round-4 parser: decode_wineventlog") {
    lazy val events = Seq(
      "<Event><System><Provider Name='P' Guid='{g}'/><EventID>7</EventID>" +
        "<Level>2</Level><Task>0</Task><Opcode>1</Opcode>" +
        "<Keywords>0x8020000000000000</Keywords>" +
        "<TimeCreated SystemTime='2021-03-23T09:56:13.137310000Z'/>" +
        "<EventRecordID>42</EventRecordID><Execution ProcessID='9' ThreadID='8'/>" +
        "<Channel>Sec</Channel><Computer>host</Computer></System>" +
        "<EventData><Data Name='K'>v1</Data><Data>v2</Data></EventData></Event>",
      "<Event><System><Level>abc</Level></System></Event>", // decode error → NULL
      "not xml", ""
    ).toDF("t")
    check("decode_wineventlog") {
      events.select(decode_wineventlog(col("t")).as("r"))
    }
  }

  test("round-5 video kernels: avi_pack, video_meta, video_frames") {
    import graft.multimodal.functions.{avi_pack, video_frames, video_meta}
    // binary columns stringify as object hashes — compare via hex projection
    lazy val seeds = Seq(0L, 1L, 7L, 12345L).toDF("seed")
    def pack = avi_pack(col("seed"), lit(32), lit(24), lit(10),
      lit(3) + pmod(col("seed"), lit(4)).cast("int"))
    check("avi_pack") {
      seeds.select(lower(hex(pack)).as("r"))
    }
    check("video_meta") {
      seeds.select(video_meta(pack).as("r"))
    }
    check("video_frames") {
      seeds.select(transform(video_frames(pack, 2), b => lower(hex(b))).as("r"))
    }
    check("video_meta: malformed → null") {
      Seq("", "RIFF", "RIFFxxxxAVI x").toDF("s")
        .select(video_meta(encode(col("s"), "UTF-8")).isNull.as("r"))
    }
    import graft.multimodal.functions.{audio_resample, wav_pack}
    check("audio_resample") {
      Seq(0L, 3L, 11L).toDF("seed")
        .select(audio_resample(
          wav_pack(col("seed"), lit(8000), lit(1), lit(6)), 12000).as("r"))
    }
  }
}
