package graft

import org.apache.spark.sql.functions._

import graft.functions._

/** Codegen ↔ interpreted agreement for every graft kernel expression: each
  * query runs through [[SparkSpec.codegenParity]], generated code only and
  * interpreted only, and the two must be bit-identical. */
class CodegenParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val texts = Seq(
    "src=10.1.2.3 dst=8.8.8.8 evt=click",
    "src=fd00::1 dst=2001:db8::9 evt=view",
    "src=bad dst=also-bad", "", "x"
  ).toDF("t")

  test("network expressions") {
    codegenParity("ip_in_networks") {
      texts.select(ip_in_networks(
        regexp_extract(col("t"), "src=(\\S+)", 1), Seq("private", "10.0.0.0/8")).as("r"))
    }
    codegenParity("network_direction") {
      texts.select(network_direction(
        regexp_extract(col("t"), "src=(\\S+)", 1),
        regexp_extract(col("t"), "dst=(\\S+)", 1), Seq("private")).as("r"))
    }
  }

  test("dissect expressions (struct + map)") {
    codegenParity("dissect") {
      texts.select(dissect(col("t"), "src=%{s} dst=%{d} %{rest}").as("r"))
    }
    codegenParity("dissect_map") {
      texts.select(dissect_map(col("t"), "src=%{?k} dst=%{&k} %{rest}").as("r"))
    }
  }

  test("scalar expressions: sha256_hex, truncate_utf8_bytes") {
    codegenParity("sha256_hex") { texts.select(sha256_hex(col("t")).as("r")) }
    codegenParity("truncate_utf8_bytes") {
      texts.select(truncate_utf8_bytes(concat(col("t"), lit("é ü")), 7).as("r"))
    }
  }

  test("sketch kernels: minhash_bands_tokens, shingle_jaccard_packed") {
    codegenParity("minhash_bands_tokens") {
      texts.select(minhash_bands_tokens(split(col("t"), " "), 3, 32, 16).as("r"))
    }
    codegenParity("shingle_jaccard_packed") {
      texts.select(shingle_jaccard_packed(
        split(col("t"), " "), split(reverse(col("t")), " "), 3).as("r"))
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
    codegenParity("parse_syslog") {
      lines.select(parse_syslog(col("t"), "auto", 2020, 0).as("r"))
    }
    codegenParity("decode_cef") {
      lines.select(decode_cef(col("t")).as("r"))
    }
    codegenParity("ngram_char_fracs") {
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
    codegenParity("container_line") {
      lines.select(container_line(col("t")).as("r"))
    }
    codegenParity("container_line_cri_noflags") {
      lines.select(container_line(col("t"), "cri", criFlags = false).as("r"))
    }
  }

  test("round-4 framing: frame_split") {
    lazy val streams = Seq(
      "13 <9> message 09 <6> msg 113 <3> message 2",
      "14 <9> message \n0<6> msg 1\n14 <3> message \n2",
      "<9> a\n<8> b\n", "5 hell", "0 5 hello", "1a b rest", "x", ""
    ).toDF("t")
    codegenParity("frame_split_rfc6587") {
      streams.select(frame_split(col("t")).as("r"))
    }
    codegenParity("frame_split_delim") {
      streams.select(frame_split(col("t"), "<END>", rfc6587 = false).as("r"))
    }
  }

  test("round-4 kernel: deflate_len") {
    codegenParity("deflate_len") {
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
    codegenParity("decode_wineventlog") {
      events.select(decode_wineventlog(col("t")).as("r"))
    }
  }

  test("round-5 video kernels: avi_pack, video_meta, video_frames") {
    import graft.multimodal.functions.{avi_pack, video_frames, video_meta}
    // binary columns stringify as object hashes — compare via hex or a hash
    lazy val seeds = Seq(0L, 1L, 7L, 12345L).toDF("seed")
    def pack = avi_pack(col("seed"), lit(32), lit(24), lit(10),
      lit(3) + pmod(col("seed"), lit(4)).cast("int"))
    codegenParity("avi_pack") {
      seeds.select(lower(hex(pack)).as("r"))
    }
    codegenParity("video_meta") {
      seeds.select(video_meta(pack).as("r"))
    }
    codegenParity("video_frames") {
      seeds.select(size(video_frames(pack, 2)), xxhash64(video_frames(pack, 2)))
    }
    codegenParity("video_meta: malformed → null") {
      Seq("", "RIFF", "RIFFxxxxAVI x").toDF("s")
        .select(video_meta(encode(col("s"), "UTF-8")).isNull.as("r"))
    }
    import graft.multimodal.functions.{audio_resample, wav_pack}
    codegenParity("audio_resample") {
      Seq(0L, 3L, 11L).toDF("seed")
        .select(audio_resample(
          wav_pack(col("seed"), lit(8000), lit(1), lit(6)), 12000).as("r"))
    }
  }

  test("main-path parsers: serverlog_parse, serverlog_status, grok_struct") {
    lazy val lines = Seq(
      "2024-01-01 00:16:06.738 svc-view host-2 info [t-1] com.example.Cls1 run6 [41] " +
        "[t00001271] [s41] evt=view id=41 ##JIDU##{\"k\": \"v\"}##JIDU##",
      "2024-01-01 00:16:06.738 short line only",
      "2024 b Svc-bad h i [t] c m [1] [t123] [s1] rest",
      "2024 b svc-ok h i [t] c m [x] [t1] [s1] evt=aa id=1", null
    ).toDF("t")
    codegenParity("serverlog_parse") { lines.select(serverlog_parse(col("t")).as("r")) }
    codegenParity("serverlog_status") { lines.select(serverlog_status(col("t")).as("r")) }
    codegenParity("grok_struct: no match → null") {
      lines.select(grok_struct(col("t"), "evt=(\\w+) id=(\\d+)", Seq("evt", "id")).as("r"))
    }
  }

  test("string kernels: bpe_encode_words, registered_domain, is_valid_ip, digests, sketches") {
    lazy val strs = Seq("a.example.com", "com", "10.1.2.3", "fd00::1", "abc abcab c", "",
      null).toDF("t")
    codegenParity("bpe_encode_words") {
      strs.select(bpe_encode_words(split(col("t"), " "),
        Seq("a" -> "b", "ab" -> "c", "c" -> "a")).as("r"))
    }
    codegenParity("registered_domain: public suffix → null") {
      strs.select(registered_domain(col("t")).as("r"))
    }
    codegenParity("is_valid_ip") { strs.select(is_valid_ip(col("t")).as("r")) }
    codegenParity("digest_hex MD5, SHA-1") {
      strs.select(digest_hex(col("t"), "MD5"), digest_hex(col("t"), "SHA-1"))
    }
    codegenParity("xxhash digest") { strs.select(method_digest(col("t"), "xxhash").as("r")) }
    codegenParity("fnv1a32") { strs.select(fnv1a32(col("t")).as("r")) }
    codegenParity("simhash64, minhash_sig") {
      strs.select(simhash64(split(col("t"), " ")), minhash_sig(split(col("t"), " "), 8))
    }
  }

  test("community_id: bad address → null") {
    codegenParity("community_id") {
      Seq[(String, String, Integer, Integer, Integer)](
        ("10.0.0.1", "10.0.0.2", 1234, 80, 6), ("fd00::1", "fd00::2", 53, 5353, 17),
        ("10.0.0.1", "10.0.0.2", 8, 0, 1), ("bad", "10.0.0.2", 1, 2, 6),
        (null, "10.0.0.2", 1, 2, 6), ("10.0.0.1", "10.0.0.2", null, 2, 6)
      ).toDF("s", "d", "sp", "dp", "p")
        .select(community_id(col("s"), col("d"), col("sp"), col("dp"), col("p")).as("r"))
    }
  }

  test("binary kernels: gunzip, detect_mime") {
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.GZIPOutputStream(bos)
      z.write("hello gzip".getBytes("UTF-8")); z.close()
      bos.toByteArray
    }
    lazy val bins = Seq(Some(gz), Some(gz.take(12)), Some("{\"a\":1}".getBytes("UTF-8")),
      Some(Array[Byte]()), None).toDF("b")
    codegenParity("gunzip: corrupt stream → null") {
      bins.select(hex(gunzip(col("b"))).as("r"))
    }
    codegenParity("detect_mime") { bins.select(detect_mime(col("b")).as("r")) }
  }

  test("vector kernels: cosine_sim, hyperplane_bucket, nearest_centroids") {
    lazy val vecs = Seq[(Seq[Float], Seq[Float])](
      (Seq(1f, 2f, 3f), Seq(3f, 2f, 1f)), (Seq(0f, 0f, 0f), Seq(1f, 1f, 1f)),
      (Seq(1f, 2f), Seq(1f, 2f, 3f)), (null, Seq(1f)), (Seq(0.5f, -1f, 2f), null)
    ).toDF("a", "b")
    codegenParity("cosine_sim: mismatch or zero norm → null") {
      vecs.select(cosine_sim(col("a"), col("b")).as("r"))
    }
    codegenParity("hyperplane_bucket") { vecs.select(hyperplane_bucket(col("a"), 6, 1).as("r")) }
    codegenParity("nearest_centroids") {
      vecs.select(nearest_centroids(col("a"),
        Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f)), 2).as("r"))
    }
  }

  test("product quantization: pq_encode, pq_dot_table, pq_adc_score") {
    val cbs = Array(
      Array(Array(1f, 0f), Array(0f, 1f)),
      Array(Array(1f, 1f), Array(-1f, 0.5f)))
    lazy val vecs = Seq[Seq[Float]](Seq(0.9f, 0.1f, 1f, 0.8f), Seq(0f, 1f, -1f, 0f),
      Seq(1f, 2f, 3f), null).toDF("v")
    codegenParity("pq_encode, pq_dot_table: dimension mismatch → null") {
      vecs.select(pq_encode(col("v"), cbs), pq_dot_table(col("v"), cbs))
    }
    codegenParity("pq_adc_score") {
      vecs.select(pq_adc_score(pq_encode(col("v"), cbs), pq_dot_table(col("v"), cbs),
        PqKernel.norm2Table(cbs), 2).as("r"))
    }
  }

  test("decode_xml_map: malformed → null") {
    codegenParity("decode_xml_map") {
      Seq("<a><b>1</b><c x='y'>t</c></a>", "<a><b>", "not xml", null).toDF("t")
        .select(decode_xml_map(col("t")).as("r"), decode_xml_map(col("t"), toLower = true))
    }
  }

  test("media kernels: media_meta, media_resize, media_frames, audio_meta, audio_samples") {
    import graft.multimodal.Multimodal
    import graft.multimodal.functions._
    lazy val media = Seq(Some(Multimodal.pack(7L, 2, "frames of a fixture".getBytes("UTF-8"))),
      Some(Multimodal.pack(4L, 0, "an image".getBytes("UTF-8"))),
      Some("GRF".getBytes("UTF-8")), None).toDF("b")
    codegenParity("media_meta: bad magic → null") { media.select(media_meta(col("b")).as("r")) }
    codegenParity("media_resize") { media.select(hex(media_resize(col("b"), 8, 4)).as("r")) }
    codegenParity("media_frames") {
      media.select(size(media_frames(col("b"), 2)), xxhash64(media_frames(col("b"), 2)))
    }
    lazy val audio = Seq(Some(Multimodal.wavPackKernel(3L, 8000, 2, 5)),
      Some("RIFFxxxxWAVE".getBytes("UTF-8")), None).toDF("b")
    codegenParity("audio_meta: undecodable → null") {
      audio.select(audio_meta(col("b")).as("r"))
    }
    codegenParity("audio_samples") { audio.select(audio_samples(col("b"), 16).as("r")) }
  }
}
