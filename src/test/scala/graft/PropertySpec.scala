package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ServerlogParse, ServerlogStatus, VectorTextKernel}

/** Property tests (SURVEY §5): total functions on arbitrary input — a parse
  * engine at 10^12 rows WILL see every possible byte sequence; nothing here
  * may throw, and fast/slow paths must agree everywhere.
  */
class PropertySpec extends AnyFunSuite {

  /** manual forAll over raw ScalaCheck gens (no scalatest-plus bridge in the
    * offline cache): 300 samples per property, seeded deterministically. */
  private def forAll[A](gen: Gen[A])(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    (0 until 300).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb)) { case (a, b) => f(a, b) }

  private val anyString: Gen[String] = Arbitrary.arbitrary[String]

  /** strings biased toward the serverlog shape — spaces, brackets, markers,
    * raw control characters inside the embedded JSON. */
  private val loggy: Gen[String] = for {
    n <- Gen.choose(0, 30)
    parts <- Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)), Gen.const("[x1]"), Gen.const("[]"),
      Gen.const("svc-a,"), Gen.const("Svc-B"), Gen.const("[000000001a]"),
      Gen.const("##JIDU##"), Gen.const("""##JIDU##{"k": "v"}##JIDU##"""),
      Gen.const("##JIDU##{\"k\": \"a\tb\"}##JIDU##"),
      Gen.const("##JIDU##{\"k\nx\": \"v\"}##JIDU##"), Gen.const("\u0001"),
      Gen.const("{\"k\": 1}"), Gen.const("2024-01-01 00:00:00.000")))
  } yield parts.mkString(" ")

  /** lines in the serverlog item layout with adversarial items: arbitrary
    * strings and `loggy` rarely get past the short/bad_service exits, these
    * mostly reach field extraction and the `extra` map. */
  private val shaped: Gen[String] = for {
    svc <- Gen.oneOf("svc-a", "svc-a,", ",svc.b", "svc_c,d", "Svc-B", "s,", "sé")
    level <- Gen.oneOf("info", "WARN", "débug", "")
    lineNo <- Gen.oneOf("[41]", "[-7]", "[+3]", "[x1]", "[]", "[+]", "[٣]",
      "[9223372036854775808]", "[-9223372036854775808]", "[000000000000000000001]")
    trace <- Gen.oneOf("[t1]", "[000000001a]", "[00000000]", "x", "")
    rest <- Gen.oneOf(Gen.alphaNumStr.map(_.take(8)), Gen.const("evt=view  id=41"))
    json <- Gen.oneOf("", """{"k": "v", "n": 1}""", "{\"k\": \"a\tb\"}",
      "{\"k\nx\": \"v\"}", "{\"k\": \"\u0001\"}", """{"k": "a\tb"}""",
      """{"a": "1", "a": "2"}""", "{}", """{"k": "v",}""", """{ "ü" : "é" }""",
      "[1]", """{"o": {"p": 1}}""", "JIDU##")
  } yield s"2024-01-01 00:00:00.000 $svc host-1 $level [t-1] C m $lineNo $trace [s1] " +
    s"$rest ##JIDU##$json##JIDU##"

  private val parseExpr = ServerlogParse(Literal("x"))
  private val statusExpr = ServerlogStatus(Literal("x"))

  /** a row as [[ServerlogReference.parse]] shapes it: owned copies of the
    * string fields, `line` boxed, `extra` as its (key, value) pairs. */
  private def fields(row: InternalRow): IndexedSeq[Any] = (0 until 14).map { i =>
    if (row.isNullAt(i)) null
    else if (i == 7) row.getLong(7)
    else if (i == 11) {
      val m = row.getMap(11)
      (0 until m.numElements()).map(j =>
        m.keyArray.getUTF8String(j).toString -> m.valueArray.getUTF8String(j).toString)
    } else row.getUTF8String(i).clone()
  }

  /** `s`'s bytes as an off-heap UTF8String, freed after `f` */
  private def offHeap[A](s: String)(f: UTF8String => A): A = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val addr = Platform.allocateMemory(math.max(1, b.length).toLong)
    try {
      Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET, null, addr, b.length.toLong)
      f(UTF8String.fromAddress(null, addr, b.length))
    } finally Platform.freeMemory(addr)
  }

  test("serverlog parse is total (never throws) and status-consistent") {
    forAll(Gen.oneOf(anyString, loggy, shaped)) { s =>
      val u = UTF8String.fromString(s)
      val row = parseExpr.evalInput(u)      // must not throw
      val fast = statusExpr.evalInput(u)    // must not throw
      val slow = row.getUTF8String(13) // field 13 = status (12 = script_error)
      assert(fast == slow, s"status mismatch on ${s.take(80)}: $slow vs $fast")
    }
  }

  test("parse row invariants: logtime prefix, ok-iff-fields") {
    forAll(Gen.oneOf(loggy, shaped)) { s =>
      val row = parseExpr.evalInput(UTF8String.fromString(s))
      val status = row.getUTF8String(13).toString
      assert(Set("ok", "short", "bad_service", "benchmark").contains(status))
      if (s.nonEmpty) {
        val logtime = row.getUTF8String(0).toString
        assert(logtime == s.take(23))
      }
      if (status != "ok") {
        // non-ok rows never expose positional fields beyond service
        assert(row.isNullAt(2) && row.isNullAt(7) && row.isNullAt(10))
      }
    }
  }

  test("UnsafeRow writer path agrees with the reference kernel everywhere") {
    forAll(Gen.oneOf(anyString, loggy, shaped)) { s =>
      val u = UTF8String.fromString(s)
      val want = ServerlogReference.parse(u.getBytes)
      val got = fields(parseExpr.evalInput(u))
      for (i <- 0 until 14)
        assert(got(i) == want(i), s"field $i on '${s.take(60)}': ${got(i)} vs ${want(i)}")
      assert(statusExpr.evalInput(u) == want(13), s"status on '${s.take(60)}'")
    }
  }

  test("off-heap input parses and routes like on-heap input") {
    val commaLower =
      "2024-01-01 00:16:06.738 svc-a,b host-2 info [t-1] C m [41] [t1] [s1] ##JIDU##{\"k\": \"v\"}##JIDU##"
    val samples = Seq.newBuilder[String]
    forAll(Gen.oneOf(anyString, loggy, shaped))(samples += _)
    for (s <- samples.result() :+ commaLower) {
      val u = UTF8String.fromString(s)
      val onHeap = fields(parseExpr.evalInput(u))
      val onHeapStatus = statusExpr.evalInput(u)
      offHeap(s) { o =>
        assert(!o.getBaseObject.isInstanceOf[Array[Byte]])
        val got = fields(parseExpr.evalInput(o))
        for (i <- 0 until 14)
          assert(got(i) == onHeap(i), s"field $i on '${s.take(60)}': ${got(i)} vs ${onHeap(i)}")
        assert(statusExpr.evalInput(o) == onHeapStatus, s"status on '${s.take(60)}'")
      }
    }
    val r = offHeap(commaLower)(o => fields(parseExpr.evalInput(o)))
    assert(r(1) == UTF8String.fromString("svc-ab") && r(3) == UTF8String.fromString("INFO"))
    assert(r(11) == Seq("k" -> "v") && r(13) == UTF8String.fromString("ok"))
  }

  test("simhash64 is deterministic and insensitive to token order only via content") {
    forAll(Gen.listOf(Gen.alphaNumStr.map(_.take(6)))) { tokens =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val arr = new GenericArrayData(tokens.map(UTF8String.fromString).toArray[Any])
      val a = VectorTextKernel.simhash64(arr)
      val b = VectorTextKernel.simhash64(arr)
      assert(a == b)
    }
  }

  test("minhash signature: correct width, stable, elementwise in [0, 2^31)") {
    forAll(Gen.listOf(Gen.alphaNumStr.map(_.take(6))), Gen.choose(1, 64)) { (sh, k) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val arr = new GenericArrayData(sh.map(UTF8String.fromString).toArray[Any])
      val sig = VectorTextKernel.minhashSig(arr, k)
      assert(sig.numElements() == k)
      (0 until k).foreach { i =>
        val v = sig.getLong(i)
        if (sh.nonEmpty) assert(v >= 0L && v < 2147483647L)
      }
    }
  }

  test("fused token→band kernel equals the shingle-string formulation") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    forAll(Gen.listOf(Gen.alphaNumStr.map(_.take(6)))) { toks =>
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val fused = VectorTextKernel.minhashBandsTokens(arr, 3, 32, 16)
      // reference path: materialized shingle strings → signature → band fold
      val sh =
        if (toks.size < 3) Seq(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      val shArr = new GenericArrayData(sh.distinct.map(UTF8String.fromString).toArray[Any])
      val sig = VectorTextKernel.minhashSig(shArr, 32)
      val ref = VectorTextKernel.foldBands(
        (0 until 32).map(sig.getLong).toArray, 16)
      assert((0 until 16).forall(b => fused.getLong(b) == ref(b)),
        s"band mismatch for tokens $toks")
    }
  }

  test("minhash signatures respect containment: identical sets → identical sigs") {
    forAll(Gen.nonEmptyListOf(Gen.alphaNumStr.map(_.take(6)))) { sh =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val a = new GenericArrayData(sh.map(UTF8String.fromString).toArray[Any])
      val b = new GenericArrayData(scala.util.Random.shuffle(sh).map(UTF8String.fromString).toArray[Any])
      val sa = VectorTextKernel.minhashSig(a, 16)
      val sb = VectorTextKernel.minhashSig(b, 16)
      assert((0 until 16).forall(i => sa.getLong(i) == sb.getLong(i)),
        "minhash must be order-independent (set semantics)")
    }
  }

  test("fnv1a32 matches the published FNV-1a test vectors") {
    // standard FNV-1a 32-bit vectors (public domain reference values)
    val vectors = Seq(
      "" -> 0x811c9dc5, "a" -> 0xe40c292c, "foobar" -> 0xbf9cf968)
    vectors.foreach { case (s, expect) =>
      assert(VectorTextKernel.fnv1a32(UTF8String.fromString(s)) == expect,
        s"fnv1a32($s)")
    }
  }

  // ---- round-3 parser kernels: total + deterministic on arbitrary bytes --

  /** canonical render of an InternalRow for determinism comparison. */
  private def render(r: org.apache.spark.sql.catalyst.InternalRow,
                     schema: org.apache.spark.sql.types.StructType): String =
    if (r == null) "<null>"
    else schema.fields.zipWithIndex.map { case (f, i) =>
      if (r.isNullAt(i)) "∅"
      else r.get(i, f.dataType) match {
        case m: org.apache.spark.sql.catalyst.util.MapData =>
          (0 until m.numElements()).map(j =>
            s"${m.keyArray().get(j, org.apache.spark.sql.types.StringType)}").mkString(",")
        case v => String.valueOf(v)
      }
    }.mkString("|")

  private val syslogish: Gen[String] = for {
    n <- Gen.choose(0, 12)
    parts <- Gen.listOfN(n, Gen.oneOf(
      Gen.const("<34>"), Gen.const("<999999>"), Gen.const("Oct 11 22:14:15"),
      Gen.const("2018-06-19T02:13:38.635322-07:00"), Gen.const("Z+00:00"),
      Gen.const("host--bad"), Gen.const("1::2"), Gen.const("su[230]:"),
      Gen.const("﻿"), Gen.const("[id p=\"v\"]"), Gen.const("- -"),
      Gen.const("589265:"), Gen.alphaNumStr.map(_.take(6)), Gen.const("\n"),
      Gen.const("1 2003-10-11T22:14:15.003Z")))
  } yield parts.mkString(" ")

  private val cefish: Gen[String] = for {
    n <- Gen.choose(0, 14)
    parts <- Gen.listOfN(n, Gen.oneOf(
      Gen.const("CEF:"), Gen.const("CEF:0|"), Gen.const("|"), Gen.const("\\|"),
      Gen.const("\\\\"), Gen.const("\\="), Gen.const("src="), Gen.const("="),
      Gen.const("k="), Gen.const(" "), Gen.const("\\"), Gen.const("\t"),
      Gen.alphaNumStr.map(_.take(6)), Gen.const("10.0.0.1")))
  } yield parts.mkString

  test("parse_syslog is total and deterministic on arbitrary input") {
    import graft.functions.{SyslogKernel, SyslogParse}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val exprs = Seq("rfc3164", "rfc5424", "auto")
      .map(m => SyslogParse(Literal("x"), m, 2024, 0))
    forAll(Gen.oneOf(anyString, syslogish)) { s =>
      val u = UTF8String.fromString(s)
      exprs.foreach { e =>
        val a = render(e.evalInput(u), SyslogKernel.schema) // must not throw
        val b = render(e.evalInput(u), SyslogKernel.schema)
        assert(a == b, s"non-deterministic on ${s.take(60)}")
      }
      // invariant: a valid event always carries a timestamp
      val r = exprs.head.evalInput(u)
      if (r.getBoolean(1)) assert(!r.isNullAt(2), s"valid without ts: ${s.take(60)}")
      // invariant: priority-derived fields are all-or-nothing
      assert(r.isNullAt(5) == r.isNullAt(6), s.take(60))
    }
  }

  test("decode_cef is total and deterministic on arbitrary input") {
    import graft.functions.{CefKernel, DecodeCef}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = DecodeCef(Literal("x"))
    forAll(Gen.oneOf(anyString, cefish)) { s =>
      val u = UTF8String.fromString(s)
      val r = e.evalInput(u) // must not throw
      assert(render(r, CefKernel.schema) == render(e.evalInput(u), CefKernel.schema))
      if (r != null) assert(r.getInt(0) >= 0) // non-null struct ⇒ parsed version
    }
  }

  private val xmlish: Gen[String] = for {
    n <- Gen.choose(0, 12)
    parts <- Gen.listOfN(n, Gen.oneOf(
      Gen.const("<Event>"), Gen.const("</Event>"), Gen.const("<System>"),
      Gen.const("</System>"), Gen.const("<EventID>"), Gen.const("</EventID>"),
      Gen.const("<Level>"), Gen.const("</Level>"), Gen.const("<Keywords>0x"),
      Gen.const("</Keywords>"), Gen.const("<Data Name='k'>"), Gen.const("</Data>"),
      Gen.const("<EventData>"), Gen.const("</EventData>"), Gen.const("<UserData>"),
      Gen.const("<"), Gen.const(">"), Gen.const("'"), Gen.const("&"),
      Gen.numStr.map(_.take(4)), Gen.alphaNumStr.map(_.take(6))))
  } yield parts.mkString

  test("decode_wineventlog is total and deterministic on arbitrary input") {
    import graft.functions.{DecodeWinEventLog, WinEventLogKernel}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = DecodeWinEventLog(Literal("x"))
    forAll(Gen.oneOf(anyString, xmlish)) { s =>
      val u = UTF8String.fromString(s)
      val r = e.evalInput(u) // must not throw
      assert(render(r, WinEventLogKernel.schema) ==
        render(e.evalInput(u), WinEventLogKernel.schema))
      // invariant: a non-null struct always carries event_id (fmt.Sprint)
      if (r != null) assert(!r.isNullAt(1))
    }
  }

  private val containerish: Gen[String] = for {
    n <- Gen.choose(0, 10)
    parts <- Gen.listOfN(n, Gen.oneOf(
      Gen.const("""{"log":""""), Gen.const("""","stream":"stdout""""),
      Gen.const("""","time":"2017-11-09T13:27:36Z"}"""), Gen.const("{"),
      Gen.const("}"), Gen.const("2017-09-12T22:32:21.212861448Z "),
      Gen.const("stdout "), Gen.const("P "), Gen.const("F "), Gen.const("P:B "),
      Gen.const("\\n"), Gen.const("\n"), Gen.const(" "), Gen.const(":"),
      Gen.alphaNumStr.map(_.take(6))))
  } yield parts.mkString

  test("container_line is total and deterministic on arbitrary input") {
    import graft.functions.{ContainerKernel, ContainerLine}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val exprs = Seq(ContainerLine(Literal("x")),
      ContainerLine(Literal("x"), "docker"),
      ContainerLine(Literal("x"), "cri", criFlags = false))
    forAll(Gen.oneOf(anyString, containerish)) { s =>
      val u = UTF8String.fromString(s)
      exprs.foreach { e =>
        val r = e.evalInput(u) // must not throw
        assert(render(r, ContainerKernel.schema) ==
          render(e.evalInput(u), ContainerKernel.schema))
        // invariant: a valid row always carries a timestamp and content
        if (r.getBoolean(0)) {
          assert(!r.isNullAt(2), s.take(60))
          assert(!r.isNullAt(5), s.take(60))
        }
      }
    }
  }

  test("frame_split is total, deterministic, and reconstructs within bounds") {
    import graft.functions.FramingKernel
    val framish = Gen.listOf(Gen.oneOf(
      Gen.const("5 hello"), Gen.const("0 "), Gen.const("\n"),
      Gen.const("<x> msg"), Gen.const("13 "), Gen.const(" "),
      Gen.numStr.map(_.take(4)), Gen.alphaNumStr.map(_.take(6))))
      .map(_.mkString)
    forAll(Gen.oneOf(anyString, framish)) { s =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val nl = Array('\n'.toByte)
      for (mode <- Seq(true, false)) {
        val raw1 = FramingKernel.frames(b, nl, mode)
        val r1 = raw1.map(_.toString).toSeq
        val r2 = FramingKernel.frames(b, nl, mode).map(_.toString).toSeq
        assert(r1 == r2, s.take(60))
        // frames never exceed the stream's byte budget (an octet count may
        // split mid-codepoint, so measure the raw bytes, not a re-encode)
        assert(raw1.map(_.numBytes.toLong).sum <= b.length)
      }
      // pure delimiter mode partitions the stream exactly (delimiters aside)
      val d = FramingKernel.frames(b, nl, rfc6587 = false).map(_.toString)
      assert(d.mkString("\n") == s || d.mkString("\n") == s.stripSuffix("\n"),
        s.take(60))
    }
  }

  test("ngram_char_fracs is total, deterministic, non-negative") {
    import graft.functions.RepetitionKernel
    forAll(Gen.zip(Gen.oneOf(anyString, loggy), Gen.choose(1, 5))) { case (s, n) =>
      val u = UTF8String.fromString(s)
      val r = RepetitionKernel.eval(u, n)
      val r2 = RepetitionKernel.eval(u, n)
      assert(r.getDouble(1) == r2.getDouble(1) && r.getDouble(2) == r2.getDouble(2))
      assert(r.getDouble(1) >= 0.0 && !r.getDouble(1).isNaN && !r.getDouble(1).isInfinite)
      assert(r.getDouble(2) >= 0.0 && !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite)
      // a non-null top gram is always a substring of the normalized text
      if (!r.isNullAt(0))
        assert(RepetitionKernel.normalize(s).contains(r.getUTF8String(0).toString))
    }
  }

  test("cosine kernel is bounded and symmetric") {
    val floats = Gen.listOfN(16, Gen.choose(-100.0f, 100.0f))
    forAll(floats, floats) { (a, b) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val aa = new GenericArrayData(a.toArray[Any])
      val bb = new GenericArrayData(b.toArray[Any])
      val c1 = VectorTextKernel.cosine(aa, bb)
      val c2 = VectorTextKernel.cosine(bb, aa)
      if (!c1.isNaN) {
        assert(c1 >= -1.0000001 && c1 <= 1.0000001)
        assert(c1 == c2)
      }
    }
  }
}
