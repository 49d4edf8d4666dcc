package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Output schema, status constants and byte-level helpers of the serverlog
  * parse stage; the grammar itself is [[ServerlogRowWriter]]. */
object ServerlogKernel {
  import graft.model.ParseStatus._

  val schema: StructType = StructType(Seq(
    StructField("logtime", StringType),
    StructField("service", StringType),
    StructField("hostname", StringType),
    StructField("level", StringType),
    StructField("thread", StringType),
    StructField("class", StringType),
    StructField("method", StringType),
    StructField("line", LongType),
    StructField("trace_id", StringType),
    StructField("span_id", StringType),
    StructField("message", StringType),
    StructField("extra", MapType(StringType, StringType)),
    StructField("script_error", StringType),
    StructField("status", StringType)
  ))

  // pre-encoded status constants — one allocation for the process, not per row
  private[functions] val StShort = UTF8String.fromString(Short)
  private[functions] val StBadService = UTF8String.fromString(BadService)
  private[functions] val StBenchmark = UTF8String.fromString(Benchmark)
  private[functions] val StOk = UTF8String.fromString(Ok)
  /** `script_error` marker for an unparseable `[line]` item — the reference
    * keeps the event with a script_error field and skips field extraction
    * (parser.go:117-136); the dead-letter taxonomy must not lose the
    * "line unparseable" case. */
  private[functions] val ErrLineParseBytes = "line_parse_error".getBytes("UTF-8")

  /** jackson fallback for non-flat extra JSON: object → (keys, values) with
    * reference merge semantics (parser.go:138-151); null for non-objects /
    * parse errors (json_error). */
  private[functions] def jacksonExtra(b: Array[Byte], from: Int,
                                      until: Int): (Array[UTF8String], Array[UTF8String]) = {
    // overlapping markers (##JIDU##JIDU## — the 8-byte marker self-overlaps
    // at shift 6) make the caller's second index land BEFORE from: a
    // negative length here threw an uncaught StringIndexOutOfBoundsException
    // and killed the task on one hostile line — treat as json_error instead
    if (until <= from) return null
    val data = new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8)
    try {
      val node = mapper.readTree(data)
      if (node == null || !node.isObject) return null
      val ks = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      val vs = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      val it = node.fields()
      while (it.hasNext) {
        val kv = it.next()
        ks += UTF8String.fromString(kv.getKey)
        vs += UTF8String.fromString(
          if (kv.getValue.isTextual) kv.getValue.asText() else kv.getValue.toString)
      }
      (ks.toArray, vs.toArray)
    } catch { case _: Exception => null }
  }

  /** `^[a-z]+[a-z0-9-_.]+$` without regex (parser.go:39), over bytes. */
  private[functions] def validService(b: Array[Byte], from: Int, until: Int): Boolean = {
    if (until - from < 2) return false
    val c0 = b(from)
    if (c0 < 'a' || c0 > 'z') return false
    var i = from + 1
    while (i < until) {
      val c = b(i)
      val ok = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
        c == '-' || c == '_' || c == '.'
      if (!ok) return false
      i += 1
    }
    true
  }

  /** `^00000000[1-9a-f]` without regex (parser.go:40), over bytes. */
  private[functions] def isBenchmarkTrace(b: Array[Byte], from: Int, until: Int): Boolean = {
    if (until - from < 9) return false
    var i = from
    while (i < from + 8) { if (b(i) != '0') return false; i += 1 }
    val c = b(from + 8)
    (c >= '1' && c <= '9') || (c >= 'a' && c <= 'f')
  }

  // per-thread mapper (the ContainerKernel pattern): the jackson fallback is
  // off the hot path, but a SHARED factory's buffer pool still serializes
  // non-flat-envelope workloads at 32 threads — exactly the contention the
  // byte-slicing parse was built to avoid
  private val mappers =
    ThreadLocal.withInitial[com.fasterxml.jackson.databind.ObjectMapper](
      () => new com.fasterxml.jackson.databind.ObjectMapper())
  private def mapper = mappers.get()
}

/** The serverlog parse stage: the reference fork's `parse_serverlog`
  * processor (libbeat/processors/parse_serverlog/parser.go:71-160), applied
  * to the raw content line (the JSON envelope unwrap is a separate operator):
  *
  *  - `logtime` = first 23 bytes (parser.go:98)
  *  - positional `SplitN(content, " ", 12)`; < 11 items → pass-through
  *    ("short", parser.go:100-103)
  *  - service name: one comma removed, must match `^[a-z]+[a-z0-9-_.]+$`
  *    else the event is dropped ("bad_service", parser.go:105-109)
  *  - benchmark traffic: trimmed trace id matching `^00000000[1-9a-f]` stops
  *    field extraction ("benchmark", parser.go:111-114)
  *  - fields hostname/level(upper)/thread/class/method/line(int)/trace/span,
  *    `[...]`-trimming via first+last byte strip (parser.go:116-136,155-160)
  *  - embedded JSON between first and last `##JIDU##` markers merged into an
  *    `extra` map (parser.go:138-151); `message` = suffix from first marker
  *
  * Go strings are bytes, so every step is a byte operation. [[parse]] writes
  * the result DIRECTLY into a reused `UnsafeRow` buffer — no line copy, no
  * `GenericInternalRow`, no per-field boxing: every output byte moves once,
  * input buffer → row buffer. [[status]] is only the first phase (split,
  * service, trace) and allocates nothing per row; the router uses it.
  *
  * Buffer contract: the returned row aliases a writer owned by this
  * instance and is valid until the next `parse` call on the same thread —
  * the standard Spark projection-output contract (operators that buffer
  * rows copy them). [[ServerlogParse]] and [[ServerlogStatus]] hold one
  * writer per thread via ThreadLocal, so concurrent tasks never share one.
  */
final class ServerlogRowWriter {
  import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
  import org.apache.spark.unsafe.Platform
  import ServerlogKernel._

  private val w = new UnsafeRowWriter(14, 512)
  private val keyWriter = new UnsafeArrayWriter(w, 8)
  private val valWriter = new UnsafeArrayWriter(w, 8)
  private var scratch = new Array[Byte](64)
  // slice store for the flat-JSON extra map: (from, until) offsets into `b`
  private var pairFrom = new Array[Int](16)
  private var pairUntil = new Array[Int](16)

  // the first phase's results: the line as `b(base until base + n)`, the
  // SplitN items as input-relative `starts`/`ends`, and the comma-stripped
  // service as `svcBytes(svcFrom until svcUntil)` (`b` or `scratch`)
  private var b: Array[Byte] = _
  private var base = 0
  private var n = 0
  private val starts = new Array[Int](12)
  private val ends = new Array[Int](12)
  private var svcBytes: Array[Byte] = _
  private var svcFrom = 0
  private var svcUntil = 0

  private def ensureScratch(len: Int): Array[Byte] = {
    if (scratch.length < len) scratch = new Array[Byte](Integer.highestOneBit(len) * 2)
    scratch
  }

  // item k with its first and last byte stripped (the reference's `[..]`
  // trim, parser.go:155-160); an item shorter than 2 bytes is kept whole
  private def trimFrom(k: Int): Int = if (ends(k) - starts(k) < 2) starts(k) else starts(k) + 1
  private def trimUntil(k: Int): Int = if (ends(k) - starts(k) < 2) ends(k) else ends(k) - 1

  /** The row's status — `parse(input)`'s field 13 — and the first phase of
    * [[parse]]: points `b` at the line's bytes (off-heap input is copied
    * once into a fresh array — not into `scratch`, which the comma and
    * upper-case paths reuse mid-parse), walks the SplitN boundaries, and
    * checks the service and the benchmark trace. Allocates nothing for
    * on-heap input. */
  def status(input: UTF8String): UTF8String = {
    val n = input.numBytes
    val b = input.getBaseObject match {
      case arr: Array[Byte] => arr
      case _ =>
        val copy = new Array[Byte](n)
        Platform.copyMemory(input.getBaseObject, input.getBaseOffset, copy,
          Platform.BYTE_ARRAY_OFFSET, n.toLong)
        copy
    }
    val base =
      if (b eq input.getBaseObject) (input.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt else 0
    this.b = b; this.base = base; this.n = n

    // Go strings.SplitN(s, " ", 12): the 12th item runs to end-of-line
    var cnt = 0
    var start = 0
    var i = 0
    while (i < n && cnt < 11) {
      if (b(base + i) == ' ') {
        starts(cnt) = start; ends(cnt) = i; cnt += 1; start = i + 1
      }
      i += 1
    }
    starts(cnt) = start; ends(cnt) = n; cnt += 1
    if (cnt < 11) return StShort

    // service: one comma removed (parser.go:105); the comma path copies into
    // the reusable scratch buffer, the common path reads the input in place
    svcBytes = b
    svcFrom = base + starts(2)
    svcUntil = base + ends(2)
    var ci = -1
    var j = svcFrom
    while (ci < 0 && j < svcUntil) { if (b(j) == ',') ci = j; j += 1 }
    if (ci >= 0) {
      val len = svcUntil - svcFrom - 1
      val sb = ensureScratch(len)
      System.arraycopy(b, svcFrom, sb, 0, ci - svcFrom)
      System.arraycopy(b, ci + 1, sb, ci - svcFrom, svcUntil - ci - 1)
      svcBytes = sb; svcFrom = 0; svcUntil = len
    }
    if (!validService(svcBytes, svcFrom, svcUntil)) return StBadService

    if (ends(9) > starts(9) && isBenchmarkTrace(b, base + trimFrom(9), base + trimUntil(9)))
      StBenchmark
    else StOk
  }

  def parse(input: UTF8String): org.apache.spark.sql.catalyst.expressions.UnsafeRow = {
    val st = status(input)
    val b = this.b
    val base = this.base
    val n = this.n
    w.reset()
    w.zeroOutNullBytes()
    @inline def at(i: Int): Byte = b(base + i)
    @inline def writeSlice(ord: Int, from: Int, until: Int): Unit =
      w.write(ord, b, base + from, until - from)
    @inline def nullRange(a: Int, b0: Int): Unit = {
      var k = a; while (k <= b0) { w.setNullAt(k); k += 1 }
    }

    writeSlice(0, 0, math.min(23, n)) // logtime
    // service is kept on benchmark rows (set before the trace check)
    if ((st eq StShort) || (st eq StBadService)) w.setNullAt(1)
    else w.write(1, svcBytes, svcFrom, svcUntil - svcFrom)
    if (!(st eq StOk)) {
      nullRange(2, 12)
      w.write(13, st)
      return w.getRow
    }

    // line number parse ([%{line}] → long)
    val lnFrom = trimFrom(8)
    val lnUntil = trimUntil(8)
    var lineOk = lnUntil > lnFrom && lnUntil - lnFrom <= 20
    var neg = false
    var k = lnFrom
    if (lineOk && (at(k) == '-' || at(k) == '+')) { neg = at(k) == '-'; k += 1; lineOk = k < lnUntil }
    // negative accumulation (JDK Long.parseLong shape): Long.MinValue parses,
    // and overflow is an EXPLICIT parse failure → script_error, matching Go
    // strconv's ErrRange (a 19-digit wrap must not yield status=ok garbage)
    val lnLimit = if (neg) Long.MinValue else -Long.MaxValue
    var lineNeg = 0L
    while (lineOk && k < lnUntil) {
      val c = at(k)
      if (c < '0' || c > '9') lineOk = false
      else {
        val d = c - '0'
        if (lineNeg < lnLimit / 10 || lineNeg * 10 < lnLimit + d) lineOk = false
        else { lineNeg = lineNeg * 10 - d; k += 1 }
      }
    }
    val lineNo = if (neg) lineNeg else -lineNeg

    // ##JIDU## marker scan: first and last occurrence
    var idx = -1
    var idx2 = -1
    var i = 0
    while (i <= n - 8) {
      if (at(i) == '#' && at(i + 1) == '#' && at(i + 2) == 'J' && at(i + 3) == 'I' &&
        at(i + 4) == 'D' && at(i + 5) == 'U' && at(i + 6) == '#' && at(i + 7) == '#') {
        if (idx < 0) idx = i
        idx2 = i
      }
      i += 1
    }

    if (lineOk) {
      writeSlice(2, starts(3), ends(3)) // hostname
      writeUpper(b, base + starts(4), base + ends(4)) // level, field 3
      writeSlice(4, trimFrom(5), trimUntil(5)) // thread
      writeSlice(5, starts(6), ends(6)) // class
      writeSlice(6, starts(7), ends(7)) // method
      w.write(7, lineNo)
      writeSlice(8, trimFrom(9), trimUntil(9)) // trace_id
      writeSlice(9, trimFrom(10), trimUntil(10)) // span_id
      if (idx >= 0) writeSlice(10, idx, n) else w.setNullAt(10) // message
      w.setNullAt(12) // script_error
    } else {
      nullRange(2, 10)
      w.write(12, ErrLineParseBytes, 0, ErrLineParseBytes.length)
    }

    // embedded ##JIDU##{json}##JIDU## envelope → extra map (parser.go:138-151).
    // Fast path: a scanner for flat escape-free string→string objects (the
    // shape the reference emits). Anything else falls back to jackson —
    // whose readTree throughput collapses under 32-thread contention
    // (shared-factory buffer pool), so the hot path must avoid it.
    var wroteExtra = false
    if (idx >= 0 && idx != idx2) {
      val nPairs = scanFlatObject(b, base + idx + 8, base + idx2)
      if (nPairs >= 0) {
        writeMapFromSlices(11, b, nPairs)
        wroteExtra = true
      } else {
        val kv = jacksonExtra(b, base + idx + 8, base + idx2)
        if (kv != null) {
          writeMapFromStrings(11, kv._1, kv._2)
          wroteExtra = true
        }
      }
    }
    if (!wroteExtra) w.setNullAt(11)

    w.write(13, StOk)
    w.getRow
  }

  /** upper-case of a byte range into field 3 (level): byte-wise for pure
    * ASCII (the fast path), `toUpperCase(Locale.ROOT)` otherwise. */
  private def writeUpper(b: Array[Byte], from: Int, until: Int): Unit = {
    var ascii = true
    var anyLower = false
    var i = from
    while (i < until) {
      val c = b(i)
      if (c < 0) ascii = false
      else if (c >= 'a' && c <= 'z') anyLower = true
      i += 1
    }
    if (!ascii) {
      w.write(3, UTF8String.fromString(
        new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8)
          .toUpperCase(java.util.Locale.ROOT)))
    } else if (!anyLower) {
      w.write(3, b, from, until - from)
    } else {
      val out = ensureScratch(until - from)
      i = from
      while (i < until) {
        val c = b(i)
        out(i - from) = if (c >= 'a' && c <= 'z') (c - 32).toByte else c
        i += 1
      }
      w.write(3, out, 0, until - from)
    }
  }

  /** scan `{"k": "v", ...}` recording key/value slices into pairFrom/Until
    * (keys at even indices, values at odd); returns the pair count, or -1
    * when the object needs the full JSON parse: escapes, raw control bytes
    * (RFC 8259 §7 forbids U+0000–U+001F unescaped in a string), non-string
    * values, nesting, duplicate keys. Whatever it accepts, jackson parses to
    * the same pairs. */
  private def scanFlatObject(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    @inline def ws(): Unit = {
      while (i < until && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1
    }
    // a plain string literal at i: its closing quote's index, or -1
    @inline def strEnd(): Int = {
      if (i >= until || b(i) != '"') return -1
      var e = i + 1
      while (e < until && b(e) != '"' && b(e) != '\\' && (b(e) < 0 || b(e) >= 0x20)) e += 1
      if (e < until && b(e) == '"') e else -1
    }
    ws()
    if (i >= until || b(i) != '{') return -1
    i += 1
    ws()
    if (i < until && b(i) == '}') {
      i += 1; ws()
      return if (i == until) 0 else -1
    }
    var n = 0
    var more = true
    while (more) {
      ws()
      val k1 = strEnd()
      if (k1 < 0) return -1
      val k0 = i + 1
      i = k1 + 1
      // duplicate key check against previously recorded keys
      var d = 0
      while (d < n) {
        val f = pairFrom(2 * d); val u = pairUntil(2 * d)
        if (u - f == k1 - k0) {
          var m = 0
          var same = true
          while (same && m < u - f) { same = b(f + m) == b(k0 + m); m += 1 }
          if (same) return -1
        }
        d += 1
      }
      ws()
      if (i >= until || b(i) != ':') return -1
      i += 1
      ws()
      val v1 = strEnd()
      if (v1 < 0) return -1
      val v0 = i + 1
      i = v1 + 1
      if (pairFrom.length < 2 * (n + 1)) {
        pairFrom = java.util.Arrays.copyOf(pairFrom, 4 * (n + 1))
        pairUntil = java.util.Arrays.copyOf(pairUntil, 4 * (n + 1))
      }
      pairFrom(2 * n) = k0; pairUntil(2 * n) = k1
      pairFrom(2 * n + 1) = v0; pairUntil(2 * n + 1) = v1
      n += 1
      ws()
      if (i < until && b(i) == ',') { i += 1 }
      else if (i < until && b(i) == '}') { i += 1; more = false }
      else return -1
    }
    ws()
    if (i != until) return -1
    n
  }

  /** UnsafeRow map layout: [8B key-array numBytes][key array][value array]
    * (the same byte stream GenerateUnsafeProjection emits for MapType). */
  private def writeMapFromSlices(ord: Int, b: Array[Byte], nPairs: Int): Unit = {
    val previousCursor = w.cursor()
    w.grow(8)
    w.increaseCursor(8)
    val tmpCursor = w.cursor()
    keyWriter.initialize(nPairs)
    var i = 0
    while (i < nPairs) {
      keyWriter.write(i, b, pairFrom(2 * i),
        pairUntil(2 * i) - pairFrom(2 * i))
      i += 1
    }
    Platform.putLong(w.getBuffer, tmpCursor - 8, (w.cursor() - tmpCursor).toLong)
    valWriter.initialize(nPairs)
    i = 0
    while (i < nPairs) {
      valWriter.write(i, b, pairFrom(2 * i + 1),
        pairUntil(2 * i + 1) - pairFrom(2 * i + 1))
      i += 1
    }
    w.setOffsetAndSizeFromPreviousCursor(ord, previousCursor)
  }

  private def writeMapFromStrings(ord: Int, keys: Array[UTF8String],
                                  vals: Array[UTF8String]): Unit = {
    val previousCursor = w.cursor()
    w.grow(8)
    w.increaseCursor(8)
    val tmpCursor = w.cursor()
    keyWriter.initialize(keys.length)
    var i = 0
    while (i < keys.length) { keyWriter.write(i, keys(i)); i += 1 }
    Platform.putLong(w.getBuffer, tmpCursor - 8, (w.cursor() - tmpCursor).toLong)
    valWriter.initialize(vals.length)
    i = 0
    while (i < vals.length) { valWriter.write(i, vals(i)); i += 1 }
    w.setOffsetAndSizeFromPreviousCursor(ord, previousCursor)
  }
}

/** Catalyst expression: `serverlog_status(text)` → string — the router's
  * allocation-free fast path: [[ServerlogRowWriter.status]], the same first
  * phase that decides `serverlog_parse(text).status`, without the field
  * extraction. */
case class ServerlogStatus(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "serverlog_status"

  /** one writer per (expression instance, thread), as in [[ServerlogParse]] */
  @transient private lazy val writers: ThreadLocal[ServerlogRowWriter] =
    ThreadLocal.withInitial(() => new ServerlogRowWriter)

  def evalInput(input: UTF8String): UTF8String = writers.get().status(input)

  override protected def nullSafeEval(input: Any): Any =
    evalInput(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("serverlogStatus", this, classOf[ServerlogStatus].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalInput($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ServerlogStatus =
    copy(child = newChild)
}

/** Catalyst expression: `serverlog_parse(text)` → struct (see
  * [[ServerlogKernel.schema]]). Native expression with codegen (a single
  * call inside whole-stage codegen) — not a UDF, per the engine's
  * north-star parse-stage requirement. */
case class ServerlogParse(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ServerlogKernel.schema
  override def nullable: Boolean = true
  override def prettyName: String = "serverlog_parse"

  /** one zero-allocation row writer per (expression instance, thread): the
    * returned row aliases the writer's buffer (valid until the next call on
    * that thread — the standard projection-output contract); ThreadLocal
    * keeps concurrent tasks and sibling serverlog_parse calls isolated. */
  @transient private lazy val writers: ThreadLocal[ServerlogRowWriter] =
    ThreadLocal.withInitial(() => new ServerlogRowWriter)

  def evalInput(input: UTF8String): InternalRow = writers.get().parse(input)

  override protected def nullSafeEval(input: Any): Any =
    evalInput(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("serverlogExpr", this, classOf[ServerlogParse].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.evalInput($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ServerlogParse =
    copy(child = newChild)
}
