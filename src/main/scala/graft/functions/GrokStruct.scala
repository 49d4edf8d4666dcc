package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Read-only CharSequence view over an ASCII `UTF8String`'s bytes — lets
  * `java.util.regex` run directly on the column buffer with ZERO per-row
  * decode/copy. Valid only while the backing UTF8String is (reset per row);
  * `reset` returns false for non-ASCII input (where byte offsets ≠ char
  * offsets and the caller must fall back to a decoded String).
  */
private[functions] final class AsciiUtf8CharSeq extends CharSequence {
  private var base: AnyRef = _
  private var offset: Long = _
  private var len: Int = 0

  /** point the view at `u`; false (view unset) if `u` is not pure ASCII. */
  def reset(u: UTF8String): Boolean = {
    val b = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    var i = 0
    while (i < n) {
      if (Platform.getByte(b, off + i) < 0) return false
      i += 1
    }
    base = b; offset = off; len = n
    true
  }

  override def length: Int = len
  override def charAt(i: Int): Char =
    (Platform.getByte(base, offset + i) & 0xff).toChar
  override def subSequence(a: Int, b: Int): CharSequence = {
    val sb = new java.lang.StringBuilder(b - a)
    var i = a
    while (i < b) { sb.append(charAt(i)); i += 1 }
    sb
  }
  override def toString: String = subSequence(0, len).toString
}

/** Per-thread grok state: compiled matcher + ASCII view + reused UnsafeRow
  * writer. The returned row aliases the writer and is valid until the next
  * `parse` on the same thread — the standard projection-output contract
  * (same as [[ServerlogRowWriter]]).
  */
private[functions] final class GrokState(pattern: String, nFields: Int) {
  private val matcher = java.util.regex.Pattern.compile(pattern).matcher("")
  private val seq = new AsciiUtf8CharSeq
  private val w = new UnsafeRowWriter(nFields + 1, 256)

  /** requires input.getBaseObject to be a byte[] (the on-heap norm). */
  def parse(input: UTF8String): UnsafeRow = {
    if (seq.reset(input) && input.getBaseObject.isInstanceOf[Array[Byte]]) {
      // ASCII fast path: regex runs over the raw bytes; byte offset == char
      // offset, so every group is sliced straight from the input buffer into
      // the row buffer — no String, no intermediate copy. Requires an
      // on-heap byte[]-backed UTF8String (the parquet/row norm); off-heap
      // inputs (getBaseObject == null) take the decoding fallback below.
      matcher.reset(seq)
      if (!matcher.find()) return null
      val b = input.getBaseObject.asInstanceOf[Array[Byte]]
      val base = (input.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      w.reset()
      w.zeroOutNullBytes()
      var i = 0
      while (i < nFields) {
        val g = i + 1
        if (g > matcher.groupCount() || matcher.start(g) < 0) w.setNullAt(i)
        else w.write(i, b, base + matcher.start(g), matcher.end(g) - matcher.start(g))
        i += 1
      }
      w.write(nFields, b, base + matcher.start, matcher.end - matcher.start)
      w.getRow
    } else {
      // non-ASCII fallback: decode once, identical semantics
      matcher.reset(input.toString)
      if (!matcher.find()) return null
      w.reset()
      w.zeroOutNullBytes()
      var i = 0
      while (i < nFields) {
        val g = if (i + 1 <= matcher.groupCount()) matcher.group(i + 1) else null
        if (g == null) w.setNullAt(i)
        else {
          val gb = g.getBytes(StandardCharsets.UTF_8)
          w.write(i, gb, 0, gb.length)
        }
        i += 1
      }
      val mb = matcher.group(0).getBytes(StandardCharsets.UTF_8)
      w.write(nFields, mb, 0, mb.length)
      w.getRow
    }
  }
}

/** `grok_struct(text)`: one compiled `java.util.regex.Pattern` evaluated ONCE
  * per row, emitting ALL capture groups as a struct — unlike chaining N
  * `regexp_extract` calls, which re-runs the regex N times per row.
  *
  * This is the Spark-native "grok" stage: the reference ships grok only as
  * ES-ingest YAML (e.g. filebeat/module/nginx/access/ingest/pipeline.yml:10-25)
  * and hand-compiles regexes in its fork parsers
  * (libbeat/processors/parse_vehicle_trace2trace/parser.go:37,125).
  *
  * ASCII input (the log norm) is matched over a byte-view CharSequence and
  * group-sliced straight into a reused `UnsafeRow` — no per-row String, no
  * `GenericInternalRow`, no boxing (the round-1 lesson: per-row String churn
  * inverts thread scaling on a memory-bound host). Non-ASCII rows fall back
  * to one decoded String with identical semantics (parity pinned in spec).
  *
  * Output: struct(field1 string, ..., fieldN string, _match string).
  * `_match` carries the full group-0 match (needed for suffix-slicing
  * semantics, parser.go:151-155). Returns a null struct when the pattern
  * does not match (≈ `dissect_parsing_error` tagging → dead-letter routing).
  */
case class GrokStruct(child: Expression, pattern: String, fields: Seq[String])
    extends UnaryKernelExpression[UTF8String] {
  java.util.regex.Pattern.compile(pattern) // plan-time pattern validation

  override def dataType: DataType = StructType(
    fields.map(f => StructField(f, StringType)) :+ StructField("_match", StringType))
  override def nullable: Boolean = true
  override def prettyName: String = "grok_struct"

  // one state per thread: concurrent tasks never share a matcher/row buffer
  @transient private lazy val state: ThreadLocal[GrokState] =
    ThreadLocal.withInitial(() => new GrokState(pattern, fields.length))

  def evalInput(input: UTF8String): InternalRow = state.get().parse(input)

  override protected def withNewChildInternal(newChild: Expression): GrokStruct =
    copy(child = newChild)
}
