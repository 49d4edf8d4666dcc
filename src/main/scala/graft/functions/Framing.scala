package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** TCP-stream frame splitting for the syslog input — the two `bufio`
  * SplitFuncs of `filebeat/inputsource/common/streaming/scan.go`:
  *
  *  - `delimiter` mode (`FactoryDelimiter`, scan.go:28-49): split on a
  *    custom (possibly multi-byte) delimiter; the delimiter is stripped; at
  *    end-of-stream the remaining bytes are one final frame.
  *  - `rfc6587` mode (`FactoryRFC6587Framing`, scan.go:51-90): per frame,
  *    a leading ASCII digit selects OCTET COUNTING (`"123 " + 123 bytes`,
  *    which may contain the delimiter — RFC 6587 §3.4.1), anything else
  *    falls back to non-transparent framing up to the next delimiter
  *    (§3.4.2). Modes may alternate frame by frame, exactly like the
  *    reference's scanner.
  *
  * Faithful edge semantics (each pinned in FramingSpec against the
  * reference's own scan_test.go cases):
  *  - a 1-byte tail is always dropped (scan.go:61-63 returns "need more
  *    data" even at EOF, and `bufio.Scanner` stops on (0, nil, nil) at EOF);
  *  - an octet frame whose count token is not a valid Go `int` (non-digits
  *    before the space, or overflow) aborts the scan — frames so far are
  *    kept, the rest of the buffer is dropped (the Scanner surfaces the
  *    `strconv.Atoi` error and stops, scan.go:70-73);
  *  - an octet frame whose declared length runs past the buffer is dropped
  *    (incomplete at EOF, scan.go:74-78);
  *  - a digit-leading buffer with no space at all is likewise dropped;
  *  - a zero-count octet frame emits an empty string (Go's Scanner only
  *    stops on a nil token, not an empty one);
  *  - in delimiter mode the final unterminated frame IS emitted, with a
  *    trailing delimiter stripped if present (`dropDelimiter`, scan.go:42-48).
  *
  * This is the batch analogue of the reference's per-connection scanner: one
  * row = one reassembled stream (a connection's bytes, a spool file), the
  * result = its frames in order. Pure per-row kernel — stays inside
  * whole-stage codegen, no shuffle.
  */
object FramingKernel {

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  private def indexOf(b: Array[Byte], from: Int, n: Int, pat: Array[Byte]): Int = {
    if (pat.length == 0) return -1
    var p = from
    val last = n - pat.length
    while (p <= last) {
      var i = 0
      while (i < pat.length && b(p + i) == pat(i)) i += 1
      if (i == pat.length) return p
      p += 1
    }
    -1
  }

  /** `dropDelimiter` (scan.go:42-48): strip one trailing delimiter copy. */
  private def emitToken(out: java.util.ArrayList[UTF8String], b: Array[Byte],
                        start: Int, end0: Int, delim: Array[Byte]): Unit = {
    var end = end0
    if (end - start > delim.length && delim.length > 0) {
      var i = 0
      var tail = true
      while (i < delim.length && tail) {
        if (b(end - delim.length + i) != delim(i)) tail = false
        i += 1
      }
      if (tail) end -= delim.length
    }
    out.add(UTF8String.fromBytes(b, start, end - start))
  }

  /** Split a whole stream; `rfc6587=false` is pure delimiter framing. */
  def frames(data: Array[Byte], delim: Array[Byte],
             rfc6587: Boolean): Array[UTF8String] = {
    val n = data.length
    val out = new java.util.ArrayList[UTF8String]()
    var p = 0
    var aborted = false
    while (p < n && !aborted) {
      val rem = n - p
      if (rfc6587 && rem <= 1) {
        // scan.go:61-63 — can't yet tell octet vs non-transparent; at EOF
        // the Scanner stops and the byte is dropped
        aborted = true
      } else if (rfc6587 && isDigit(data(p))) {
        // octet counting: digits up to the first space, then `count` bytes
        var sp = p
        while (sp < n && data(sp) != ' ') sp += 1
        if (sp >= n) aborted = true // no space before EOF → dropped
        else {
          var ok = sp - p <= 18 // Go Atoi overflow → error → scan aborts
          var q = p
          var count = 0L
          while (q < sp && ok) {
            if (!isDigit(data(q))) ok = false
            else count = count * 10L + (data(q) - '0')
            q += 1
          }
          if (!ok) aborted = true // Atoi error: frames so far kept
          else {
            val end = sp + 1L + count
            if (end > n) aborted = true // incomplete frame at EOF → dropped
            else {
              out.add(UTF8String.fromBytes(data, sp + 1, count.toInt))
              p = end.toInt
            }
          }
        }
      } else {
        val idx = indexOf(data, p, n, delim)
        if (idx >= 0) {
          emitToken(out, data, p, idx, delim)
          p = idx + delim.length
        } else {
          emitToken(out, data, p, n, delim) // EOF: remainder is a frame
          p = n
        }
      }
    }
    out.toArray(new Array[UTF8String](out.size))
  }
}

/** `frame_split(stream)` → array&lt;string&gt; of frames, in order. */
case class FrameSplit(child: Expression, delimiter: String = "\n",
                      rfc6587: Boolean = true) extends UnaryKernelExpression[UTF8String] {
  require(delimiter.nonEmpty, "framing delimiter must be non-empty")

  private val delimBytes = delimiter.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "frame_split"

  def evalInput(input: UTF8String): GenericArrayData =
    new GenericArrayData(
      FramingKernel.frames(input.getBytes, delimBytes, rfc6587)
        .asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(newChild: Expression): FrameSplit =
    copy(child = newChild)
}
