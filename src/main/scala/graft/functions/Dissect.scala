package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Dissect: positional tokenization by literal delimiters — the fast
  * non-regex parse path. Full pattern language (a fresh implementation of the
  * semantics in libbeat/processors/dissect/{parser,dissect,field,trim}.go):
  *
  *   `%{key}`         capture until the next literal delimiter
  *   `%{}`            skip (matched but not emitted)
  *   `%{?key}`        named skip: captured for `&key` reference, not emitted
  *   `%{*key}`        pointer: like `?key` (field.go:168-180)
  *   `%{&key}`        indirect: emitted under the VALUE captured for `key`
  *                    (field.go:182-200); requires a `?key`/`*key` reference
  *                    (validate.go:24-42)
  *   `%{+key}`        append to `key`, joined by the literal preceding the
  *                    appended part (default " ", const.go:54);
  *                    `%{+key/2}` orders parts explicitly (1-2 digits)
  *   `%{key#3}`       fixed length: consume exactly 3 bytes, no delimiter
  *                    search (dissect.go:130-137); the last field must fit
  *                    the remaining input exactly (dissect.go:171-175)
  *   `%{key->}`       greedy: consume adjacent repeats of the following
  *                    delimiter (padding, dissect.go:150-161)
  *   `%{key|type}`    convert: integer|long|float|double|string|boolean|ip
  *                    (field.go:62-70); unknown or missing type = compile
  *                    error (field.go:245-252) — NEVER a silent string
  *                    fallthrough
  *
  * Two Catalyst expressions share the compiled matcher:
  *  - [[DissectExpr]] → typed struct; static schema, so indirect/pointer
  *    keys (dynamic names) are rejected at compile time.
  *  - [[DissectMapExpr]] → map<string,string>; the reference's `Map` output
  *    shape, supports the full modifier set + trim modes.
  *
  * The compiled form is a byte-level delimiter scan over `UTF8String` input
  * (Go strings are bytes, so SplitN/fixed-length/trim in the reference are
  * byte operations — and byte scanning avoids the per-row decode+substring
  * garbage that inverts thread scaling at 32 cores). A non-matching row
  * yields a NULL result, the columnar analogue of the reference's
  * `dissect_parsing_error` flag (dissect/processor.go:93-117) — callers
  * route those rows to dead-letter.
  */
object Dissect {

  sealed trait Kind
  case object Normal extends Kind
  case object Skip extends Kind // %{} and %{?name} and %{*name}
  case object Append extends Kind
  case object Indirect extends Kind

  final case class Part(key: String, kind: Kind, ordinal: Int, length: Int,
                        greedy: Boolean, typ: String,
                        delimBefore: Array[Byte], delimAfter: Array[Byte]) {
    def isFixed: Boolean = length > 0
    /** emitted under its own (static) name */
    def saveable: Boolean = kind == Normal || kind == Append
  }

  val TypeNames: Set[String] =
    Set("integer", "long", "float", "double", "string", "boolean", "ip")

  def sqlType(t: String): DataType = t match {
    case "integer" => IntegerType
    case "long"    => LongType
    case "float"   => FloatType
    case "double"  => DoubleType
    case "boolean" => BooleanType
    case _         => StringType // string, ip
  }

  // %{key/ord#len->|type} suffix decomposition (const.go:48-52)
  private val suffixRe =
    """^(.+?)(?:/(\d{1,2}))?(?:#(\d{1,2}))?(->)?(?:\|([A-Za-z]*))?$""".r

  sealed trait TrimMode
  case object TrimNone extends TrimMode
  case object TrimLeft extends TrimMode
  case object TrimRight extends TrimMode
  case object TrimAll extends TrimMode

  final case class Compiled(parts: Array[Part], trimMode: TrimMode,
                            trimChars: Array[Boolean]) {

    /** saveable output keys, in first-appearance order (static schema). */
    val outKeys: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      parts.foreach(p => if (p.saveable) seen += p.key)
      seen.toArray
    }
    val hasDynamicKeys: Boolean = parts.exists(_.kind == Indirect)

    /** per-outKey declared type (first saveable part with that key wins). */
    private val typeNames: Array[String] = outKeys.map { k =>
      parts.find(p => p.saveable && p.key == k).map(_.typ).getOrElse("")
    }

    val schema: StructType = StructType(outKeys.zip(typeNames).map {
      case (k, t) => StructField(k, sqlType(t))
    })

    /** resolve order: stable sort by ordinal, pattern order within ties
      * (parser.go:81-84 — append parts join left-to-right by /n). */
    private val applyOrder: Array[Int] =
      parts.indices.sortBy(i => parts(i).ordinal).toArray

    /** Byte-level position extraction (dissect.go:104-181) over
      * `b[base, base+n)` — `base` lets the struct path run directly on the
      * input column buffer with zero copy. Returns flat input-RELATIVE
      * [start0, end0, start1, end1, ...] or null on parse failure. */
    def matchPositions(b: Array[Byte], base: Int, n: Int): Array[Int] = {
      val m = parts.length
      val pos = new Array[Int](2 * m)

      // hard match on the leading literal (dissect.go:112-119)
      val first = parts(0).delimBefore
      if (!regionMatches(b, base, n, 0, first)) return null
      var off = first.length

      var i = 0
      while (i < m) {
        val p = parts(i)
        val start = off
        var end = 0
        // "terminal" = final field with no trailing literal: takes the rest
        // (dissect.go:177-179); with a trailing literal the final field is
        // delimiter-terminated inside the loop and remaining input after the
        // literal is ignored (golden: "remaining data").
        val terminal = i == m - 1 && p.delimAfter.isEmpty
        if (p.isFixed) {
          end = off + p.length
          if (end > n) return null
          if (terminal && end != n) return null // dissect.go:171-175
        } else if (terminal) {
          end = n
        } else {
          end = indexOf(b, base, n, p.delimAfter, off)
          if (end < 0) return null
        }
        off = end
        // greedy: consume adjacent repeats of the following delimiter in
        // WHOLE-delimiter steps (dissect.go:150-161; value end is NOT
        // extended) — byte-stepping only equals this when the delimiter is
        // a run of one repeated byte ("%{a->}ab%{b}" on "xababy" must give
        // b="y", not "aby")
        if (p.greedy && p.delimAfter.length > 0) {
          while (regionMatches(b, base, n, off + p.delimAfter.length, p.delimAfter))
            off += p.delimAfter.length
        }
        pos(2 * i) = start
        pos(2 * i + 1) = end
        if (!terminal) {
          // a fixed-length field's end is positional, so the following
          // literal must be VERIFIED before skipping it — otherwise a
          // structurally mismatching row parses as success with garbage
          // alignment instead of the null (dead-letter) contract
          if (p.isFixed && !regionMatches(b, base, n, off, p.delimAfter)) return null
          off += p.delimAfter.length
        }
        i += 1
      }
      pos
    }

    @inline private def regionMatches(b: Array[Byte], base: Int, n: Int,
                                      at: Int, needle: Array[Byte]): Boolean = {
      if (at + needle.length > n) return false
      var i = 0
      while (i < needle.length) {
        if (b(base + at + i) != needle(i)) return false
        i += 1
      }
      true
    }

    private def indexOf(b: Array[Byte], base: Int, n: Int,
                        needle: Array[Byte], from: Int): Int = {
      if (needle.length == 0) return from // zeroByte delimiter: empty capture
      val c0 = needle(0)
      var i = from
      val limit = n - needle.length
      while (i <= limit) {
        if (b(base + i) == c0 && regionMatches(b, base, n, i, needle)) return i
        i += 1
      }
      -1
    }

    /** trim a captured range in posArr per trim mode (trim.go:60-70). */
    @inline private def trimAt(b: Array[Byte], base: Int, posArr: Array[Int],
                               i: Int): Unit = {
      var s = posArr(2 * i); var e = posArr(2 * i + 1)
      if (trimMode == TrimLeft || trimMode == TrimAll) {
        while (s < e && (b(base + s) & 0xff) < 128 && trimChars(b(base + s))) s += 1
      }
      if (trimMode == TrimRight || trimMode == TrimAll) {
        while (s < e && (b(base + e - 1) & 0xff) < 128 && trimChars(b(base + e - 1))) e -= 1
      }
      posArr(2 * i) = s; posArr(2 * i + 1) = e
    }

    // ---- compile-time resolve plan -----------------------------------------
    // All key→slot resolution happens HERE, once: the per-row path below
    // fills a fixed-size slot array with zero lookup structures — no
    // ArrayBuffer, no Set, no linear name scans per field (the allocation
    // profile that inverts thread scaling at 32 cores; SURVEY §4).
    /** static keys: saveable outputs (outKeys order) then named references. */
    private val staticKeys: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      outKeys.foreach(seen += _)
      parts.foreach(p => if (p.kind == Skip && p.key.nonEmpty) seen += p.key)
      seen.toArray
    }
    private val staticKeyUtf8: Array[UTF8String] =
      staticKeys.map(UTF8String.fromString)
    private val staticSlot: Map[String, Int] = staticKeys.zipWithIndex.toMap
    /** per-part slot: ≥0 static, -1 anonymous skip, -2 indirect (dynamic). */
    private val partSlot: Array[Int] = parts.map { p =>
      if (p.kind == Indirect) -2
      else if (p.key.isEmpty) -1
      else staticSlot(p.key)
    }
    /** indirect parts: slot of the `?`/`*` reference whose VALUE names the
      * output (compile-validated to exist). */
    private val indirectRef: Array[Int] =
      parts.map(p => if (p.kind == Indirect) staticSlot.getOrElse(p.key, -1) else -1)
    private val nIndirect: Int = parts.count(_.kind == Indirect)
    /** reference-only keys are dropped from the output (dissect.go:191-194). */
    private val refKeySet: Set[String] =
      parts.collect { case p if p.kind == Skip && p.key.nonEmpty => p.key }.toSet
    /** emitted static slots (all < outKeys.length by construction). */
    private val emitSlots: Array[Int] =
      outKeys.indices.filterNot(i => refKeySet.contains(outKeys(i))).toArray

    /** per-row resolve into `slotVals` (length staticKeys) + optional dynamic
      * (name, value) arrays; returns false on parse failure. Slot values are
      * SLICES of `b` — valid only while `b` is. */
    private def resolveInto(b: Array[Byte], base: Int, n: Int,
                            slotVals: Array[UTF8String],
                            dynNames: Array[UTF8String], dynVals: Array[UTF8String]): Int = {
      val posArr = matchPositions(b, base, n)
      if (posArr == null) return -1

      // apply trimmer to every position (dissect.go:71-76)
      if (trimMode != TrimNone) {
        var i = 0
        while (i < parts.length) { trimAt(b, base, posArr, i); i += 1 }
      }

      @inline def slice(i: Int): UTF8String =
        UTF8String.fromBytes(b, base + posArr(2 * i), posArr(2 * i + 1) - posArr(2 * i))

      var nDyn = 0
      var oi = 0
      while (oi < applyOrder.length) {
        val pi = applyOrder(oi)
        val p = parts(pi)
        val slot = partSlot(pi)
        if (slot >= 0) {
          if (p.kind == Append && slotVals(slot) != null) {
            val prev = slotVals(slot)
            val sep =
              if (p.delimBefore.length == 0) DefaultJoinBytes else p.delimBefore
            val vLen = posArr(2 * pi + 1) - posArr(2 * pi)
            val out = new Array[Byte](prev.numBytes + sep.length + vLen)
            prev.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
            System.arraycopy(sep, 0, out, prev.numBytes, sep.length)
            System.arraycopy(b, base + posArr(2 * pi), out, prev.numBytes + sep.length, vLen)
            slotVals(slot) = UTF8String.fromBytes(out)
          } else slotVals(slot) = slice(pi)
        } else if (slot == -2) {
          // indirect: output name = captured value of the reference slot;
          // overwrite-by-name semantics like the reference's Go-map put
          val ref = indirectRef(pi)
          val name = if (ref >= 0) slotVals(ref) else null
          if (name != null) {
            val v = slice(pi)
            var hit = -1
            var j = 0
            while (hit < 0 && j < staticKeyUtf8.length) {
              if (staticKeyUtf8(j).equals(name)) hit = j
              j += 1
            }
            if (hit >= 0) slotVals(hit) = v
            else {
              var d = 0
              var dup = -1
              while (dup < 0 && d < nDyn) {
                if (dynNames(d).equals(name)) dup = d
                d += 1
              }
              if (dup >= 0) dynVals(dup) = v
              else { dynNames(nDyn) = name; dynVals(nDyn) = v; nDyn += 1 }
            }
          }
        }
        oi += 1
      }
      nDyn
    }

    @inline private def copyBytes(input: UTF8String): Array[Byte] = {
      val n = input.numBytes
      val b = new Array[Byte](n)
      org.apache.spark.unsafe.Platform.copyMemory(
        input.getBaseObject, input.getBaseOffset, b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, n.toLong)
      b
    }

    /** map<string,string> output — the reference's `Dissect()` shape.
      * Works on a defensive copy: the emitted map holds slices that ESCAPE
      * this call, so they must not alias a reusable column buffer.
      *
      * Key ORDER: static keys in pattern (outKeys) order, then dynamic
      * (indirect `*`/`&`) keys in apply order. This diverges from the
      * reference's insertion-by-apply order (dissect.go builds the map as
      * fields resolve) — Go map iteration order is unspecified anyway, so
      * only `map_keys()`/`to_json` observers can tell; `element_at` lookups
      * are identical. */
    def runMap(input: UTF8String): ArrayBasedMapData = {
      val b = copyBytes(input)
      val slotVals = new Array[UTF8String](staticKeys.length)
      val dynNames = if (nIndirect > 0) new Array[UTF8String](nIndirect) else null
      val dynVals = if (nIndirect > 0) new Array[UTF8String](nIndirect) else null
      val nDyn = resolveInto(b, 0, input.numBytes, slotVals, dynNames, dynVals)
      if (nDyn < 0) return null
      val m = emitSlots.length + nDyn
      val keys = new Array[Any](m)
      val vals = new Array[Any](m)
      var i = 0
      while (i < emitSlots.length) {
        keys(i) = staticKeyUtf8(emitSlots(i))
        vals(i) = slotVals(emitSlots(i))
        i += 1
      }
      var d = 0
      while (d < nDyn) {
        keys(i) = dynNames(d); vals(i) = dynVals(d); i += 1; d += 1
      }
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
    }

    /** per-outKey type dispatch tag for the UnsafeRow writer: 0 = raw
      * string, 1..5 = int/long/float/double/boolean, 6 = ip (validated,
      * written as string). */
    private val typeTags: Array[Byte] = typeNames.map {
      case "" | "string" => 0: Byte
      case "integer"     => 1: Byte
      case "long"        => 2: Byte
      case "float"       => 3: Byte
      case "double"      => 4: Byte
      case "boolean"     => 5: Byte
      case "ip"          => 6: Byte
    }
    private val emitMask: Array[Boolean] = {
      val m = new Array[Boolean](outKeys.length)
      emitSlots.foreach(m(_) = true)
      m
    }

    def newStructState: StructState =
      new StructState(outKeys.length, staticKeys.length)

    /** typed-struct output — the reference's `DissectConvert()` shape;
      * conversion failure nulls the field (log-and-continue, the columnar
      * analogue of convertData's string passthrough, dissect.go:278-286).
      *
      * Runs DIRECTLY on the input column buffer (no defensive copy — the
      * UnsafeRow writer copies each emitted slice into its own buffer, so
      * nothing escaping the call aliases the input) and writes into the
      * caller's reused [[StructState]]. The returned row aliases the state's
      * writer and is valid until the next call with the same state — the
      * standard projection-output contract (same as [[ServerlogRowWriter]]). */
    def runStruct(input: UTF8String, st: StructState): InternalRow = {
      var b: Array[Byte] = null
      var base = 0
      input.getBaseObject match {
        case arr: Array[Byte] =>
          b = arr
          base = (input.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt
        case _ => b = copyBytes(input) // off-heap input: one copy, rare
      }
      val slotVals = st.slots
      java.util.Arrays.fill(slotVals.asInstanceOf[Array[AnyRef]], null)
      // dynamic keys impossible in struct mode (compile-checked)
      val nDyn = resolveInto(b, base, input.numBytes, slotVals, null, null)
      if (nDyn < 0) return null
      val w = st.writer
      w.reset()
      w.zeroOutNullBytes()
      var k = 0
      while (k < outKeys.length) {
        val v = if (emitMask(k)) slotVals(k) else null
        if (v == null) w.setNullAt(k)
        else if (typeTags(k) == 0) w.write(k, v)
        else {
          val a = convert(v, typeNames(k))
          if (a == null) w.setNullAt(k)
          else typeTags(k) match {
            case 1 => w.write(k, a.asInstanceOf[Int])
            case 2 => w.write(k, a.asInstanceOf[Long])
            case 3 => w.write(k, a.asInstanceOf[Float])
            case 4 => w.write(k, a.asInstanceOf[Double])
            case 5 => w.write(k, a.asInstanceOf[Boolean])
            case 6 => w.write(k, a.asInstanceOf[UTF8String])
          }
        }
        k += 1
      }
      w.getRow
    }

    private def convert(v: UTF8String, typ: String): Any = {
      if (typ.isEmpty || typ == "string") return v
      // TrimRight(value, " ") before conversion (dissect.go:251)
      val s = {
        var str = v.toString
        var e = str.length
        while (e > 0 && str.charAt(e - 1) == ' ') e -= 1
        if (e < str.length) str.substring(0, e) else str
      }
      try {
        typ match {
          case "integer" =>
            val l = parseGoInt(s); if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt else null
          case "long"   => parseGoInt(s)
          case "float"  => java.lang.Float.parseFloat(s)
          case "double" => java.lang.Double.parseDouble(s)
          case "boolean" => CefKernel.parseGoBool(s)
          case "ip" => if (IpOps.isValidIp(s)) UTF8String.fromString(s) else null
        }
      } catch { case _: NumberFormatException => null }
    }

    /** base-10, or base-16 with 0x/0X prefix (strToInt, dissect.go:241-248). */
    private def parseGoInt(s0: String): Long = {
      var s = s0
      var neg = false
      if (s.startsWith("+")) s = s.substring(1)
      else if (s.startsWith("-")) { neg = true; s = s.substring(1) }
      val abs =
        if (s.startsWith("0x") || s.startsWith("0X"))
          java.lang.Long.parseLong(s.substring(2), 16)
        else java.lang.Long.parseLong(s, 10)
      if (neg) -abs else abs
    }
  }

  private val DefaultJoinBytes = " ".getBytes("UTF-8")

  /** Per-thread reusable state for the struct fast path: the UnsafeRow
    * writer the row is built into plus the resolve-slot scratch array.
    * One per (expression, thread) via ThreadLocal — never shared. */
  final class StructState(nFields: Int, nSlots: Int) {
    val writer = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(nFields, 64)
    val slots = new Array[UTF8String](nSlots)
  }

  /** Compile a dissect pattern. Throws IllegalArgumentException on: no
    * `%{}` blocks, unbalanced braces, empty key with modifiers, missing or
    * unknown type suffix, `&+`/`+&` mixed prefixes, or an indirect field
    * without its `?`/`*` reference — the same config-time failures as
    * dissect/field.go:237-279 + validate.go. */
  def compile(pattern: String,
              trimMode: TrimMode = TrimNone,
              trimChars: String = " "): Compiled = {
    def bad(msg: String) =
      throw new IllegalArgumentException(s"dissect: $msg in '$pattern'")

    val rawParts = scala.collection.mutable.ArrayBuffer.empty[(String, String)] // (delimBefore, body)
    var pos = 0
    var prevDelimStart = 0
    var found = false
    while (pos < pattern.length) {
      val open = pattern.indexOf("%{", pos)
      if (open < 0) pos = pattern.length
      else {
        val close = pattern.indexOf('}', open)
        if (close < 0) bad("unbalanced braces")
        found = true
        rawParts += ((pattern.substring(prevDelimStart, open),
          pattern.substring(open + 2, close)))
        pos = close + 1
        prevDelimStart = pos
      }
    }
    if (!found) bad("no %{key} blocks (invalid tokenizer)")
    val trailing = pattern.substring(prevDelimStart)

    val parts = new Array[Part](rawParts.length)
    for (i <- rawParts.indices) {
      val (delimBefore, rawKey) = rawParts(i)
      val delimAfter = if (i + 1 < rawParts.length) rawParts(i + 1)._1 else trailing
      parts(i) =
        if (rawKey.isEmpty)
          Part("", Skip, 0, 0, greedy = false, "", delimBefore.getBytes("UTF-8"),
            delimAfter.getBytes("UTF-8"))
        else {
          if (rawKey.endsWith("|")) bad("missing data type")
          val (key0, ordinal, length, greedy, typ) = rawKey match {
            case suffixRe(k, ord, len, gr, dt) =>
              (k,
                if (ord == null) 0 else ord.toInt,
                if (len == null) 0 else len.toInt,
                gr != null,
                if (dt == null) "" else dt)
            case _ => bad("malformed key"); null
          }
          if (typ.nonEmpty && !TypeNames.contains(typ)) bad(s"invalid data type '$typ'")
          if (key0.startsWith("+&") || key0.startsWith("&+")) bad("mixed prefix `&+`")
          val (key, kind) =
            if (key0.startsWith("?")) (key0.substring(1), Skip)
            else if (key0.startsWith("*")) (key0.substring(1), Skip)
            else if (key0.startsWith("+")) (key0.substring(1), Append)
            else if (key0.startsWith("&")) (key0.substring(1), Indirect)
            else (key0, Normal)
          // only normal/append fields carry the greedy flag — the reference's
          // skip/pointer/indirect constructors discard it (field.go:263-278)
          val greedyEff = greedy && (kind == Normal || kind == Append)
          Part(key, kind, ordinal, length, greedyEff, typ,
            delimBefore.getBytes("UTF-8"), delimAfter.getBytes("UTF-8"))
        }
    }

    // validate.go:24-42 — every indirect needs a ?/* reference with its key
    val refKeys = parts.collect { case p if p.kind == Skip && p.key.nonEmpty => p.key }.toSet
    parts.foreach { p =>
      if (p.kind == Indirect && !refKeys.contains(p.key) &&
        !parts.exists(q => q.saveable && q.key == p.key))
        bad(s"missing reference for key '${p.key}'")
    }

    val chars = new Array[Boolean](128)
    trimChars.foreach { c =>
      if (c >= 128) bad("only ASCII trim_chars are supported")
      chars(c) = true
    }
    Compiled(parts, trimMode, chars)
  }
}

/** `dissect(text, pattern)` Catalyst expression → typed struct; NULL struct
  * on mismatch. Indirect/pointer keys are dynamic names and cannot have a
  * static struct schema — compile rejects them here (use [[DissectMapExpr]]).
  * Supports the reference's trim modes on captured values (trim.go,
  * dissect.go:71-76) — same knobs as [[DissectMapExpr]].
  *
  * Rows are built in a per-thread reused `UnsafeRowWriter` straight off the
  * input column bytes — no defensive copy, no `GenericInternalRow`, no
  * boxing on the string fields (the round-1 lesson: per-row allocation
  * inverts thread scaling on a memory-bound host). */
case class DissectExpr(child: Expression, pattern: String,
                       trimMode: Dissect.TrimMode = Dissect.TrimNone,
                       trimChars: String = " ") extends UnaryKernelExpression[UTF8String] {
  @transient private lazy val compiled = Dissect.compile(pattern, trimMode, trimChars)
  // compile eagerly on the driver too, so bad patterns fail at plan time
  private val planTimeSchema: StructType = {
    val c = Dissect.compile(pattern, trimMode, trimChars)
    require(!c.hasDynamicKeys,
      s"dissect: indirect '&key' produces dynamic keys; use dissect_map for '$pattern'")
    c.schema
  }

  @transient private lazy val states: ThreadLocal[Dissect.StructState] =
    ThreadLocal.withInitial(() => compiled.newStructState)

  override def dataType: DataType = planTimeSchema
  override def nullable: Boolean = true
  override def prettyName: String = "dissect"

  def evalInput(input: UTF8String): InternalRow =
    compiled.runStruct(input, states.get())

  override protected def withNewChildInternal(newChild: Expression): DissectExpr =
    copy(child = newChild)
}

/** `dissect_map(text, pattern)` → map<string,string>: the reference's
  * string-map output (dissect.go:58-78) with the full modifier set including
  * indirect/pointer dynamic keys and trim modes; NULL map on mismatch.
  *
  * Key ORDER is static keys in pattern (outKeys) order, then dynamic
  * (indirect) keys in apply order — a deliberate choice, observable via
  * `map_keys`/`to_json` but semantics-free in the reference too (Go map
  * iteration order is unspecified); `element_at` lookups are unaffected. */
case class DissectMapExpr(child: Expression, pattern: String,
                          trimMode: Dissect.TrimMode = Dissect.TrimNone,
                          trimChars: String = " ") extends UnaryKernelExpression[UTF8String] {
  @transient private lazy val compiled = Dissect.compile(pattern, trimMode, trimChars)
  // fail bad patterns at plan time
  Dissect.compile(pattern, trimMode, trimChars)

  override def dataType: DataType = MapType(StringType, StringType)
  override def nullable: Boolean = true
  override def prettyName: String = "dissect_map"

  def evalInput(input: UTF8String): ArrayBasedMapData = compiled.runMap(input)

  override protected def withNewChildInternal(newChild: Expression): DissectMapExpr =
    copy(child = newChild)
}
