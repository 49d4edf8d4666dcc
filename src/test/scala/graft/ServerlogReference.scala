package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

import org.apache.spark.unsafe.types.UTF8String

/** The serverlog grammar written plainly from its contract (the reference
  * fork's `parse_serverlog`, parser.go:71-160): Go's `SplitN` over the
  * line's bytes, the two regexes, `Long.parseLong`, `Locale.ROOT`
  * upper-casing and jackson for every `extra`. It shares no code with
  * `graft.functions.ServerlogRowWriter`, which specs compare against it.
  *
  * `parse` returns the 14 schema fields in order: string fields as
  * `UTF8String` (byte equality), `line` as a boxed `Long`, `extra` as its
  * (key, value) pairs in document order; null where the field is null.
  */
object ServerlogReference {
  private val ServiceRe = Pattern.compile("[a-z]+[a-z0-9-_.]+")
  private val BenchmarkTraceRe = Pattern.compile("^00000000[1-9a-f]")
  private val LineRe = Pattern.compile("[+-]?[0-9]+") // Go strconv: ASCII digits
  private val Marker = "##JIDU##".getBytes(UTF_8)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Go `strings.SplitN(s, " ", k)` over bytes. */
  def splitN(b: Array[Byte], k: Int): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var start = 0
    var items = 1
    var i = 0
    while (i < b.length && items < k) {
      if (b(i) == ' ') { out += b.slice(start, i); start = i + 1; items += 1 }
      i += 1
    }
    (out += b.slice(start, b.length)).result()
  }

  /** Go `s[1:len(s)-1]` for the `[..]` trim; shorter items stay whole. */
  private def trim(b: Array[Byte]): Array[Byte] =
    if (b.length < 2) b else b.slice(1, b.length - 1)

  private def str(b: Array[Byte]): String = new String(b, UTF_8)
  private def utf8(b: Array[Byte]): UTF8String = UTF8String.fromBytes(b)

  private def indexOf(b: Array[Byte], pat: Array[Byte], last: Boolean): Int = {
    val hits = (0 to b.length - pat.length).filter(i => b.slice(i, i + pat.length).sameElements(pat))
    if (hits.isEmpty) -1 else if (last) hits.last else hits.head
  }

  def parse(line: Array[Byte]): IndexedSeq[Any] = {
    val out = Array.fill[Any](14)(null)
    out(0) = utf8(line.take(23))
    val items = splitN(line, 12)
    def done(st: String) = { out(13) = UTF8String.fromString(st); out.toIndexedSeq }
    if (items.size < 11) return done("short")

    val service = str(items(2)).replaceFirst(",", "")
    if (!ServiceRe.matcher(service).matches()) return done("bad_service")
    out(1) = UTF8String.fromString(service)
    if (BenchmarkTraceRe.matcher(str(trim(items(9)))).find()) return done("benchmark")

    val first = indexOf(line, Marker, last = false)
    val last = indexOf(line, Marker, last = true)
    val lineItem = str(trim(items(8)))
    val lineNo =
      if (lineItem.getBytes(UTF_8).length > 20 || !LineRe.matcher(lineItem).matches()) None
      else try Some(java.lang.Long.parseLong(lineItem))
      catch { case _: NumberFormatException => None }
    lineNo match {
      case Some(v) =>
        out(2) = utf8(items(3))
        out(3) = UTF8String.fromString(str(items(4)).toUpperCase(Locale.ROOT))
        out(4) = utf8(trim(items(5)))
        out(5) = utf8(items(6))
        out(6) = utf8(items(7))
        out(7) = v
        out(8) = utf8(trim(items(9)))
        out(9) = utf8(trim(items(10)))
        if (first >= 0) out(10) = utf8(line.drop(first))
      case None =>
        out(12) = UTF8String.fromString("line_parse_error")
    }
    if (first >= 0 && first != last) out(11) = extra(line.slice(first + Marker.length, last))
    done("ok")
  }

  /** jackson's reading of the text between the markers: an object's fields,
    * text values as their text and others as JSON; null otherwise. */
  private def extra(json: Array[Byte]): Seq[(String, String)] =
    try {
      val node = mapper.readTree(str(json))
      if (node == null || !node.isObject) null
      else node.properties().asScala.toSeq.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isTextual) v.asText() else v.toString)
      }
    } catch { case _: Exception => null }
}
