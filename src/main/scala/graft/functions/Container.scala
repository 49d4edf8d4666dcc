package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Container-log line decode (libbeat/reader/readjson/docker_json.go:120-210
  * — the parse stage of filebeat's `container` input and `docker` log type):
  * one raw line → `(valid, format, ts, stream, partial, content, attrs)`.
  *
  *  - `auto` (the container input default): first byte `{` → docker JSON,
  *    else CRI (parseAuto, docker_json.go:206-212).
  *  - docker / json-file: `{"log":…,"stream":…,"time":…,"attrs":{…}}`;
  *    `time` must parse as RFC3339 (fraction optional); `partial` ⇔ log is
  *    empty or does not end in `\n` (docker_json.go:173-203). The trailing
  *    newline of a FULL docker line stays in `content`, exactly like the
  *    reference (its reader tests pin `"…shutdown…\n"`).
  *  - CRI: `TS STREAM [TAGS] REST` split at at most 4 (3 when `criFlags`
  *    is off) spaces; TS is RFC3339Nano; `P` among the colon-separated tags
  *    marks a partial line, whose single trailing `\n` (if any) is stripped
  *    (docker_json.go:120-169).
  *  - Any parse failure → `valid=false` (the reference drops the line and
  *    continues, Next() docker_json.go:215-230).
  *
  * JSON is parsed with Jackson (already on every Spark classpath) in
  * Go-decoder compatibility: unknown fields ignored, missing fields zero.
  */
object ContainerKernel {

  val schema: StructType = StructType(Seq(
    StructField("valid", BooleanType, nullable = false),
    StructField("format", StringType),
    StructField("ts", TimestampType),
    StructField("stream", StringType),
    StructField("partial", BooleanType),
    StructField("content", StringType),
    StructField("attrs", MapType(StringType, StringType))
  ))

  private val mappers: ThreadLocal[com.fasterxml.jackson.databind.ObjectMapper] =
    ThreadLocal.withInitial(() => new com.fasterxml.jackson.databind.ObjectMapper())

  private val invalidRow: InternalRow = {
    val r = new GenericInternalRow(7)
    r.update(0, false)
    r
  }

  /** marks a Go-typed-unmarshal mismatch (string field with non-string JSON). */
  private object TypeMismatch extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Go time.RFC3339(Nano) → epoch micros; null on mismatch. Offset form
    * required (Z or ±hh:mm), fraction optional — `OffsetDateTime.parse`
    * accepts exactly this ISO profile. */
  private def rfc3339Micros(s: String): java.lang.Long =
    try {
      val odt = java.time.OffsetDateTime.parse(s)
      Long.box(odt.toInstant.getEpochSecond * 1000000L + odt.getNano / 1000L)
    } catch { case _: java.time.format.DateTimeParseException => null }

  private def utf8(s: String): UTF8String =
    if (s == null || s.isEmpty) null else UTF8String.fromString(s)

  private def emit(format: String, ts: java.lang.Long, stream: String,
                   partial: Boolean, content: String,
                   attrs: java.util.Map[String, String]): InternalRow = {
    val r = new GenericInternalRow(7)
    r.update(0, true)
    r.update(1, UTF8String.fromString(format))
    r.update(2, ts)
    r.update(3, utf8(stream))
    r.update(4, partial)
    // empty content is a REAL value here (an empty partial piece), not null
    r.update(5, UTF8String.fromString(content))
    if (attrs != null && !attrs.isEmpty) {
      val ks = new Array[Any](attrs.size); val vs = new Array[Any](attrs.size)
      var i = 0
      val it = attrs.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        ks(i) = UTF8String.fromString(e.getKey); vs(i) = UTF8String.fromString(e.getValue)
        i += 1
      }
      r.update(6, new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs)))
    }
    r
  }

  private def parseDocker(line: String): InternalRow = {
    val root =
      try mappers.get().readTree(line)
      catch { case _: java.io.IOException => return invalidRow }
    if (root == null || !root.isObject) return invalidRow
    // Go decodes into typed struct fields: a PRESENT field of the wrong
    // JSON type is an unmarshal error → line dropped; an absent field is
    // the zero value.
    def strField(name: String): String = {
      val n = root.get(name)
      if (n == null || n.isNull) ""
      else if (n.isTextual) n.asText()
      else throw TypeMismatch
    }
    val (timeStr, log, stream) =
      try (strField("time"), strField("log"), strField("stream"))
      catch { case TypeMismatch => return invalidRow }
    val ts = rfc3339Micros(timeStr)
    if (ts == null) return invalidRow // Go: parse error → line dropped
    var attrs: java.util.LinkedHashMap[String, String] = null
    val attrsNode = root.get("attrs")
    if (attrsNode != null && !attrsNode.isNull) {
      if (!attrsNode.isObject) return invalidRow // map[string]string mismatch
      attrs = new java.util.LinkedHashMap[String, String]()
      val it = attrsNode.properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (!e.getValue.isTextual) return invalidRow
        attrs.put(e.getKey, e.getValue.asText())
      }
    }
    val partial = log.isEmpty || log.charAt(log.length - 1) != '\n'
    emit("docker", ts, stream, partial, log, attrs)
  }

  private def parseCri(line: String, criFlags: Boolean): InternalRow = {
    val split = if (criFlags) 4 else 3
    val parts = line.split(" ", split)
    if (parts.length < split) return invalidRow // "invalid CRI log format"
    val ts = rfc3339Micros(parts(0))
    if (ts == null) return invalidRow
    val stream = parts(1)
    var partial = false
    if (criFlags) {
      // colon-separated tags; only P(artial) is meaningful (F assumed)
      val tags = parts(2).split(":", -1)
      var i = 0
      while (i < tags.length) { if (tags(i) == "P") partial = true; i += 1 }
    }
    var content = parts(split - 1)
    if (partial && content.nonEmpty && content.charAt(content.length - 1) == '\n')
      content = content.substring(0, content.length - 1)
    emit("cri", ts, stream, partial, content, null)
  }

  def decode(line: UTF8String, format: String, criFlags: Boolean): InternalRow = {
    val s = line.toString
    format match {
      case "docker" | "json-file" => parseDocker(s)
      case "cri"                  => parseCri(s, criFlags)
      case _ => // auto (docker_json.go:206-212)
        if (s.nonEmpty && s.charAt(0) == '{') parseDocker(s) else parseCri(s, criFlags)
    }
  }
}

/** `container_line(line)` → typed container-log struct (never null:
  * undecodable lines come back `valid=false`, the reference's drop). */
case class ContainerLine(child: Expression, format: String = "auto",
                         criFlags: Boolean = true) extends UnaryKernelExpression[UTF8String] {
  require(Seq("auto", "docker", "json-file", "cri").contains(format),
    s"unknown container log format '$format'")

  override def dataType: DataType = ContainerKernel.schema
  override def nullable: Boolean = true
  override def prettyName: String = "container_line"

  def evalInput(input: UTF8String): InternalRow =
    ContainerKernel.decode(input, format, criFlags)

  override protected def withNewChildInternal(newChild: Expression): ContainerLine =
    copy(child = newChild)
}
