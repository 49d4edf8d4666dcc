package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** decode_xml_fields (libbeat/processors/decode_xml +
  * libbeat/common/encoding/xml/decode.go:55-120) — the columnar analogue:
  * XML decoded with the reference's structural rules (child elements nest,
  * REPEATED element names become lists, attributes join the element's map,
  * mixed character data lands under `#text`, whitespace-trimmed cdata,
  * optional lowercased keys) and then flattened to a `map<string,string>`
  * of dotted leaf paths with `.N` indices for list members — the same
  * flatten convention as `Actions.addLabels`. Parse failure → NULL map
  * (ignore_failure → dead-letter routing, like every other decode here).
  *
  * Uses the JDK's DOM parser with DTD/external-entity processing disabled
  * (no XXE surface) — zero external dependencies.
  */
object XmlKernel {

  private val factories: ThreadLocal[javax.xml.parsers.DocumentBuilder] =
    ThreadLocal.withInitial { () =>
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      f.setFeature("http://xml.org/sax/features/external-general-entities", false)
      f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
      f.setXIncludeAware(false)
      f.setExpandEntityReferences(false)
      f.newDocumentBuilder()
    }

  /** Quiet handler: malformed XML is an EXPECTED per-row outcome (→ null
    * map), so nothing may reach stderr — the JDK default handler prints a
    * "[Fatal Error]" line per failure, which at 10^12 rows is an I/O flood. */
  private object SilentErrors extends org.xml.sax.ErrorHandler {
    def warning(e: org.xml.sax.SAXParseException): Unit = ()
    def error(e: org.xml.sax.SAXParseException): Unit = ()
    def fatalError(e: org.xml.sax.SAXParseException): Unit = throw e
  }

  /** Hardened DOM parse shared by every XML decode kernel; null on malformed
    * input (per-row expected outcome, silent — see [[SilentErrors]]). */
  private[functions] def parseDoc(xml: String): org.w3c.dom.Document =
    try {
      val b = factories.get()
      b.reset()
      b.setErrorHandler(SilentErrors) // reset() restores the printing default
      b.parse(new org.xml.sax.InputSource(new java.io.StringReader(xml)))
    } catch { case _: Exception => null }

  /** decode + flatten; null on malformed XML. */
  def toFlatMap(xml: String, toLower: Boolean): Seq[(String, String)] = {
    val doc = parseDoc(xml)
    if (doc == null) return null

    // LinkedHashMap: insertion-ordered output with map-overwrite semantics —
    // the reference builds Go maps, where addAttributes runs at EndElement
    // and OVERWRITES a same-named child entry (decode.go:104-110); put-last-
    // wins here reproduces that, and guarantees unique output keys.
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Locale.ROOT: the reference lowercases with Go strings.ToLower, which
    // is locale-independent (decode.go to_lower option)
    def key(s: String): String =
      if (toLower) s.toLowerCase(java.util.Locale.ROOT) else s

    // reference shape: an element is (children-or-lists ++ attributes) with
    // cdata under #text when children exist, or the scalar itself otherwise
    def walk(e: org.w3c.dom.Element, path: String): Unit = {
      val attrs = e.getAttributes
      // group child elements by name to detect repeats (→ lists)
      val kids = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[org.w3c.dom.Element]]
      val text = new StringBuilder
      val nodes = e.getChildNodes
      var i = 0
      while (i < nodes.getLength) {
        nodes.item(i) match {
          case c: org.w3c.dom.Element =>
            kids.getOrElseUpdate(key(c.getTagName),
              scala.collection.mutable.ArrayBuffer.empty) += c
          case t if t.getNodeType == org.w3c.dom.Node.TEXT_NODE ||
            t.getNodeType == org.w3c.dom.Node.CDATA_SECTION_NODE =>
            text.append(t.getNodeValue)
          case _ =>
        }
        i += 1
      }
      val cdata = text.toString.trim
      if (kids.isEmpty && attrs.getLength == 0) {
        out(path) = cdata // pure leaf
      } else {
        if (cdata.nonEmpty) out(s"$path.#text") = cdata
        for ((name, es) <- kids) {
          if (es.length == 1) walk(es(0), s"$path.$name")
          else es.zipWithIndex.foreach { case (c, idx) =>
            walk(c, s"$path.$name.$idx")
          }
        }
      }
      // attributes LAST: they overwrite same-named children, like the
      // reference's EndElement addAttributes into the Go map
      i = 0
      while (i < attrs.getLength) {
        val a = attrs.item(i)
        out(s"$path.${key(a.getNodeName)}") = a.getNodeValue
        i += 1
      }
    }

    val root = doc.getDocumentElement
    walk(root, key(root.getTagName))
    out.toSeq
  }

  def evalToMap(input: UTF8String, toLower: Boolean): ArrayBasedMapData = {
    val flat = toFlatMap(input.toString, toLower)
    if (flat == null) return null
    new ArrayBasedMapData(
      new GenericArrayData(flat.map(kv => UTF8String.fromString(kv._1)).toArray[Any]),
      new GenericArrayData(flat.map(kv => UTF8String.fromString(kv._2)).toArray[Any]))
  }
}

/** `decode_xml_map(xml[, to_lower])` → map<string,string> of dotted leaf
  * paths; NULL on malformed input. */
case class XmlToMap(child: Expression, toLower: Boolean = false)
    extends UnaryKernelExpression[UTF8String] {
  override def dataType: DataType = MapType(StringType, StringType)
  override def nullable: Boolean = true
  override def prettyName: String = "decode_xml_map"

  def evalInput(input: UTF8String): ArrayBasedMapData =
    XmlKernel.evalToMap(input, toLower)

  override protected def withNewChildInternal(newChild: Expression): XmlToMap =
    copy(child = newChild)
}
