package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One element of the tree [[XmlNode.parse]] builds — the repo's one XML
  * reader, shared by `decode_xml_map` and `decode_wineventlog`. `name` is
  * the qualified name as written (`prefix:local`); attributes are kept in
  * document order under their qualified names, namespace declarations
  * (`xmlns`, `xmlns:<p>`) among them; `text` is every character and CDATA
  * run directly inside the element, concatenated. Each decoder reads what it
  * needs: `decode_xml_map` the qualified names, `decode_wineventlog` the
  * local names (Go `xml.Name.Local`). */
private[functions] final class XmlNode(val name: String) {
  var attrNames: Array[String] = null
  var attrValues: Array[String] = null
  var kids: java.util.ArrayList[XmlNode] = null
  val text = new java.lang.StringBuilder()

  def local: String = XmlNode.local(name)

  /** value of the first attribute whose local name is `n`, else "". */
  def attr(n: String): String = {
    val i = attrIndex(n)
    if (i < 0) "" else attrValues(i)
  }
  def hasAttr(n: String): Boolean = attrIndex(n) >= 0

  private def attrIndex(n: String): Int = {
    if (attrNames == null) return -1
    var i = 0
    while (i < attrNames.length) {
      if (XmlNode.local(attrNames(i)) == n) return i
      i += 1
    }
    -1
  }
}

private[functions] object XmlNode {

  /** Go's split of a name at its colon (encoding/xml `nsname`): the part
    * after it, unless either side is empty. */
  def local(qname: String): String = {
    val i = qname.indexOf(':')
    if (i <= 0 || i == qname.length - 1) qname else qname.substring(i + 1)
  }

  // the reader splits some names at the colon even when namespace-unaware
  private def qname(prefix: String, local: String): String =
    if (prefix == null || prefix.isEmpty) local else s"$prefix:$local"

  // Hardened: no DTD support and no external entities, so an entity other
  // than the five predefined ones is a parse error. Namespace-unaware, like
  // Go's encoding/xml, which never rejects an undeclared prefix.
  private val factories: ThreadLocal[javax.xml.stream.XMLInputFactory] =
    ThreadLocal.withInitial { () =>
      val f = javax.xml.stream.XMLInputFactory.newInstance()
      f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
        java.lang.Boolean.FALSE)
      f.setProperty(javax.xml.stream.XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.FALSE)
      f
    }

  /** The root element; null on malformed input, which is an expected
    * per-row outcome, so nothing reaches stderr. A DOCTYPE and a leading
    * U+FEFF are malformed here: the StAX reader on Spark's classpath would
    * skip them, not reject them. The reader is driven to END_DOCUMENT, so
    * content after the root is a parse error too. */
  def parse(xml: String): XmlNode = {
    if (xml.startsWith("\uFEFF")) return null
    var reader: javax.xml.stream.XMLStreamReader = null
    try {
      reader = factories.get().createXMLStreamReader(new java.io.StringReader(xml))
      var root: XmlNode = null
      var top: XmlNode = null
      val stack = new java.util.ArrayDeque[XmlNode]()
      while (reader.hasNext) {
        reader.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            val n = new XmlNode(qname(reader.getPrefix, reader.getLocalName))
            val na = reader.getAttributeCount
            if (na > 0) {
              n.attrNames = Array.tabulate(na)(i =>
                qname(reader.getAttributePrefix(i), reader.getAttributeLocalName(i)))
              n.attrValues = Array.tabulate(na)(reader.getAttributeValue)
            }
            if (top == null) root = n
            else {
              if (top.kids == null) top.kids = new java.util.ArrayList[XmlNode](4)
              top.kids.add(n)
            }
            stack.push(n)
            top = n
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            stack.pop()
            top = stack.peek()
          case javax.xml.stream.XMLStreamConstants.CHARACTERS |
              javax.xml.stream.XMLStreamConstants.CDATA =>
            if (top != null)
              top.text.append(reader.getTextCharacters, reader.getTextStart,
                reader.getTextLength)
          case javax.xml.stream.XMLStreamConstants.DTD => return null
          case _ => // comments, PIs, whitespace outside the root
        }
      }
      root
    } catch {
      case _: javax.xml.stream.XMLStreamException => null
      case _: RuntimeException                    => null // factory property quirks
    } finally {
      if (reader != null)
        try reader.close() catch { case _: javax.xml.stream.XMLStreamException => }
    }
  }
}

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
  * Walks the [[XmlNode]] tree. Keys are qualified names (`prefix:local`),
  * namespace declarations are attributes, and an element's attributes are
  * emitted sorted by qualified name (the case table in ActionsSpec pins the
  * output order).
  */
object XmlKernel {

  /** decode + flatten; null on malformed XML. */
  def toFlatMap(xml: String, toLower: Boolean): Seq[(String, String)] = {
    val root = XmlNode.parse(xml)
    if (root == null) return null

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
    def walk(e: XmlNode, path: String): Unit = {
      // group child elements by name to detect repeats (→ lists)
      val kids = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[XmlNode]]
      if (e.kids != null) e.kids.forEach { c =>
        kids.getOrElseUpdate(key(c.name), scala.collection.mutable.ArrayBuffer.empty) += c
      }
      val cdata = e.text.toString.trim
      if (kids.isEmpty && e.attrNames == null) {
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
      if (e.attrNames != null)
        for (i <- e.attrNames.indices.sortBy(e.attrNames(_)))
          out(s"$path.${key(e.attrNames(i))}") = e.attrValues(i)
    }

    walk(root, key(root.name))
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
