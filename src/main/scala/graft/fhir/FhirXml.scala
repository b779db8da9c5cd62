package graft.fhir

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.types._

/** FHIR XML → FHIR JSON conversion (S3), so the XML ingestion path feeds
  * the exact same `from_json` + compiled-schema pipeline as JSON bundles.
  *
  * Reference behavior: Bundles.fromXml / StringToBundle(xml=true, …)
  * (/root/reference/bunsen-spark/src/main/java/com/cerner/bunsen/spark/
  * Bundles.java:160-175,313-352) parses XML with HAPI. Offline (no HAPI) we
  * instead convert the document shape directly — FHIR XML mirrors FHIR JSON
  * one-to-one: element nesting = object nesting, repeated elements =
  * arrays, primitives in `value` attributes, resource type = element name.
  * The conversion is SCHEMA-GUIDED (the same compiled parse schemas drive
  * which children are emitted, whether a field is an array, and whether a
  * primitive is quoted), so the JSON it emits always parses cleanly.
  *
  * Parsing uses the JDK's StAX pull parser — no external deps, one pass,
  * and it runs inside executor tasks (each task converts its own rows;
  * nothing is driver-bound).
  */
object FhirXml {

  /** One parsed XML element: name, attributes, children in order. */
  private final case class XNode(
      name: String,
      attrs: Map[String, String],
      children: Vector[XNode])

  // XMLInputFactory.newInstance does a ServiceLoader lookup and the
  // factory is not guaranteed thread-safe — cache one per task thread so
  // only createXMLStreamReader runs per document on the ingest hot path
  private val factory = ThreadLocal.withInitial[XMLInputFactory] { () =>
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
      java.lang.Boolean.FALSE)
    f
  }

  private def parse(xml: String): XNode = {
    val r = factory.get().createXMLStreamReader(new java.io.StringReader(xml))
    try {
      var root: XNode = null
      // manual stack of (name, attrs, childrenBuilder)
      var stack = List.empty[(String, Map[String, String],
        scala.collection.mutable.ArrayBuffer[XNode])]
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            val attrs = (0 until r.getAttributeCount)
              .map(i => r.getAttributeLocalName(i) -> r.getAttributeValue(i))
              .toMap
            stack = (r.getLocalName, attrs,
              scala.collection.mutable.ArrayBuffer.empty[XNode]) :: stack
          case XMLStreamConstants.END_ELEMENT =>
            val (name, attrs, kids) = stack.head
            stack = stack.tail
            val node = XNode(name, attrs, kids.toVector)
            stack match {
              case (_, _, parentKids) :: _ => parentKids += node
              case Nil => root = node
            }
          case _ => ()
        }
      }
      require(root != null, "empty XML document")
      root
    } finally r.close()
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def primitive(value: String, dt: DataType): String = dt match {
    case _: DecimalType | IntegerType | LongType | DoubleType | FloatType |
        BooleanType => value
    case _ => quote(value)
  }

  /** Emit a JSON value for `node` interpreted as `dt`. A struct whose
    * schema carries a `resourceType` discriminator and whose XML content is
    * a single capitalized child element (<resource><Patient>…) is unwrapped
    * with resourceType := child element name — the resource and contained
    * slots. */
  private def emit(node: XNode, dt: DataType): Option[String] = dt match {
    case st: StructType =>
      val (body, typeName) =
        if (st.fieldNames.contains("resourceType") &&
          node.children.size == 1 && node.children.head.name.headOption
            .exists(_.isUpper)) {
          (node.children.head, Some(node.children.head.name))
        } else if (st.fieldNames.contains("resourceType") &&
          node.name.headOption.exists(_.isUpper)) {
          (node, Some(node.name)) // root resource element
        } else (node, None)
      val fields = st.fields.iterator.flatMap { f =>
        val vals: Seq[String] = f.name match {
          case "resourceType" => typeName.map(quote).toSeq
          case _ =>
            val fromAttr = body.attrs.get(f.name)
              .map(v => primitive(v, f.dataType)).toSeq
            if (fromAttr.nonEmpty) fromAttr
            else {
              val matching = body.children.filter(_.name == f.name)
              f.dataType match {
                case ArrayType(et, _) =>
                  val elems = matching.flatMap(emit(_, et))
                  if (elems.isEmpty) Nil
                  else Seq(elems.mkString("[", ",", "]"))
                case other => matching.headOption.flatMap(emit(_, other)).toSeq
              }
            }
        }
        vals.headOption.map(v => quote(f.name) + ":" + v)
      }.toSeq
      if (fields.isEmpty) None else Some(fields.mkString("{", ",", "}"))
    case ArrayType(et, _) => emit(node, et) // single element of an array slot
    case leaf =>
      node.attrs.get("value").map(primitive(_, leaf))
  }

  /** Convert one FHIR XML document — a bundle against its envelope, or a
    * standalone resource (ValueSet/ConceptMap-style directory imports)
    * against its parse schema — to the JSON that schema parses. */
  def resourceXmlToJson(xml: String, schema: StructType): String =
    emit(parse(xml), schema).getOrElse("{}")
}
