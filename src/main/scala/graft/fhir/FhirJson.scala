package graft.fhir

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** JSON-side decode helper (executor-safe, jackson ships with Spark):
  * FHIR JSON → FHIR XML serialization (U6, reference Functions.resourceToXml
  * /root/reference/bunsen-spark-stu3/.../python/Functions.java:120-138 —
  * HAPI there, a direct structural emit here; FHIR XML mirrors JSON
  * one-to-one with primitives as value attributes). */
object FhirJson {

  private val mapper = new ObjectMapper()

  private def escapeXml(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def emitField(name: String, v: JsonNode,
      sb: StringBuilder): Unit = {
    if (v.isArray) {
      v.forEach(el => emitField(name, el, sb))
    } else if (v.isObject) {
      val obj = v.asInstanceOf[ObjectNode]
      // a contained entry carries its own resourceType → nested element
      if (name == "contained" && obj.has("resourceType")) {
        val rt = obj.get("resourceType").asText()
        sb.append("<contained><").append(rt).append('>')
        obj.fields().forEachRemaining { e =>
          if (e.getKey != "resourceType") emitField(e.getKey, e.getValue, sb)
        }
        sb.append("</").append(rt).append("></contained>")
      } else {
        // FHIR XML puts EXTENSION urls in attributes (other url fields,
        // e.g. Attachment.url, stay child elements)
        val urlAsAttr = (name == "extension" || name == "modifierExtension") &&
          obj.has("url") && obj.get("url").isTextual
        sb.append('<').append(name)
        if (urlAsAttr) {
          sb.append(" url=\"")
            .append(escapeXml(obj.get("url").asText())).append('"')
        }
        sb.append('>')
        obj.fields().forEachRemaining { e =>
          if (!(urlAsAttr && e.getKey == "url")) {
            emitField(e.getKey, e.getValue, sb)
          }
        }
        sb.append("</").append(name).append('>')
      }
    } else if (!v.isNull) {
      sb.append('<').append(name).append(" value=\"")
        .append(escapeXml(v.asText())).append("\"/>")
    }
  }

  /** One FHIR JSON resource document → its FHIR XML form. */
  def resourceJsonToXml(json: String): String = {
    val root = mapper.readTree(json).asInstanceOf[ObjectNode]
    val rt = root.get("resourceType").asText()
    val sb = new StringBuilder
    sb.append('<').append(rt).append(" xmlns=\"http://hl7.org/fhir\">")
    root.fields().forEachRemaining { e =>
      if (e.getKey != "resourceType") emitField(e.getKey, e.getValue, sb)
    }
    sb.append("</").append(rt).append('>')
    sb.toString
  }
}
