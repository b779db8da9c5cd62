package graft.fhir

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** The document-level contained reshape `Bundles.toJson` is checked
  * against: parse the serialized row, replace each one-field-per-type
  * contained struct ({"medication":{...}}) by the spec's inline form
  * ({"resourceType":"Medication",...}) keeping the LAST object-valued
  * field, re-serialize. */
object JacksonFixup {

  private val mapper = new ObjectMapper()

  def fixupContained(json: String): String = {
    val root = mapper.readTree(json)
    root match {
      case obj: ObjectNode if obj.has("contained") =>
        obj.get("contained") match {
          case arr: ArrayNode =>
            val out = mapper.createArrayNode()
            arr.forEach { el =>
              el match {
                case o: ObjectNode =>
                  val it = o.fields()
                  var replaced: JsonNode = o
                  while (it.hasNext) {
                    val e = it.next()
                    if (e.getValue.isObject) {
                      val inner = e.getValue.asInstanceOf[ObjectNode]
                      val shaped = mapper.createObjectNode()
                      shaped.put("resourceType",
                        e.getKey.substring(0, 1).toUpperCase +
                          e.getKey.substring(1))
                      shaped.setAll[JsonNode](inner)
                      replaced = shaped
                    }
                  }
                  out.add(replaced)
                case other => out.add(other)
              }
            }
            obj.set[JsonNode]("contained", out)
          case _ => ()
        }
        mapper.writeValueAsString(obj)
      case _ => json
    }
  }
}
