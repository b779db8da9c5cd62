package graft.fhir

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** StructureDefinition-JSON schema compilation against the real US-Core
  * conformance resources shipped with the reference
  * (bunsen-uscore-resources-stu3/src/main/resources/definitions — public
  * HL7 FHIR artifacts, read-only test input). */
class StructureDefinitionsSpec extends SparkSuite {

  private val defsDir = "/root/reference/bunsen-uscore-resources-stu3/" +
    "src/main/resources/definitions"

  private lazy val compiled: StructureDefinitions.CompiledProfiles = {
    if (!new java.io.File(defsDir).isDirectory)
      cancel(s"definitions dir not present: $defsDir")
    StructureDefinitions.fromDirectory(defsDir)
  }

  /** dsl ⊑ json: every DSL field exists in the JSON-compiled schema (field
    * names case-insensitively — profile slice names are lowercase) with the
    * same leaf type; structs recurse as subsets. Strict equality is the
    * wrong assertion: the hand DSL is a deliberate subset of full FHIR
    * (real HumanName has `period`, real Patient has `contact`, ...). */
  private def assertSubset(dsl: DataType, json: DataType, at: String): Unit =
    (dsl, json) match {
      case (ArrayType(a, _), ArrayType(b, _)) => assertSubset(a, b, s"$at[]")
      case (a: StructType, b: StructType) =>
        a.fields.foreach { f =>
          b.fields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(g) => assertSubset(f.dataType, g.dataType,
              s"$at.${f.name}")
            case None => fail(s"field $at.${f.name} missing from " +
              s"JSON-compiled schema (has: ${b.fieldNames.mkString(",")})")
          }
        }
      case (a, b) => assert(a === b, s"type mismatch at $at")
    }

  test("US-core Patient compiled from JSON covers the hand-DSL schema") {
    val reg = compiled.registry
    assert(compiled.resources.contains("Patient"))
    // the JSON compile must resolve the profile extension slices
    // (race/ethnicity/birthsex) exactly like the DSL's hoisted fields
    val dsl = FhirSchemas.schemaFor("Patient")
    val json = FhirSchemas.schemaFor("Patient",
      reg.copy(resources = reg.resources)) // compiled Patient shadows DSL
    assertSubset(dsl, json, "Patient")
    // and the extension VALUE types match: birthsex → code (string),
    // race → parent struct with multi ombCategory Coding + text string
    val race = json("race").dataType.asInstanceOf[StructType]
    assert(race("ombCategory").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.contains("code"))
    assert(race("text").dataType === StringType)
    assert(json("birthsex").dataType === StringType)
  }

  test("CarePlan compiles from JSON with zero hand-written fields") {
    val reg = compiled.registry
    assert(!FhirSchemas.defaultRegistry.resources.contains("CarePlan"))
    val schema = FhirSchemas.schemaFor("CarePlan", reg)
    assert(schema("id").dataType === StringType)
    assert(schema("status").dataType === StringType)
    assert(schema("intent").dataType === StringType)
    // profile reference target resolved THROUGH the profile url to the
    // base resource type (us-core-patient → Patient → patientId)
    val subject = schema("subject").dataType.asInstanceOf[StructType]
    assert(subject.fieldNames.contains("patientId"))
    // inline BackboneElement chain compiled from the snapshot paths
    val activity = schema("activity").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val detail = activity("detail").dataType.asInstanceOf[StructType]
    assert(detail("status").dataType === StringType)
    assert(detail("description").dataType === StringType)
  }

  test("CarePlan JSON parses end-to-end with the compiled schema") {
    import spark.implicits._
    val reg = compiled.registry
    val json =
      """{"resourceType":"CarePlan","id":"cp1","status":"active",
         "intent":"plan","subject":{"reference":"Patient/p1","display":"P"},
         "category":[{"coding":[{"system":"http://hl7.org/fhir/us/core/CodeSystem/careplan-category","code":"assess-plan"}]}],
         "activity":[{"detail":{"status":"scheduled","description":"walk 30m"}}]}"""
    val parsed = Seq(json).toDF("j")
      .select(from_json(col("j"),
        FhirSchemas.parseSchemaFor("CarePlan", reg)).as("r"))
      .select(FhirSchemas.postParseTransform("CarePlan", col("r"), reg)
        .as("r"))
    val row = parsed.select(
      col("r.id"), col("r.status"), col("r.subject.patientId"),
      try_element_at(col("r.activity"), lit(1)).getField("detail")
        .getField("description"),
      try_element_at(try_element_at(col("r.category"), lit(1))
        .getField("coding"), lit(1)).getField("code")).head()
    assert(row.getString(0) === "cp1")
    assert(row.getString(1) === "active")
    assert(row.getString(2) === "p1")
    assert(row.getString(3) === "walk 30m")
    assert(row.getString(4) === "assess-plan")
  }

  test("bundle ingestion end-to-end with a user-compiled registry") {
    import spark.implicits._
    val reg = compiled.registry
    val bundle =
      """{"resourceType":"Bundle","type":"collection","entry":[
         {"resource":{"resourceType":"CarePlan","id":"cp9","status":"active",
           "intent":"plan","subject":{"reference":"Patient/p9"}}},
         {"resource":{"resourceType":"Patient","id":"p9","gender":"other"}}]}"""
    val carePlans = Bundles.extractEntry(spark,
      Seq(bundle).toDF("bundle_json"), "CarePlan", Nil, reg)
    val row = carePlans.select("id", "status", "subject.patientId").head()
    assert(row.getString(0) === "cp9")
    assert(row.getString(1) === "active")
    assert(row.getString(2) === "p9")
  }

  // ---- the SHIPPED conformance pack (resources/definitions) ------------

  test("shipped pack loads from the classpath with nothing skipped") {
    val cp = StructureDefinitions.shipped
    // the full US-Core STU3 profile pack (the reference ships the same 26
    // StructureDefinitions via its SPI, UsCoreStu3ProfileProvider.java:
    // 17-60) — two Observation profiles collapse onto one type name, so
    // 26 profiles → 20 base resource types
    assert(cp.resources.keySet === Set(
      "AllergyIntolerance", "CarePlan", "CareTeam", "Condition", "Device",
      "DiagnosticReport", "DocumentReference", "Encounter", "Goal",
      "Immunization", "Location", "Medication", "MedicationRequest",
      "MedicationStatement", "Observation", "Organization", "Patient",
      "Practitioner", "PractitionerRole", "Procedure"))
    assert(cp.extensionDefinitions.nonEmpty)
    assert(cp.skipped.isEmpty, s"shipped pack must compile cleanly: " +
      cp.skipped.mkString("; "))
    // every resource profile stays addressable by canonical url,
    // including the two that share the Observation type name
    // 26 SDs = 21 resource profiles + 5 extension definitions; only the
    // resource profiles land in resourcesByUrl
    val urls = cp.resourcesByUrl.keySet
    assert(urls.size === 21)
    assert(urls.contains(
      "http://hl7.org/fhir/us/core/StructureDefinition/us-core-smokingstatus"))
    assert(urls.contains(
      "http://hl7.org/fhir/us/core/StructureDefinition/us-core-observationresults"))
    // registryFor pins a chosen profile onto its type name: the
    // smokingstatus Observation has no component field, results does
    val smoking = cp.registryFor(
      "http://hl7.org/fhir/us/core/StructureDefinition/us-core-smokingstatus")
    val results = cp.registryFor(
      "http://hl7.org/fhir/us/core/StructureDefinition/us-core-observationresults")
    assert(smoking.resources("Observation").fields.map(_.name) !==
      results.resources("Observation").fields.map(_.name))
    intercept[IllegalArgumentException] {
      cp.registryFor("http://example.org/not-in-pack")
    }
  }

  test("shipped pack: extension hoisting works from the shipped JSON " +
    "(race parent + birthsex leaf), end-to-end through a bundle") {
    import spark.implicits._
    val reg = StructureDefinitions.shippedRegistry
    val schema = FhirSchemas.schemaFor("Patient", reg)
    assert(schema("birthsex").dataType ===
      org.apache.spark.sql.types.StringType)
    val race = schema("race").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(race.fieldNames.toSet === Set("ombCategory", "detailed", "text"))
    val bundle =
      """{"resourceType":"Bundle","type":"collection","entry":[
         {"resource":{"resourceType":"Patient","id":"p77","gender":"female",
           "extension":[
             {"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-race",
              "extension":[
                {"url":"ombCategory","valueCoding":{"system":"urn:oid:2.16.840.1.113883.6.238","code":"2106-3","display":"White"}},
                {"url":"text","valueString":"Mixed"}]},
             {"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex",
              "valueCode":"F"}]}}]}"""
    val rows = Bundles.extractEntry(spark,
      Seq(bundle).toDF("bundle_json"), "Patient", Nil, reg)
    val r = rows.select(col("id"), col("birthsex"),
      col("race.text"),
      try_element_at(col("race.ombCategory"), lit(1)).getField("code"))
      .head()
    assert(r.getString(0) === "p77")
    assert(r.getString(1) === "F")
    assert(r.getString(2) === "Mixed")
    assert(r.getString(3) === "2106-3")
  }

  test("shipped pack: careplan subject resolves THROUGH the us-core-patient " +
    "profile url to patientId") {
    val reg = StructureDefinitions.shippedRegistry
    val subject = FhirSchemas.schemaFor("CarePlan", reg)("subject").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(subject.fieldNames.contains("patientId"))
  }

  // Recursive StructureDefinition (Questionnaire.item.item →
  // #Questionnaire.item): the FHIR contentReference recursion mechanism.
  // The reference cuts this with a per-(type, path) depth budget of 1
  // (Stu3StructureDefinitions.java:88-114); ours must compile, truncate
  // identically in schema/parse/transform, and round-trip.
  private val questionnaireJson = StructureDefinitionsSpec.questionnaireJson

  test("recursive contentReference compiles and truncates at the depth " +
    "budget in schema, parse schema, and transform alike") {
    val cp = StructureDefinitions.compile(Seq(questionnaireJson))
    assert(cp.resources.contains("Questionnaire"))
    assert(!cp.skipped.exists(_.contains("Questionnaire.item.item")),
      s"recursion wrongly skipped: ${cp.skipped}")
    val reg = cp.registry
    val schema = FhirSchemas.schemaFor("Questionnaire", reg)
    val item = schema("item").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(item.fieldNames.contains("linkId"))
    // the cycle is cut: one level of item, no item.item
    assert(!item.fieldNames.contains("item"))
    val parseItem = FhirSchemas.parseSchemaFor("Questionnaire", reg)("item")
      .dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]
    assert(!parseItem.fieldNames.contains("item"))
  }

  test("recursive Questionnaire ingests end-to-end (nested items beyond " +
    "the budget are dropped, not fatal)") {
    import spark.implicits._
    val reg = StructureDefinitions.compile(Seq(questionnaireJson)).registry
    val bundle =
      """{"resourceType":"Bundle","type":"collection","entry":[
         {"resource":{"resourceType":"Questionnaire","id":"q1",
           "status":"active",
           "item":[{"linkId":"1","prefix":"A",
                    "item":[{"linkId":"1.1"}]},
                   {"linkId":"2"}]}}]}"""
    val rows = Bundles.extractEntry(spark,
      Seq(bundle).toDF("bundle_json"), "Questionnaire", Nil, reg)
    val r = rows.select(col("id"), col("status"),
      try_element_at(col("item"), lit(1)).getField("linkId"),
      try_element_at(col("item"), lit(2)).getField("linkId")).head()
    assert(r.getString(0) === "q1")
    assert(r.getString(1) === "active")
    assert(r.getString(2) === "1")
    assert(r.getString(3) === "2")
  }

  test("modifier extensions are flagged, reported, and never silently " +
    "hoisted") {
    val sd =
      """{"resourceType":"StructureDefinition",
         "url":"http://example.org/StructureDefinition/my-obs",
         "kind":"resource","type":"Observation",
         "snapshot":{"element":[
           {"path":"Observation","max":"1"},
           {"path":"Observation.id","max":"1","type":[{"code":"id"}]},
           {"path":"Observation.modifierExtension","sliceName":"notDone",
            "max":"1","isModifier":true,
            "type":[{"code":"Extension","profile":"http://example.org/ext"}]}]}}"""
    val cp = StructureDefinitions.compile(Seq(sd))
    assert(cp.modifierFields === Map("Observation" -> Set("notDone")))
    assert(cp.skipped.exists(_.contains("modifier extension not hoisted")))
    // and it is NOT a row field
    assert(!cp.resources("Observation").fields.exists(_.name == "notDone"))
  }

  test("dangling contentReference is pruned and reported") {
    val bad = questionnaireJson.replace("#Questionnaire.item\"",
      "#Questionnaire.nothere\"")
    val cp = StructureDefinitions.compile(Seq(bad))
    assert(cp.skipped.exists(_.contains("unresolved contentReference")),
      s"expected an unresolved-contentReference skip, got: ${cp.skipped}")
    // the resource still compiles minus the dangling field
    val item = FhirSchemas.schemaFor("Questionnaire", cp.registry)("item")
      .dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]
    assert(item.fieldNames.contains("linkId"))
    assert(!item.fieldNames.contains("item"))
  }

  test("the full US-Core pack compiles with ZERO skipped paths") {
    // every datatype the 26 real snapshots reach is covered by the
    // registry (ContactPoint/Attachment/Duration/Ratio/Range/Dosage/
    // Timing added for exactly this) — nothing silently or loudly dropped
    assert(compiled.skipped.isEmpty,
      s"unexpected skips: ${compiled.skipped.mkString("; ")}")
    compiled.resources.foreach { case (n, d) =>
      assert(d.fields.nonEmpty, s"resource $n compiled to zero fields")
    }
  }

  test("ProfileProvider SPI: ServiceLoader discovers the shipped US-Core " +
    "provider and compiles the same registry as the classpath pack") {
    val viaSpi = StructureDefinitions.fromProviders()
    val viaClasspath = StructureDefinitions.shipped
    assert(viaSpi.resources.keySet === viaClasspath.resources.keySet)
    assert(viaSpi.resourcesByUrl.keySet === viaClasspath.resourcesByUrl.keySet)
    assert(viaSpi.skipped.isEmpty)
    // and the compiled shapes agree field-for-field
    assert(viaSpi.resources("MedicationRequest").fields.map(_.name) ===
      viaClasspath.resources("MedicationRequest").fields.map(_.name))
  }

  test("unsupported datatypes are reported, never silently dropped") {
    // a type outside the registry (SampledData here) must land in
    // `skipped` with its path, while the rest of the resource compiles
    val sd =
      """{"resourceType":"StructureDefinition",
         "url":"http://example.org/StructureDefinition/Widget",
         "kind":"resource","type":"Widget",
         "snapshot":{"element":[
           {"path":"Widget","max":"1"},
           {"path":"Widget.id","max":"1","type":[{"code":"id"}]},
           {"path":"Widget.sample","max":"1","type":[{"code":"SampledData"}]}]}}"""
    val cp = StructureDefinitions.compile(Seq(sd))
    assert(cp.skipped.exists(s =>
      s.contains("Widget.sample") && s.contains("unsupported type")),
      s"expected a SampledData skip, got: ${cp.skipped}")
    assert(cp.resources("Widget").fields.map(_.name) === Seq("id"))
  }
}

object StructureDefinitionsSpec {
  /** Recursive Questionnaire: item.item is a contentReference back to
    * #Questionnaire.item. */
  val questionnaireJson =
    """{"resourceType":"StructureDefinition",
       "url":"http://example.org/StructureDefinition/Questionnaire",
       "kind":"resource","type":"Questionnaire",
       "snapshot":{"element":[
         {"path":"Questionnaire","max":"1"},
         {"path":"Questionnaire.id","max":"1","type":[{"code":"id"}]},
         {"path":"Questionnaire.status","max":"1","type":[{"code":"code"}]},
         {"path":"Questionnaire.item","max":"*",
          "type":[{"code":"BackboneElement"}]},
         {"path":"Questionnaire.item.linkId","max":"1",
          "type":[{"code":"string"}]},
         {"path":"Questionnaire.item.prefix","max":"1",
          "type":[{"code":"string"}]},
         {"path":"Questionnaire.item.item","max":"*",
          "contentReference":"#Questionnaire.item"}]}}"""
}
