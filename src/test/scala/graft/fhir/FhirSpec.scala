package graft.fhir

import graft.SparkSuite
import org.apache.spark.sql.types._

/** Schema-compiler + bundle-ingestion semantics, mirroring the reference's
  * SparkRowConverterTest / BundlesTest matrix (SURVEY §5) for the JSON path. */
class FhirSpec extends SparkSuite {

  test("schema: decimal(12,4), lexical dates, choice expansion") {
    val obs = FhirSchemas.schemaFor("Observation")
    val vq = obs("valueQuantity").dataType.asInstanceOf[StructType]
    assert(vq("value").dataType === DecimalType(12, 4))
    assert(obs("effectiveDateTime").dataType === StringType)
    assert(obs.fieldNames.contains("valueString")) // choice alternative
    assert(obs.fieldNames.contains("valueCodeableConcept"))
  }

  test("schema: reference gets synthetic target-type id fields") {
    val obs = FhirSchemas.schemaFor("Observation")
    val subject = obs("subject").dataType.asInstanceOf[StructType]
    assert(subject.fieldNames.toSet ===
      Set("reference", "display", "patientId", "groupId"))
  }

  test("merged parse schema has a single consistent type per field") {
    // would throw on conflict
    assert(FhirSchemas.mergedResourceParseSchema.fieldNames
      .contains("resourceType"))
  }

  test("broader resource catalog: extractEntry for each registered type") {
    import spark.implicits._
    val json = Seq(
      """{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Procedure","id":"pr1","status":"completed",
          "code":{"coding":[{"system":"http://snomed.info/sct","code":"80146002"}]},
          "subject":{"reference":"Patient/p1"},
          "performedDateTime":"2019-03-04"}},
        {"resource":{"resourceType":"Immunization","id":"im1","status":"completed",
          "vaccineCode":{"coding":[{"system":"http://hl7.org/fhir/sid/cvx","code":"140"}]},
          "patient":{"reference":"Patient/p1"},"date":"2020-10-01",
          "doseQuantity":{"value":0.5,"unit":"mL"}}},
        {"resource":{"resourceType":"AllergyIntolerance","id":"al1",
          "clinicalStatus":"active","criticality":"high",
          "code":{"coding":[{"system":"http://snomed.info/sct","code":"91936005"}]},
          "patient":{"reference":"Patient/p1"}}},
        {"resource":{"resourceType":"DiagnosticReport","id":"dr1","status":"final",
          "code":{"coding":[{"system":"http://loinc.org","code":"58410-2"}]},
          "subject":{"reference":"Patient/p1"},
          "result":[{"reference":"Observation/o1"},{"reference":"Observation/o2"}],
          "conclusion":"normal"}}]}""").toDF("bundle_json")
    val bundles = Bundles.fromJson(json, "bundle_json")
    val pr = Bundles.extractEntry(spark, bundles, "Procedure").collect().head
    assert(pr.getAs[String]("performedDateTime") === "2019-03-04")
    val im = Bundles.extractEntry(spark, bundles, "Immunization").collect().head
    assert(im.getAs[org.apache.spark.sql.Row]("doseQuantity")
      .getAs[java.math.BigDecimal]("value")
      .compareTo(new java.math.BigDecimal("0.5")) === 0)
    assert(im.getAs[org.apache.spark.sql.Row]("patient")
      .getAs[String]("patientId") === "p1")
    val al = Bundles.extractEntry(spark, bundles, "AllergyIntolerance")
      .collect().head
    assert(al.getAs[String]("criticality") === "high")
    val dr = Bundles.extractEntry(spark, bundles, "DiagnosticReport")
      .collect().head
    val results = dr.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "result")
    assert(results.map(_.getAs[String]("observationId")) === Seq("o1", "o2"))
  }

  private val bundleJson = Seq(
    """{"resourceType":"Bundle","type":"collection","entry":[
      {"resource":{"resourceType":"Patient","id":"p1","gender":"?",
        "name":[{"family":"Smith","given":["Ann","B"]}]}},
      {"resource":{"resourceType":"Observation","id":"o1","status":"final",
        "code":{"coding":[{"system":"http://loinc.org","code":"8867-4"}]},
        "subject":{"reference":"Patient/p1"},
        "valueQuantity":{"value":74.5,"unit":"bpm"}}},
      {"resource":{"resourceType":"Condition","id":"c1",
        "code":{"coding":[{"system":"http://snomed.info/sct","code":"44054006"}]},
        "subject":{"reference":"Patient/p1"}}}]}""")

  test("bundles: extractEntry projects typed per-resource rows") {
    import spark.implicits._
    val bundles = Bundles.fromJson(bundleJson.toDF("bundle_json"),
      "bundle_json")
    val obs = Bundles.extractEntry(spark, bundles, "Observation")
    val row = obs.collect().head
    assert(obs.count() === 1)
    assert(row.getAs[String]("id") === "o1")
    val vq = row.getAs[org.apache.spark.sql.Row]("valueQuantity")
    assert(vq.getAs[java.math.BigDecimal]("value")
      .compareTo(new java.math.BigDecimal("74.5")) === 0)
  }

  test("bundles: synthetic patientId extracted from relative reference") {
    import spark.implicits._
    val bundles = Bundles.fromJson(bundleJson.toDF("bundle_json"),
      "bundle_json")
    val obs = Bundles.extractEntry(spark, bundles, "Observation")
    val subject = obs.collect().head
      .getAs[org.apache.spark.sql.Row]("subject")
    assert(subject.getAs[String]("reference") === "Patient/p1")
    assert(subject.getAs[String]("patientId") === "p1")
  }

  test("bundles: bound-code '?' scrubbed to null (EnumConverter semantics)") {
    import spark.implicits._
    val bundles = Bundles.fromJson(bundleJson.toDF("bundle_json"),
      "bundle_json")
    val p = Bundles.extractEntry(spark, bundles, "Patient").collect().head
    assert(p.getAs[String]("gender") === null)
    assert(p.getAs[String]("id") === "p1")
  }

  test("bundles: multi-valued elements come back as arrays") {
    import spark.implicits._
    val bundles = Bundles.fromJson(bundleJson.toDF("bundle_json"),
      "bundle_json")
    val p = Bundles.extractEntry(spark, bundles, "Patient").collect().head
    val names = p.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("name")
    assert(names.length === 1)
    assert(names.head.getAs[scala.collection.Seq[String]]("given") ===
      Seq("Ann", "B"))
  }

  test("bundles: saveAsDatabase writes one table per resource type") {
    import spark.implicits._
    // clear any stale warehouse left by a previous JVM (the in-memory
    // catalog is fresh but the filesystem location persists)
    spark.sql("DROP DATABASE IF EXISTS fhir_test CASCADE")
    val wh = new java.io.File("spark-warehouse/fhir_test.db")
    if (wh.exists()) {
      import scala.reflect.io.Directory
      new Directory(wh).deleteRecursively()
    }
    val bundles = Bundles.fromJson(bundleJson.toDF("bundle_json"),
      "bundle_json")
    Bundles.saveAsDatabase(spark, bundles, "fhir_test",
      Seq("Patient", "Observation", "Condition"))
    assert(spark.table("fhir_test.observation").count() === 1)
    assert(spark.table("fhir_test.patient").count() === 1)
    assert(spark.table("fhir_test.condition").count() === 1)
  }

  test("extensions: leaf + nested parent hoisted to named fields") {
    import spark.implicits._
    // mirrors SparkRowConverterTest.testSimpleExtension/testNestedExtension:
    // us-core birthsex (leaf code) and race (parent with ombCategory coding
    // sub-extension + text sub-extension)
    val json = Seq(
      s"""{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Patient","id":"px","gender":"female",
          "extension":[
            {"url":"${FhirSchemas.BirthSexExtensionUrl}","valueCode":"F"},
            {"url":"${FhirSchemas.RaceExtensionUrl}","extension":[
              {"url":"ombCategory","valueCoding":{
                "system":"urn:oid:2.16.840.1.113883.6.238",
                "code":"2106-3","display":"White"}},
              {"url":"text","valueString":"Mixed"}]}]}},
        {"resource":{"resourceType":"Patient","id":"plain","gender":"male"}}]}""")
      .toDF("bundle_json")
    val p = Bundles.extractEntry(spark,
      Bundles.fromJson(json, "bundle_json"), "Patient")
      .collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(p("px").getAs[String]("birthSex") === "F")
    val race = p("px").getAs[org.apache.spark.sql.Row]("race")
    assert(race.getAs[String]("text") === "Mixed")
    val omb = race.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "ombCategory")
    assert(omb.length === 1)
    assert(omb.head.getAs[String]("code") === "2106-3")
    assert(omb.head.getAs[String]("display") === "White")
    // a patient without extensions parses with null hoisted fields
    assert(p("plain").getAs[String]("birthSex") === null)
    assert(p("plain").getAs[org.apache.spark.sql.Row]("race") === null)
  }

  test("contained resources extracted as one-field-per-type structs") {
    import spark.implicits._
    // mirrors SparkRowConverterTest.testContained / BundlesTest contained
    // extraction: a MedicationRequest with a contained Medication
    val json = Seq(
      """{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"MedicationRequest","id":"mr1",
          "status":"active","intent":"order",
          "medicationReference":{"reference":"#med1"},
          "subject":{"reference":"Patient/p1"},
          "contained":[{"resourceType":"Medication","id":"med1",
            "status":"active",
            "code":{"coding":[{"system":"http://www.nlm.nih.gov/research/umls/rxnorm",
              "code":"582620"}]}}]}}]}""")
      .toDF("bundle_json")
    val mr = Bundles.extractEntry(spark,
      Bundles.fromJson(json, "bundle_json"), "MedicationRequest",
      containedTypes = Seq("Medication"))
    val row = mr.collect().head
    assert(row.getAs[String]("id") === "mr1")
    val contained = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "contained")
    assert(contained.length === 1)
    val med = contained.head.getAs[org.apache.spark.sql.Row]("medication")
    assert(med.getAs[String]("id") === "med1")
    assert(med.getAs[org.apache.spark.sql.Row]("code")
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("coding")
      .head.getAs[String]("code") === "582620")
    // the medication[x] choice parsed through FChoice machinery
    assert(row.getAs[org.apache.spark.sql.Row]("medicationReference")
      .getAs[String]("reference") === "#med1")
  }

  test("choice type: exactly the populated alternative is non-null") {
    import spark.implicits._
    val json = Seq(
      """{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Observation","id":"os","status":"final",
          "code":{"coding":[{"system":"http://loinc.org","code":"1234-5"}]},
          "valueString":"positive"}}]}""").toDF("bundle_json")
    val o = Bundles.extractEntry(spark,
      Bundles.fromJson(json, "bundle_json"), "Observation").collect().head
    assert(o.getAs[String]("valueString") === "positive")
    assert(o.getAs[org.apache.spark.sql.Row]("valueQuantity") === null)
    assert(o.getAs[org.apache.spark.sql.Row]("valueCodeableConcept") === null)
  }

  // XML equivalent of [[bundleJson]] — mirrors the reference's
  // xml/bundles/*.fhir-bundle.xml fixtures (BundlesTest.java:81-278)
  private val bundleXml =
    """<Bundle xmlns="http://hl7.org/fhir">
      |  <type value="collection"/>
      |  <entry><resource><Patient>
      |    <id value="p1"/><gender value="?"/>
      |    <name><family value="Smith"/><given value="Ann"/><given value="B"/></name>
      |  </Patient></resource></entry>
      |  <entry><resource><Observation>
      |    <id value="o1"/><status value="final"/>
      |    <code><coding><system value="http://loinc.org"/><code value="8867-4"/></coding></code>
      |    <subject><reference value="Patient/p1"/></subject>
      |    <valueQuantity><value value="74.5"/><unit value="bpm"/></valueQuantity>
      |  </Observation></resource></entry>
      |  <entry><resource><Condition>
      |    <id value="c1"/>
      |    <code><coding><system value="http://snomed.info/sct"/><code value="44054006"/></coding></code>
      |    <subject><reference value="Patient/p1"/></subject>
      |  </Condition></resource></entry>
      |</Bundle>""".stripMargin

  test("xml bundles: fromXml produces identical rows to the JSON path") {
    import spark.implicits._
    val viaJson = Bundles.extractEntry(spark,
      Bundles.fromJson(bundleJson.toDF("bundle_json"), "bundle_json"),
      "Observation").collect()
    val viaXml = Bundles.extractEntry(spark,
      Bundles.fromXml(Seq(bundleXml).toDF("bundle_xml"), "bundle_xml"),
      "Observation").collect()
    assert(viaXml.toSeq === viaJson.toSeq)
    // "?" scrub applies on the XML path too
    val px = Bundles.extractEntry(spark,
      Bundles.fromXml(Seq(bundleXml).toDF("bundle_xml"), "bundle_xml"),
      "Patient").collect().head
    assert(px.getAs[String]("gender") === null)
    assert(px.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("name")
      .head.getAs[scala.collection.Seq[String]]("given") === Seq("Ann", "B"))
  }

  test("xml extensions parse identically to JSON extensions") {
    import spark.implicits._
    val xml =
      s"""<Bundle xmlns="http://hl7.org/fhir"><type value="collection"/>
        |<entry><resource><Patient><id value="px"/>
        |  <extension url="${FhirSchemas.BirthSexExtensionUrl}"><valueCode value="F"/></extension>
        |  <extension url="${FhirSchemas.RaceExtensionUrl}">
        |    <extension url="ombCategory"><valueCoding>
        |      <system value="urn:oid:2.16.840.1.113883.6.238"/><code value="2106-3"/>
        |    </valueCoding></extension>
        |    <extension url="text"><valueString value="Mixed"/></extension>
        |  </extension>
        |</Patient></resource></entry></Bundle>""".stripMargin
    val p = Bundles.extractEntry(spark,
      Bundles.fromXml(Seq(xml).toDF("x"), "x"), "Patient").collect().head
    assert(p.getAs[String]("birthSex") === "F")
    val race = p.getAs[org.apache.spark.sql.Row]("race")
    assert(race.getAs[String]("text") === "Mixed")
    assert(race.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "ombCategory").head.getAs[String]("code") === "2106-3")
  }

  test("directory load dispatches per file extension") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bundles")
    java.nio.file.Files.writeString(dir.resolve("a.json"), bundleJson.head)
    java.nio.file.Files.writeString(dir.resolve("b.xml"), bundleXml)
    val bundles = Bundles.fromDirectory(spark, dir.toString)
    val obs = Bundles.extractEntry(spark, bundles, "Observation")
    assert(obs.count() === 2) // one per file, identical content
    assert(obs.distinct().count() === 1)
  }

  test("toJson round-trips non-null fields") {
    import spark.implicits._
    val bundles = Bundles.fromJson(bundleJson.toDF("bundle_json"),
      "bundle_json")
    val obs = Bundles.extractEntry(spark, bundles, "Observation")
    val json = Bundles.toJson(obs, "Observation").as[String].collect().head
    assert(json.contains(""""id":"o1""""))
    assert(json.contains(""""code":"8867-4""""))
    assert(!json.contains("valueString")) // nulls dropped
  }

  test("toBundle: bundle → extract → toBundle → re-ingest → identical rows") {
    import spark.implicits._
    // includes hoisted extensions so the decode path must rebuild the
    // generic extension list (Functions.java:32-77 toBundle semantics)
    val json = Seq(
      s"""{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Patient","id":"px","gender":"female",
          "extension":[
            {"url":"${FhirSchemas.BirthSexExtensionUrl}","valueCode":"F"},
            {"url":"${FhirSchemas.RaceExtensionUrl}","extension":[
              {"url":"ombCategory","valueCoding":{"system":"urn:oid:2.16.840.1.113883.6.238","code":"2106-3"}},
              {"url":"text","valueString":"Mixed"}]}]}},
        {"resource":{"resourceType":"Patient","id":"p2","gender":"male",
          "name":[{"family":"Doe","given":["Jo"]}]}}]}""")
      .toDF("bundle_json")
    val extracted = Bundles.extractEntry(spark,
      Bundles.fromJson(json, "bundle_json"), "Patient")
    val bundleDoc = Bundles.toBundle(extracted, "Patient")
    val reextracted = Bundles.extractEntry(spark,
      Bundles.fromJson(Seq(bundleDoc).toDF("bundle_json"), "bundle_json"),
      "Patient")
    val a = extracted.orderBy("id").collect().toSeq
    val b = reextracted.orderBy("id").collect().toSeq
    assert(a === b)
    // the extension data specifically survived the round trip
    val px = b.find(_.getAs[String]("id") == "px").get
    assert(px.getAs[String]("birthSex") === "F")
    assert(px.getAs[org.apache.spark.sql.Row]("race")
      .getAs[String]("text") === "Mixed")
  }

  test("resourceToXml: rows → XML → re-ingest → identical rows") {
    import spark.implicits._
    val json = Seq(
      s"""{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Observation","id":"ox","status":"final",
          "code":{"coding":[{"system":"http://loinc.org","code":"8867-4"}]},
          "subject":{"reference":"Patient/p9"},
          "valueQuantity":{"value":61.5,"unit":"bpm"}}}]}""")
      .toDF("bundle_json")
    val obs = Bundles.extractEntry(spark,
      Bundles.fromJson(json, "bundle_json"), "Observation")
    val xml = Bundles.resourceToXml(obs, "Observation")
      .as[String].collect().head
    assert(xml.startsWith("<Observation xmlns=\"http://hl7.org/fhir\">"))
    assert(xml.contains("<code value=\"8867-4\"/>"))
    // wrap in a bundle and re-ingest through the XML path
    val bundleXml2 =
      s"""<Bundle xmlns="http://hl7.org/fhir"><type value="collection"/>
         |<entry><resource>$xml</resource></entry></Bundle>""".stripMargin
    val back = Bundles.extractEntry(spark,
      Bundles.fromXml(Seq(bundleXml2).toDF("x"), "x"), "Observation")
    assert(back.collect().toSeq === obs.collect().toSeq)
  }

  test("toBundle with contained resources re-ingests the contained rows") {
    import spark.implicits._
    val json = Seq(
      """{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"MedicationRequest","id":"mr2",
          "status":"active","intent":"order",
          "medicationReference":{"reference":"#m2"},
          "subject":{"reference":"Patient/p1"},
          "contained":[{"resourceType":"Medication","id":"m2",
            "status":"active"}]}}]}""").toDF("bundle_json")
    val mr = Bundles.extractEntry(spark,
      Bundles.fromJson(json, "bundle_json"), "MedicationRequest",
      containedTypes = Seq("Medication"))
    val doc = Bundles.toBundle(mr, "MedicationRequest")
    assert(doc.contains("\"resourceType\":\"Medication\""))
    val back = Bundles.extractEntry(spark,
      Bundles.fromJson(Seq(doc).toDF("bundle_json"), "bundle_json"),
      "MedicationRequest", containedTypes = Seq("Medication"))
    assert(back.collect().toSeq === mr.collect().toSeq)
  }

  test("contained toJson: Catalyst splice equals the jackson fixup bytes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two rows: one with a contained Medication, one with contained ABSENT
    // (null column) — the splice must byte-match the legacy parse→reshape→
    // re-serialize path on both, and stay UDF-free in the plan
    val json = Seq(
      """{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"MedicationRequest","id":"mrA",
          "status":"active","intent":"order",
          "medicationReference":{"reference":"#mA"},
          "subject":{"reference":"Patient/p1"},
          "contained":[{"resourceType":"Medication","id":"mA",
            "status":"active",
            "code":{"coding":[{"system":"http://example.org/meds",
              "code":"med-\"quoted\" & <odd>"}]}}]}},
        {"resource":{"resourceType":"MedicationRequest","id":"mrB",
          "status":"completed","intent":"order",
          "subject":{"reference":"Patient/p2"}}}]}""")
      .toDF("bundle_json")
    val mr = Bundles.extractEntry(spark,
      Bundles.fromJson(json, "bundle_json"), "MedicationRequest",
      containedTypes = Seq("Medication"))
    val fast = Bundles.toJson(mr, "MedicationRequest")
    // legacy path reconstructed: serialize WITH contained in place, then
    // the jackson reshape
    val legacy = mr.select(to_json(
        struct(lit("MedicationRequest").as("resourceType") +:
          mr.columns.toSeq.map(col): _*),
        Map("ignoreNullFields" -> "true")).as("json"))
      .collect().map(r => JacksonFixup.fixupContained(r.getString(0)))
    assert(fast.collect().map(_.getString(0)).toSeq === legacy.toSeq)
    assert(!fast.queryExecution.executedPlan.toString.contains("UDF"),
      "contained toJson fast path must not fall back to the jackson UDF")
  }

  test("toBundle keeps sibling sub-extensions when one child is null") {
    import spark.implicits._
    // race with ONLY text (no ombCategory): the null child array must not
    // null the concat and drop text from the decode output
    val json = Seq(
      s"""{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Patient","id":"pt","gender":"female",
          "extension":[{"url":"${FhirSchemas.RaceExtensionUrl}","extension":[
            {"url":"text","valueString":"OnlyText"}]}]}}]}""")
      .toDF("bundle_json")
    val extracted = Bundles.extractEntry(spark,
      Bundles.fromJson(json, "bundle_json"), "Patient")
    val back = Bundles.extractEntry(spark,
      Bundles.fromJson(Seq(Bundles.toBundle(extracted, "Patient"))
        .toDF("bundle_json"), "bundle_json"), "Patient")
    assert(back.collect().head.getAs[org.apache.spark.sql.Row]("race")
      .getAs[String]("text") === "OnlyText")
  }

  test("malformed bundles drop cleanly instead of failing the job") {
    import spark.implicits._
    val mixed = Seq(
      "{this is not json",
      """{"resourceType":"Bundle","type":"collection"}""", // no entries
      "<Bundle xmlns=\"http://hl7.org/fhir\"><unclosed>",
      bundleJson.head).toDF("bundle_json")
    // JSON path: PERMISSIVE parse nulls bad rows, explode drops them
    val obs = Bundles.extractEntry(spark,
      Bundles.fromJson(mixed, "bundle_json"), "Observation")
    assert(obs.count() === 1)
    // XML path: a parse failure on genuinely mixed input must surface
    // per-row as null (dropped), not kill the task
    val xmlMixed = Seq("<Bundle xmlns=\"x\"><unclosed>", bundleXml)
      .toDF("x")
    val viaXml = Bundles.extractEntry(spark,
      Bundles.fromXml(xmlMixed, "x"), "Observation")
    assert(viaXml.count() === 1)
  }

  test("flagship entry() flow returns heart-rate rows") {
    val df = graft.SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length === 2)
    assert(rows.map(_.getAs[String]("patient_id")).sorted === Array("p1", "p2"))
  }

  test("xml bundles parse against the caller's envelope: a profile-only " +
    "field comes back from XML as from JSON") {
    import spark.implicits._
    // us-core-patient declares telecom; the default Patient does not
    val reg = StructureDefinitions.shipped.registryFor(
      "http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient")
    val json = Seq(
      """{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Patient","id":"pt","gender":"female",
          "telecom":[{"system":"phone","value":"555","use":"home"}]}}]}""")
    val xml = Seq(
      """<Bundle xmlns="http://hl7.org/fhir"><type value="collection"/>
        |<entry><resource><Patient><id value="pt"/>
        |  <gender value="female"/>
        |  <telecom><system value="phone"/><value value="555"/>
        |    <use value="home"/></telecom>
        |</Patient></resource></entry></Bundle>""".stripMargin)
    val viaJson = Bundles.extractEntry(spark,
      Bundles.fromJson(json.toDF("j"), "j", reg, Seq("Patient")), "Patient",
      Nil, reg).collect()
    val viaXml = Bundles.extractEntry(spark,
      Bundles.fromXml(xml.toDF("x"), "x", reg, Seq("Patient")), "Patient",
      Nil, reg).collect()
    assert(viaJson.head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "telecom").head.getAs[String]("value") === "555")
    assert(viaXml.toSeq === viaJson.toSeq)
  }

  test("toJson splices contained last: a Patient with extensions plus " +
    "contained, and a frame with contained mid-row") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def bundles(resources: String*) = resources.map(r =>
      s"""{"resourceType":"Bundle","type":"collection","entry":[""" +
        s"""{"resource":$r}]}""").toDF("bundle_json")
    val patients = Bundles.extractEntry(spark, bundles(
      s"""{"resourceType":"Patient","id":"px","gender":"female",
        "extension":[
          {"url":"${FhirSchemas.BirthSexExtensionUrl}","valueCode":"F"},
          {"url":"${FhirSchemas.RaceExtensionUrl}","extension":[
            {"url":"ombCategory","valueCoding":{"system":"urn:oid:2.16.840.1.113883.6.238","code":"2106-3"}},
            {"url":"text","valueString":"Mixed"}]}],
        "contained":[{"resourceType":"Observation","id":"o9",
          "status":"final"}]}""",
      """{"resourceType":"Patient","id":"py","gender":"male"}"""),
      "Patient", Seq("Observation"))
    val orders = Bundles.extractEntry(spark, bundles(
      """{"resourceType":"MedicationRequest","id":"mrA","status":"active",
        "intent":"order","medicationReference":{"reference":"#mA"},
        "contained":[{"resourceType":"Medication","id":"mA",
          "status":"active"}]}""",
      """{"resourceType":"MedicationRequest","id":"mrB",
        "status":"completed"}"""),
      "MedicationRequest", Seq("Medication"))
    val midRow = orders.select(col("id") +: col("contained") +:
      orders.columns.toSeq.filterNot(Set("id", "contained")).map(col): _*)
    // the document-level path: the row serialized in place with the
    // rebuilt extension list last, then the jackson reshape
    def reference(df: DataFrame, rt: String): Seq[String] = {
      val ext = FhirSchemas.extensionFieldNames(rt).toSet
      val cols = lit(rt).as("resourceType") +:
        df.columns.toSeq.filterNot(ext).map(col)
      val all = FhirSchemas.decodeExtensions(rt) match {
        case Some(e) if df.columns.exists(ext) => cols :+ e.as("extension")
        case _ => cols
      }
      df.select(to_json(struct(all: _*), Map("ignoreNullFields" -> "true")))
        .collect().map(r => JacksonFixup.fixupContained(r.getString(0)))
        .toSeq
    }
    Seq((patients, "Patient", "Observation"),
        (midRow, "MedicationRequest", "Medication")).foreach {
      case (df, rt, containedType) =>
        val out = Bundles.toJson(df, rt).as[String].collect().toSeq
        assert(out.map(mapper.readTree) === reference(df, rt)
          .map(mapper.readTree))
        val back = Bundles.extractEntry(spark, bundles(out: _*), rt,
          Seq(containedType)).select(df.columns.toSeq.map(col): _*)
        assert(back.orderBy("id").collect().toSeq ===
          df.orderBy("id").collect().toSeq)
    }
  }
}
