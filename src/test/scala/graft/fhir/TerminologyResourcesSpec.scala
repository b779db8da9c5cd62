package graft.fhir

import graft.SparkSuite
import graft.terminology._

/** S7 directory import, full-resource metadata rows, O1/O2 rebuild, and
  * the G2 concept-map delegation chain — mirroring the reference's
  * ConceptMapsTest/ValueSetsTest directory cases and
  * BroadcastableMappingsTest delegation test
  * (/root/reference/bunsen-spark-stu3/src/test/java/...). */
class TerminologyResourcesSpec extends SparkSuite {

  private def writeDir(files: (String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("terminology")
    files.foreach { case (name, content) =>
      java.nio.file.Files.writeString(dir.resolve(name), content)
    }
    dir.toString
  }

  test("valueset directory import keeps full metadata; point lookup returns it") {
    val dir = writeDir(
      "vs1.json" ->
        """{"resourceType":"ValueSet","id":"vs1",
          "url":"urn:vs:dir:a","version":"1","name":"TestSet",
          "status":"active","experimental":false,
          "publisher":"Example Org","date":"2020-01-02",
          "compose":{"include":[
            {"system":"http://loinc.org","version":"2.56",
             "concept":[{"code":"8867-4","display":"Heart rate"},
                        {"code":"8480-6"}]}]}}""")
    val vs = TerminologyResources.withValueSetsFromDirectory(spark,
      ValueSets.getEmpty(spark), dir)
    val row = vs.getValueSet("urn:vs:dir:a", "1").get
    assert(row.getAs[String]("name") === "TestSet")
    assert(row.getAs[String]("status") === "active")
    assert(row.getAs[String]("publisher") === "Example Org")
    assert(row.getAs[String]("date") === "2020-01-02")
    val values = vs.getValues("urn:vs:dir:a", "1").collect()
    assert(values.map(_.value).sorted === Array("8480-6", "8867-4"))
    assert(values.forall(_.version == "2.56"))
    // O2: nested resource rebuild round-trips the member codes
    val json = TerminologyResources.valueSetAsJson(vs, "urn:vs:dir:a", "1").get
    assert(json.contains("8867-4") && json.contains("8480-6"))
  }

  test("valueset directory import parses XML resources too") {
    val dir = writeDir(
      "vs.xml" ->
        """<ValueSet xmlns="http://hl7.org/fhir">
          |  <url value="urn:vs:xml:a"/><version value="2"/>
          |  <name value="XmlSet"/><status value="active"/>
          |  <compose><include>
          |    <system value="http://loinc.org"/>
          |    <concept><code value="8867-4"/></concept>
          |    <concept><code value="8480-6"/></concept>
          |  </include></compose>
          |</ValueSet>""".stripMargin)
    val vs = TerminologyResources.withValueSetsFromDirectory(spark,
      ValueSets.getEmpty(spark), dir)
    assert(vs.getValueSet("urn:vs:xml:a", "2").get
      .getAs[String]("name") === "XmlSet")
    assert(vs.getValues("urn:vs:xml:a", "2").collect()
      .map(_.value).sorted === Array("8480-6", "8867-4"))
  }

  test("corrupt XML in a terminology directory fails the import loudly") {
    val dir = writeDir(
      "good.json" ->
        """{"resourceType":"ValueSet","url":"urn:vs:ok","version":"1",
          "compose":{"include":[{"system":"s","concept":[{"code":"c"}]}]}}""",
      "corrupt.xml" -> "<ValueSet xmlns=\"http://hl7.org/fhir\"><unclosed>")
    intercept[org.apache.spark.SparkException] {
      TerminologyResources.withValueSetsFromDirectory(spark,
        ValueSets.getEmpty(spark), dir)
    }
  }

  test("concept map delegation: unmapped codes fall through to other-map") {
    val dir = writeDir(
      "a.json" ->
        """{"resourceType":"ConceptMap","url":"urn:cm:a","version":"1",
          "name":"MapA","status":"active",
          "group":[{"source":"s","target":"t",
            "unmapped":{"mode":"other-map","url":"urn:cm:b"},
            "element":[{"code":"x","target":[{"code":"X","equivalence":"equivalent"}]}]}]}""",
      "b.json" ->
        """{"resourceType":"ConceptMap","url":"urn:cm:b","version":"1",
          "name":"MapB","status":"active",
          "group":[{"source":"s","target":"t",
            "element":[{"code":"y","target":[{"code":"Y-from-b","equivalence":"equivalent"}]}]}]}""")
    // delegates parsed from group.unmapped
    assert(TerminologyResources.conceptMapDelegates(spark, dir) ===
      Map("urn:cm:a" -> Seq("urn:cm:b")))
    val cm = TerminologyResources.broadcastConceptMapFromDirectory(spark,
      dir, "urn:cm:a")
    // mapped directly in A
    assert(cm.getTarget("s", "x") === List(CodeValue("t", "X")))
    // unmapped in A → delegated to B
    assert(cm.getTarget("s", "y") === List(CodeValue("t", "Y-from-b")))
    // unmapped everywhere → empty
    assert(cm.getTarget("s", "zzz") === Nil)
    // registered as a SQL udf, delegation still applies
    ValueSetUdfs.registerTranslate(spark, "translate_ab", cm)
    val got = spark.sql(
      "SELECT try_element_at(translate_ab('s', 'y'), 1).value").collect()
    assert(got.head.getString(0) === "Y-from-b")
  }

  test("chained concept map from a directory binds each url's latest " +
      "version only") {
    def map(url: String, version: String, code: String, target: String,
        delegate: Option[String], experimental: Boolean = false): String =
      s"""{"resourceType":"ConceptMap","url":"$url","version":"$version",
        "experimental":$experimental,
        "group":[{"source":"s","target":"t",""" +
        delegate.map(d =>
          s""""unmapped":{"mode":"other-map","url":"$d"},""").getOrElse("") +
        s""""element":[{"code":"$code","target":[{"code":"$target",
          "equivalence":"equivalent"}]}]}]}"""
    val dir = writeDir(
      // v1 of A delegates to B, v2 (experimental: still the latest) to C
      "a1.json" -> map("urn:cm:a", "1", "x", "X-a1", Some("urn:cm:b")),
      "a2.json" -> map("urn:cm:a", "2", "x", "X-a2", Some("urn:cm:c"),
        experimental = true),
      "b1.json" -> map("urn:cm:b", "1", "y", "Y-b1", None),
      "c1.json" -> map("urn:cm:c", "1", "y", "Y-c1", None),
      "c2.json" -> map("urn:cm:c", "2", "y", "Y-c2", None))
    assert(TerminologyResources.conceptMapDelegates(spark, dir) ===
      Map("urn:cm:a" -> Seq("urn:cm:c")))
    val cm = TerminologyResources.broadcastConceptMapFromDirectory(spark,
      dir, "urn:cm:a")
    assert(cm.getTarget("s", "x") === List(CodeValue("t", "X-a2")))
    assert(cm.getTarget("s", "y") === List(CodeValue("t", "Y-c2")))
    assert(cm.getTarget("s", "zzz") === Nil)
  }

  test("concept map directory import keeps metadata + mappings") {
    val dir = writeDir(
      "m.json" ->
        """{"resourceType":"ConceptMap","url":"urn:cm:meta","version":"3",
          "name":"Meta","status":"draft","publisher":"Pub",
          "sourceUri":"urn:src","targetUri":"urn:tgt",
          "group":[{"source":"s1","target":"t1",
            "element":[{"code":"a","target":[{"code":"A","equivalence":"wider"}]}]}]}""")
    val cms = TerminologyResources.withConceptMapsFromDirectory(spark,
      ConceptMaps.getEmpty(spark), dir)
    val row = cms.getConceptMap("urn:cm:meta", "3").get
    assert(row.getAs[String]("name") === "Meta")
    assert(row.getAs[String]("status") === "draft")
    assert(row.getAs[String]("publisher") === "Pub")
    assert(row.getAs[String]("source") === "urn:src")
    val m = cms.getMappings("urn:cm:meta", "3").collect().head
    assert(m === Mapping("urn:cm:meta", "3", "urn:src", "urn:tgt",
      "s1", "a", "t1", "A", "wider"))
    // O1: nested rebuild contains the mapping
    val json = TerminologyResources.conceptMapAsJson(cms, "urn:cm:meta", "3").get
    assert(json.contains("\"code\":\"a\"") && json.contains("wider"))
  }

  test("the SHIPPED US-Core pack's terminology half imports through the " +
    "directory reader (ValueSets expand, ConceptMap maps, non-VS files " +
    "ignored)") {
    // resolve the shipped resources dir on the classpath (a plain
    // directory under test; the same files a jar would carry)
    val url = getClass.getClassLoader.getResource("definitions/index.txt")
    assume(url != null && url.getProtocol == "file")
    val dir = new java.io.File(url.toURI).getParent
    val vs = TerminologyResources.withValueSetsFromDirectory(spark,
      ValueSets.getEmpty(spark), dir)
    // enumerated sets expand to their concepts; include-only sets (those
    // referencing external code systems without inline concepts) import
    // as metadata with zero values — not errors
    val birthsex = vs.getValues(
      "http://hl7.org/fhir/us/core/ValueSet/us-core-birthsex", "1.1.0")
    val codes = birthsex.collect().map(v => (v.system, v.value)).toSet
    assert(codes === Set(
      ("http://hl7.org/fhir/v3/AdministrativeGender", "F"),
      ("http://hl7.org/fhir/v3/AdministrativeGender", "M"),
      ("http://hl7.org/fhir/v3/NullFlavor", "UNK")))
    assert(vs.valueSets.count() >= 20) // all 24 shipped ValueSets load
    val (cmMeta, mappings) =
      TerminologyResources.conceptMapsFromDirectory(spark, dir)
    assert(cmMeta.count() === 1) // ConceptMap-ndc-cvx
    assert(mappings.count() > 0)
  }

  test("valueSetAsXml exports a document that re-imports to the " +
    "identical values dataset") {
    val vs = ValueSets.getEmpty(spark)
      .withValueSet("urn:vs:xmlrt", "7", Seq(
        ("http://loinc.org", "8867-4"), ("http://loinc.org", "8480-6"),
        ("http://snomed.info/sct", "22298006")))
    val xml = TerminologyResources.valueSetAsXml(vs, "urn:vs:xmlrt", "7").get
    assert(xml.startsWith("<ValueSet"))
    assert(xml.contains("""<code value="8867-4"/>"""))
    // re-import through the XML directory reader (cm/vsXmlUdf path)
    val dir = writeDir("export.xml" -> xml)
    val back = TerminologyResources.withValueSetsFromDirectory(spark,
      ValueSets.getEmpty(spark), dir)
    val want = vs.getValues("urn:vs:xmlrt", "7").collect()
      .map(v => (v.system, v.value)).sorted
    val got = back.getValues("urn:vs:xmlrt", "7").collect()
      .map(v => (v.system, v.value)).sorted
    assert(got === want)
    assert(got.nonEmpty)
    // absent (uri, version) → None, not an empty document
    assert(TerminologyResources.valueSetAsXml(vs, "urn:vs:none", "1").isEmpty)
  }

  test("conceptMapAsXml exports a document that re-imports to the " +
    "identical mappings dataset") {
    val cms = ConceptMaps.getEmpty(spark)
      .withConceptMap("urn:cm:xmlrt", "2", Seq(
        ("s1", "a", "t1", "A", "equivalent"),
        ("s1", "b", "t1", "B", "wider"),
        ("s2", "c", "t2", "C", "equivalent")),
        source = "urn:src", target = "urn:tgt")
    val xml = TerminologyResources.conceptMapAsXml(
      cms, "urn:cm:xmlrt", "2").get
    assert(xml.startsWith("<ConceptMap"))
    assert(xml.contains("""<equivalence value="wider"/>"""))
    val dir = writeDir("export.xml" -> xml)
    val back = TerminologyResources.withConceptMapsFromDirectory(spark,
      ConceptMaps.getEmpty(spark), dir)
    def key(m: Mapping) = (m.sourceSystem, m.sourceValue, m.targetSystem,
      m.targetValue, m.equivalence)
    val want = cms.getMappings("urn:cm:xmlrt", "2").collect().map(key).sorted
    val got = back.getMappings("urn:cm:xmlrt", "2").collect().map(key).sorted
    assert(got === want)
    assert(got.nonEmpty)
  }
}
