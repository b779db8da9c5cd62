package graft.terminology

import graft.SparkSuite

/** ValueSets / ConceptMaps / Hierarchies collection semantics — the
  * reference's ConceptMapsTest/ValueSetsTest/HierarchiesTests matrix
  * (bunsen-spark-stu3 tests :92-351) re-expressed over our Dataset-backed
  * collections. */
class TerminologySpec extends SparkSuite {

  private def vs = ValueSets.getEmpty(spark)
    .withValueSet("urn:vs:a", "1", Seq(("sys1", "c1"), ("sys1", "c2")))
    .withValueSet("urn:vs:a", "2", Seq(("sys1", "c1")))
    .withValueSet("urn:vs:b", "1", Seq(("sys2", "x")))

  test("valuesets: getValues by uri+version") {
    assert(vs.getValues("urn:vs:a", "1").collect().map(_.value).sorted ===
      Array("c1", "c2"))
    assert(vs.getValues("urn:vs:a", "2").count() === 1)
  }

  test("valuesets: latest version is string-compare max") {
    assert(vs.getLatestVersionsMap(includeExperimental = true) ===
      Map("urn:vs:a" -> "2", "urn:vs:b" -> "1"))
  }

  test("valuesets: experimental filter (P4) excludes experimental versions") {
    val vsx = ValueSets.getEmpty(spark)
      .withValueSet("urn:vs:e", "1", Seq(("s", "a")))
      .withValueSet("urn:vs:e", "2", Seq(("s", "b")), experimental = true)
    assert(vsx.getLatestVersionsMap(includeExperimental = false) ===
      Map("urn:vs:e" -> "1"))
    assert(vsx.getLatestVersionsMap(includeExperimental = true) ===
      Map("urn:vs:e" -> "2"))
  }

  test("valuesets: duplicate url+version rejected") {
    intercept[IllegalArgumentException] {
      vs.withValueSet("urn:vs:a", "1", Seq(("sys1", "zz")))
    }
  }

  test("valuesets: version-map filter") {
    val got = vs.getValues(Map("urn:vs:a" -> "1")).collect()
    assert(got.length === 2 && got.forall(_.valueSetVersion == "1"))
  }

  test("conceptmaps: translation + equivalence whitelist + delegation") {
    val delegate = BroadcastableConceptMap("urn:map:fallback", Seq(
      Mapping("urn:map:fallback", "1", null, null,
        "s", "unmapped", "t", "fallback-target", "equivalent")))
    val cm = BroadcastableConceptMap("urn:map:main", Seq(
      Mapping("urn:map:main", "1", null, null,
        "s", "a", "t", "A", "equivalent"),
      Mapping("urn:map:main", "1", null, null,
        "s", "b", "t", "B", "narrower")), // filtered by whitelist
      Some(delegate))
    assert(cm.getTarget("s", "a") === List(CodeValue("t", "A")))
    assert(cm.getTarget("s", "b") === Nil ||
      cm.getTarget("s", "b").isEmpty) // narrower filtered → delegate miss
    assert(cm.getTarget("s", "unmapped") ===
      List(CodeValue("t", "fallback-target")))
  }

  test("conceptmaps: collection latest versions + dup rejection") {
    val cm = ConceptMaps.getEmpty(spark)
      .withConceptMap("urn:m:1", "1", Seq(("s", "a", "t", "A", "equivalent")))
      .withConceptMap("urn:m:1", "2", Seq(("s", "a", "t", "A2", "equivalent")))
    assert(cm.getLatestVersionsMap(includeExperimental = true) ===
      Map("urn:m:1" -> "2"))
    intercept[IllegalArgumentException] {
      cm.withConceptMap("urn:m:1", "1", Seq(("s", "x", "t", "X", "equivalent")))
    }
    assert(cm.getMappings("urn:m:1", "2").collect().head.targetValue === "A2")
  }

  test("conceptmaps: experimental filter excludes experimental versions") {
    val cm = ConceptMaps.getEmpty(spark)
      .withConceptMap("urn:m:e", "1", Seq(("s", "a", "t", "A", "equivalent")))
      .withConceptMap("urn:m:e", "2", Seq(("s", "a", "t", "B", "equivalent")),
        experimental = true)
      .withConceptMap("urn:m:f", "1", Seq(("s", "b", "t", "C", "equivalent")),
        experimental = true)
    assert(cm.getLatestVersionsMap(includeExperimental = false) ===
      Map("urn:m:e" -> "1"))
    assert(cm.getLatestVersionsMap(includeExperimental = true) ===
      Map("urn:m:e" -> "2", "urn:m:f" -> "1"))
    assert(cm.getLatestVersions(includeExperimental = false).collect().toSet ===
      Set(UrlAndVersion("urn:m:e", "1")))
  }

  test("conceptmaps: disjoint import keeps only new (url, version)") {
    import spark.implicits._
    val cm = ConceptMaps.getEmpty(spark)
      .withConceptMap("urn:m:1", "1", Seq(("s", "a", "t", "A", "equivalent")))
    val newMeta = Seq(("urn:m:1", "1", false), ("urn:m:2", "1", false))
      .toDF("url", "version", "experimental")
    val newMappings = Seq(
      Mapping("urn:m:1", "1", null, null, "s", "a", "t", "dup-should-drop",
        "equivalent"),
      Mapping("urn:m:2", "1", null, null, "s", "b", "t", "kept",
        "equivalent")).toDS()
    val merged = cm.withDisjointConceptMaps(newMeta, newMappings)
    assert(merged.getUrlAndVersions.collect().toSet === Set(
      UrlAndVersion("urn:m:1", "1"), UrlAndVersion("urn:m:2", "1")))
    assert(merged.conceptMaps.count() === 2)
    assert(merged.getMappings("urn:m:2", "1").collect().map(_.targetValue)
      .toSeq === Seq("kept"))
    // urn:m:1 version 1 kept its ORIGINAL mappings (new ones dropped)
    assert(merged.getMappings("urn:m:1", "1").collect().map(_.targetValue)
      .toSeq === Seq("A"))
  }

  test("conceptmap delegation topo-sort detects cycles and orders deps") {
    val order = ConceptMapDependencies.sortMapsToLoad(Seq("a"),
      Map("a" -> Seq("b"), "b" -> Seq("c"), "c" -> Nil).apply)
    assert(order === Seq("c", "b", "a"))
    intercept[IllegalStateException] {
      ConceptMapDependencies.sortMapsToLoad(Seq("a"),
        Map("a" -> Seq("b"), "b" -> Seq("a")).apply)
    }
  }

  test("hierarchies: expansion includes transitive ancestors; dup rejected") {
    import spark.implicits._
    val h = Hierarchies.getEmpty(spark)
      .withHierarchyElements("urn:h:1", "1", Seq(
        HierarchicalElement("s", "root", "s", "mid"),
        HierarchicalElement("s", "mid", "s", "leaf")).toDS())
    val anc = h.getAncestors("urn:h:1", "1").collect()
    assert(anc.exists(a =>
      a.ancestorValue == "root" && a.descendantValue == "leaf"))
    assert(anc.length === 3)
    assert(h.getLatestVersions === Map("urn:h:1" -> "1"))
    intercept[IllegalArgumentException] {
      h.withHierarchyElements("urn:h:1", "1",
        spark.emptyDataset[HierarchicalElement])
    }
  }

  test("hierarchies: withHierarchies merges members and ancestors; " +
      "a duplicate (uri, version) is refused") {
    import spark.implicits._
    val a = Hierarchies.getEmpty(spark)
      .withHierarchyElements("urn:h:a", "1", Seq(
        HierarchicalElement("s", "r", "s", "m"),
        HierarchicalElement("s", "m", "s", "l")).toDS())
    val b = Hierarchies.getEmpty(spark)
      .withHierarchyElements("urn:h:b", "1", Seq(
        HierarchicalElement("t", "p", "t", "c")).toDS())
      .withHierarchyElements("urn:h:a", "2", Seq(
        HierarchicalElement("s", "r", "s", "x")).toDS())
    val merged = a.withHierarchies(b)
    assert(merged.getMembers.collect().toSet === Set(
      UrlAndVersion("urn:h:a", "1"), UrlAndVersion("urn:h:a", "2"),
      UrlAndVersion("urn:h:b", "1")))
    assert(merged.getLatestVersions ===
      Map("urn:h:a" -> "2", "urn:h:b" -> "1"))
    assert(merged.getAncestors("urn:h:a", "1").count() === 3)
    assert(merged.getAncestors("urn:h:b", "1").collect().toSet ===
      Set(Ancestor("urn:h:b", "1", "t", "c", "t", "p")))
    assert(merged.getAncestors.count() === 5)
    intercept[IllegalArgumentException] { merged.withHierarchies(a) }
    intercept[IllegalArgumentException] {
      a.withHierarchies(Hierarchies.getEmpty(spark)
        .withHierarchyElements("urn:h:a", "1", Seq(
          HierarchicalElement("s", "q", "s", "w")).toDS()))
    }
  }

  test("hierarchies: a 100-deep chain closes (prefix doubling converges " +
      "past the old 65-hop linear budget)") {
    import spark.implicits._
    val chain = (1 until 100).map(i =>
      HierarchicalElement("s", i.toString, "s", (i + 1).toString))
    val h = Hierarchies.getEmpty(spark)
      .withHierarchyElements("urn:h:deep", "1", chain.toDS())
    val anc = h.getAncestors("urn:h:deep", "1")
    // every (i, j) with i < j is a transitive ancestor pair: C(100, 2)
    assert(anc.count() === 99L * 100 / 2)
    assert(anc.where($"ancestorValue" === "1" &&
      $"descendantValue" === "100").count() === 1L)
  }

  test("broadcast valuesets: explicit codes, references, descendants") {
    import spark.implicits._
    val hierarchies = Hierarchies.getEmpty(spark)
      .withHierarchyElements("urn:h:codes", "1", Seq(
        HierarchicalElement("s", "parent", "s", "child1"),
        HierarchicalElement("s", "child1", "s", "grandchild")).toDS())
    val b = BroadcastableValueSets.newBuilder()
      .addCode("direct", "sysd", "d1")
      .addReference("ref_a", "urn:vs:a") // latest → version 2 → only c1
      .addDescendantsOf("family", "s", "parent", "urn:h:codes")
      .build(spark, vs, hierarchies)
    assert(b.hasCode("direct", "sysd", "d1"))
    assert(!b.hasCode("direct", "sysd", "nope"))
    assert(b.hasCode("ref_a", "sys1", "c1"))
    assert(!b.hasCode("ref_a", "sys1", "c2")) // version 2 dropped c2
    assert(b.hasCode("family", "s", "parent")) // self included
    assert(b.hasCode("family", "s", "child1"))
    assert(b.hasCode("family", "s", "grandchild"))
    intercept[IllegalArgumentException] { b.hasCode("unknown", "s", "x") }
  }

  test("in_valueset UDF over CodeableConcept structs + push/pop") {
    import spark.implicits._
    val b = BroadcastableValueSets.newBuilder()
      .addCode("hr", "http://loinc.org", "8867-4")
      .build(spark, ValueSets.getEmpty(spark), Hierarchies.getEmpty(spark))
    ValueSetUdfs.pushUdf(spark, b)
    Seq(
      ("o1", "http://loinc.org", "8867-4"),
      ("o2", "http://loinc.org", "9999-9"),
      ("o3", null, null))
      .toDF("id", "system", "code")
      .selectExpr("id",
        "named_struct('coding', array(named_struct('system', system, 'code', code)), 'text', id) as codeable")
      .createOrReplaceTempView("obs_cc")
    val got = spark.sql(
      "SELECT id FROM obs_cc WHERE in_valueset(codeable, 'hr')")
      .as[String].collect()
    assert(got.toSeq === Seq("o1"))
    // push a second set, then pop back: original registration restored
    val b2 = BroadcastableValueSets.newBuilder()
      .addCode("hr", "http://loinc.org", "9999-9")
      .build(spark, ValueSets.getEmpty(spark), Hierarchies.getEmpty(spark))
    ValueSetUdfs.pushUdf(spark, b2)
    assert(spark.sql(
      "SELECT id FROM obs_cc WHERE in_valueset(codeable, 'hr')")
      .as[String].collect().toSeq === Seq("o2"))
    assert(ValueSetUdfs.popUdf(spark))
    assert(spark.sql(
      "SELECT id FROM obs_cc WHERE in_valueset(codeable, 'hr')")
      .as[String].collect().toSeq === Seq("o1"))
    // the current (restored) registration is introspectable
    assert(ValueSetUdfs.currentValueSets.exists(
      _.getReferenceNames.contains("hr")))
  }

  test("inValueSetColumn relational variant matches the UDF") {
    import spark.implicits._
    val b = BroadcastableValueSets.newBuilder()
      .addCode("hr2", "http://loinc.org", "8867-4")
      .addCode("hr2", "sys2", "x1")
      .build(spark, ValueSets.getEmpty(spark), Hierarchies.getEmpty(spark))
    val df = Seq(
      ("m1", "http://loinc.org", "8867-4"),
      ("m2", "http://loinc.org", "9999-9"),
      ("m3", "sys2", "x1"),
      ("m4", null, null),
      ("m5", "unknown-system", "8867-4")) // system absent from the map
      .toDF("id", "system", "code")
      .selectExpr("id",
        "named_struct('coding', array(named_struct('system', system, 'code', code)), 'text', id) as codeable")
    val got = df.where(ValueSetUdfs.inValueSetColumn($"codeable", "hr2", b))
      .select("id").as[String].collect().sorted
    assert(got.toSeq === Seq("m1", "m3"))
    intercept[IllegalArgumentException] {
      ValueSetUdfs.inValueSetColumn($"codeable", "nope", b)
    }
  }

  test("broadcast valuesets are safe under concurrent readers") {
    // mirrors BroadcastableValueSetsTest's thread-safety case: the lookup
    // structure is immutable, so parallel hasCode calls must agree
    val b = BroadcastableValueSets.newBuilder()
      .addCode("ts", "sys", "c1").addCode("ts", "sys", "c2")
      .build(spark, ValueSets.getEmpty(spark), Hierarchies.getEmpty(spark))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence((1 to 64).toList.map { i =>
        Future(i -> b.hasCode("ts", "sys", if (i % 2 == 0) "c1" else "nope"))
      }), 30.seconds)
    assert(results.forall { case (i, r) => r == (i % 2 == 0) })
  }

  test("loinc + snomed hierarchy file readers") {
    val loincCsv = java.nio.file.Files.createTempFile("loinc", ".csv")
    java.nio.file.Files.writeString(loincCsv,
      """PATH_TO_ROOT,SEQUENCE,IMMEDIATE_PARENT,CODE,CODE_TEXT
        |,1,,LP31755-9,Microbiology
        |LP31755-9,1,LP31755-9,LP14559-6,Microorganism
        |LP31755-9.LP14559-6,1,LP14559-6,LP98185-9,Bacteria
        |""".stripMargin)
    val loinc = Loinc.readMultiaxialHierarchyFile(spark,
      loincCsv.toString).collect()
    assert(loinc.length === 2) // root row (empty parent) dropped
    assert(loinc.forall(_.ancestorSystem == Loinc.SystemUri))

    val rf2 = java.nio.file.Files.createTempFile("snomed", ".txt")
    java.nio.file.Files.writeString(rf2,
      "id\teffectiveTime\tactive\tmoduleId\tsourceId\tdestinationId\trelationshipGroup\ttypeId\tcharacteristicTypeId\tmodifierId\n" +
      "1\t20160901\t1\tm\t44054006\t73211009\t0\t116680003\tc\tm\n" +
      "2\t20160901\t0\tm\t11111111\t73211009\t0\t116680003\tc\tm\n" +
      "3\t20160901\t1\tm\t22222222\t73211009\t0\t999999999\tc\tm\n")
    val sn = Snomed.readRelationshipFile(spark, rf2.toString).collect()
    assert(sn.length === 1) // inactive + non-isa dropped
    assert(sn.head.ancestorValue === "73211009" &&
      sn.head.descendantValue === "44054006")
  }

  test("valuesets: disjoint import keeps only new (url, version)") {
    import spark.implicits._
    val newMeta = Seq(("urn:vs:a", "1", false), ("urn:vs:new", "1", false))
      .toDF("url", "version", "experimental")
    val newValues = Seq(
      Value("urn:vs:a", "1", "sys9", null, "dup-should-drop"),
      Value("urn:vs:new", "1", "sys9", null, "kept")).toDS()
    val merged = vs.withDisjointValueSets(newMeta, newValues)
    assert(merged.getValues("urn:vs:new", "1").count() === 1)
    // urn:vs:a version 1 kept its ORIGINAL values (new ones dropped)
    assert(!merged.getValues("urn:vs:a", "1").collect()
      .exists(_.value == "dup-should-drop"))
  }

  test("broadcast valuesets: references sharing one version, a latest " +
    "reference and a descendants-of request") {
    import spark.implicits._
    val hierarchies = Hierarchies.getEmpty(spark)
      .withHierarchyElements("urn:h:codes", "1", Seq(
        HierarchicalElement("s", "parent", "s", "child1"),
        HierarchicalElement("s", "child1", "s", "grandchild"),
        HierarchicalElement("s", "other", "s", "child2")).toDS())
      .withHierarchyElements("urn:h:more", "1", Seq(
        HierarchicalElement("s", "parent", "s", "elsewhere")).toDS())
    val b = BroadcastableValueSets.newBuilder()
      .addReference("a1", "urn:vs:a", "1")
      .addReference("a1_again", "urn:vs:a", "1")
      .addReference("a_latest", "urn:vs:a") // latest → version 2
      .addReference("b1", "urn:vs:b", "1")
      .addDescendantsOf("family", "s", "parent", "urn:h:codes", "1")
      .build(spark, vs, hierarchies)
    val membership = b.valueSets.map { case (ref, bySystem) =>
      ref -> bySystem.toSeq.flatMap { case (s, codes) => codes.map(s -> _) }
        .sorted
    }
    assert(membership === Map(
      "a1" -> Seq("sys1" -> "c1", "sys1" -> "c2"),
      "a1_again" -> Seq("sys1" -> "c1", "sys1" -> "c2"),
      "a_latest" -> Seq("sys1" -> "c1"),
      "b1" -> Seq("sys2" -> "x"),
      "family" -> Seq("s" -> "child1", "s" -> "grandchild", "s" -> "parent")))
  }
}
