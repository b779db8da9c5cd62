package graft.terminology

import graft.SparkSuite

/** Persist → append → read round-trips for the partitioned terminology
  * tables (S10-S13), mirroring the reference's write-read test cases
  * (/root/reference/bunsen-spark-stu3/src/test/java/com/cerner/bunsen/stu3/
  * codes/ValueSetsTest.java:107-351, ConceptMapsTest.java, HierarchiesTests
  * .java). The append cases specifically guard against positional
  * `insertInto` column rotation: `partitionBy(...).saveAsTable` moves the
  * partition columns to the end of the catalog schema, so an unaligned
  * append lands every value in the wrong (all-string) column.
  */
class PersistenceSpec extends SparkSuite {

  import spark.implicits._

  test("database names are validated before SQL interpolation") {
    val vs = ValueSets.getEmpty(spark)
      .withValueSet("urn:vs:inj", "1", Seq(("s", "c")))
    intercept[IllegalArgumentException] {
      vs.writeToDatabase("x; DROP DATABASE y")
    }
    intercept[IllegalArgumentException] {
      vs.writeToDatabase("bad-name")
    }
  }

  test("valuesets: write → append → read round-trip, dup write rejected") {
    val db = "graft_test_vs_rt"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    ValueSets.getEmpty(spark)
      .withValueSet("urn:vs:p1", "1", Seq(("sysA", "code1"), ("sysA", "code2")))
      .writeToDatabase(db)
    val second = ValueSets.getEmpty(spark)
      .withValueSet("urn:vs:p2", "9", Seq(("sysB", "codeX")))
    second.writeToDatabase(db) // append path (table now exists)

    val loaded = ValueSets.getFromDatabase(spark, db)
    assert(loaded.getValues("urn:vs:p1", "1").collect().map(_.value).sorted
      === Array("code1", "code2"))
    // the appended row must land with every column in its right place
    assert(loaded.getValues("urn:vs:p2", "9").collect().toSet ===
      Set(Value("urn:vs:p2", "9", "sysB", null, "codeX")))
    // metadata table round-trips (url, version, experimental)
    assert(loaded.getValueSet("urn:vs:p2", "9").isDefined)
    assert(loaded.getLatestVersionsMap(includeExperimental = true) ===
      Map("urn:vs:p1" -> "1", "urn:vs:p2" -> "9"))
    // duplicate write against the stored table is an error
    intercept[IllegalArgumentException] { second.writeToDatabase(db) }
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("conceptmaps: write → append → read round-trip, dup write rejected") {
    val db = "graft_test_cm_rt"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    ConceptMaps.getEmpty(spark)
      .withConceptMap("urn:cm:p1", "1",
        Seq(("s1", "a", "t1", "A", "equivalent")))
      .writeToDatabase(db)
    val second = ConceptMaps.getEmpty(spark)
      .withConceptMap("urn:cm:p2", "3",
        Seq(("s2", "b", "t2", "B", "wider")), source = "urn:src",
        target = "urn:tgt")
    second.writeToDatabase(db)

    val loaded = ConceptMaps.getFromDatabase(spark, db)
    val m = loaded.getMappings("urn:cm:p2", "3").collect()
    assert(m.toSet === Set(Mapping("urn:cm:p2", "3", "urn:src", "urn:tgt",
      "s2", "b", "t2", "B", "wider")))
    assert(loaded.getMappings("urn:cm:p1", "1").collect().head.targetValue
      === "A")
    assert(loaded.getConceptMap("urn:cm:p2", "3").isDefined)
    intercept[IllegalArgumentException] { second.writeToDatabase(db) }
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("metadata tables written before the schema widening still load") {
    import org.apache.spark.sql.functions._
    val db = "graft_test_oldmeta"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    // simulate a pre-widening table: only (url, version, experimental)
    Seq(("urn:vs:old", "1", false)).toDF("url", "version", "experimental")
      .write.saveAsTable(s"$db.valuesets")
    Seq(Value("urn:vs:old", "1", "s", null, "c")).toDS()
      .write.saveAsTable(s"$db.values")
    val loaded = ValueSets.getFromDatabase(spark, db)
    val row = loaded.getValueSet("urn:vs:old", "1").get
    assert(row.getAs[String]("name") === null) // absent column → null
    assert(row.getAs[Boolean]("experimental") === false)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("hierarchies: write → append → read round-trip, dup write rejected") {
    val db = "graft_test_h_rt"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    Hierarchies.getEmpty(spark)
      .withHierarchyElements("urn:h:p1", "1", Seq(
        HierarchicalElement("s", "root", "s", "mid"),
        HierarchicalElement("s", "mid", "s", "leaf")).toDS())
      .writeToDatabase(db)
    val second = Hierarchies.getEmpty(spark)
      .withHierarchyElements("urn:h:p2", "2", Seq(
        HierarchicalElement("x", "p", "x", "c")).toDS())
    second.writeToDatabase(db)

    val loaded = Hierarchies.getFromDatabase(spark, db)
    assert(loaded.getAncestors("urn:h:p1", "1").collect().exists(a =>
      a.ancestorValue == "root" && a.descendantValue == "leaf"))
    assert(loaded.getAncestors("urn:h:p2", "2").collect().toSet ===
      Set(Ancestor("urn:h:p2", "2", "x", "c", "x", "p")))
    assert(loaded.getLatestVersions ===
      Map("urn:h:p1" -> "1", "urn:h:p2" -> "2"))
    intercept[IllegalArgumentException] { second.writeToDatabase(db) }
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("a version with no rows cannot be written twice") {
    import org.apache.spark.sql.functions.col
    val db = "graft_test_norows"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    // a concept map that only delegates (unmapped: other-map) and a value
    // set with no codes: the metadata row is the version's only trace
    val cm = ConceptMaps.getEmpty(spark)
      .withConceptMap("urn:cm:delegating", "1", Nil)
    val vs = ValueSets.getEmpty(spark).withValueSet("urn:vs:none", "1", Nil)
    cm.writeToDatabase(db)
    vs.writeToDatabase(db)
    intercept[IllegalArgumentException] { cm.writeToDatabase(db) }
    intercept[IllegalArgumentException] { vs.writeToDatabase(db) }
    assert(spark.table(s"$db.conceptmaps")
      .where(col("url") === "urn:cm:delegating").count() === 1)
    assert(spark.table(s"$db.valuesets")
      .where(col("url") === "urn:vs:none").count() === 1)
    // other versions of the same url still append
    ConceptMaps.getEmpty(spark)
      .withConceptMap("urn:cm:delegating", "2", Nil).writeToDatabase(db)
    assert(ConceptMaps.getFromDatabase(spark, db)
      .getLatestVersionsMap(includeExperimental = true) ===
      Map("urn:cm:delegating" -> "2"))
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("a version map reads only the stored partitions of those versions") {
    val db = "graft_test_vs_prune"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    ValueSets.getEmpty(spark)
      .withValueSet("urn:vs:q1", "1", Seq(("s", "a")))
      .withValueSet("urn:vs:q1", "2", Seq(("s", "b")))
      .withValueSet("urn:vs:q2", "1", Seq(("s", "c")))
      .writeToDatabase(db)
    val picked = ValueSets.getFromDatabase(spark, db)
      .getValues(Map("urn:vs:q1" -> "2", "urn:vs:q2" -> "1"))
    assert(picked.collect().map(_.value).sorted === Array("b", "c"))
    val scans = picked.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1 && scans.head.partitionFilters.nonEmpty)
    assert(scans.head.metrics("numPartitions").value === 2)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}
