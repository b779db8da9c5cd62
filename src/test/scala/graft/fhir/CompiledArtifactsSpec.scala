package graft.fhir

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.fhir.FhirSchemas.FRegistry

/** Pins a fingerprint of every artifact the schema compiler produces, so a
  * change to how definitions are walked cannot move a single byte of one:
  * `schemaFor`, `parseSchemaFor`, the bundle envelopes, the output schema
  * of `extractEntry`, `avroSchemaFor(...).toString` and `caseClassSource`,
  * over every type of the default registry, every type of the shipped
  * US-Core registry, each shipped profile through `registryFor`, and the
  * recursive Questionnaire fixture. An artifact whose compile throws is
  * pinned as `!` + the exception class.
  *
  * The pins live in `graft/fhir/compiled_artifacts.txt` (one
  * `registry|artifact|name <tab> fingerprint` line each); regenerate with
  *
  *   sbt "Test/runMain graft.fhir.CompiledArtifactsSpec <file>"
  *
  * only when an artifact is meant to change. */
class CompiledArtifactsSpec extends SparkSuite {

  test("every compiled artifact matches its pinned fingerprint") {
    val in = getClass.getClassLoader
      .getResourceAsStream("graft/fhir/compiled_artifacts.txt")
    assert(in != null, "pinned artifact fingerprints missing")
    val pinned = try CompiledArtifactsSpec.parse(
      new String(in.readAllBytes(), UTF_8)) finally in.close()
    val now = CompiledArtifactsSpec.fingerprints(spark)
    val changed = (pinned.keySet ++ now.keySet).toSeq.sorted
      .filter(k => pinned.get(k) != now.get(k))
    assert(changed.isEmpty, s"${changed.size} artifacts moved: " +
      changed.take(20).map(k => s"$k ${pinned.get(k)} -> ${now.get(k)}")
        .mkString("; "))
    assert(now.size > 500, s"only ${now.size} artifacts covered")
  }
}

object CompiledArtifactsSpec {

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).take(8).map(b => f"$b%02x").mkString

  private def pin(artifact: => String): String =
    try digest(artifact)
    catch { case e: Exception => "!" + e.getClass.getName }

  def parse(text: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split('\t'); k -> v
    }.toMap

  /** Fingerprints of every artifact, keyed `registry|artifact|name`. */
  def fingerprints(spark: SparkSession): Map[String, String] = {
    val raw = spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("bundle_json", StringType))))
    def names(reg: FRegistry): Seq[String] = (reg.complexTypes.keys ++
      reg.extensionDefinitions.keys ++ reg.resources.keys).toSeq.distinct.sorted
    /** Per type: the Spark, Avro and case-class compiles; per resource the
      * extraction output too. `parseSchemaFor` is defined for resources and
      * complex types. */
    def artifacts(label: String, reg: FRegistry,
        types: Seq[String]): Seq[(String, String)] =
      types.flatMap { n =>
        val resource = reg.resources.contains(n)
        Seq(
          "schema" -> Some(() => FhirSchemas.schemaFor(n, reg).json),
          "parse" -> Option.when(resource || reg.complexTypes.contains(n))(
            () => FhirSchemas.parseSchemaFor(n, reg).json),
          "avro" -> Some(() => FhirAvro.avroSchemaFor(n, reg).toString),
          "codegen" -> Some(() => FhirCodegen.caseClassSource(n, reg)),
          "extract" -> Option.when(resource)(() =>
            Bundles.extractEntry(spark, raw, n, Nil, reg).schema.json))
          .collect { case (a, Some(f)) => s"$label|$a|$n" -> pin(f()) }
      } :+ (s"$label|envelope|*" -> pin(FhirSchemas.bundleEnvelopeSchemaFor(
        reg.resources.keys.toSeq.sorted, reg).json))

    val default = FhirSchemas.defaultRegistry
    val shipped = StructureDefinitions.shipped
    val questionnaire = StructureDefinitions.compile(
      Seq(StructureDefinitionsSpec.questionnaireJson)).registry
    val profiles = shipped.resourcesByUrl.toSeq.sortBy(_._1)
      .flatMap { case (url, d) =>
        val reg = shipped.registryFor(url)
        artifacts(s"profile:$url", reg, Seq(d.name)) :+
          (s"profile:$url|envelope|${d.name}" -> pin(
            FhirSchemas.bundleEnvelopeSchemaFor(Seq(d.name), reg).json))
      }
    (artifacts("default", default, names(default)) ++
      artifacts("shipped", shipped.registry, names(shipped.registry)) ++
      artifacts("questionnaire", questionnaire,
        Seq("Questionnaire", "Questionnaire.item")) ++
      profiles ++ Seq(
        "default|envelope|bundleEnvelopeSchema" ->
          pin(FhirSchemas.bundleEnvelopeSchema.json),
        "default|extract|MedicationRequest+Medication" -> pin(
          Bundles.extractEntry(spark, raw, "MedicationRequest",
            Seq("Medication")).schema.json))).toMap
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSuite.spark
    spark.sparkContext.setLogLevel("ERROR")
    val lines = fingerprints(spark).toSeq.sorted
      .map { case (k, v) => s"$k\t$v" }
    Files.createDirectories(Paths.get(args(0)).toAbsolutePath.getParent)
    Files.writeString(Paths.get(args(0)), lines.mkString("", "\n", "\n"))
    println(s"${lines.size} artifacts pinned")
    spark.stop()
  }
}
