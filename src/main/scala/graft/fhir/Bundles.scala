package graft.fhir

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** FHIR bundle ingestion: directories or columns of bundle JSON documents →
  * per-resource-type DataFrames → saved tables.
  *
  * Reference: /root/reference/bunsen-spark/.../Bundles.java. Design
  * divergence (SURVEY §2.1 S1-S6): instead of `wholeTextFiles` → an opaque
  * `JavaRDD<BundleContainer>` (which reserializes every bundle to JSON text
  * on each shuffle, Bundles.java:47-68) and a per-task rebuilt HAPI converter
  * (Bundles.java:458-476), bundles stay a `DataFrame` of raw JSON strings and
  * every downstream step is a Catalyst expression (`from_json`, `explode`,
  * struct projection) — fully codegen'd, no driver round-trips, and the
  * schema is compiled once and shipped inside the plan.
  */
object Bundles {

  /** S1: load every file under `path` as one bundle row. Keeps per-file
    * semantics via `wholetext`; `minPartitions` > 1 switches to
    * `wholeTextFiles(path, minPartitions)` — the reference's mechanism
    * (Bundles.java:117-125) — which widens the READ splits for parallel
    * parsing with zero shuffle (a post-read repartition would ship every
    * ingested byte through an exchange). */
  def loadFromDirectory(spark: SparkSession, path: String,
      minPartitions: Int = 1): DataFrame = {
    if (minPartitions > 1) {
      import spark.implicits._
      spark.sparkContext.wholeTextFiles(path, minPartitions)
        .toDF("source_file", "bundle_json")
        .select(col("bundle_json"), col("source_file"))
    } else {
      spark.read.option("wholetext", "true").text(path)
        .withColumn("source_file", input_file_name())
        .withColumnRenamed("value", "bundle_json")
    }
  }

  /** The one envelope rule every entry point parses against: the merge
    * over `resourceNames` when the caller names the types it will
    * extract, else over every resource of `reg` (the default registry's
    * envelope is compiled once). Naming the types is the ingest-throughput
    * knob: `from_json` parses every row against every field of the
    * envelope, so a one-resource extraction against the full-registry
    * merge pays ~10x the struct width for fields it immediately drops
    * (measured 67s → 8s on the q83 round trip at sf0.1). */
  private def envelope(reg: FhirSchemas.FRegistry,
      resourceNames: Seq[String]): StructType =
    if (resourceNames.nonEmpty)
      FhirSchemas.bundleEnvelopeSchemaFor(resourceNames.distinct, reg)
    else if (reg eq FhirSchemas.defaultRegistry)
      FhirSchemas.bundleEnvelopeSchema
    else FhirSchemas.bundleEnvelopeSchemaFor(
      reg.resources.keys.toSeq.sorted, reg)

  /** S2: bundles from a DataFrame column of JSON strings, parsed against
    * the envelope of `reg` (user-compiled StructureDefinition profiles
    * plug in here) merged over `resourceNames` (default: every registry
    * resource). */
  def fromJson(df: DataFrame, column: String,
      reg: FhirSchemas.FRegistry = FhirSchemas.defaultRegistry,
      resourceNames: Seq[String] = Nil): DataFrame =
    df.withColumn("bundle",
      from_json(col(column), envelope(reg, resourceNames)))

  /** Bundles from raw text: a `bundle` column is taken as already parsed,
    * else `bundle_json` is parsed against the envelope over `names`. */
  private def parsed(bundles: DataFrame, reg: FhirSchemas.FRegistry,
      names: Seq[String]): DataFrame =
    if (bundles.columns.contains("bundle")) bundles
    else fromJson(bundles, "bundle_json", reg, names)

  // malformed XML → null row (dropped downstream), matching from_json's
  // PERMISSIVE behavior on malformed JSON — one bad document must not
  // fail a 100 TB ingest task. The catch is NARROW (parse-level failures
  // only): a systematic converter defect still fails loudly instead of
  // silently emptying the ingest. The conversion is guided by the same
  // envelope the JSON is then parsed against, so XML keeps every field
  // the caller's registry declares.
  private def xmlToJson(envelope: StructType) = udf((s: String) =>
    if (s == null) null
    else try FhirXml.resourceXmlToJson(s, envelope)
    catch {
      case _: javax.xml.stream.XMLStreamException => null
      case _: IllegalArgumentException => null // empty document require
    })

  /** S3: bundles from a DataFrame column of FHIR XML strings — converted
    * to JSON executor-side (FhirXml) against the envelope [[fromJson]]
    * would parse with for the same `reg` and `resourceNames`, then the
    * same `from_json` path, so XML and JSON ingestion produce identical
    * rows (Bundles.fromXml, reference Bundles.java:160-175). */
  def fromXml(df: DataFrame, column: String,
      reg: FhirSchemas.FRegistry = FhirSchemas.defaultRegistry,
      resourceNames: Seq[String] = Nil): DataFrame = {
    val env = envelope(reg, resourceNames)
    df.withColumn("bundle_json", xmlToJson(env)(col(column)))
      .withColumn("bundle", from_json(col("bundle_json"), env))
  }

  /** S1 end-to-end: load a directory of bundle files, parsing each by
    * extension (.xml → XML, anything else → JSON), matching the
    * reference's per-file dispatch (Bundles.java:117-125,354-403). */
  def fromDirectory(spark: SparkSession, path: String,
      minPartitions: Int = 1): DataFrame = {
    val raw = loadFromDirectory(spark, path, minPartitions)
    fromJson(raw.withColumn("bundle_json",
      when(col("source_file").endsWith(".xml"),
        xmlToJson(envelope(FhirSchemas.defaultRegistry, Nil))(
          col("bundle_json")))
        .otherwise(col("bundle_json"))), "bundle_json")
  }

  /** S4/S5: extract all resources of one type from a bundle DataFrame
    * produced by [[loadFromDirectory]] or [[fromJson]]; returns a DataFrame
    * with the compiled schema for that resource (incl. synthetic reference
    * ids, code "?"→null scrubbing, and hoisted profile extensions). With
    * statically-declared `containedTypes` it adds a `contained` column:
    * array of one-field-per-declared-type structs (Bundles.extractEntry(…,
    * containedUrls), /root/reference/bunsen-spark/.../Bundles.java:262-279).
    * `reg` plugs in user-compiled profiles: unparsed bundle text is then
    * parsed with an envelope merged over exactly the types requested. */
  def extractEntry(spark: SparkSession, bundles: DataFrame,
      resourceName: String, containedTypes: Seq[String] = Nil,
      reg: FhirSchemas.FRegistry = FhirSchemas.defaultRegistry): DataFrame = {
    val withParsed = parsed(bundles, reg, resourceName +: containedTypes)
    val entries = withParsed
      .select(explode(col("bundle.entry")).as("entry"))
      .select(col("entry.resource").as("resource"))
      .where(col("resource.resourceType") === resourceName)
    val shapedCols =
      FhirSchemas.postParseTransform(resourceName, col("resource"), reg)
        .as("resource") +:
        (if (containedTypes.nonEmpty)
          Seq(FhirSchemas.containedTransform(containedTypes, col("resource"),
            reg).as("contained"))
        else Nil)
    val shaped = entries.select(shapedCols: _*)
    if (containedTypes.nonEmpty)
      shaped.select(col("resource.*"), col("contained"))
    else shaped.select(col("resource.*"))
  }

  /** S6: extract every registered resource type and save each as a table in
    * `database` (table name = lower-cased resource name). */
  def saveAsDatabase(spark: SparkSession, bundles: DataFrame,
      database: String, resourceNames: Seq[String],
      reg: FhirSchemas.FRegistry = FhirSchemas.defaultRegistry): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    val all = parsed(bundles, reg, resourceNames)
    resourceNames.foreach { r =>
      val table = s"$database.${r.toLowerCase}"
      // a managed-table location can outlive its catalog entry across
      // sessions; overwrite would fail with LOCATION_ALREADY_EXISTS
      graft.terminology.CollectionKind.reclaimOrphanLocation(spark, database,
        r.toLowerCase)
      extractEntry(spark, all, r, Nil, reg).write.mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    }
  }

  /** One contained element (a one-field-per-declared-type struct) rendered
    * as spec JSON (`{"resourceType":"T",...fields}`) entirely in Catalyst:
    * the matching type's sub-struct is serialized with `to_json` and the
    * discriminator spliced in front, with no per-row document parse. */
  private def containedElemJson(x: Column,
      typeFields: Seq[String]): Column = {
    // candidates in REVERSE declaration order: [[extractEntry]] output
    // has exactly one non-null type slot; a caller-built frame with two
    // keeps the LAST one
    val candidates = typeFields.reverse.map { fn =>
      val rt = fn.substring(0, 1).toUpperCase + fn.substring(1)
      val inner = to_json(x.getField(fn), Map("ignoreNullFields" -> "true"))
      when(x.getField(fn).isNotNull,
        when(inner === "{}", lit(s"""{"resourceType":"$rt"}"""))
          .otherwise(concat(lit(s"""{"resourceType":"$rt","""),
            inner.substr(lit(2), length(inner) - 1))))
    }
    // element of an undeclared type (all type slots null) → "{}"
    coalesce((candidates :+ when(x.isNotNull, lit("{}"))): _*)
  }

  /** U5: serialize resource rows back to spec-shaped FHIR JSON strings
    * (decode path): resourceType first, hoisted extension fields folded
    * back into the generic `extension` list (inverse of ingestion), null
    * fields dropped. The output re-ingests through [[fromJson]] to
    * identical rows.
    *
    * One path, all Catalyst: the main struct (resourceType, the plain
    * fields, then the rebuilt `extension` list) is serialized with
    * `to_json`, and a `contained` column, wherever it sits in the frame,
    * is reshaped to the spec's inline resourceType form and spliced in
    * LAST — so the decode stays inside whole-stage codegen and
    * materializes ONE string per row. */
  def toJson(df: DataFrame, resourceName: String,
      reg: FhirSchemas.FRegistry = FhirSchemas.defaultRegistry): DataFrame = {
    val extNames = FhirSchemas.extensionFieldNames(resourceName, reg).toSet
    val ext = FhirSchemas.decodeExtensions(resourceName, reg)
      .filter(_ => df.columns.exists(extNames.contains))
    val mainCols = (lit(resourceName).as("resourceType") +: df.columns.toSeq
      .filterNot(n => extNames.contains(n) || n == "contained").map(col)) ++
      ext.map(_.as("extension"))
    val mainJson = to_json(struct(mainCols: _*),
      Map("ignoreNullFields" -> "true"))
    if (!df.columns.contains("contained")) df.select(mainJson.as("json"))
    else {
      val typeFields = df.schema("contained").dataType match {
        case ArrayType(s: StructType, _) => s.fields.map(_.name).toSeq
        case other => throw new IllegalArgumentException(
          s"toJson: contained column must be array<struct>, got $other")
      }
      // the main doc always holds at least resourceType, so it ends
      // "...}" and the contained array splices in before the final brace
      val arrJson = concat(lit("\"contained\":["),
        array_join(transform(col("contained"),
          containedElemJson(_, typeFields)), ",", "null"),
        lit("]"))
      df.select(when(col("contained").isNull, mainJson)
        .otherwise(concat(mainJson.substr(lit(1), length(mainJson) - 1),
          lit(","), arrJson, lit("}"))).as("json"))
    }
  }

  /** U6: serialize resource rows to FHIR XML documents. */
  def resourceToXml(df: DataFrame, resourceName: String): DataFrame = {
    val toXmlUdf =
      udf((s: String) => if (s == null) null else FhirJson.resourceJsonToXml(s))
    toJson(df, resourceName).select(toXmlUdf(col("json")).as("xml"))
  }

  /** U5: collect a resource DataFrame into ONE bundle JSON document
    * (reference python/Functions.java:32-77 toBundle). Driver-side by
    * contract — the result is a single document. */
  def toBundle(df: DataFrame, resourceName: String): String = {
    val entries = toJson(df, resourceName)
      .collect().map(_.getString(0))
      .map(r => s"""{"resource":$r}""")
    s"""{"resourceType":"Bundle","type":"collection","entry":[${
      entries.mkString(",")}]}"""
  }
}
