package graft.fhir

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.terminology.{BroadcastableConceptMap, CollectionKind,
  ConceptMapDependencies, ConceptMapKind, ConceptMaps, Mapping, Value,
  ValueSetKind, ValueSets}

/** Import/export of FHIR ValueSet and ConceptMap *resources* (JSON) into the
  * flat terminology datasets, and reconstruction of the nested resource
  * shape from the flat rows.
  *
  * Reference: S7 directory import (AbstractValueSets.valueSetDatasetFromDirectory
  * /root/reference/bunsen-spark/.../AbstractValueSets.java:427-465,
  * AbstractConceptMaps.java:162-194), value/mapping expansion
  * (ValueSets.expandValues bunsen-spark-stu3/.../ValueSets.java:200-234,
  * ConceptMaps.expandMappings ConceptMaps.java:207-275), and the sorted
  * group-reconstruction O1/O2 (ConceptMaps.addToConceptMap :135-199,
  * ValueSets.addToValueSet :237-287).
  *
  * Divergences: parsing is `from_json` against a compiled schema on a
  * parallel `wholetext` read (the reference parses with HAPI on a
  * 1-partition RDD, AbstractValueSets.java:458-460), and reconstruction is
  * `array_sort(collect_list(struct(...)))` aggregation instead of a
  * driver-side streamed fold — both fully cluster-side.
  */
object TerminologyResources {

  // the metadata fields of both resources
  private val header = "resourceType STRING, id STRING, url STRING, " +
    "version STRING, name STRING, status STRING, experimental BOOLEAN, " +
    "publisher STRING, `date` STRING, "

  /** Parse schema for a FHIR ValueSet resource (the subset the flat model
    * round-trips; FIXTURES.md §6). */
  val valueSetSchema: StructType = StructType.fromDDL(header +
    "compose STRUCT<include: ARRAY<STRUCT<system: STRING, version: STRING, " +
    "concept: ARRAY<STRUCT<code: STRING, display: STRING>>>>>")

  /** Parse schema for a FHIR ConceptMap resource. */
  val conceptMapSchema: StructType = StructType.fromDDL(header +
    "sourceUri STRING, targetUri STRING, `group` ARRAY<STRUCT<" +
    "source: STRING, target: STRING, unmapped: STRUCT<mode: STRING, " +
    "url: STRING>, element: ARRAY<STRUCT<code: STRING, display: STRING, " +
    "target: ARRAY<STRUCT<code: STRING, display: STRING, " +
    "equivalence: STRING>>>>>>")

  /** Every `resourceType` resource in the files under `dir`, parsed
    * against `schema` into one struct column `r`. `.xml` files are
    * converted to JSON executor-side so one `from_json` handles both
    * formats (reference parses either by extension,
    * AbstractValueSets.java:427-448 ToValueSet.call).
    *
    * FAIL-FAST on malformed XML: terminology directories are small curated
    * inputs — a corrupt ValueSet/ConceptMap must abort the import (the
    * reference's behavior), not silently vanish and skew every membership
    * check or translation built from the collection. (The lenient
    * null-on-parse-error policy is reserved for the Bundles bulk-ingest
    * path.) */
  private def parse(spark: SparkSession, dir: String, schema: StructType,
      resourceType: String): DataFrame = {
    val xmlToJson = udf((s: String) =>
      if (s == null) null else FhirXml.resourceXmlToJson(s, schema))
    spark.read.option("wholetext", "true").text(dir)
      .select(from_json(when(input_file_name().endsWith(".xml"),
        xmlToJson(col("value"))).otherwise(col("value")), schema).as("r"))
      .where(col("r.resourceType") === resourceType)
  }

  /** The metadata row of each parsed resource: the queryable scalar
    * fields of the full resource the reference stores
    * (AbstractValueSets.java:242-266), in the kind's metadata columns. A
    * missing experimental flag reads as false. */
  private def metadata(parsed: DataFrame, kind: CollectionKind): DataFrame =
    parsed.select(kind.metaColumns.map {
      case "experimental" =>
        coalesce(col("r.experimental"), lit(false)).as("experimental")
      case c @ ("source" | "target") => col(s"r.${c}Uri").as(c)
      case c => col(s"r.$c").as(c)
    }: _*)

  /** S7: directory of ValueSet JSON/XML files → (metadata DF, values DS). */
  def valueSetsFromDirectory(spark: SparkSession,
      path: String): (DataFrame, Dataset[Value]) = {
    import spark.implicits._
    val parsed = parse(spark, path, valueSetSchema, "ValueSet")
    // expandValues (ValueSets.java:200-234): explode include → concept
    val values = parsed.select(col("r.url").as("valueSetUri"),
        col("r.version").as("valueSetVersion"),
        explode(col("r.compose.include")).as("inc"))
      .select(col("valueSetUri"), col("valueSetVersion"),
        col("inc.system").as("system"), col("inc.version").as("version"),
        explode(col("inc.concept.code")).as("value"))
      .as[Value]
    (metadata(parsed, ValueSetKind), values)
  }

  /** Merge a directory of ValueSet resources into a collection (duplicates
    * rejected — withValueSetsFromDirectory semantics). */
  def withValueSetsFromDirectory(spark: SparkSession, valueSets: ValueSets,
      path: String): ValueSets = {
    val (meta, values) = valueSetsFromDirectory(spark, path)
    valueSets.withValueSets(meta, values)
  }

  /** Disjoint variant (J1 semantics). */
  def withDisjointValueSetsFromDirectory(spark: SparkSession,
      valueSets: ValueSets, path: String): ValueSets = {
    val (meta, values) = valueSetsFromDirectory(spark, path)
    valueSets.withDisjointValueSets(meta, values)
  }

  /** S7: directory of ConceptMap JSON/XML files → (metadata DF, mappings DS). */
  def conceptMapsFromDirectory(spark: SparkSession,
      path: String): (DataFrame, Dataset[Mapping]) = {
    import spark.implicits._
    val parsed = parse(spark, path, conceptMapSchema, "ConceptMap")
    // expandMappings (ConceptMaps.java:207-275)
    val mappings = parsed.select(col("r.url").as("conceptMapUri"),
        col("r.version").as("conceptMapVersion"),
        col("r.sourceUri").as("sourceValueSet"),
        col("r.targetUri").as("targetValueSet"),
        explode(col("r.group")).as("g"))
      .select(col("*"), col("g.source").as("sourceSystem"),
        col("g.target").as("targetSystem"), explode(col("g.element")).as("e"))
      .select(col("*"), col("e.code").as("sourceValue"),
        explode(col("e.target")).as("t"))
      .select(col("*"), col("t.code").as("targetValue"),
        col("t.equivalence").as("equivalence"))
      .select(Encoders.product[Mapping].schema.fieldNames.toSeq.map(col): _*)
      .as[Mapping]
    (metadata(parsed, ConceptMapKind), mappings)
  }

  /** ConceptMaps with every map found under `path` (JSON + XML) appended. */
  def withConceptMapsFromDirectory(spark: SparkSession,
      conceptMaps: ConceptMaps, path: String): ConceptMaps = {
    val (meta, mappings) = conceptMapsFromDirectory(spark, path)
    conceptMaps.withConceptMaps(meta, mappings)
  }

  /** G2: other-map delegate urls per concept-map url, from the parsed
    * `group.unmapped{mode,url}` (ConceptMaps.getMapChildren,
    * bunsen-spark-stu3/.../ConceptMaps.java:447-455) of
    * each url's latest version. */
  def conceptMapDelegates(spark: SparkSession,
      path: String): Map[String, Seq[String]] =
    latestMaps(spark, path).map { case (url, (_, delegates)) =>
      url -> delegates }.filter(_._2.nonEmpty)

  /** url → (latest version, its other-map delegate urls). The latest
    * version is the collection's rule with experimental maps included, as
    * `BroadcastableValueSets.Builder.addReference` resolves value sets. */
  private def latestMaps(spark: SparkSession,
      path: String): Map[String, (String, Seq[String])] = {
    val delegates = parse(spark, path, conceptMapSchema, "ConceptMap")
      .select(col("r.url").as("url"), col("r.version").as("version"),
        array_distinct(transform(filter(col("r.group"), g =>
            g("unmapped")("mode") === "other-map" &&
              g("unmapped")("url").isNotNull),
          g => g("unmapped")("url"))).as("delegates"))
    ConceptMapKind.latest(delegates, includeExperimental = true, "delegates")
      .collect().map(r => r.getString(0) -> ((r.getString(1),
        Option(r.getSeq[String](2)).getOrElse(Nil))))
      .toMap
  }

  /** G2 end-to-end: load `uri` and its other-map delegation closure from a
    * directory, dependency-ordered (ConceptMaps.sortMapsToLoad :390-441),
    * and build the chained broadcastable lookup — unmapped source codes
    * fall through to the delegate map at translate time. Each url on the
    * path binds its latest version only, and only those versions'
    * mappings are collected. */
  def broadcastConceptMapFromDirectory(spark: SparkSession, path: String,
      uri: String): BroadcastableConceptMap = {
    val latest = latestMaps(spark, path)
    def children(u: String): Seq[String] = latest.get(u).toSeq.flatMap(_._2)
    val order = ConceptMapDependencies.sortMapsToLoad(Seq(uri), children)
    val onPath = order.flatMap(u => latest.get(u).map { case (v, _) =>
      col("conceptMapUri") === u && col("conceptMapVersion") === v })
    val (_, mappings) = conceptMapsFromDirectory(spark, path)
    // small-by-contract driver collect (the reference collects every
    // broadcast map the same way, ConceptMaps.broadcast :330-385); a
    // filter rather than the broadcast semi-join, which costs a job
    val byUri = mappings.where(onPath.foldLeft(lit(false))(_ || _))
      .collect().toSeq.groupBy(_.conceptMapUri)
    val built = order.foldLeft(
      Map.empty[String, BroadcastableConceptMap]) { (acc, u) =>
      val delegate = children(u).headOption.flatMap(acc.get)
      acc + (u -> BroadcastableConceptMap(u,
        byUri.getOrElse(u, Nil), delegate))
    }
    built.getOrElse(uri, throw new IllegalArgumentException(
      s"Concept map $uri not found in $path"))
  }

  /** Like [[withConceptMapsFromDirectory]] but skips (url, version) pairs already loaded (J1 anti-join semantics). */
  def withDisjointConceptMapsFromDirectory(spark: SparkSession,
      conceptMaps: ConceptMaps, path: String): ConceptMaps = {
    val (meta, mappings) = conceptMapsFromDirectory(spark, path)
    conceptMaps.withDisjointConceptMaps(meta, mappings)
  }

  /** O2/U5: rebuild the nested ValueSet resource JSON for one (uri, version)
    * from the flat values — canonical (system, version, value) ordering via
    * array_sort, matching the reference's sort-then-rebuild
    * (ValueSets.java:237-287). */
  def valueSetAsJson(valueSets: ValueSets, uri: String,
      version: String): Option[String] = {
    import valueSets.spark.implicits._
    val nested = valueSets.getValues(uri, version).toDF()
      .groupBy(col("system"), col("version"))
      .agg(array_sort(collect_list(struct(col("value").as("code"))))
        .as("concept"))
      .groupBy()
      .agg(array_sort(collect_list(
        struct(col("system"), col("version"), col("concept")))).as("include"))
      // unknown (uri, version) → None, not a hollow document
      .where(size(col("include")) > 0)
      .select(to_json(struct(
        lit("ValueSet").as("resourceType"),
        lit(uri).as("url"), lit(version).as("version"),
        struct(col("include")).as("compose"))).as("json"))
    nested.as[String].collect().headOption
  }

  /** O1/U5: rebuild the nested ConceptMap resource JSON for one (uri,
    * version) — groups keyed by (sourceSystem, targetSystem), elements and
    * targets canonically sorted (ConceptMaps.addToConceptMap :135-199). */
  def conceptMapAsJson(conceptMaps: ConceptMaps, uri: String,
      version: String): Option[String] = {
    import conceptMaps.spark.implicits._
    val nested = conceptMaps.getMappings(uri, version).toDF()
      .groupBy(col("sourceSystem"), col("targetSystem"),
        col("sourceValue"))
      .agg(array_sort(collect_list(struct(
        col("targetValue").as("code"),
        col("equivalence")))).as("target"))
      .groupBy(col("sourceSystem"), col("targetSystem"))
      .agg(array_sort(collect_list(struct(
        col("sourceValue").as("code"), col("target")))).as("element"))
      .groupBy()
      .agg(array_sort(collect_list(struct(
        col("sourceSystem").as("source"),
        col("targetSystem").as("target"),
        col("element")))).as("group"))
      .where(size(col("group")) > 0)
      .select(to_json(struct(
        lit("ConceptMap").as("resourceType"),
        lit(uri).as("url"), lit(version).as("version"),
        col("group"))).as("json"))
    nested.as[String].collect().headOption
  }

  /** get_value_set_as_xml parity (reference
    * python/bunsen/codes/__init__.py:301-318): the canonical JSON renest
    * serialized as a FHIR XML document. The output re-imports through the
    * XML directory reader to the identical values dataset
    * (TerminologyResourcesSpec round trip). */
  def valueSetAsXml(valueSets: ValueSets, uri: String,
      version: String): Option[String] =
    valueSetAsJson(valueSets, uri, version)
      .map(FhirJson.resourceJsonToXml)

  /** get_map_as_xml parity (python/bunsen/codes/__init__.py:126-143). */
  def conceptMapAsXml(conceptMaps: ConceptMaps, uri: String,
      version: String): Option[String] =
    conceptMapAsJson(conceptMaps, uri, version)
      .map(FhirJson.resourceJsonToXml)
}
