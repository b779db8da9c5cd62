package graft.fhir

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** FHIR-style schema compiler: element-definition DSL → Spark `StructType`.
  *
  * Replaces the reference's HAPI-driven visitor (Stu3StructureDefinitions →
  * DefinitionToSparkVisitor, /root/reference/bunsen-core-stu3/.../
  * Stu3StructureDefinitions.java:260-434 + bunsen-spark/.../
  * DefinitionToSparkVisitor.java:400-641) with a pure-Scala compiler over
  * hand-authored or JSON-compiled definitions, because the build is
  * offline (no HAPI).
  *
  * Like the reference's one visitor framework, every backend maps ONE
  * walk over the definition IR ([[walk]]): it resolves type names,
  * flattens each choice `value[x]` into one field per alternative (named
  * base + TypeName, as the fields appear in FHIR JSON, so `from_json`
  * needs no reshaping; DefinitionToSparkVisitor.java:580-636), unwraps
  * each hoisted profile extension to its value type keeping its url, and
  * cuts recursion with a per-(type, path) occurrence budget of
  * [[MaxDepth]] (Stu3StructureDefinitions.java:88-114). The leaf
  * mappings over it are the Spark schema ([[schemaFor]]), the parse
  * schema ([[parseSchemaFor]]), the post-parse column transform
  * ([[postParseTransform]], [[containedTransform]]), the extension decode
  * ([[decodeExtensions]]), the Avro schema ([[FhirAvro]]) and case-class
  * source ([[FhirCodegen]]). Leaf semantics preserved:
  *
  *  - primitive mapping incl. `decimal → DecimalType(12,4)` and FHIR
  *    dates/instants kept as lexical strings (DefinitionToSparkVisitor
  *    .java:400-419);
  *  - multi-valued elements → `ArrayType` (`max != "1"`,
  *    Stu3StructureDefinitions.java:287-289);
  *  - `Reference` → (reference, display) plus synthetic per-target-type
  *    relative-id fields (`patientId`, …) computed by stripping the type
  *    prefix (DefinitionToSparkVisitor.java:342-378,476-519) — applied as a
  *    column transform post-parse.
  */
object FhirSchemas {

  sealed trait FhirType
  case object FString extends FhirType   // string, uri, id, markdown, xhtml, base64Binary, time
  case object FCode extends FhirType     // bound code; "?" ⇄ null scrub
  case object FDate extends FhirType     // date/dateTime/instant — lexical string
  case object FDecimal extends FhirType  // DecimalType(12,4)
  case object FInt extends FhirType
  case object FBool extends FhirType
  /** Named composite type, resolved via [[complexTypes]] or [[resources]]. */
  final case class FComplex(name: String) extends FhirType
  /** Choice value[x]: field name base + capitalized type name per
    * alternative (DefinitionToSparkVisitor.java:580-636). */
  final case class FChoice(base: String, alternatives: Seq[(String, FhirType)])
      extends FhirType
  /** Reference with declared target resource types (for synthetic ids). */
  final case class FReference(targets: Seq[String]) extends FhirType
  /** A profile extension hoisted out of FHIR's generic
    * `extension[{url,value[x]}]` list into a named field, keyed by its
    * canonical url — the reference's LeafExtensionConverter semantics
    * (bunsen-core/.../LeafExtensionConverter.java:16-114). `tpe` is either a
    * leaf type (valueString/valueCode/...) or an FComplex whose definition
    * consists solely of FExtension fields — a parent extension with nested
    * sub-extensions (DefinitionToSparkVisitor.java:522-562). */
  final case class FExtension(url: String, tpe: FhirType) extends FhirType

  /** One element: name, type, multi-valued? */
  final case class FField(name: String, tpe: FhirType, multi: Boolean = false)

  final case class FDefinition(name: String, fields: Seq[FField])

  // ---- core complex types (subset of the FHIR datatypes the reference's
  // test matrix exercises; SURVEY §5) -------------------------------------
  val complexTypes: Map[String, FDefinition] = Seq(
    FDefinition("Coding", Seq(
      FField("id", FString), FField("system", FString),
      FField("version", FString), FField("code", FCode),
      FField("display", FString), FField("userSelected", FBool))),
    FDefinition("CodeableConcept", Seq(
      FField("id", FString),
      FField("coding", FComplex("Coding"), multi = true),
      FField("text", FString))),
    FDefinition("Quantity", Seq(
      FField("id", FString), FField("value", FDecimal),
      FField("comparator", FCode), FField("unit", FString),
      FField("system", FString), FField("code", FCode))),
    FDefinition("Period", Seq(
      FField("id", FString), FField("start", FDate), FField("end", FDate))),
    FDefinition("Identifier", Seq(
      FField("id", FString), FField("use", FCode),
      FField("system", FString), FField("value", FString))),
    FDefinition("HumanName", Seq(
      FField("id", FString), FField("use", FCode), FField("text", FString),
      FField("family", FString), FField("given", FString, multi = true),
      FField("prefix", FString, multi = true),
      FField("suffix", FString, multi = true))),
    FDefinition("Address", Seq(
      FField("id", FString), FField("use", FCode),
      FField("line", FString, multi = true), FField("city", FString),
      FField("state", FString), FField("postalCode", FString),
      FField("country", FString))),
    FDefinition("Meta", Seq(
      FField("id", FString), FField("versionId", FString),
      FField("lastUpdated", FDate),
      FField("profile", FString, multi = true))),
    FDefinition("Annotation", Seq(
      FField("id", FString), FField("text", FString),
      FField("time", FDate))),
    // Remaining STU3 datatypes the US-Core resource snapshots reach
    // (shapes from the public HL7 STU3 datatype definitions; the
    // reference covers these generically through HAPI's runtime model)
    FDefinition("ContactPoint", Seq(
      FField("id", FString), FField("system", FCode),
      FField("value", FString), FField("use", FCode),
      FField("rank", FInt), FField("period", FComplex("Period")))),
    FDefinition("Attachment", Seq(
      FField("id", FString), FField("contentType", FCode),
      FField("language", FCode), FField("data", FString),
      FField("url", FString), FField("size", FInt),
      FField("hash", FString), FField("title", FString),
      FField("creation", FDate))),
    // Quantity specialization — same element shape
    FDefinition("Duration", Seq(
      FField("id", FString), FField("value", FDecimal),
      FField("comparator", FCode), FField("unit", FString),
      FField("system", FString), FField("code", FCode))),
    FDefinition("Ratio", Seq(
      FField("id", FString),
      FField("numerator", FComplex("Quantity")),
      FField("denominator", FComplex("Quantity")))),
    FDefinition("Range", Seq(
      FField("id", FString),
      FField("low", FComplex("Quantity")),
      FField("high", FComplex("Quantity")))),
    FDefinition("Timing.repeat", Seq(
      FField("id", FString),
      FField("bounds", FChoice("bounds", Seq(
        "Duration" -> FComplex("Duration"),
        "Range" -> FComplex("Range"),
        "Period" -> FComplex("Period")))),
      FField("count", FInt), FField("countMax", FInt),
      FField("duration", FDecimal), FField("durationMax", FDecimal),
      FField("durationUnit", FCode),
      FField("frequency", FInt), FField("frequencyMax", FInt),
      FField("period", FDecimal), FField("periodMax", FDecimal),
      FField("periodUnit", FCode),
      FField("dayOfWeek", FCode, multi = true),
      FField("timeOfDay", FString, multi = true),
      FField("when", FCode, multi = true),
      FField("offset", FInt))),
    FDefinition("Timing", Seq(
      FField("id", FString),
      FField("event", FDate, multi = true),
      FField("repeat", FComplex("Timing.repeat")),
      FField("code", FComplex("CodeableConcept")))),
    FDefinition("Dosage", Seq(
      FField("id", FString), FField("sequence", FInt),
      FField("text", FString),
      FField("additionalInstruction", FComplex("CodeableConcept"),
        multi = true),
      FField("patientInstruction", FString),
      FField("timing", FComplex("Timing")),
      FField("asNeeded", FChoice("asNeeded", Seq(
        "Boolean" -> FBool,
        "CodeableConcept" -> FComplex("CodeableConcept")))),
      FField("site", FComplex("CodeableConcept")),
      FField("route", FComplex("CodeableConcept")),
      FField("method", FComplex("CodeableConcept")),
      FField("dose", FChoice("dose", Seq(
        "Quantity" -> FComplex("Quantity"),
        "Range" -> FComplex("Range")))),
      FField("maxDosePerPeriod", FComplex("Ratio")),
      FField("maxDosePerAdministration", FComplex("Quantity")),
      FField("maxDosePerLifetime", FComplex("Quantity")),
      FField("rate", FChoice("rate", Seq(
        "Ratio" -> FComplex("Ratio"),
        "Range" -> FComplex("Range"),
        "Quantity" -> FComplex("Quantity")))))),
  ).map(d => d.name -> d).toMap

  /** The choice type used by Observation.value[x] and friends. */
  def valueChoice: FChoice = FChoice("value", Seq(
    "Quantity" -> FComplex("Quantity"),
    "CodeableConcept" -> FComplex("CodeableConcept"),
    "String" -> FString,
    "Boolean" -> FBool,
    "Integer" -> FInt,
    "DateTime" -> FDate,
    "Period" -> FComplex("Period")))

  // US-Core-style profile extension urls (the reference hoists these via its
  // profile SPI, UsCoreStu3ProfileProvider; we declare them on the resource
  // definitions directly — additive: plain resources parse with nulls)
  val RaceExtensionUrl = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"
  val EthnicityExtensionUrl = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity"
  val BirthSexExtensionUrl = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex"

  // ---- core resources ----------------------------------------------------
  val resources: Map[String, FDefinition] = Seq(
    FDefinition("Patient", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("identifier", FComplex("Identifier"), multi = true),
      FField("active", FBool),
      FField("name", FComplex("HumanName"), multi = true),
      FField("gender", FCode), FField("birthDate", FDate),
      FField("deceasedBoolean", FBool),
      FField("address", FComplex("Address"), multi = true),
      FField("multipleBirthBoolean", FBool),
      // hoisted profile extensions: a parent extension with nested
      // sub-extensions (race) and a leaf extension (birthsex) — mirrors
      // SparkRowConverterTest.testNestedExtension/testSimpleExtension
      FField("race", FExtension(RaceExtensionUrl, FComplex("RaceExtension"))),
      FField("birthSex", FExtension(BirthSexExtensionUrl, FCode)))),
    FDefinition("Observation", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("status", FCode),
      FField("category", FComplex("CodeableConcept"), multi = true),
      FField("code", FComplex("CodeableConcept")),
      FField("subject", FReference(Seq("Patient", "Group"))),
      FField("encounter", FReference(Seq("Encounter"))),
      FField("effectiveDateTime", FDate),
      FField("issued", FDate),
      // choice type routed through the FChoice machinery: compiles to one
      // flat field per alternative (valueQuantity, valueString, ...)
      FField("value", valueChoice),
      FField("interpretation", FComplex("CodeableConcept")),
      FField("note", FComplex("Annotation"), multi = true))),
    FDefinition("Condition", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("clinicalStatus", FCode),
      FField("verificationStatus", FCode),
      FField("category", FComplex("CodeableConcept"), multi = true),
      FField("severity", FComplex("CodeableConcept")),
      FField("code", FComplex("CodeableConcept")),
      FField("subject", FReference(Seq("Patient"))),
      FField("context", FReference(Seq("Encounter"))),
      FField("onsetDateTime", FDate),
      FField("abatementDateTime", FDate))),
    FDefinition("Encounter", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("status", FCode),
      FField("class", FComplex("Coding")),
      FField("type", FComplex("CodeableConcept"), multi = true),
      FField("priority", FComplex("CodeableConcept")),
      FField("subject", FReference(Seq("Patient"))),
      FField("period", FComplex("Period")))),
    FDefinition("Medication", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("code", FComplex("CodeableConcept")),
      FField("status", FCode))),
    FDefinition("MedicationRequest", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("status", FCode), FField("intent", FCode),
      // medication[x] choice: Reference | CodeableConcept
      FField("medication", FChoice("medication", Seq(
        "Reference" -> FReference(Seq("Medication")),
        "CodeableConcept" -> FComplex("CodeableConcept")))),
      FField("subject", FReference(Seq("Patient"))),
      FField("authoredOn", FDate))),
    FDefinition("Procedure", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("status", FCode),
      FField("code", FComplex("CodeableConcept")),
      FField("subject", FReference(Seq("Patient"))),
      FField("performedDateTime", FDate),
      FField("performedPeriod", FComplex("Period")),
      FField("bodySite", FComplex("CodeableConcept"), multi = true))),
    FDefinition("Immunization", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("status", FCode), FField("notGiven", FBool),
      FField("vaccineCode", FComplex("CodeableConcept")),
      FField("patient", FReference(Seq("Patient"))),
      FField("date", FDate),
      FField("primarySource", FBool),
      FField("doseQuantity", FComplex("Quantity")))),
    FDefinition("AllergyIntolerance", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("clinicalStatus", FCode),
      FField("verificationStatus", FCode),
      FField("criticality", FCode),
      FField("code", FComplex("CodeableConcept")),
      FField("patient", FReference(Seq("Patient"))),
      FField("onsetDateTime", FDate),
      FField("assertedDate", FDate))),
    FDefinition("DiagnosticReport", Seq(
      FField("id", FString), FField("meta", FComplex("Meta")),
      FField("status", FCode),
      FField("code", FComplex("CodeableConcept")),
      FField("subject", FReference(Seq("Patient"))),
      FField("issued", FDate),
      FField("effectiveDateTime", FDate),
      FField("result", FReference(Seq("Observation")), multi = true),
      FField("conclusion", FString))),
  ).map(d => d.name -> d).toMap

  /** Nested parent-extension definition for us-core race: sub-extensions
    * keyed by relative url (ombCategory: Coding, text: string) —
    * DefinitionToSparkVisitor.java:522-562 parent-extension shape. */
  val extensionDefinitions: Map[String, FDefinition] = Seq(
    FDefinition("RaceExtension", Seq(
      FField("ombCategory", FExtension("ombCategory", FComplex("Coding")),
        multi = true),
      FField("text", FExtension("text", FString)))),
  ).map(d => d.name -> d).toMap

  /** Max times one (type, path-element) pair may repeat on the traversal
    * stack — reference getMaxDepth == 1 (Stu3StructureDefinitions:88-114). */
  val MaxDepth = 1

  /** A resolvable set of definitions. The default is the hand-authored DSL;
    * [[StructureDefinitions.compile]] produces registries from real FHIR
    * StructureDefinition JSON (the reference's conformance-driven path,
    * Stu3StructureDefinitions.java:509-539), which every compile/transform
    * entry point below accepts in place of the default. */
  final case class FRegistry(
      complexTypes: Map[String, FDefinition],
      resources: Map[String, FDefinition],
      extensionDefinitions: Map[String, FDefinition]) {
    def withExtra(extraResources: Map[String, FDefinition],
        extraComplex: Map[String, FDefinition],
        extraExtensions: Map[String, FDefinition]): FRegistry =
      FRegistry(complexTypes ++ extraComplex, resources ++ extraResources,
        extensionDefinitions ++ extraExtensions)
  }

  lazy val defaultRegistry: FRegistry =
    FRegistry(complexTypes, resources, extensionDefinitions)

  /** Lower-case the first character (FHIR element naming helper). */
  def lowerFirst(s: String): String =
    if (s.isEmpty) s else s.substring(0, 1).toLowerCase + s.substring(1)

  // ---- the definition walk -----------------------------------------------

  /** One field of a walked definition. `field` is flattened: its type is
    * never an [[FChoice]] (each alternative is its own field, named base +
    * TypeName) nor an [[FExtension]] (a hoisted extension carries its value
    * type, and `url` keeps the extension's url). `stack` is the traversal
    * stack to walk the field's own type with. */
  private[fhir] final case class Step(field: FField, url: Option[String],
      stack: Map[String, Int])

  /** The one walk over the definition IR that every backend maps: resolves
    * `name` (complex types, then extension definitions, then resources),
    * flattens choices, unwraps hoisted extensions, and drops each complex
    * field whose type already sits on the traversal `stack` [[MaxDepth]]
    * times — so a recursive definition (Questionnaire.item →
    * #Questionnaire.item) truncates identically in the Spark schema, the
    * parse schema, the post-parse transform and the Avro schema. A root
    * walk's stack holds the root once; an empty stack at every level never
    * cuts. */
  private[fhir] def walk(name: String, stack: Map[String, Int],
      reg: FRegistry): Seq[Step] = {
    def steps(f: FField, url: Option[String]): Seq[Step] = f.tpe match {
      case FChoice(_, alternatives) => alternatives.flatMap {
        case (suffix, tpe) => steps(FField(f.name + suffix, tpe, f.multi), url)
      }
      case FExtension(u, tpe) => steps(FField(f.name, tpe, f.multi), Some(u))
      case FComplex(n) =>
        val seen = stack.getOrElse(n, 0)
        if (seen >= MaxDepth) Nil
        else Seq(Step(f, url, stack.updated(n, seen + 1)))
      case _ => Seq(Step(f, url, stack))
    }
    val d = reg.complexTypes.getOrElse(name, reg.extensionDefinitions
      .getOrElse(name, reg.resources.getOrElse(name,
        throw new IllegalArgumentException(s"Unknown FHIR type: $name"))))
    d.fields.flatMap(steps(_, None))
  }

  private[fhir] def rootWalk(name: String, reg: FRegistry): Seq[Step] =
    walk(name, Map(name -> 1), reg)

  /** The sub-extensions of a hoisted parent extension (one whose value
    * type holds only extensions, DefinitionToSparkVisitor.java:522-562);
    * None for a leaf extension or a plain field. */
  private def subExtensions(s: Step, reg: FRegistry): Option[Seq[Step]] =
    (s.url, s.field.tpe) match {
      case (Some(_), FComplex(n)) =>
        Some(walk(n, s.stack, reg)).filter(_.forall(_.url.isDefined))
      case _ => None
    }

  /** FHIR JSON field carrying an extension's value: value + capitalized
    * type name (valueCode, valueCoding, valueString, ...). */
  private def valueFieldName(tpe: FhirType): String = tpe match {
    case FString => "valueString"
    case FCode => "valueCode"
    case FDate => "valueDateTime"
    case FDecimal => "valueDecimal"
    case FInt => "valueInteger"
    case FBool => "valueBoolean"
    case FComplex(n) => "value" + n
    case other =>
      throw new IllegalArgumentException(s"Unsupported extension value: $other")
  }

  /** Leaf value slots of the generic extension parse struct. One fixed
    * struct for every resource so the merged bundle schema stays
    * conflict-free. */
  private lazy val extensionLeafFields: Seq[StructField] = Seq(
    StructField("url", StringType),
    StructField("valueString", StringType),
    StructField("valueCode", StringType),
    StructField("valueDateTime", StringType),
    StructField("valueDecimal", DecimalType(12, 4)),
    StructField("valueInteger", IntegerType),
    StructField("valueBoolean", BooleanType),
    StructField("valueCoding", parseSchemaFor("Coding")))

  /** A nested (sub-)extension element: the leaf slots only. */
  private lazy val innerExtType = StructType(extensionLeafFields)

  /** Generic `extension` element as it appears in FHIR JSON: leaf value
    * slots plus ONE nested level of sub-extensions (parent extensions),
    * matching the reference's one-level extension tests. */
  lazy val extensionParseStruct: StructType =
    StructType(extensionLeafFields :+
      StructField("extension", ArrayType(innerExtType)))

  /** Compile a named resource/complex type to its Spark schema. */
  def schemaFor(name: String,
      reg: FRegistry = defaultRegistry): StructType =
    sparkStruct(rootWalk(name, reg), reg, parse = false)

  /** Parse-time schema: references without the synthetic id fields (those
    * are filled by [[postParseTransform]]), and hoisted extensions parsed
    * from the generic `extension` list instead of their named fields. */
  def parseSchemaFor(name: String,
      reg: FRegistry = defaultRegistry): StructType =
    sparkStruct(rootWalk(name, reg), reg, parse = true)

  private def sparkStruct(steps: Seq[Step], reg: FRegistry,
      parse: Boolean): StructType = {
    val fields = steps.filterNot(parse && _.url.isDefined).map { s =>
      val dt = (s.field.tpe: @unchecked) match {
        case FString | FCode | FDate => StringType
        case FDecimal => DecimalType(12, 4)
        case FInt => IntegerType
        case FBool => BooleanType
        case FReference(targets) =>
          StructType(Seq(
            StructField("reference", StringType),
            StructField("display", StringType)) ++
            (if (parse) Nil
             else targets.map(t =>
               StructField(lowerFirst(t) + "Id", StringType))))
        case FComplex(n) => sparkStruct(walk(n, s.stack, reg), reg, parse)
      }
      StructField(s.field.name,
        if (s.field.multi) ArrayType(dt, containsNull = true) else dt,
        nullable = true)
    }
    if (parse && steps.exists(_.url.isDefined))
      StructType(fields :+ StructField("extension",
        ArrayType(extensionParseStruct)))
    else StructType(fields)
  }

  /** Bundle-envelope parse schema: `entry.resource` is the *merged* schema of
    * every registered resource type plus the `resourceType` discriminator.
    * FHIR JSON field names are disjoint-or-identically-typed across our
    * resource set, so one `from_json` parses every entry and per-type
    * extraction is a filter + column subset — replacing the reference's
    * opaque `JavaRDD<BundleContainer>` with JSON-string reserialization on
    * every shuffle (Bundles.java:35-91). */
  lazy val mergedResourceParseSchema: StructType =
    mergedResourceParseSchemaFor(resources.keys.toSeq)

  /** Merged parse schema over a chosen resource subset/registry — the
    * envelope for ingesting user-compiled profiles: restricting the merge
    * to the types actually extracted keeps the disjoint-or-identically-
    * typed field requirement easy to satisfy (field-shape conflicts
    * between unrelated resources fail loudly here, never silently). */
  def mergedResourceParseSchemaFor(names: Seq[String],
      reg: FRegistry = defaultRegistry): StructType = {
    val merged = scala.collection.mutable.LinkedHashMap[String, StructField](
      "resourceType" -> StructField("resourceType", StringType))
    names.foreach { r =>
      parseSchemaFor(r, reg).fields.foreach { sf =>
        merged.get(sf.name) match {
          case None => merged(sf.name) = sf
          case Some(existing) =>
            require(existing.dataType == sf.dataType,
              s"Conflicting parse type for field ${sf.name}: " +
                s"${existing.dataType} vs ${sf.dataType} (resource $r)")
        }
      }
    }
    StructType(merged.values.toSeq)
  }

  /** Merged schema + a `contained` array of the same (one level deep —
    * the reference's recursion budget cuts contained-in-contained too). */
  lazy val mergedResourceParseSchemaWithContained: StructType =
    withContained(mergedResourceParseSchema)

  lazy val bundleEnvelopeSchema: StructType =
    bundleEnvelopeFrom(mergedResourceParseSchemaWithContained)

  /** Bundle envelope over a chosen resource subset/registry. */
  def bundleEnvelopeSchemaFor(names: Seq[String],
      reg: FRegistry = defaultRegistry): StructType =
    bundleEnvelopeFrom(withContained(mergedResourceParseSchemaFor(names, reg)))

  private def withContained(merged: StructType): StructType =
    StructType(merged.fields :+ StructField("contained", ArrayType(merged)))

  private def bundleEnvelopeFrom(resourceSchema: StructType): StructType =
    StructType(Seq(
      StructField("resourceType", StringType),
      StructField("id", StringType),
      StructField("type", StringType),
      StructField("entry", ArrayType(StructType(Seq(
        StructField("fullUrl", StringType),
        StructField("resource", resourceSchema)))))))

  /** Column transform: scrub bound-code "?" to null recursively
    * (EnumConverter.java:12-28 semantics), fill synthetic reference id
    * fields by stripping 'Type/' prefixes from relative references
    * (RelativeValueConverter, DefinitionToSparkVisitor.java:342-378), and
    * hoist declared extensions out of the generic extension list. */
  def postParseTransform(resourceName: String, c: Column,
      reg: FRegistry = defaultRegistry): Column =
    transformStruct(rootWalk(resourceName, reg), c, reg)

  /** S5: shape a parsed `contained` array (merged-schema elements) into the
    * reference's one-field-per-declared-type struct
    * (DefinitionToSparkVisitor.java:457-473): field lowerFirst(type) is the
    * shaped resource when the element is of that type, else null. */
  def containedTransform(containedTypes: Seq[String], resourceCol: Column,
      reg: FRegistry = defaultRegistry): Column =
    transform(resourceCol.getField("contained"), x =>
      struct(containedTypes.map { n =>
        when(x.getField("resourceType") === n,
          postParseTransform(n, x, reg)).as(lowerFirst(n))
      }: _*))

  private def transformStruct(steps: Seq[Step], c: Column,
      reg: FRegistry): Column =
    when(c.isNotNull, struct(steps.map { s =>
      transformField(s, c, reg).as(s.field.name)
    }: _*))

  private def transformField(s: Step, parent: Column,
      reg: FRegistry): Column = {
    val f = s.field
    val child = parent.getField(f.name)
    (s.url, f.tpe) match {
      case (Some(url), _) =>
        extensionValue(parent.getField("extension"), url, s, reg)
      case (_, FCode) =>
        if (f.multi) transform(child, scrub(_)) else scrub(child)
      case (_, FReference(targets)) =>
        def refStruct(x: Column): Column = when(x.isNotNull, struct(
          (Seq(x.getField("reference").as("reference"),
            x.getField("display").as("display")) ++
            targets.map { t =>
              val prefix = t + "/"
              val r = x.getField("reference")
              when(r.startsWith(prefix),
                substring(r, prefix.length + 1, Int.MaxValue))
                .as(lowerFirst(t) + "Id")
            }): _*))
        if (f.multi) transform(child, refStruct(_)) else refStruct(child)
      case (_, FComplex(n)) =>
        val inner = walk(n, s.stack, reg)
        if (f.multi) transform(child, transformStruct(inner, _, reg))
        else transformStruct(inner, child, reg)
      case _ => child
    }
  }

  private def scrub(c: Column): Column = when(c === "?", lit(null)).otherwise(c)

  /** Hoist one declared extension from a generic extension array: select
    * elements matching `url`, then read the typed value slot (leaf) or
    * assemble the nested sub-extension struct (parent). */
  private def extensionValue(extArray: Column, url: String, s: Step,
      reg: FRegistry): Column = {
    val matching = filter(extArray, e => e.getField("url") === lit(url))
    val tpe = s.field.tpe
    def leaf(e: Column): Column = (tpe, subExtensions(s, reg)) match {
      case (_, Some(children)) =>
        // parent extension: children parse from the element's own
        // (one-level) extension list
        when(e.isNotNull, struct(children.map { c =>
          extensionValue(e.getField("extension"), c.url.get, c, reg)
            .as(c.field.name)
        }: _*))
      case (FCode, _) => scrub(e.getField(valueFieldName(tpe)))
      case (FComplex(n), _) =>
        transformStruct(walk(n, s.stack, reg),
          e.getField(valueFieldName(tpe)), reg)
      case _ => e.getField(valueFieldName(tpe))
    }
    if (s.field.multi) transform(matching, leaf(_))
    else leaf(try_element_at(matching, lit(1)))
  }

  // ---- decode path: rebuild the generic extension list from hoisted
  // fields (inverse of extensionValue), so toJson/toBundle emit spec-shaped
  // FHIR JSON that re-ingests identically --------------------------------

  /** An extension element's leaf slots: the url, `value` in its slot,
    * every other slot null. */
  private def leafSlots(url: String,
      value: Option[(String, Column)]): Seq[Column] =
    extensionLeafFields.map { sf =>
      (if (sf.name == "url") lit(url)
       else value.collect { case (n, v) if n == sf.name => v }
         .getOrElse(lit(null).cast(sf.dataType))).as(sf.name)
    }

  /** Rebuild the generic `extension` array for a resource's hoisted
    * extension fields; None when the resource declares none. The result
    * column is null when no extension is populated. */
  def decodeExtensions(resourceName: String,
      reg: FRegistry = defaultRegistry): Option[Column] = {
    val extFields = rootWalk(resourceName, reg).filter(_.url.isDefined)
    if (extFields.isEmpty) return None
    // every per-field array is coalesced to empty before concat: a null
    // multi-field array (transform over null) would otherwise null the
    // whole concat and silently drop every SIBLING extension
    def orEmpty(c: Column, et: DataType): Column =
      coalesce(c, array().cast(ArrayType(et)))
    // one element per value of a multi field, one for a set single field
    def elems(src: Column, multi: Boolean)(elem: Column => Column): Column =
      if (multi) transform(src, elem) else array(when(src.isNotNull, elem(src)))
    def slot(s: Step, v: Column) = Some(valueFieldName(s.field.tpe) -> v)
    val arrays: Seq[Column] = extFields.map { s =>
      val src = col(s.field.name)
      subExtensions(s, reg) match {
        case Some(children) =>
          val nested = filter(concat(children.map { c =>
            orEmpty(elems(src.getField(c.field.name), c.field.multi)(v =>
              struct(leafSlots(c.url.get, slot(c, v)): _*)), innerExtType)
          }: _*), _.isNotNull)
          elems(src, multi = false)(_ =>
            struct(leafSlots(s.url.get, None) :+ nested.as("extension"): _*))
        case None =>
          elems(src, s.field.multi)(v => struct(leafSlots(s.url.get,
            slot(s, v)) :+ lit(null).cast(ArrayType(innerExtType))
            .as("extension"): _*))
      }
    }
    val all = filter(
      concat(arrays.map(orEmpty(_, extensionParseStruct)): _*), _.isNotNull)
    Some(when(size(all) > 0, all))
  }

  /** Names of the hoisted extension fields of a resource (to exclude from
    * the plain-column JSON emit). */
  def extensionFieldNames(resourceName: String,
      reg: FRegistry = defaultRegistry): Seq[String] =
    rootWalk(resourceName, reg).filter(_.url.isDefined).map(_.field.name)
}
