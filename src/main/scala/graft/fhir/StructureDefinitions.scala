package graft.fhir

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

import graft.fhir.FhirSchemas._

/** FHIR StructureDefinition JSON → [[FhirSchemas.FDefinition]] compiler —
  * the conformance-resource-driven schema path.
  *
  * The reference compiles Spark schemas from HAPI-parsed StructureDefinition
  * resources with a profile SPI (Stu3StructureDefinitions.java:260-434
  * snapshot traversal, :509-539 conformance loading; US-Core definitions
  * shipped as resources in bunsen-uscore-resources-stu3). This compiler
  * reads the same JSON artifacts directly — no HAPI — and lowers them to the
  * FDefinition IR the hand-authored DSL uses, so everything downstream
  * (schema compile, parse schema, post-parse transforms, extension
  * hoist/decode) is shared: a user hands in their own profile JSON and gets
  * the same machinery as the built-ins.
  *
  * Translation rules (matching the DSL semantics the reference's visitor
  * produces):
  *  - max != "1" → array element (Stu3StructureDefinitions.java:287-289);
  *    max == "0" → element removed by profile, skipped.
  *  - primitive codes → FString/FCode/FDate/FDecimal/FInt/FBool
  *    (DefinitionToSparkVisitor.java:400-419 mapping).
  *  - `path[x]` → FChoice over the declared type list.
  *  - Reference types → FReference with targets from targetProfile urls.
  *  - BackboneElement / inline Element → synthetic FDefinition compiled
  *    from the element's own children, registered under its full path.
  *  - Extension slices on a resource (sliceName + type profile url) →
  *    hoisted FExtension fields, resolved against the compiled extension
  *    definitions (kind=complex-type, type=Extension): a definition with a
  *    live valueXxx element is a leaf extension; one whose value[x] is
  *    removed and that declares Extension.extension slices is a parent
  *    extension (sub-extension urls from the slices' fixedUri).
  *  - Datatypes with no definition in the registry and no inline children
  *    (Narrative, Attachment, Timing, ...) are skipped and REPORTED in
  *    `skipped` — never silently mis-typed.
  */
object StructureDefinitions {

  /** Compile result: registry overlay + the paths that could not be
    * compiled (with reasons), for caller inspection.
    *
    * `modifierFields` lists per resource type the hoisted extension
    * fields whose slice declares `isModifier: true` — modifier
    * extensions change the meaning of the resource that carries them
    * (the reference models this as `StructureField.isModifier`,
    * bunsen-core/.../StructureField.java:82-90), so a consumer filtering
    * or projecting resources can check this set instead of silently
    * treating a negation/retraction marker as ordinary data. */
  final case class CompiledProfiles(
      resources: Map[String, FDefinition],
      complexTypes: Map[String, FDefinition],
      extensionDefinitions: Map[String, FDefinition],
      skipped: Seq[String],
      modifierFields: Map[String, Set[String]] = Map.empty,
      resourcesByUrl: Map[String, FDefinition] = Map.empty) {
    /** The default registry extended with these profiles. `resources` is
      * keyed by base TYPE name — when a pack carries two profiles of the
      * same base (us-core-smokingstatus and us-core-observationresults
      * are both Observation), the lexicographically-last input wins
      * there; use [[registryFor]] to pin a specific profile by its
      * canonical url (the reference addresses profiles by url the same
      * way, Stu3StructureDefinitions.java:509-539). */
    def registry: FRegistry = defaultRegistry.withExtra(
      resources, complexTypes, extensionDefinitions)

    /** Registry with the named profile urls overlaid LAST, so each
      * chosen profile owns its base type name regardless of pack
      * ordering. Unknown urls fail loudly. */
    def registryFor(urls: String*): FRegistry = {
      val chosen = urls.map { u =>
        val d = resourcesByUrl.getOrElse(u,
          throw new IllegalArgumentException(
            s"profile url not in pack: $u (has ${resourcesByUrl.keys.toSeq.sorted.mkString(", ")})"))
        d.name -> d
      }.toMap
      defaultRegistry.withExtra(resources ++ chosen, complexTypes,
        extensionDefinitions)
    }
  }

  private val mapper = new ObjectMapper()

  private val primitiveTypes: Map[String, FhirType] = Map(
    "string" -> FString, "uri" -> FString, "url" -> FString,
    "canonical" -> FString, "id" -> FString, "oid" -> FString,
    "uuid" -> FString, "markdown" -> FString, "xhtml" -> FString,
    "base64Binary" -> FString, "time" -> FString,
    "code" -> FCode,
    "date" -> FDate, "dateTime" -> FDate, "instant" -> FDate,
    "decimal" -> FDecimal,
    "integer" -> FInt, "positiveInt" -> FInt, "unsignedInt" -> FInt,
    "boolean" -> FBool)

  /** Element paths never compiled into row schemas (infrastructure slots the
    * reference's visitor also routes elsewhere: narrative, generic
    * extension lists, contained resources). */
  private val skipLeafNames =
    Set("text", "contained", "extension", "modifierExtension",
      "implicitRules", "language")

  // ---- public API ---------------------------------------------------------

  /** Compile every StructureDefinition JSON document in `jsons` (other
    * resource types are ignored, so a whole conformance directory can be
    * passed as-is). */
  def compile(jsons: Seq[String]): CompiledProfiles = {
    val docs = jsons.map(mapper.readTree)
      .filter(d => text(d, "resourceType").contains("StructureDefinition"))
    val skipped = Seq.newBuilder[String]
    // pass 1: extension definitions (kind=complex-type on Extension), so
    // resource extension slices can resolve their value types
    val extDocs = docs.filter(d => text(d, "type").contains("Extension"))
    val extByUrl: Map[String, (String, FhirType, Map[String, FDefinition])] =
      extDocs.flatMap { d =>
        compileExtensionDefinition(d, skipped).map { case (url, name, tpe, defs) =>
          url -> (name, tpe, defs)
        }
      }.toMap
    val extensionDefs = extByUrl.values.flatMap(_._3).toMap
    // Reference targetProfile urls may point at PROFILES (us-core-patient);
    // resolve them to the underlying resource type via each doc's `type`
    val profileType: Map[String, String] = docs.flatMap(d =>
      text(d, "url").zip(text(d, "type"))).toMap
    val refTarget = (u: String) => profileType.getOrElse(u, lastSegment(u))
    // pass 2: resources
    val resourceDocs = docs.filter(d => text(d, "kind").contains("resource"))
    val resBuilder = Map.newBuilder[String, FDefinition]
    val urlBuilder = Map.newBuilder[String, FDefinition]
    val complexBuilder = Map.newBuilder[String, FDefinition]
    val modBuilder = Map.newBuilder[String, Set[String]]
    resourceDocs.foreach { d =>
      val typeName = text(d, "type").getOrElse("")
      val els = elements(d)
      if (typeName.nonEmpty && els.nonEmpty) {
        val (fields, inlineDefs) = compileChildren(typeName, els,
          extByUrl.view.mapValues { case (n, t, _) => (n, t) }.toMap,
          refTarget, skipped)
        resBuilder += typeName -> FDefinition(typeName, fields)
        text(d, "url").foreach(u =>
          urlBuilder += u -> FDefinition(typeName, fields))
        complexBuilder ++= inlineDefs
        // modifier flagging (StructureField.java:82-90 semantics): a
        // modifierExtension slice, or an extension slice declaring
        // isModifier, changes the MEANING of the resource — record it so
        // consumers can refuse to treat negation/retraction markers as
        // ordinary data. modifierExtension slices are additionally
        // surfaced in `skipped` (they are not hoisted into row fields).
        val mods = els.filter { e =>
          val p = text(e, "path").getOrElse("")
          val isModSlice = p == s"$typeName.modifierExtension"
          val flagged = Option(e.get("isModifier")).exists(_.asBoolean(false))
          text(e, "sliceName").isDefined &&
            (isModSlice || (p == s"$typeName.extension" && flagged))
        }.flatMap(e => text(e, "sliceName")).toSet
        if (mods.nonEmpty) modBuilder += typeName -> mods
      } else skipped += s"$typeName: empty snapshot"
    }
    // prune dangling contentReference targets: a '.'-named FComplex can
    // only come from a minted BackboneElement (always registered when
    // created) or a contentReference — so an unresolvable one is a bad
    // #Type.path and is dropped LOUDLY via `skipped`, never left to fail
    // at schema-compile time deep inside a query plan
    val complexes = complexBuilder.result()
    def prune(d: FDefinition): FDefinition = FDefinition(d.name,
      d.fields.filter { f =>
        f.tpe match {
          case FComplex(n) if n.contains('.') && !complexes.contains(n) =>
            skipped += s"${d.name}.${f.name}: unresolved contentReference #$n"
            false
          case _ => true
        }
      })
    CompiledProfiles(resBuilder.result().view.mapValues(prune).toMap,
      complexes.view.mapValues(prune).toMap,
      extensionDefs, skipped.result().distinct, modBuilder.result(),
      urlBuilder.result().view.mapValues(prune).toMap)
  }

  /** The conformance pack SHIPPED with the library — the SPI analog of
    * the reference's bundled `UsCoreStu3ProfileProvider`
    * (bunsen-uscore-resources-stu3/.../UsCoreStu3ProfileProvider.java:
    * 17-60, which loads classpath definitions into the converter): a
    * hand-authored minimal US-Core subset (patient + careplan profiles,
    * race/ethnicity/birthsex extensions) under `resources/definitions/`,
    * compiled once on first use. `shippedRegistry` is the default DSL
    * registry overlaid with these profiles — the registry a user gets
    * without providing any conformance JSON of their own. */
  lazy val shipped: CompiledProfiles = fromClasspath()

  lazy val shippedRegistry: FRegistry = shipped.registry

  /** Compile a conformance pack from the classpath: `dir/index.txt` lists
    * the definition files (jar-safe — classpath directories are not
    * enumerable), each loaded relative to `dir`. */
  def fromClasspath(dir: String = "definitions"): CompiledProfiles =
    compile(classpathDefinitions(dir))

  /** The raw JSON documents of a classpath conformance pack. */
  def classpathDefinitions(dir: String = "definitions"): Seq[String] = {
    def read(name: String): String = {
      val in = getClass.getClassLoader.getResourceAsStream(name)
      require(in != null, s"classpath resource not found: $name")
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val files = read(s"$dir/index.txt").linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq
    files.map(f => read(s"$dir/$f"))
  }

  /** Compile every conformance document contributed by ServiceLoader-
    * discovered [[ProfileProvider]]s — the reference's profile SPI
    * (FhirContexts.loadProfiles, bunsen-core/.../FhirContexts.java:28-35;
    * UsCoreStu3ProfileProvider registered through META-INF/services):
    * dropping a jar with a provider on the classpath extends the schema
    * registry with its profiles, no code changes. The shipped US-Core
    * pack is itself contributed this way ([[UsCoreProfileProvider]]). */
  def fromProviders(
      loader: ClassLoader = getClass.getClassLoader): CompiledProfiles = {
    val docs = java.util.ServiceLoader
      .load(classOf[ProfileProvider], loader)
      .iterator().asScala.flatMap(_.definitions).toSeq
    compile(docs)
  }

  /** Compile all `*.json` StructureDefinitions under a directory (driver-
    * side; conformance resources are small by contract, like the
    * reference's classpath-loaded definitions). */
  def fromDirectory(path: String): CompiledProfiles = {
    val dir = new java.io.File(path)
    require(dir.isDirectory, s"Not a directory: $path")
    val jsons = dir.listFiles((_, n) => n.endsWith(".json")).sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")).toSeq
    compile(jsons)
  }

  // ---- traversal ----------------------------------------------------------

  private def text(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filter(_.isTextual).map(_.asText)

  private def elements(doc: JsonNode): Seq[JsonNode] =
    Option(doc.get("snapshot")).flatMap(s => Option(s.get("element")))
      .map(_.elements().asScala.toSeq).getOrElse(Nil)

  private def typeEntries(el: JsonNode): Seq[JsonNode] =
    Option(el.get("type")).map(_.elements().asScala.toSeq).getOrElse(Nil)

  private def isMulti(el: JsonNode): Boolean =
    !text(el, "max").contains("1")

  private def isRemoved(el: JsonNode): Boolean =
    text(el, "max").contains("0")

  /** Last url segment, e.g. ".../StructureDefinition/Patient" → "Patient". */
  private def lastSegment(url: String): String =
    url.substring(url.lastIndexOf('/') + 1)

  private def upperFirst(s: String): String =
    if (s.isEmpty) s else s.substring(0, 1).toUpperCase + s.substring(1)

  /** Compile the direct children of `parentPath` from the (ordered,
    * depth-first) snapshot element list. Returns the fields plus any
    * synthetic inline-composite definitions minted along the way. */
  private def compileChildren(parentPath: String, els: Seq[JsonNode],
      extByUrl: Map[String, (String, FhirType)],
      refTarget: String => String,
      skipped: scala.collection.mutable.Builder[String, Seq[String]])
      : (Seq[FField], Map[String, FDefinition]) = {
    val prefix = parentPath + "."
    val direct = els.filter { e =>
      val p = text(e, "path").getOrElse("")
      p.startsWith(prefix) && !p.substring(prefix.length).contains('.')
    }
    val fields = Seq.newBuilder[FField]
    val minted = Map.newBuilder[String, FDefinition]
    direct.foreach { el =>
      val path = text(el, "path").getOrElse("")
      val name = path.substring(prefix.length)
      val slice = text(el, "sliceName")
      lazy val children = els.filter(
        _.path("path").asText("").startsWith(path + "."))
      if (isRemoved(el)) ()
      else if (name == "extension" && slice.isDefined) {
        // profile extension slice: hoist to a named field when the profile
        // url resolves to a compiled extension definition
        val profile = typeEntries(el).flatMap(t => text(t, "profile"))
          .headOption
        profile.flatMap(u => extByUrl.get(u).map(u -> _)) match {
          case Some((url, (_, tpe))) =>
            fields += FField(slice.get, FExtension(url, tpe), isMulti(el))
          case None =>
            skipped += s"$path (slice ${slice.get}): unresolved extension " +
              s"profile ${profile.getOrElse("<none>")}"
        }
      } else if (name == "modifierExtension" && slice.isDefined) {
        // modifier extensions are NOT hoisted into row fields (their
        // presence changes resource meaning; silently flattening one
        // into a nullable column would invite consumers to ignore it) —
        // reported here AND flagged in CompiledProfiles.modifierFields
        skipped += s"$path (slice ${slice.get}): modifier extension not " +
          "hoisted — see CompiledProfiles.modifierFields"
      } else if (skipLeafNames.contains(name) || slice.isDefined) {
        // non-extension slices constrain, they don't add fields
        ()
      } else if (name.endsWith("[x]")) {
        val base = name.dropRight(3)
        // several type entries may share code "Reference" (one per target
        // profile) — they are ONE choice alternative with merged targets,
        // not duplicate fields
        val (refEntries, others) =
          typeEntries(el).partition(t => text(t, "code").contains("Reference"))
        val refAlt =
          if (refEntries.isEmpty) Nil
          else Seq("Reference" -> FReference(
            refEntries.flatMap(t => text(t, "targetProfile"))
              .map(refTarget).distinct))
        val alts = refAlt ++ others.flatMap { t =>
          val code = text(t, "code").getOrElse("")
          mapType(code, t, path, children, refTarget, minted, skipped)
            .map(tpe => upperFirst(code) -> tpe)
        }.distinctBy(_._1)
        if (alts.nonEmpty) fields += FField(base, FChoice(base, alts))
        else skipped += s"$path: no supported choice alternative"
      } else {
        val codes = typeEntries(el)
        codes.headOption match {
          case None =>
            // contentReference: an element typed "same as #Type.path" — the
            // FHIR recursion mechanism (Questionnaire.item.item →
            // #Questionnaire.item). Compiled as FComplex(path): the
            // referenced BackboneElement is minted under exactly that path
            // name, and the shared per-(type,path) recursion budget in
            // FhirSchemas truncates the cycle at MaxDepth — matching
            // Stu3StructureDefinitions.java:88-114 + recurseToDepth.
            // Unresolved targets are pruned (and reported) in compile().
            text(el, "contentReference") match {
              case Some(ref) if ref.startsWith("#") && ref.contains('.') =>
                fields += FField(name, FComplex(ref.drop(1)), isMulti(el))
              case Some(ref) =>
                skipped += s"$path: unsupported contentReference $ref"
              case None => () // the root/recapitulated element itself
            }
          case Some(t) =>
            val code = text(t, "code").getOrElse("")
            if (code == "Reference") {
              val targets = codes.flatMap(c => text(c, "targetProfile"))
                .map(refTarget).distinct
              fields += FField(name, FReference(targets), isMulti(el))
            } else mapType(code, t, path, children, refTarget, minted,
                skipped) match {
              case Some(tpe) => fields += FField(name, tpe, isMulti(el))
              case None => skipped += s"$path: unsupported type $code"
            }
        }
      }
    }
    (fields.result(), minted.result())
  }

  /** Map one element type entry to an FhirType; BackboneElements recurse
    * into the element's children and mint a synthetic definition. */
  private def mapType(code: String, t: JsonNode, path: String,
      children: => Seq[JsonNode],
      refTarget: String => String,
      minted: scala.collection.mutable.Builder[(String, FDefinition),
        Map[String, FDefinition]],
      skipped: scala.collection.mutable.Builder[String, Seq[String]])
      : Option[FhirType] = {
    code match {
      case "Reference" =>
        Some(FReference(Option(t).toSeq
          .flatMap(x => text(x, "targetProfile")).map(refTarget)))
      case "BackboneElement" | "Element" =>
        // inline composite: compile from the element's own children under a
        // synthetic path-derived name
        val (fields, innerMinted) = compileChildren(path, children,
          Map.empty, refTarget, skipped)
        if (fields.isEmpty) { skipped += s"$path: empty inline element"; None }
        else {
          minted ++= innerMinted
          minted += path -> FDefinition(path, fields)
          Some(FComplex(path))
        }
      case _ => typeOf(code)
    }
  }

  /** The one type-code → FhirType mapping: a primitive, or a datatype the
    * default registry defines. */
  private def typeOf(code: String): Option[FhirType] =
    primitiveTypes.get(code).orElse(
      Option.when(defaultRegistry.complexTypes.contains(code))(FComplex(code)))

  // ---- extension definitions ---------------------------------------------

  /** Compile one Extension StructureDefinition. Returns (canonical url,
    * registry name, value type, minted parent-extension definitions).
    * Leaf: a live Extension.valueXxx/value[x] element gives the value type.
    * Parent: value[x] removed, Extension.extension slices give the
    * sub-extensions (relative urls from their url child's fixedUri). */
  private def compileExtensionDefinition(doc: JsonNode,
      skipped: scala.collection.mutable.Builder[String, Seq[String]])
      : Option[(String, String, FhirType, Map[String, FDefinition])] = {
    val url = text(doc, "url").getOrElse(return None)
    val name = upperFirst(lastSegment(url).split("[^A-Za-z0-9]")
      .map(upperFirst).mkString) + "Ext"
    val els = elements(doc)
    // leaf value: first live value element with a supported type
    val leaf = els.iterator
      .filter { e =>
        val p = text(e, "path").getOrElse("")
        (p.startsWith("Extension.value") && !isRemoved(e))
      }
      .flatMap { e =>
        typeEntries(e).flatMap(t => text(t, "code")).flatMap(typeOf)
          .headOption
      }.toSeq.headOption
    leaf match {
      case Some(tpe) => Some((url, name, tpe, Map.empty))
      case None =>
        // parent extension: Extension.extension slices, each a leaf keyed by
        // its url child's fixedUri; slice children FOLLOW their slice
        // element in the ordered snapshot
        val fields = Seq.newBuilder[FField]
        var sliceName: Option[String] = None
        var sliceMulti = false
        var sliceUrl: Option[String] = None
        var sliceTpe: Option[FhirType] = None
        def flush(): Unit = (sliceName, sliceUrl, sliceTpe) match {
          case (Some(n), Some(u), Some(tp)) =>
            fields += FField(n, FExtension(u, tp), sliceMulti)
          case (Some(n), _, _) =>
            skipped += s"extension $url slice $n: no url/value"
          case _ => ()
        }
        els.foreach { e =>
          val p = text(e, "path").getOrElse("")
          if (p == "Extension.extension" && text(e, "sliceName").isDefined &&
              !isRemoved(e)) {
            flush()
            sliceName = text(e, "sliceName")
            sliceMulti = isMulti(e)
            sliceUrl = None
            sliceTpe = None
          } else if (p == "Extension.extension.url") {
            sliceUrl = text(e, "fixedUri")
          } else if (p.startsWith("Extension.extension.value") &&
              !isRemoved(e) && sliceTpe.isEmpty) {
            sliceTpe = typeEntries(e).flatMap(t => text(t, "code"))
              .flatMap(typeOf).headOption
          }
        }
        flush()
        val fs = fields.result()
        if (fs.isEmpty) { skipped += s"extension $url: no value, no slices"; None }
        else Some((url, name, FComplex(name),
          Map(name -> FDefinition(name, fs))))
    }
  }
}
