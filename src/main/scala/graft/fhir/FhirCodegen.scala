package graft.fhir

import graft.fhir.FhirSchemas._

/** Case-class SOURCE generation from compiled FHIR schemas — the analog
  * of the reference's Avro specific-record compilation
  * (`AvroConverter.generateClasses` + `testCompile`,
  * /root/reference/bunsen-avro/.../AvroConverter.java:24-206): where the
  * reference emits Java source from Avro schemas at build time, this
  * emits Scala case-class source as a leaf mapping over the same
  * definition walk the schema compiler maps ([[FhirSchemas.walk]]: one
  * type resolution, choice flattening and extension unwrapping, so field
  * names and order match the Spark schema) — including JSON-compiled
  * profiles, so a user can run
  * `FhirCodegen.caseClassSource("CarePlan", profiles.registry)` and get
  * a typed `Dataset[T]` surface for a resource the hand-written [[model]]
  * does not cover. The generated source follows the exact
  * conventions of [[model]] (String leaves, Option[Int]/Option[Boolean]
  * primitives, java.math.BigDecimal decimals, Seq[_] for multi fields,
  * one synthetic `<type>Id` per reference target, flattened choice
  * fields), so `Encoders.product` resolves it by name against the
  * schema compiler's DataFrames.
  *
  * Recursive profiles (contentReference cycles, e.g. Questionnaire.item)
  * are rejected loudly: the walk runs with an empty traversal stack at
  * every level, so the recursion budget never cuts and a cycle is seen;
  * a finite, non-recursive case-class graph cannot represent it (the
  * reference's generated specific records have the same limitation —
  * recursion is cut at the SCHEMA level).
  */
object FhirCodegen {

  private def upperFirst(s: String): String =
    if (s.isEmpty) s else s.substring(0, 1).toUpperCase + s.substring(1)

  /** "CarePlan.activity.detail" → "CarePlanActivityDetail". */
  def className(name: String): String =
    name.split("[^A-Za-z0-9]").filter(_.nonEmpty).map(upperFirst).mkString

  private def refClassName(targets: Seq[String]): String =
    targets.map(className).mkString + "Reference"

  /** Generate the case-class source for `resourceName` and every type it
    * transitively reaches, as one self-contained block (no package
    * declaration — embeddable in a file or a ToolBox). */
  def caseClassSource(resourceName: String,
      reg: FRegistry = defaultRegistry): String = {
    val emitted = scala.collection.mutable.LinkedHashMap[String, String]()
    val inProgress = scala.collection.mutable.Set[String]()

    def fieldDecl(s: Step): String = {
      val f = s.field
      val base = (f.tpe: @unchecked) match {
        case FString | FCode | FDate => "String"
        case FDecimal => "java.math.BigDecimal"
        case FInt => "Option[Int]"
        case FBool => "Option[Boolean]"
        case FComplex(n) => emitFor(n)
        case FReference(targets) => emitRef(targets)
      }
      // Seq of Option is never what an encoder-facing surface wants —
      // multi primitives use the unboxed element type like model does
      val elem = if (f.multi && base == "Option[Int]") "Int"
        else if (f.multi && base == "Option[Boolean]") "Boolean"
        else base
      s"${f.name}: " + (if (f.multi) s"Seq[$elem]" else elem)
    }

    def emitRef(targets: Seq[String]): String = {
      val cn = refClassName(targets)
      if (!emitted.contains(cn)) {
        val ids = targets.map(t =>
          s"${FhirSchemas.lowerFirst(t)}Id: String")
        emitted(cn) = s"final case class $cn(reference: String, " +
          s"display: String, ${ids.mkString(", ")})"
      }
      cn
    }

    def emitFor(name: String): String = {
      val cn = className(name)
      if (inProgress.contains(name))
        throw new IllegalArgumentException(
          s"recursive profile at $name: contentReference cycles cannot " +
            "compile to a finite case-class graph")
      if (!emitted.contains(cn)) {
        inProgress += name
        emitted(cn) = null // reserve ordering slot
        // an empty stack at every level: the budget never cuts, so a
        // cycle reaches the inProgress check above
        val decls = walk(name, Map.empty, reg).map(fieldDecl)
        emitted(cn) =
          s"final case class $cn(\n    ${decls.mkString(",\n    ")})"
        inProgress -= name
      }
      cn
    }

    emitFor(resourceName)
    // dependencies BEFORE dependents keeps the block order-independent
    // for readers; Scala itself does not care
    emitted.values.toSeq.reverse.mkString("\n\n") + "\n"
  }
}
