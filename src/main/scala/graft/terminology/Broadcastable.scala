package graft.terminology

import org.apache.spark.sql.SparkSession

/** Driver-built, executor-shipped lookup structures for valueset membership
  * and concept-map translation.
  *
  * Reference: /root/reference/bunsen-spark/.../broadcast/
  * BroadcastableValueSets.java:26-371 and BroadcastableConceptMap.java:22-125.
  * The nested-map layout (reference name → system → set of codes) is kept so
  * per-row membership checks are O(1) hash lookups executor-side; the builder
  * filters run on the cluster and only the final (small) lookup rows are
  * collected.
  */
final case class BroadcastableValueSets(
    valueSets: Map[String, Map[String, Set[String]]]) extends Serializable {

  /** True iff (system, code) is in the valueset registered under
    * `referenceName`. Unknown reference → IllegalArgumentException; null
    * system/code → false (ValueSetUdfs.java:69-77,
    * BroadcastableValueSets.java:358-371). */
  def hasCode(referenceName: String, system: String, code: String): Boolean =
    valueSets.get(referenceName) match {
      case None =>
        throw new IllegalArgumentException(
          s"Unknown value set reference name: $referenceName")
      case Some(bySystem) =>
        system != null && code != null &&
          bySystem.get(system).exists(_.contains(code))
    }

  /** Reference names of the value sets this structure holds. */
  def getReferenceNames: Set[String] = valueSets.keySet
}

object BroadcastableValueSets {

  /** Fresh builder for a broadcastable mapping set. */
  def newBuilder(): Builder = new Builder

  /** Accumulates explicit codes, valueset references, and descendants-of
    * requests; `build` resolves them with cluster-side joins
    * (BroadcastableValueSets.Builder, reference :68-335). */
  final class Builder private[terminology] () {
    private var codes = Vector.empty[(String, String, String)] // (ref, system, code)
    private var references = Vector.empty[(String, String, String)] // (ref, uri, version)
    private var ancestors = Vector.empty[(String, String, String, String, String)] // (ref, uri, version, system, value)

    /** Explicit (system, code) membership under a reference name. */
    def addCode(referenceName: String, system: String, code: String): Builder = {
      codes :+= ((referenceName, system, code)); this
    }

    /** All codes of a valueset version (version=null → latest at build). */
    def addReference(referenceName: String, valueSetUri: String,
        valueSetVersion: String = null): Builder = {
      references :+= ((referenceName, valueSetUri, valueSetVersion)); this
    }

    /** The code and all of its descendants in a hierarchy version
      * (version=null → latest at build). */
    def addDescendantsOf(referenceName: String, system: String, value: String,
        hierarchyUri: String, hierarchyVersion: String = null): Builder = {
      ancestors :+= ((referenceName, hierarchyUri, hierarchyVersion,
        system, value))
      this
    }

    def build(spark: SparkSession, valueSets: ValueSets,
        hierarchies: Hierarchies): BroadcastableValueSets = {
      import spark.implicits._
      // a null version binds the latest one (experimental included)
      def pin(kind: String, latest: => Map[String, String])(
          uri: String, version: String): String =
        Option(version).orElse(latest.get(uri)).getOrElse(
          throw new IllegalArgumentException(
            s"Unknown $kind $uri (no version found)"))

      var resolved: Seq[(String, String, String)] = codes

      // the wanted rows are read by predicates on the partition columns
      // and collected once per key; reference names sharing a key are
      // attached here, on the driver
      if (references.nonEmpty) {
        lazy val latest =
          valueSets.getLatestVersionsMap(includeExperimental = true)
        val want = references.groupMap { case (_, uri, v) =>
          (uri, pin("valueset", latest)(uri, v)) }(_._1)
        // J2: values of the wanted versions
        // (BroadcastableValueSets.java:267-287)
        resolved ++= valueSets.getValues.toDF()
          .where(ValueSetKind.versionsIn(want.keys))
          .select($"valueSetUri", $"valueSetVersion", $"system", $"value")
          .as[(String, String, String, String)].collect()
          .flatMap { case (uri, v, system, value) =>
            want((uri, v)).map((_, system, value))
          }
      }

      if (ancestors.nonEmpty) {
        lazy val latest = hierarchies.getLatestVersions
        val want = ancestors.groupMap { case (_, uri, v, system, value) =>
          (uri, pin("hierarchy", latest)(uri, v), system, value) }(_._1)
        // J3: descendants of the wanted codes
        // (BroadcastableValueSets.java:295-324)
        resolved ++= hierarchies.getAncestors.toDF()
          .where(HierarchyKind.versionsIn(want.keys.map(k => (k._1, k._2))) &&
            CollectionKind.pairIn(want.keys.map(k => (k._3, k._4)),
              $"ancestorSystem", $"ancestorValue"))
          .select($"uri", $"version", $"ancestorSystem", $"ancestorValue",
            $"descendantSystem", $"descendantValue")
          .as[(String, String, String, String, String, String)].collect()
          .flatMap { case (uri, v, as, av, system, value) =>
            want.getOrElse((uri, v, as, av), Nil).map((_, system, value))
          }
        // the ancestor includes itself (reference :316-323)
        resolved ++= want.toSeq.flatMap { case ((_, _, system, value), refs) =>
          refs.map((_, system, value))
        }
      }

      val nested = resolved
        .groupBy(_._1)
        .map { case (ref, rows) =>
          ref -> rows.groupBy(_._2)
            .map { case (system, ss) => system -> ss.map(_._3).toSet }
        }
      BroadcastableValueSets(nested)
    }
  }
}

/** Broadcastable concept-map translation structure with delegation.
  *
  * Reference: BroadcastableConceptMap.java:22-125 — nested
  * sourceSystem → sourceValue → targets lookup, with an optional delegate
  * map consulted when the source code is unmapped (group.unmapped
  * mode=other-map semantics).
  */
final case class CodeValue(system: String, value: String) extends Serializable

final class BroadcastableConceptMap(
    val conceptMapUri: String,
    lookup: Map[String, Map[String, List[CodeValue]]],
    delegate: Option[BroadcastableConceptMap]) extends Serializable {

  /** Targets for a source (system, value); falls back to the delegate map
    * when absent (BroadcastableConceptMap.getTarget :99-125). */
  def getTarget(sourceSystem: String, sourceValue: String): List[CodeValue] = {
    val direct = lookup.get(sourceSystem).flatMap(_.get(sourceValue))
    direct.getOrElse(
      delegate.map(_.getTarget(sourceSystem, sourceValue)).getOrElse(Nil))
  }
}

object BroadcastableConceptMap {

  /** Build from mappings, keeping only semantically safe equivalences
    * (ConceptMaps.broadcast :348-353, P5). */
  def apply(uri: String, mappings: Seq[Mapping],
      delegate: Option[BroadcastableConceptMap] = None): BroadcastableConceptMap = {
    val filtered = mappings.filter(m =>
      Mapping.TranslatableEquivalences.contains(m.equivalence))
    val lookup = filtered.groupBy(_.sourceSystem).map { case (ss, rows) =>
      ss -> rows.groupBy(_.sourceValue).map { case (sv, rs) =>
        sv -> rs.map(r => CodeValue(r.targetSystem, r.targetValue)).toList
      }
    }
    new BroadcastableConceptMap(uri, lookup, delegate)
  }
}

/** Driver-side topological sort of concept maps by their delegation
  * dependencies (other-map references), reference ConceptMaps.sortMapsToLoad
  * (bunsen-spark-stu3/.../ConceptMaps.java:390-441, G2). Map counts are
  * small, so this stays on the driver by design. */
object ConceptMapDependencies {
  /** Topologically sort concept maps so every delegation target loads before its delegator (cycle = error). */
  def sortMapsToLoad(requested: Seq[String],
      children: String => Seq[String]): Seq[String] = {
    val ordered = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(uri: String, stack: Set[String]): Unit = {
      if (stack.contains(uri)) {
        throw new IllegalStateException(
          s"Cyclic concept-map delegation involving $uri")
      }
      if (!ordered.contains(uri)) {
        children(uri).foreach(visit(_, stack + uri))
        ordered += uri
      }
    }
    requested.foreach(visit(_, Set.empty))
    ordered.toSeq
  }
}
