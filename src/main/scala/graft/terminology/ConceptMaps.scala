package graft.terminology

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** An immutable collection of FHIR-style ConceptMaps: metadata rows plus a
  * flattened dataset of [[Mapping]]s.
  *
  * Reference: /root/reference/bunsen-spark/.../codes/base/AbstractConceptMaps.java
  * and bunsen-spark-stu3/.../ConceptMaps.java. Latest-version computed with
  * `groupBy.agg(max)` (string compare) instead of the reference's RDD
  * reduceByKey detour (AbstractConceptMaps.java:469-492).
  */
class ConceptMaps private (
    val spark: SparkSession,
    /** One row per concept map version: (url, version, source, target,
      * experimental). */
    val conceptMaps: DataFrame,
    val mappings: Dataset[Mapping]) {

  import spark.implicits._

  /** All mapping rows (system/value -> system/value pairs per map version). */
  def getMappings: Dataset[Mapping] = mappings

  /** Mappings of one map version, partition-pruned when table-backed
    * (AbstractConceptMaps.java:406-410). */
  def getMappings(uri: String, version: String): Dataset[Mapping] =
    ConceptMapKind.rowsOf(mappings, uri, version)

  /** Mappings for a uri→version map, as a Catalyst-visible broadcast
    * semi-join (AbstractConceptMaps.java:418-430 P3). */
  def getMappings(versions: Map[String, String]): Dataset[Mapping] =
    ConceptMapKind.rowsFor(mappings, versions)

  /** Point lookup (AbstractConceptMaps.getConceptMap :350-375). */
  def getConceptMap(uri: String, version: String): Option[Row] =
    ConceptMapKind.metaRow(conceptMaps, uri, version)

  /** Distinct (url, version) pairs of the loaded concept maps. */
  def getUrlAndVersions: Dataset[UrlAndVersion] =
    ConceptMapKind.members(conceptMaps)

  /** Latest version per url (string-compare max); experimental versions
    * count only when included (AbstractConceptMaps.java:469-492). */
  def getLatestVersions(includeExperimental: Boolean): Dataset[UrlAndVersion] =
    ConceptMapKind.latest(conceptMaps, includeExperimental).as[UrlAndVersion]

  /** url -> latest version, per [[getLatestVersions]]. */
  def getLatestVersionsMap(includeExperimental: Boolean): Map[String, String] =
    ConceptMapKind.latestMap(conceptMaps, includeExperimental)

  /** Append new concept maps. A (url, version) repeated in the batch or
    * already present is an error (ConceptMaps.withConceptMaps :304-311). */
  def withConceptMaps(
      newMaps: DataFrame,
      newMappings: Dataset[Mapping]): ConceptMaps = {
    ConceptMapKind.requireNew(conceptMaps, newMaps, batchMayRepeat = true)
    new ConceptMaps(spark,
      conceptMaps.unionByName(newMaps, allowMissingColumns = true),
      mappings.union(newMappings))
  }

  /** Convenience: one map from (sourceSystem, sourceValue, targetSystem,
    * targetValue, equivalence) tuples. */
  def withConceptMap(
      uri: String,
      version: String,
      entries: Seq[(String, String, String, String, String)],
      source: String = null,
      target: String = null,
      experimental: Boolean = false): ConceptMaps = {
    val meta = Seq((uri, version, source, target, experimental))
      .toDF("url", "version", "source", "target", "experimental")
    val maps = entries.map { case (ss, sv, ts, tv, eq) =>
      Mapping(uri, version, source, target, ss, sv, ts, tv, eq)
    }.toDS()
    withConceptMaps(meta, maps)
  }

  /** Disjoint import via LEFT ANTI join (AbstractConceptMaps.java:220-234). */
  def withDisjointConceptMaps(
      newMaps: DataFrame,
      newMappings: Dataset[Mapping]): ConceptMaps = {
    val (meta, rows) = ConceptMapKind.disjoint(conceptMaps, newMaps, newMappings)
    new ConceptMaps(spark,
      conceptMaps.unionByName(meta, allowMissingColumns = true),
      mappings.union(rows))
  }

  /** Persist to `db.mappings` partitioned by (conceptMapUri,
    * conceptMapVersion) + timestamped `db.conceptmaps` metadata
    * (AbstractConceptMaps.java:515-678). A (url, version) already stored
    * in either table is an error — a map that only delegates has no
    * mapping rows. */
  def writeToDatabase(database: String): Unit =
    ConceptMapKind.write(spark, database, conceptMaps, mappings.toDF())
}

object ConceptMaps {
  val MappingsTable = "mappings"
  val ConceptMapsTable = "conceptmaps"

  /** Metadata row columns — the queryable scalars of the full ConceptMap
    * resource the reference stores (AbstractConceptMaps.java:350-375). */
  val MetaColumns: Seq[String] =
    Seq("url", "version", "name", "status", "source", "target",
      "experimental", "publisher", "date")

  /** An empty ConceptMaps container bound to the session. */
  def getEmpty(spark: SparkSession): ConceptMaps = {
    import spark.implicits._
    new ConceptMaps(spark, ConceptMapKind.emptyMeta(spark),
      spark.emptyDataset[Mapping])
  }

  /** Load concept maps persisted by [[writeToDatabase]] from the given
    * database. Metadata tables persisted before the metadata widening load
    * with nulls for the newer columns. */
  def getFromDatabase(spark: SparkSession, database: String): ConceptMaps = {
    import spark.implicits._
    val (meta, mappings) = ConceptMapKind.read(spark, database)
    new ConceptMaps(spark, meta, mappings.as[Mapping])
  }
}
