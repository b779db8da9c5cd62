package graft.terminology

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** An immutable collection of FHIR-style ValueSets: a dataset of valueset
  * metadata rows plus a flattened dataset of member [[Value]]s.
  *
  * Reference: /root/reference/bunsen-spark/.../codes/base/AbstractValueSets.java
  * and bunsen-spark-stu3/.../ValueSets.java. Divergences (SURVEY §4):
  * latest-version uses `groupBy.agg(max)` instead of the RDD reduceByKey
  * detour (AbstractValueSets.java:138-163), and directory import reads in
  * parallel instead of `wholeTextFiles(path, 1)`.
  */
class ValueSets private (
    val spark: SparkSession,
    /** One row per valueset version: (url, version, experimental). The
      * reference keeps the full encoded ValueSet resource row; we keep the
      * metadata needed for the query surface and can round-trip the rest via
      * the fhir module. */
    val valueSets: DataFrame,
    val values: Dataset[Value]) {

  import spark.implicits._

  /** All value rows across the loaded value sets. */
  def getValues: Dataset[Value] = values

  /** Values of one valueset version, partition-pruned when table-backed
    * (AbstractValueSets.java:198-202). */
  def getValues(uri: String, version: String): Dataset[Value] =
    ValueSetKind.rowsOf(values, uri, version)

  /** Values for a uri→version map, as a Catalyst-visible broadcast
    * semi-join (AbstractValueSets.java:210-222). */
  def getValues(versions: Map[String, String]): Dataset[Value] =
    ValueSetKind.rowsFor(values, versions)

  /** Point lookup (AbstractValueSets.getValueSet :242-266). */
  def getValueSet(uri: String, version: String): Option[Row] =
    ValueSetKind.metaRow(valueSets, uri, version)

  /** Distinct (url, version) pairs of the loaded value sets. */
  def getUrlAndVersions: Dataset[UrlAndVersion] =
    ValueSetKind.members(valueSets)

  /** Latest version per url (string-compare max); experimental versions
    * count only when included (AbstractValueSets.java:146-147). */
  def getLatestVersions(includeExperimental: Boolean): Dataset[UrlAndVersion] =
    ValueSetKind.latest(valueSets, includeExperimental).as[UrlAndVersion]

  /** url -> latest version, per [[getLatestVersions]]. */
  def getLatestVersionsMap(includeExperimental: Boolean): Map[String, String] =
    ValueSetKind.latestMap(valueSets, includeExperimental)

  /** Append new valuesets (metadata + values). A (url, version) repeated
    * in the batch or already present is an error (ValueSets.java:149-175). */
  def withValueSets(
      newValueSets: DataFrame,
      newValues: Dataset[Value]): ValueSets = {
    ValueSetKind.requireNew(valueSets, newValueSets, batchMayRepeat = true)
    new ValueSets(spark,
      valueSets.unionByName(newValueSets, allowMissingColumns = true),
      values.union(newValues))
  }

  /** Convenience: build a valueset from explicit (system, code) pairs. */
  def withValueSet(
      uri: String,
      version: String,
      codes: Seq[(String, String)],
      experimental: Boolean = false): ValueSets = {
    val vs = Seq((uri, version, experimental))
      .toDF("url", "version", "experimental")
    val vals = codes.map { case (system, code) =>
      Value(uri, version, system, null, code)
    }.toDS()
    withValueSets(vs, vals)
  }

  /** Disjoint directory-style import: keep only (url, version) not already
    * present, via LEFT ANTI join (AbstractValueSets.java:372-387 J1). */
  def withDisjointValueSets(
      newValueSets: DataFrame,
      newValues: Dataset[Value]): ValueSets = {
    val (meta, rows) = ValueSetKind.disjoint(valueSets, newValueSets, newValues)
    new ValueSets(spark,
      valueSets.unionByName(meta, allowMissingColumns = true),
      values.union(rows))
  }

  /** Persist: `db.valuesets` metadata (timestamp-stamped) + `db.values`
    * partitioned by (valueSetUri, valueSetVersion)
    * (AbstractValueSets.java:499-633, S11/S12). A (url, version) already
    * stored in either table is an error. */
  def writeToDatabase(database: String): Unit =
    ValueSetKind.write(spark, database, valueSets, values.toDF())
}

object ValueSets {
  val ValuesTable = "values"
  val ValueSetsTable = "valuesets"

  /** Metadata row columns — the queryable scalars of the full ValueSet
    * resource the reference stores (AbstractValueSets.java:242-266). */
  val MetaColumns: Seq[String] =
    Seq("url", "version", "name", "status", "experimental", "publisher",
      "date")

  /** An empty ValueSets container bound to the session. */
  def getEmpty(spark: SparkSession): ValueSets = {
    import spark.implicits._
    new ValueSets(spark, ValueSetKind.emptyMeta(spark),
      spark.emptyDataset[Value])
  }

  /** Load value sets persisted by [[writeToDatabase]] from the given
    * database. Metadata tables persisted before the metadata widening load
    * with nulls for the newer columns. */
  def getFromDatabase(spark: SparkSession, database: String): ValueSets = {
    import spark.implicits._
    val (meta, values) = ValueSetKind.read(spark, database)
    new ValueSets(spark, meta, values.as[Value])
  }
}
