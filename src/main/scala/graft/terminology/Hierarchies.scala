package graft.terminology

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.closure.TransitiveClosure

/** An immutable collection of code hierarchies and their transitive-closure
  * ancestor expansions, as cluster-resident Datasets.
  *
  * Reference behavior: /root/reference/bunsen-spark/.../codes/Hierarchies.java
  * (members :88-101, latest versions :185-200, withHierarchyElements :211-230,
  * expandElements :314-391, writeToTables :420-466). The one deliberate
  * divergence (documented in SURVEY §2.7 G1): ancestor expansion
  * ([[graft.closure.TransitiveClosure.closure]]) walks each code's
  * ancestors on the executors over a broadcast edge table rather than on
  * the driver, and above its edge gate runs as a distributed prefix-doubling
  * join, so it scales with the cluster rather than driver memory.
  */
class Hierarchies private (
    val spark: SparkSession,
    val members: Dataset[UrlAndVersion],
    val ancestors: Dataset[Ancestor]) {

  import spark.implicits._

  /** All (uri, version) hierarchies in this collection. */
  def getMembers: Dataset[UrlAndVersion] = members

  /** All ancestor facts. */
  def getAncestors: Dataset[Ancestor] = ancestors

  /** Ancestors of one hierarchy version (partition-prunable filter;
    * reference Hierarchies.getAncestors overloads). */
  def getAncestors(uri: String, version: String): Dataset[Ancestor] =
    HierarchyKind.rowsOf(ancestors, uri, version)

  /** Latest version per hierarchy uri, by string-compare max — the
    * reference's (lexicographic) semantics, preserved bit-for-bit
    * (AbstractConceptMaps.java:483-484 pattern). */
  def getLatestVersions: Map[String, String] =
    HierarchyKind.latestMap(members.toDF(), includeExperimental = true)

  /** Add a hierarchy given its direct parent-child elements; the transitive
    * closure is computed here by [[graft.closure.TransitiveClosure.closure]]:
    * up to its gate (a million distinct edges) one bounded edge collect and
    * a lazy executor-side ancestor walk, with no rounds; above it prefix
    * doubling (real code hierarchies are 10-20 deep, so ⌈log₂ d⌉+1 ≈ 5
    * rounds; the round budget allows 2^64 depth and the loop throws rather
    * than truncating). Duplicate (uri, version) is an error, matching
    * reference semantics (Hierarchies.java:216-222). */
  def withHierarchyElements(
      uri: String,
      version: String,
      elements: Dataset[HierarchicalElement]): Hierarchies = {
    val newMember = Seq(UrlAndVersion(uri, version)).toDS()
    HierarchyKind.requireNew(members.toDF(), newMember.toDF(),
      batchMayRepeat = false)
    val closed = TransitiveClosure.closure(spark, elements, maxIterations = 64)
      .select(lit(uri).as("uri"), lit(version).as("version"),
        $"descendantSystem", $"descendantValue",
        $"ancestorSystem", $"ancestorValue")
      .as[Ancestor]
    new Hierarchies(spark, members.union(newMember).distinct(),
      ancestors.union(closed))
  }

  /** Merge pre-expanded hierarchies (reference withHierarchies :238-253). */
  def withHierarchies(other: Hierarchies): Hierarchies = {
    HierarchyKind.requireNew(members.toDF(), other.members.toDF(),
      batchMayRepeat = false)
    new Hierarchies(spark, members.union(other.members).distinct(),
      ancestors.union(other.ancestors))
  }

  /** Persist to a partitioned parquet table `db.ancestors`, partitioned by
    * (uri, version) so version lookups prune partitions
    * (reference DDL Hierarchies.java:475-517). Appends only new members;
    * duplicate (uri,version) against the stored table is an error. */
  def writeToDatabase(database: String): Unit =
    HierarchyKind.write(spark, database, members.toDF(), ancestors.toDF())
}

object Hierarchies {
  val AncestorsTable = "ancestors"
  /** Hierarchy URI convention (reference Hierarchies.java:82-86, adapted). */
  def uriForName(name: String): String = s"urn:graft:hierarchy:$name"

  /** An empty Hierarchies container bound to the session. */
  def getEmpty(spark: SparkSession): Hierarchies = {
    import spark.implicits._
    new Hierarchies(spark, spark.emptyDataset[UrlAndVersion],
      spark.emptyDataset[Ancestor])
  }

  /** Load from a previously persisted database (Hierarchies.java:121-135:
    * members derived from the ancestors table with distinct (uri,version)). */
  def getFromDatabase(spark: SparkSession, database: String): Hierarchies = {
    import spark.implicits._
    val (members, ancestors) = HierarchyKind.read(spark, database)
    new Hierarchies(spark, members.as[UrlAndVersion], ancestors.as[Ancestor])
  }
}
