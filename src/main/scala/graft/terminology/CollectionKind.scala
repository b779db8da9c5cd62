package graft.terminology

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** What tells the three terminology collections apart. ValueSets,
  * ConceptMaps and Hierarchies are one idea — immutable Dataset-backed
  * collections of versioned resources with latest-version resolution,
  * disjoint import, duplicate detection and partitioned parquet
  * persistence — so every verb is written once here, over the kind.
  *
  * A collection is a metadata frame with one row per `(url, version)`
  * member and a rows frame (values, mappings, ancestors) keyed by
  * `(uriCol, versionCol)`, persisted as `rowsTable` partitioned by those
  * two columns. `metaTable` persists the metadata with its `metaColumns`;
  * hierarchies have none (their members are the distinct keys of their
  * rows). `experimental` says whether members carry an experimental
  * flag, and `noun` names the collection in messages.
  */
private[graft] sealed abstract class CollectionKind(val rowsTable: String,
    val uriCol: String, val versionCol: String, val metaTable: Option[String],
    val metaColumns: Seq[String], val experimental: Boolean,
    val noun: String) {
  import CollectionKind._

  /** Rows of one version: an equality filter on the partition columns. */
  def rowsOf[T](rows: Dataset[T], uri: String, version: String): Dataset[T] =
    rows.where(col(uriCol) === uri && col(versionCol) === version)

  /** Rows for a uri → version map: a predicate on the partition columns,
    * so a persisted collection prunes to those versions and no job runs. */
  def rowsFor[T](rows: Dataset[T], versions: Map[String, String]): Dataset[T] =
    rows.where(versionsIn(versions))

  /** `(uri, version)` is one of `pairs`. */
  def versionsIn(pairs: Iterable[(String, String)]): Column =
    pairIn(pairs, col(uriCol), col(versionCol))

  def metaRow(meta: DataFrame, uri: String, version: String): Option[Row] =
    meta.where(col("url") === uri && col("version") === version)
      .head(1).headOption

  def members(meta: DataFrame): Dataset[UrlAndVersion] =
    meta.select(col("url"), col("version")).distinct()
      .as[UrlAndVersion](urlAndVersion)

  /** Latest version per url: the string-compare max (the reference's
    * semantics). Experimental members count only when included; a null
    * flag is not experimental. Each `carry` column comes from the latest
    * version's row. */
  def latest(meta: DataFrame, includeExperimental: Boolean,
      carry: String*): DataFrame = {
    val kept =
      if (includeExperimental || !experimental) meta
      else meta.where(coalesce(!col("experimental"), lit(true)))
    val fields = "version" +: carry
    kept.groupBy(col("url")).agg(max(struct(fields.map(col): _*)).as("m"))
      .select(col("url") +: fields.map(f => col(s"m.$f").as(f)): _*)
  }

  def latestMap(meta: DataFrame,
      includeExperimental: Boolean): Map[String, String] =
    latest(meta, includeExperimental).as[UrlAndVersion](urlAndVersion)
      .collect().map(u => u.url -> u.version).toMap

  /** Refuses a batch whose members repeat within it or that the
    * collection `current` already holds, naming the first duplicate. One
    * grouped job; none when the collection is provably empty (it folds to
    * an empty local relation, as every `getEmpty` does) and the batch
    * cannot repeat. */
  def requireNew(current: DataFrame, batch: DataFrame,
      batchMayRepeat: Boolean): Unit = {
    val fresh = current.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }
    def keys(df: DataFrame, added: Int) =
      df.select(col("url"), col("version"), lit(added).as("added"))
    if (batchMayRepeat || !fresh)
      keys(batch, 1).unionAll(keys(current, 0))
        .groupBy(col("url"), col("version"))
        .agg(sum(col("added")).as("n"), count(lit(1)).as("all"))
        .where(col("n") > 1 || (col("n") > 0 && col("all") > col("n")))
        .collect().headOption.foreach { r =>
          val what = s"(${r.getString(0)}, ${r.getString(1)})"
          throw new IllegalArgumentException(
            if (r.getLong(2) > 1)
              s"Cannot add multiple $noun with the same url and version: $what"
            else s"Cannot add $noun having duplicate url and version: $what")
        }
  }

  /** The members of a new batch that `current` does not hold (LEFT ANTI
    * on url and version) and their rows (a broadcast semi-join). */
  def disjoint[T](current: DataFrame, meta: DataFrame,
      rows: Dataset[T]): (DataFrame, Dataset[T]) = {
    val kept = meta.join(broadcast(members(current).toDF()),
      Seq("url", "version"), "left_anti")
    val keys = kept.select(col("url").as(uriCol), col("version").as(versionCol))
    (kept, rows.join(broadcast(keys.distinct()), Seq(uriCol, versionCol),
      "left_semi").as[T](rows.encoder))
  }

  /** Persists the rows to `<database>.<rowsTable>` and the metadata,
    * stamped with the write time, to `<database>.<metaTable>` partitioned
    * by that timestamp. A member already stored in either table is
    * refused before anything is written: a version with no rows leaves
    * its only trace in the metadata table. */
  def write(spark: SparkSession, database: String, meta: DataFrame,
      rows: DataFrame): Unit = {
    validateName(database)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    val rowsName = s"$database.$rowsTable"
    val metaName = metaTable.map(t => s"$database.$t")
    val stored = (Seq(rowsName -> (uriCol, versionCol)) ++
        metaName.map(_ -> ("url", "version")))
      .filter(t => spark.catalog.tableExists(t._1))
      .map { case (t, (u, v)) =>
        spark.table(t).select(col(u).as("url"), col(v).as("version")) }
    if (stored.nonEmpty &&
        !stored.reduce(_ unionAll _).intersect(members(meta).toDF()).isEmpty)
      throw new IllegalArgumentException(
        s"Cannot write $noun already present in the database")
    save(spark, rows, rowsName, Seq(uriCol, versionCol))
    metaName.foreach(save(spark,
      meta.withColumn("timestamp", current_timestamp().cast("timestamp")),
      _, Seq("timestamp")))
  }

  /** The collection [[write]] persisted in `database`: (metadata, rows).
    * The metadata read is tolerant: columns absent from a table written
    * before the metadata widening load as typed nulls. */
  def read(spark: SparkSession, database: String): (DataFrame, DataFrame) = {
    val rows = spark.table(s"$database.$rowsTable")
    val meta = metaTable.fold(rows.select(col(uriCol).as("url"),
        col(versionCol).as("version")).distinct()) { t =>
      val df = spark.table(s"$database.$t")
      df.select(metaColumns.map(c => if (df.columns.contains(c)) col(c)
        else lit(null).cast(metaType(c)).as(c)): _*)
    }
    (meta, rows)
  }

  def emptyMeta(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        metaColumns.map(c => s"`$c` ${metaType(c)}").mkString(", ")))

  private def metaType(column: String): String =
    if (column == "experimental") "boolean" else "string"
}

private[graft] object CollectionKind {

  private val urlAndVersion = Encoders.product[UrlAndVersion]

  /** `(key, value)` is one of `pairs`: a lookup in a map literal key →
    * values, which stays one expression however many pairs there are (an
    * `OR` chain of equalities grows with them). */
  def pairIn(pairs: Iterable[(String, String)], key: Column,
      value: Column): Column =
    array_contains(try_element_at(typedLit(pairs.groupMap(_._1)(_._2)
      .map { case (k, vs) => k -> vs.toSeq.distinct }), key), value)

  /** Database/table-name guard before SQL interpolation (the reference's
    * TABLE_NAME_PATTERN, AbstractValueSets.createValuesTable :569-610). */
  def validateName(name: String): String = {
    require(name != null && name.matches("[A-Za-z0-9_]+"),
      s"Invalid database/table name: $name")
    name
  }

  /** Delete a managed-table LOCATION that outlived its catalog entry —
    * the in-memory catalog dies with the session, the warehouse
    * directory does not, and the next `saveAsTable` then fails with
    * LOCATION_ALREADY_EXISTS. Only acts when the catalog has NO such
    * table, so a live table's data is never touched. */
  def reclaimOrphanLocation(spark: SparkSession, database: String,
      table: String): Unit =
    if (!spark.catalog.tableExists(s"$database.$table")) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"${database.toLowerCase}.db/${table.toLowerCase}")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }

  /** Creates `table` partitioned by `partitionBy`, or appends to it.
    * `insertInto` matches columns by POSITION, and `saveAsTable` moved the
    * partition columns to the end of the catalog schema, so an append is
    * aligned to the live schema first — unaligned, every value would land
    * silently in the wrong (all-string) column. The reference writes
    * through column-ordered DDL instead (S11, AbstractValueSets.java:620-633). */
  private def save(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String]): Unit =
    if (spark.catalog.tableExists(table))
      df.select(spark.table(table).columns.toSeq.map(col): _*)
        .write.mode(SaveMode.Append).format("parquet").insertInto(table)
    else df.write.partitionBy(partitionBy: _*).format("parquet")
      .saveAsTable(table)
}

private[graft] object ValueSetKind extends CollectionKind(
  ValueSets.ValuesTable, "valueSetUri", "valueSetVersion",
  Some(ValueSets.ValueSetsTable), ValueSets.MetaColumns,
  experimental = true, "valuesets")

private[graft] object ConceptMapKind extends CollectionKind(
  ConceptMaps.MappingsTable, "conceptMapUri", "conceptMapVersion",
  Some(ConceptMaps.ConceptMapsTable), ConceptMaps.MetaColumns,
  experimental = true, "concept maps")

private[graft] object HierarchyKind extends CollectionKind(
  Hierarchies.AncestorsTable, "uri", "version", None, Seq("url", "version"),
  experimental = false, "hierarchies")
