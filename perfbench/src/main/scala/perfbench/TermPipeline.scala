package perfbench

import java.nio.file.Path

import graft.fhir.TerminologyResources
import graft.terminology._

/** The terminology build cohort_query runs as its set-up: raw files →
  * collections → database → broadcast → bound `in_valueset` UDF. */
object TermPipeline {
  final case class Built(valueSets: ValueSets, hierarchies: Hierarchies,
      bvs: BroadcastableValueSets, cm: BroadcastableConceptMap)

  def refName(i: Int): String = s"vs$i"
  def descName(j: Int): String = s"desc$j"
  def mapUri(t: Gen.Terminology): String = t.maps.head.uri

  def build(ctx: Ctx, t: Gen.Terminology, dir: Path, db: String): Built = {
    val spark = ctx.spark
    import spark.implicits._
    val (vs, cms) = ctx.span("terminology", "import") {
      (TerminologyResources.withValueSetsFromDirectory(spark,
        ValueSets.getEmpty(spark), dir.resolve("valuesets").toString),
        TerminologyResources.withConceptMapsFromDirectory(spark,
          ConceptMaps.getEmpty(spark), dir.resolve("conceptmaps").toString))
    }
    val h = ctx.span("closure", "closure") {
      val edges = spark.read.option("header", "true")
        .csv(dir.resolve("hierarchy/edges.csv").toString).as[HierarchicalElement]
      Hierarchies.getEmpty(spark).withHierarchyElements(Gen.HierarchyUri,
        Gen.HierarchyVersion, edges)
    }
    ctx.span("terminology", "table_write") {
      vs.writeToDatabase(db)
      cms.writeToDatabase(db)
    }
    ctx.span("closure", "ancestors_write") { h.writeToDatabase(db) }
    val (vs2, h2) = ctx.span("terminology", "table_read") {
      (ValueSets.getFromDatabase(spark, db), Hierarchies.getFromDatabase(spark, db))
    }
    val bvs = ctx.span("terminology", "broadcast_build") {
      val b = BroadcastableValueSets.newBuilder()
      t.pool.indices.foreach(i => b.addReference(refName(i), t.pool(i).uri))
      t.dag.hubs.zipWithIndex.foreach { case (c, j) =>
        b.addDescendantsOf(descName(j), Gen.SysDx, t.dag.codes(c), Gen.HierarchyUri)
      }
      b.build(spark, vs2, h2)
    }
    val cm = ctx.span("terminology", "broadcast_build") {
      TerminologyResources.broadcastConceptMapFromDirectory(spark,
        dir.resolve("conceptmaps").toString, mapUri(t))
    }
    ctx.span("terminology", "udf_push") { ValueSetUdfs.pushUdf(spark, bvs) }
    Built(vs2, h2, bvs, cm)
  }

  /** Codes a reference binds, per the generator's model. */
  def expectedCodes(t: Gen.Terminology): Map[String, Set[String]] =
    t.pool.indices.map(i => refName(i) -> t.pool(i).latest.codes.toSet).toMap ++
      t.dag.hubs.zipWithIndex.map { case (c, j) =>
        descName(j) -> (t.dag.descendants(c) + c).map(t.dag.codes)
      }

  def codeCount(bvs: BroadcastableValueSets): Long =
    bvs.valueSets.valuesIterator.map(_.valuesIterator.map(_.size.toLong).sum).sum

  /** The stored closure, the stored values and mappings, the broadcast
    * membership and the chained translation, against the model. */
  def check(ctx: Ctx, t: Gen.Terminology, db: String, b: Built): Boolean = {
    val spark = ctx.spark
    val closure = t.dag.ancestors.indices.iterator.flatMap { d =>
      t.dag.ancestors(d).iterator.map(a => t.dag.codes(d) + ">" + t.dag.codes(a)) }.toSeq
    val row = spark.sql(
      s"SELECT (SELECT count(*) FROM $db.ancestors), " +
        s"(SELECT coalesce(sum(crc32(concat(descendantValue, '>', ancestorValue))), 0) FROM $db.ancestors), " +
        s"(SELECT count(*) FROM $db.values), (SELECT count(*) FROM $db.mappings)").head()
    val got = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val want = (closure.size.toLong, Gen.crcSum(closure), t.valueRows, t.mappingRows)
    val members = expectedCodes(t).forall { case (ref, codes) =>
      b.bvs.valueSets.get(ref).exists(_.values.flatten.toSet == codes)
    }
    val rx = (0 until Gen.DataCodes(Gen.SysRx)).map(Gen.code(Gen.SysRx, _))
    val translated = rx.forall { c =>
      b.cm.getTarget(Gen.SysRx, c).map(_.value).sorted ==
        Gen.translate(t.maps, mapUri(t), c).sorted
    }
    ctx.expect("stored terminology (ancestors, crc, values, mappings)", got == want, s"got $got want $want") &&
      ctx.expect("broadcast valueset membership", members, "a reference binds other codes") &&
      ctx.expect("concept-map translation", translated, "a source code translates otherwise")
  }
}
