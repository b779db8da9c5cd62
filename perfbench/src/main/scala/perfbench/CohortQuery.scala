package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, size, sum}

import graft.fhir.{Bundles, FhirSchemas, StructureDefinitions}
import graft.terminology._

/** cohort_query: the Bunsen path. Set-up ingests the bundle files (JSON
  * and an XML share, five resource tables, a US-Core profile extraction)
  * and runs the whole terminology build (directory imports, hierarchy
  * closure, three table writes, read-back, broadcast valuesets and concept
  * map, UDF push), so those layers are measured there, once per run; the
  * timed phase is analyst queries over the result.
  * Per-query fixed cost dominates (analysis over the wide compiled FHIR
  * schemas, job scheduling, broadcasts).
  *
  * Queries come from a deck of 20 with a fixed mix, shuffled by the seed;
  * valuesets are drawn Zipf-skewed from a pool of 10 to 100k codes with
  * stratified counts, so small valuesets are reused often and every deck
  * has the same load. Two queries in twenty build and push an ad-hoc
  * valueset first, then pop it. */
final class CohortQuery extends Workload {
  import CohortQuery._

  private var term: Gen.Terminology = _
  private var ps: Vector[Gen.Patient] = _
  private var built: TermPipeline.Built = _
  private var deck: Vector[Q] = Vector.empty
  private var warm = false
  private val secs = mutable.ArrayBuffer.empty[Double]
  private val kindSecs = mutable.ArrayBuffer.empty[(String, Double)]

  private var dir: Path = _
  private var bundleBytes = 0L
  private var xmlEntries = 0L
  private var ingestS = 0.0
  private var buildS = 0.0

  def generate(ctx: Ctx, d: Path): String = {
    term = Gen.terminology(ctx.seed, nodes = 1200, vsCount = 16, vsMax = 100000)
    ps = Gen.patients(ctx.seed, Resources, term.dag, XmlShare)
    bundleBytes = Gen.writeBundles(ps, d.resolve("bundles"))
    Gen.writeTerminology(term, d.resolve("terminology"))
    dir = d
    Gen.digest(d)
  }

  /** Ingest the bundles, then the terminology build; both are checked. */
  override def setUp(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    ingest(ctx)
    ingestS = (System.nanoTime() - t0) / 1e9
    ctx.op("fhir ingest") { checkIngest(ctx) }
    val t1 = System.nanoTime()
    built = TermPipeline.build(ctx, term, dir.resolve("terminology"), "term")
    buildS = (System.nanoTime() - t1) / 1e9
    ctx.op("terminology build") { TermPipeline.check(ctx, term, "term", built) }
    ValueSetUdfs.registerTranslate(ctx.spark, "translate_rx", built.cm)
    deck = makeDeck(new Gen.Rng(ctx.seed).fork(40), term)
  }

  /** Bundles → compiled schema → resource tables: the JSON and XML share
    * parsed against the envelope of the tables saved, and a US-Core
    * profile-compiled Patient extraction. */
  private def ingest(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val jsonDir = dir.resolve("bundles/json").toString
    val reg = ctx.span("fhir", "schema_compile") {
      StructureDefinitions.fromClasspath().registryFor(Gen.UsCorePatient)
    }
    val xml = ctx.span("fhir", "xml_ingest") {
      val x = Bundles.fromXml(Bundles.loadFromDirectory(spark, dir.resolve("bundles/xml").toString),
        "bundle_json", FhirSchemas.defaultRegistry, Tables)
      xmlEntries = x.select(sum(size(col("bundle.entry")))).head().getLong(0)
      x
    }
    ctx.span("fhir", "extract_write") {
      val json = Bundles.fromJson(Bundles.loadFromDirectory(spark, jsonDir),
        "bundle_json", FhirSchemas.defaultRegistry, Tables)
      Bundles.saveAsDatabase(spark, json.unionByName(xml), "res", Tables)
    }
    ctx.span("fhir", "profile_extract") {
      Bundles.extractEntry(spark, Bundles.loadFromDirectory(spark, jsonDir), "Patient", Nil, reg)
        .write.saveAsTable("res.patient_uscore")
    }
    Tables.foreach { t =>
      spark.sql(s"CREATE OR REPLACE TEMP VIEW ${t.toLowerCase} AS SELECT * FROM res.${t.toLowerCase}")
    }
  }

  /** Row counts and id checksums per table, and the profile's hoisted race
    * extension, against the generator's model, in one query. */
  private def checkIngest(ctx: Ctx): Boolean = {
    val want = Gen.idsByType(ps).collect { case (t, ids) if Tables.contains(t) =>
      t.toLowerCase -> (ids.size.toLong, Gen.crcSum(ids)) } +
      ("race" -> (ps.count(p => !p.xml && p.race.isDefined).toLong, 0L))
    val parts = Tables.map(_.toLowerCase).map(t =>
      s"SELECT '$t', count(*), coalesce(sum(crc32(id)), 0) FROM res.$t") :+
      ("SELECT 'race', count(*), 0L FROM res.patient_uscore " +
        "WHERE try_element_at(race.ombCategory, 1).code IS NOT NULL")
    val got = ctx.spark.sql(parts.mkString(" UNION ALL ")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val xmlWant = ps.filter(_.xml).map(_.resources.toLong).sum
    ctx.expect("resource tables", got == want, s"got $got want $want") &&
      ctx.expect("XML bundle entries", xmlEntries == xmlWant, s"got $xmlEntries want $xmlWant")
  }

  /** One query of each kind warms set-up; a timed round is the whole
    * deck, so every run measures the same mix. */
  def round(ctx: Ctx): Unit =
    if (!warm) {
      deck.groupBy(_.kind).values.map(_.head).foreach(run(ctx, _))
      warm = true
    } else deck.foreach(run(ctx, _))

  private def run(ctx: Ctx, q: Q): Unit = ctx.op(s"cohort ${q.kind}") {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val got: Map[String, Long] = q.kind match {
      case "adhoc" =>
        val vs = term.pool(q.a)
        val bvs = ctx.span("terminology", "broadcast_build") {
          BroadcastableValueSets.newBuilder()
            .addReference("adhoc", vs.uri, vs.versions.head.version)
            .build(spark, built.valueSets, built.hierarchies)
        }
        ctx.span("terminology", "udf_push") { ValueSetUdfs.pushUdf(spark, bvs) }
        try count(ctx, s"SELECT count(*) FROM ${table(vs.system)} WHERE in_valueset(`${field(vs.system)}`, 'adhoc')")
        finally ctx.span("terminology", "udf_pop") { ValueSetUdfs.popUdf(spark) }
      case "column" =>
        val vs = term.pool(q.a)
        ctx.span("bench", "query") {
          Map("n" -> spark.table(table(vs.system))
            .where(ValueSetUdfs.inValueSetColumn(col(field(vs.system)),
              TermPipeline.refName(q.a), built.bvs)).count())
        }
      case "translate" =>
        val sql = "SELECT t.value, count(*) FROM (SELECT explode(translate_rx(" +
          "medicationCodeableConcept.coding[0].system, medicationCodeableConcept.coding[0].code)) AS t " +
          s"FROM medicationrequest WHERE in_valueset(medicationCodeableConcept, '${TermPipeline.refName(q.a)}')) " +
          "GROUP BY t.value"
        ctx.span("bench", "query") {
          spark.sql(sql).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        }
      case "join" =>
        count(ctx, "SELECT count(DISTINCT c.subject.patientId) FROM condition c " +
          "JOIN observation o ON c.subject.patientId = o.subject.patientId " +
          s"WHERE in_valueset(c.code, '${TermPipeline.refName(q.a)}') " +
          s"AND in_valueset(o.code, '${TermPipeline.refName(q.b)}')")
      case "descendants" =>
        count(ctx, s"SELECT count(*) FROM condition WHERE in_valueset(code, '${TermPipeline.descName(q.a)}')")
      case _ => // struct and array
        val vs = term.pool(q.a)
        count(ctx, s"SELECT count(*) FROM ${table(vs.system)} WHERE " +
          s"in_valueset(`${field(vs.system)}`, '${TermPipeline.refName(q.a)}')")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    secs += dt
    kindSecs += (q.kind -> dt)
    val want = expected(q)
    ctx.expect(s"cohort ${q.kind} ${q.a}/${q.b}", got == want, s"got $got want $want")
  }

  private def count(ctx: Ctx, sql: String): Map[String, Long] =
    ctx.span("bench", "query") { Map("n" -> ctx.spark.sql(sql).head().getLong(0)) }

  /** The answer the generator's model predicts. */
  private def expected(q: Q): Map[String, Long] = {
    def latest(i: Int) = term.pool(i).latest.codes.toSet
    def bySystem(system: String, s: Set[String]): Long = system match {
      case Gen.SysDx => ps.iterator.map(_.conditions.count(c => s(c._2))).sum
      case Gen.SysLab => ps.iterator.map(_.observations.count(o => s(o._2))).sum
      case Gen.SysRx => ps.iterator.map(_.meds.count(m => !m.contained && s(m.rx))).sum
      case Gen.SysEnc => ps.iterator.map(_.encounters.count(e => e._2.exists(s))).sum
    }
    q.kind match {
      case "adhoc" =>
        val vs = term.pool(q.a)
        Map("n" -> bySystem(vs.system, vs.versions.head.codes.toSet))
      case "translate" =>
        val s = latest(q.a)
        ps.flatMap(_.meds).filter(m => !m.contained && s(m.rx))
          .flatMap(m => Gen.translate(term.maps, TermPipeline.mapUri(term), m.rx))
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      case "join" =>
        val (a, b) = (latest(q.a), latest(q.b))
        Map("n" -> ps.count(p => p.conditions.exists(c => a(c._2)) &&
          p.observations.exists(o => b(o._2))).toLong)
      case "descendants" =>
        val hub = term.dag.hubs(q.a)
        val s = (term.dag.descendants(hub) + hub).map(term.dag.codes)
        Map("n" -> bySystem(Gen.SysDx, s))
      case _ => Map("n" -> bySystem(term.pool(q.a).system, latest(q.a)))
    }
  }

  def warmUp: Boolean = true
  def reset(): Unit = { secs.clear(); kindSecs.clear() }
  def rounds: Int = secs.size
  def opSeconds: Seq[Double] = secs.toSeq
  def items: (Double, Double) = (secs.size.toDouble, secs.sum)
  def named: Seq[(String, Double, String, Int)] = {
    val s = secs.toSeq
    Seq(("ingest_resources_per_s", ps.map(_.resources).sum / ingestS, "resources/s", 1),
      ("terminology_build_s", buildS, "s", 1),
      ("query_p50_s", Stats.median(s), "s", s.size)) ++
      Stats.reportablePercentile(s.size).filter(_ > 50).map(p =>
        (f"query_p$p%.0f_s", Stats.percentile(s, p), "s", s.size)).toSeq ++
      kindSecs.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
        (s"query_${k}_p50_s", Stats.median(xs.map(_._2).toSeq), "s", xs.size) }
  }
  def layerExtras(ctx: Ctx): Map[String, Double] = Map(
    "fhir.bundle_bytes" -> bundleBytes.toDouble,
    "closure.ancestor_rows" -> term.dag.pairCount.toDouble,
    "terminology.broadcast_codes" -> TermPipeline.codeCount(built.bvs).toDouble,
    "terminology.broadcast_bytes" ->
      org.apache.spark.util.SizeEstimator.estimate(built.bvs).toDouble)
}

object CohortQuery {
  /** One query: its kind and the valueset (or hub) indices it uses. */
  final case class Q(kind: String, a: Int, b: Int = -1)

  val Resources = 2000
  val XmlShare = 0.15

  /** The resource tables set-up saves and the queries read. */
  val Tables: Seq[String] = Seq("Condition", "Observation", "MedicationRequest", "Encounter")

  val Mix: Seq[(String, Int)] = Seq("struct" -> 5, "array" -> 3,
    "descendants" -> 2, "join" -> 3, "translate" -> 2, "column" -> 3, "adhoc" -> 2)

  def table(system: String): String = system match {
    case Gen.SysDx => "condition"; case Gen.SysLab => "observation"
    case Gen.SysRx => "medicationrequest"; case Gen.SysEnc => "encounter"
  }
  def field(system: String): String = system match {
    case Gen.SysRx => "medicationCodeableConcept"; case Gen.SysEnc => "type"
    case _ => "code"
  }

  /** Pool indices for `n` draws over `eligible` (ordered by size, small
    * first), Zipf-stratified, then shuffled. */
  private def draws(rng: Gen.Rng, eligible: Seq[Int], n: Int): Vector[Int] = {
    val counts = new Gen.Zipf(eligible.size, 1.0).stratified(n)
    rng.shuffle(eligible.indices.flatMap(i => Seq.fill(counts(i))(eligible(i))))
  }

  def makeDeck(rng: Gen.Rng, t: Gen.Terminology): Vector[Q] = {
    val idx = t.pool.indices
    def sys(s: String*) = idx.filter(i => s.contains(t.pool(i).system))
    val qs = Mix.flatMap { case (kind, n) =>
      kind match {
        case "struct" | "column" | "adhoc" =>
          draws(rng, sys(Gen.SysDx, Gen.SysLab, Gen.SysRx), n).map(Q(kind, _))
        case "array" => draws(rng, sys(Gen.SysEnc), n).map(Q(kind, _))
        case "descendants" => Vector.tabulate(n)(i => Q(kind, i % t.dag.hubs.size))
        case "join" =>
          draws(rng, sys(Gen.SysDx), n).zip(draws(rng, sys(Gen.SysLab), n))
            .map { case (a, b) => Q(kind, a, b) }
        case "translate" => draws(rng, sys(Gen.SysRx), n).map(Q(kind, _))
      }
    }
    rng.shuffle(qs)
  }
}
