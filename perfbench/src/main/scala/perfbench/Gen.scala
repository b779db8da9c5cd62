package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded input generators and the model each workload's outputs are
  * checked against. Every generator is a pure function of its seed: it
  * writes text files (JSON, FHIR XML, CSV) whose bytes depend on nothing
  * else, so `digest` of two generations with one seed is identical.
  *
  * Sizes are fixed per workload; the seed changes content (codes, bundle
  * sizes, hub placement, cluster centres), not the amount of work, so runs
  * on different seeds measure the same load. */
object Gen {

  // ---- deterministic randomness ------------------------------------------

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def double(): Double = r.nextDouble()
    def chance(p: Double): Boolean = r.nextDouble() < p
    def gaussian(): Double = { // Box-Muller on the seeded stream
      val u = math.max(r.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def fork(salt: Int): Rng = new Rng(seed * 1000003L + salt)
    def shuffle[T](xs: Seq[T]): Vector[T] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
      }
      a.toVector.asInstanceOf[Vector[T]]
    }
  }

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    val probs: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val t = w.sum
      w.map(_ / t)
    }
    private val cdf = probs.scanLeft(0.0)(_ + _).tail
    def sample(rng: Rng): Int = {
      val u = rng.double()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
    /** Deterministic counts per rank summing to `total` (largest
      * remainders), so a deck of draws has a fixed composition. */
    def stratified(total: Int): Array[Int] = {
      val raw = probs.map(_ * total)
      val base = raw.map(math.floor(_).toInt)
      val order = raw.indices.sortBy(i => -(raw(i) - base(i)))
      order.take(total - base.sum).foreach(i => base(i) += 1)
      base
    }
  }

  // ---- a tiny document tree written as FHIR JSON or FHIR XML ------------

  sealed trait Node
  final case class Obj(fields: Seq[(String, Node)]) extends Node
  final case class Arr(items: Seq[Node]) extends Node
  final case class Str(s: String) extends Node
  final case class Num(raw: String) extends Node

  def obj(fields: (String, Node)*): Obj = Obj(fields)

  def json(n: Node): String = { val sb = new StringBuilder; json(n, sb); sb.toString }

  private def json(n: Node, sb: StringBuilder): Unit = n match {
    case Obj(fs) =>
      sb.append('{')
      fs.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        sb.append('"').append(k).append("\":"); json(v, sb)
      }
      sb.append('}')
    case Arr(xs) =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (v, i) => if (i > 0) sb.append(','); json(v, sb) }
      sb.append(']')
    case Str(s) => sb.append('"').append(s.replace("\\", "\\\\").replace("\"", "\\\"")).append('"')
    case Num(r) => sb.append(r)
  }

  private def attr(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** FHIR XML: a resource is an element named by its resourceType,
    * primitives sit in `value` attributes, arrays repeat their element, and
    * an extension's url is an attribute. */
  def xml(resource: Obj): String = {
    val sb = new StringBuilder
    xmlResource(resource, sb, root = true)
    sb.toString
  }

  private def xmlResource(r: Obj, sb: StringBuilder, root: Boolean): Unit = {
    val tpe = r.fields.collectFirst { case ("resourceType", Str(t)) => t }.get
    sb.append('<').append(tpe)
    if (root) sb.append(" xmlns=\"http://hl7.org/fhir\"")
    sb.append('>')
    r.fields.foreach { case (k, v) => if (k != "resourceType") xmlField(k, v, sb) }
    sb.append("</").append(tpe).append('>')
  }

  private def xmlField(k: String, v: Node, sb: StringBuilder): Unit = v match {
    case Arr(xs) => xs.foreach(xmlField(k, _, sb))
    case Str(s) => sb.append('<').append(k).append(" value=\"").append(attr(s)).append("\"/>")
    case Num(r) => sb.append('<').append(k).append(" value=\"").append(r).append("\"/>")
    case o @ Obj(fs) if fs.exists(_._1 == "resourceType") =>
      sb.append('<').append(k).append('>'); xmlResource(o, sb, root = false)
      sb.append("</").append(k).append('>')
    case Obj(fs) =>
      val url = if (k == "extension") fs.collectFirst { case ("url", Str(u)) => u } else None
      sb.append('<').append(k)
      url.foreach(u => sb.append(" url=\"").append(attr(u)).append('"'))
      sb.append('>')
      fs.foreach { case (fk, fv) => if (!(url.isDefined && fk == "url")) xmlField(fk, fv, sb) }
      sb.append("</").append(k).append('>')
  }

  def write(dir: Path, name: String, text: String): Long = {
    Files.createDirectories(dir)
    val bytes = text.getBytes(UTF_8)
    Files.write(dir.resolve(name), bytes)
    bytes.length.toLong
  }

  /** SHA-256 over every file under `dir` (relative path + bytes, sorted). */
  def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).toSeq
      finally s.close()
    }
    files.map(p => dir.relativize(p).toString -> p).sortBy(_._1).foreach { case (rel, p) =>
      md.update(rel.getBytes(UTF_8)); md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- code systems ------------------------------------------------------

  val SysDx = "http://snomed.info/sct"
  val SysLab = "http://loinc.org"
  val SysRx = "http://www.nlm.nih.gov/research/umls/rxnorm"
  val SysEnc = "http://perfbench.example/encounter-type"
  val SysCat = "http://terminology.hl7.org/CodeSystem/observation-category"
  val SysIng = "http://perfbench.example/ingredient"
  val SysRace = "urn:oid:2.16.840.1.113883.6.238"
  val HierarchyUri = "urn:graft:hierarchy:perfbench-dx"
  val HierarchyVersion = "2024"
  val RaceUrl = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"
  val EthnicityUrl = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity"
  val UsCorePatient = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient"

  /** Codes a patient record can carry, per system (the data range). */
  val DataCodes: Map[String, Int] =
    Map(SysLab -> 1500, SysRx -> 400, SysEnc -> 60, SysCat -> 12)

  def code(system: String, i: Int): String = {
    val p = system match {
      case SysDx => "D"; case SysLab => "L"; case SysRx => "R"
      case SysEnc => "E"; case SysCat => "C"; case SysIng => "I"
    }
    f"$p$i%06d"
  }

  private def coding(system: String, c: String): Obj =
    obj("system" -> Str(system), "code" -> Str(c))
  private def cc(system: String, c: String): Obj =
    obj("coding" -> Arr(Seq(coding(system, c))))

  // ---- code hierarchy (SNOMED-shaped DAG) --------------------------------

  /** A DAG over dx codes: level sizes fixed by `nodes`, parents drawn
    * Zipf-skewed from the level above (hubs with large fan-out), and a few
    * codes with a second parent one or two levels up. The deepest codes sit
    * at level 16. */
  final case class Dag(codes: Vector[String], level: Vector[Int],
      parents: Vector[Seq[Int]]) {
    def edges: Seq[(Int, Int)] =
      parents.indices.flatMap(c => parents(c).map(p => (p, c)))
    /** Plain-Scala closure: every (descendant, ancestor) pair over paths of
      * length >= 1, by walking levels top-down. */
    lazy val ancestors: Vector[Set[Int]] = {
      val out = Array.fill(codes.length)(Set.empty[Int])
      codes.indices.sortBy(level).foreach { c =>
        out(c) = parents(c).foldLeft(Set.empty[Int])((acc, p) => acc ++ out(p) + p)
      }
      out.toVector
    }
    lazy val descendants: Vector[Set[Int]] = {
      val out = Array.fill(codes.length)(mutable.Set.empty[Int])
      ancestors.indices.foreach(d => ancestors(d).foreach(a => out(a) += d))
      out.map(_.toSet).toVector
    }
    def pairCount: Long = ancestors.map(_.size.toLong).sum
    lazy val hubs: Seq[Int] = codes.indices
      .filter(i => level(i) >= 2 && level(i) <= 5)
      .sortBy(i => (-descendants(i).size, i)).take(4)
  }

  def dag(rng: Rng, nodes: Int): Dag = {
    val depth = 16
    // level sizes: geometric growth to a plateau, normalised to `nodes`
    val shape = (0 to depth).map(l => math.min(math.pow(2.2, l), 400.0))
    val scale = (nodes - 1) / shape.tail.sum
    val sizes = 1 +: shape.tail.map(w => math.max(1, math.round(w * scale).toInt))
    val level = sizes.zipWithIndex.flatMap { case (n, l) => Seq.fill(n)(l) }.toVector
    val byLevel = level.indices.groupBy(level)
    // hub order per level, so a few codes collect most children and many
    // get none: branches end at different depths
    val hubOrder = byLevel.map { case (l, xs) => l -> rng.fork(l).shuffle(xs) }
    val zipfs = byLevel.map { case (l, xs) => l -> new Zipf(xs.size, 1.1) }
    val parents = level.indices.map { c =>
      val l = level(c)
      if (l == 0) Seq.empty[Int]
      else {
        val p = hubOrder(l - 1)(zipfs(l - 1).sample(rng))
        val extra =
          if (l >= 3 && rng.chance(0.03)) {
            val up = byLevel(l - 1 - rng.int(2))
            Seq(up(rng.int(up.size))).filter(_ != p)
          } else Nil
        p +: extra
      }
    }.toVector
    Dag(level.indices.map(i => code(SysDx, i)).toVector, level, parents)
  }

  // ---- valueset pool and concept maps ------------------------------------

  final case class VsVersion(version: String, codes: Vector[String])
  final case class ValueSet(uri: String, system: String,
      versions: Seq[VsVersion], xml: Boolean) {
    def latest: VsVersion = versions.maxBy(_.version)
  }

  /** Valuesets sized log-evenly from 10 to `maxSize` codes, round-robin over
    * four systems; every third one has two versions, so latest-version
    * resolution decides which codes a reference binds. Half of each
    * valueset's codes come from the range patient records use. */
  def valueSetPool(rng: Rng, count: Int, maxSize: Int, dag: Dag): Vector[ValueSet] =
    (0 until count).map { i =>
      val system = Seq(SysLab, SysDx, SysRx, SysEnc)(i % 4)
      val size = math.round(10 * math.pow(maxSize / 10.0, i / (count - 1.0))).toInt
      val dataRange = if (system == SysDx) dag.codes.size else DataCodes(system)
      def draw(n: Int, r: Rng): Vector[String] = {
        val inData = math.min(n / 2 + 1, dataRange)
        val a = r.shuffle(0 until dataRange).take(inData)
        val b = (0 until n - inData).map(_ => dataRange + r.int(4 * n + 10))
        (a ++ b).distinct.sorted.map(code(system, _)).toVector
      }
      val r = rng.fork(100 + i)
      val v1 = VsVersion("1", draw(size, r))
      val versions =
        if (i % 3 == 0) Seq(v1, VsVersion("2", draw(size, r.fork(7))))
        else Seq(v1)
      ValueSet(s"http://perfbench.example/ValueSet/vs$i", system, versions,
        xml = r.chance(0.3))
    }.toVector

  def valueSetResource(vs: ValueSet, v: VsVersion): Obj = obj(
    "resourceType" -> Str("ValueSet"),
    "id" -> Str(vs.uri.split('/').last + "-" + v.version),
    "url" -> Str(vs.uri), "version" -> Str(v.version),
    "name" -> Str(vs.uri.split('/').last), "status" -> Str("active"),
    "compose" -> obj("include" -> Arr(Seq(obj(
      "system" -> Str(vs.system),
      "concept" -> Arr(v.codes.map(c => obj("code" -> Str(c)))))))))

  /** rx → ingredient maps forming one delegation chain a → b → c: each map
    * covers a slice of rx codes and sends unmapped codes to the next. Some
    * mappings are "narrower", which translation ignores, so those codes
    * fall through to the delegate. */
  final case class ConceptMap(uri: String, rows: Seq[(String, String, String)],
      delegate: Option[String], xml: Boolean)

  def conceptMaps(rng: Rng): Vector[ConceptMap] = {
    val n = DataCodes(SysRx)
    val uris = Seq("a", "b", "c").map(s => s"http://perfbench.example/ConceptMap/rx-$s")
    val slices = Seq(0 until n / 2, n / 2 until 3 * n / 4, 3 * n / 4 until n - 20)
    uris.indices.map { i =>
      val r = rng.fork(200 + i)
      val rows = slices(i).map { c =>
        val eq = if (i < 2 && r.chance(0.1)) "narrower" else "equivalent"
        (code(SysRx, c), code(SysIng, r.int(40)), eq)
      } ++ (if (i == 2) slices(0).take(30).map(c => (code(SysRx, c), code(SysIng, 40), "equivalent")) else Nil)
      ConceptMap(uris(i), rows, if (i < 2) Some(uris(i + 1)) else None, xml = i == 1)
    }.toVector
  }

  def conceptMapResource(cm: ConceptMap): Obj = {
    val group = obj(Seq(
      "source" -> Str(SysRx), "target" -> Str(SysIng),
      "element" -> Arr(cm.rows.map { case (s, t, eq) =>
        obj("code" -> Str(s), "target" -> Arr(Seq(obj(
          "code" -> Str(t), "equivalence" -> Str(eq)))))
      })) ++ cm.delegate.map(d =>
      "unmapped" -> obj("mode" -> Str("other-map"), "url" -> Str(d))): _*)
    obj("resourceType" -> Str("ConceptMap"),
      "id" -> Str(cm.uri.split('/').last), "url" -> Str(cm.uri),
      "version" -> Str("1"), "name" -> Str(cm.uri.split('/').last),
      "status" -> Str("active"),
      "sourceUri" -> Str("http://perfbench.example/ValueSet/rx-all"),
      "targetUri" -> Str("http://perfbench.example/ValueSet/ingredients"),
      "group" -> Arr(Seq(group)))
  }

  /** Targets the chained broadcast map yields for a source rx code. */
  def translate(maps: Seq[ConceptMap], uri: String, c: String): Seq[String] = {
    val byUri = maps.map(m => m.uri -> m).toMap
    val m = byUri(uri)
    val direct = m.rows.filter(r => r._1 == c && r._3 == "equivalent").map(_._2)
    if (direct.nonEmpty) direct
    else m.delegate.map(translate(maps, _, c)).getOrElse(Nil)
  }

  /** Terminology inputs: valueset and concept-map files (mixed JSON/XML)
    * plus the hierarchy's direct edges as CSV. */
  final case class Terminology(dag: Dag, pool: Vector[ValueSet],
      maps: Vector[ConceptMap]) {
    def valueRows: Long = pool.map(_.versions.map(_.codes.size.toLong).sum).sum
    def mappingRows: Long = maps.map(_.rows.size.toLong).sum
  }

  def terminology(seed: Long, nodes: Int, vsCount: Int, vsMax: Int): Terminology = {
    val rng = new Rng(seed)
    val d = dag(rng.fork(1), nodes)
    Terminology(d, valueSetPool(rng.fork(2), vsCount, vsMax, d), conceptMaps(rng.fork(3)))
  }

  def writeTerminology(t: Terminology, dir: Path): Long = {
    var bytes = 0L
    t.pool.foreach { vs =>
      vs.versions.foreach { v =>
        val res = valueSetResource(vs, v)
        val name = s"${vs.uri.split('/').last}-${v.version}"
        bytes += (if (vs.xml) write(dir.resolve("valuesets"), name + ".xml", xml(res))
          else write(dir.resolve("valuesets"), name + ".json", json(res)))
      }
    }
    t.maps.foreach { cm =>
      val name = cm.uri.split('/').last
      val res = conceptMapResource(cm)
      bytes += (if (cm.xml) write(dir.resolve("conceptmaps"), name + ".xml", xml(res))
        else write(dir.resolve("conceptmaps"), name + ".json", json(res)))
    }
    val csv = new StringBuilder("ancestorSystem,ancestorValue,descendantSystem,descendantValue\n")
    t.dag.edges.foreach { case (p, c) =>
      csv.append(SysDx).append(',').append(t.dag.codes(p)).append(',')
        .append(SysDx).append(',').append(t.dag.codes(c)).append('\n')
    }
    bytes + write(dir.resolve("hierarchy"), "edges.csv", csv.toString)
  }

  // ---- patients and bundles ----------------------------------------------

  final case class Med(id: String, rx: String, contained: Boolean)
  final case class Patient(id: String, race: Option[String],
      ethnicity: Option[String], conditions: Seq[(String, String)],
      observations: Seq[(String, String, Seq[String])], meds: Seq[Med],
      encounters: Seq[(String, Seq[String])], procedures: Seq[(String, String)],
      xml: Boolean) {
    def resources: Int = 1 + conditions.size + observations.size + meds.size +
      encounters.size + procedures.size
  }

  /** Patients until `resources` resources exist. Bundle sizes are skewed:
    * most patients have a handful of entries, one in six has dozens. */
  def patients(seed: Long, resources: Int, dag: Dag, xmlShare: Double): Vector[Patient] = {
    val rng = new Rng(seed).fork(10)
    val zDx = new Zipf(dag.codes.size, 0.8)
    val dxOrder = rng.fork(1).shuffle(dag.codes.indices)
    val zLab = new Zipf(DataCodes(SysLab), 0.9)
    val zRx = new Zipf(DataCodes(SysRx), 0.9)
    val zEnc = new Zipf(DataCodes(SysEnc), 0.7)
    val out = Vector.newBuilder[Patient]
    var total = 0
    var p = 0
    while (total < resources) {
      val id = f"p$p%06d"
      val n = if (rng.chance(1.0 / 6)) rng.between(20, 90) else rng.between(2, 9)
      val kinds = Seq.fill(n)(rng.int(10))
      def ids(pfx: String, k: Int) = (0 until k).map(i => f"$pfx-$p%06d-$i%03d")
      val nc = kinds.count(_ < 3); val no = kinds.count(k => k >= 3 && k < 6)
      val nm = kinds.count(k => k == 6 || k == 7); val ne = kinds.count(_ == 8)
      val np = kinds.count(_ == 9)
      val race = if (rng.chance(0.6)) Some(Seq("2106-3", "2054-5", "2028-9", "1002-5")(rng.int(4))) else None
      val eth = if (rng.chance(0.4)) Some(Seq("2135-2", "2186-5")(rng.int(2))) else None
      val pat = Patient(id, race, eth,
        ids("c", nc).map(i => i -> dag.codes(dxOrder(zDx.sample(rng)))),
        ids("o", no).map(i => (i, code(SysLab, zLab.sample(rng)),
          Seq.fill(1 + rng.int(2))(code(SysCat, rng.int(DataCodes(SysCat)))).distinct)),
        ids("m", nm).map(i => Med(i, code(SysRx, zRx.sample(rng)), rng.chance(0.25))),
        ids("e", ne).map(i => i -> Seq.fill(1 + rng.int(3))(code(SysEnc, zEnc.sample(rng))).distinct),
        ids("r", np).map(i => i -> dag.codes(dxOrder(zDx.sample(rng)))),
        xml = rng.chance(xmlShare))
      out += pat
      total += pat.resources
      p += 1
    }
    out.result()
  }

  private def ref(p: Patient) = obj("reference" -> Str(s"Patient/${p.id}"))

  def bundle(p: Patient): Obj = {
    val ext = p.race.map(r => obj("url" -> Str(RaceUrl), "extension" -> Arr(Seq(
      obj("url" -> Str("ombCategory"), "valueCoding" -> obj(
        "system" -> Str(SysRace), "code" -> Str(r))),
      obj("url" -> Str("text"), "valueString" -> Str("race " + r)))))).toSeq ++
      p.ethnicity.map(e => obj("url" -> Str(EthnicityUrl), "extension" -> Arr(Seq(
        obj("url" -> Str("ombCategory"), "valueCoding" -> obj(
          "system" -> Str(SysRace), "code" -> Str(e))),
        obj("url" -> Str("text"), "valueString" -> Str("ethnicity " + e)))))).toSeq
    val patient = obj(Seq("resourceType" -> Str("Patient"), "id" -> Str(p.id)) ++
      (if (ext.nonEmpty) Seq("extension" -> Arr(ext)) else Nil) ++ Seq(
      "gender" -> Str(if (p.id.hashCode % 2 == 0) "female" else "male"),
      "birthDate" -> Str("19" + (40 + math.abs(p.id.hashCode) % 60) + "-01-01")): _*)
    val entries = Seq(patient) ++
      p.conditions.map { case (id, c) => obj("resourceType" -> Str("Condition"),
        "id" -> Str(id), "clinicalStatus" -> Str("active"),
        "code" -> cc(SysDx, c), "subject" -> ref(p)) } ++
      p.observations.map { case (id, c, cats) => obj("resourceType" -> Str("Observation"),
        "id" -> Str(id), "status" -> Str("final"),
        "category" -> Arr(cats.map(cc(SysCat, _))), "code" -> cc(SysLab, c),
        "subject" -> ref(p), "valueQuantity" -> obj("value" -> Num("7.25"), "unit" -> Str("mmol/L"))) } ++
      p.meds.map { m =>
        val base = Seq("resourceType" -> Str("MedicationRequest"), "id" -> Str(m.id))
        if (m.contained) obj(base ++ Seq(
          "contained" -> Arr(Seq(obj("resourceType" -> Str("Medication"),
            "id" -> Str("med1"), "code" -> cc(SysRx, m.rx)))),
          "status" -> Str("active"), "intent" -> Str("order"),
          "medicationReference" -> obj("reference" -> Str("#med1")),
          "subject" -> ref(p)): _*)
        else obj(base ++ Seq("status" -> Str("active"), "intent" -> Str("order"),
          "medicationCodeableConcept" -> cc(SysRx, m.rx), "subject" -> ref(p)): _*)
      } ++
      p.encounters.map { case (id, ts) => obj("resourceType" -> Str("Encounter"),
        "id" -> Str(id), "status" -> Str("finished"),
        "type" -> Arr(ts.map(cc(SysEnc, _))), "subject" -> ref(p)) } ++
      p.procedures.map { case (id, c) => obj("resourceType" -> Str("Procedure"),
        "id" -> Str(id), "status" -> Str("completed"),
        "code" -> cc(SysDx, c), "subject" -> ref(p)) }
    obj("resourceType" -> Str("Bundle"), "type" -> Str("collection"),
      "entry" -> Arr(entries.map(e => obj("resource" -> e))))
  }

  /** One file per patient bundle, under json/ or xml/; returns bytes. */
  def writeBundles(ps: Seq[Patient], dir: Path): Long =
    ps.map { p =>
      if (p.xml) write(dir.resolve("xml"), p.id + ".xml", xml(bundle(p)))
      else write(dir.resolve("json"), p.id + ".json", json(bundle(p)))
    }.sum

  /** Ids per resource type, for row-count and checksum checks. */
  def idsByType(ps: Seq[Patient]): Map[String, Seq[String]] = Map(
    "Patient" -> ps.map(_.id),
    "Condition" -> ps.flatMap(_.conditions.map(_._1)),
    "Observation" -> ps.flatMap(_.observations.map(_._1)),
    "MedicationRequest" -> ps.flatMap(_.meds.map(_.id)),
    "Encounter" -> ps.flatMap(_.encounters.map(_._1)),
    "Procedure" -> ps.flatMap(_.procedures.map(_._1)))

  /** Sum of CRC32 over the ids' UTF-8 bytes (Spark: sum(crc32(id))). */
  def crcSum(ids: Iterable[String]): Long = ids.iterator.map { s =>
    val c = new java.util.zip.CRC32; c.update(s.getBytes(UTF_8)); c.getValue
  }.sum

  // ---- embeddings ---------------------------------------------------------

  val Dims = 64

  final case class Vectors(base: Vector[(Long, Array[Float])],
      deltas: Vector[Vector[(Long, Array[Float])]],
      queries: Vector[Array[Float]])

  /** Clustered 64-dim vectors (unit-norm centres plus noise), rounded to
    * four decimals so the text files carry the exact floats. */
  def vectors(seed: Long, base: Int, deltaFiles: Int, perDelta: Int,
      queries: Int): Vectors = {
    val rng = new Rng(seed).fork(20)
    val centres = Vector.fill(24) {
      val v = Array.fill(Dims)(rng.gaussian()); val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val zc = new Zipf(centres.size, 0.6)
    def point(): Array[Float] = {
      val c = centres(zc.sample(rng))
      c.map(x => (math.rint((x + 0.08 * rng.gaussian()) * 10000) / 10000).toFloat)
    }
    var id = 0L
    def next(): (Long, Array[Float]) = { id += 1; (id, point()) }
    val b = Vector.fill(base)(next())
    val d = Vector.fill(deltaFiles)(Vector.fill(perDelta)(next()))
    Vectors(b, d, Vector.fill(queries)(point()))
  }

  def vectorLine(id: Long, v: Array[Float]): String =
    s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""

  def writeVectors(vs: Vectors, dir: Path): Long = {
    var bytes = write(dir.resolve("base"), "part-0.json",
      vs.base.map { case (i, v) => vectorLine(i, v) }.mkString("\n") + "\n")
    vs.deltas.zipWithIndex.foreach { case (d, i) =>
      bytes += write(dir.resolve("deltas"), f"delta-$i%03d.json",
        d.map { case (j, v) => vectorLine(j, v) }.mkString("\n") + "\n")
    }
    bytes
  }

  /** Exact cosine top-k ids of `q` over `corpus` (ties to the lower id). */
  def bruteTopK(corpus: Seq[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    corpus.map { case (id, v) =>
      var d = 0.0; var n = 0.0; var i = 0
      while (i < v.length) { d += v(i) * q(i); n += v(i).toDouble * v(i); i += 1 }
      (id, d / (math.sqrt(n) * qn))
    }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }
}
