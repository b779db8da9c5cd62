package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.ops.Similarity
import graft.streaming.Streams

/** Job counts, plans and phases of the persisted-index family in the
  * benchmark's shape: 2000 64-dim vectors, 16 cells, an 8-subspace
  * codebook of 16 codes, local[4].
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag>"
  *
  * probes: writes `<outDir>/{ivf,pq}_probe_<tag>.txt` (the final adaptive
  * plan of a warm probe, one driver-local query, k = 10, nprobe = 4) and
  * `<outDir>/jobs_<tag>.json` (jobs of the first probe on freshly read
  * frames and of a warm one, plus warm walls).
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag> stream"
  *
  * maintenance streams: runs the IVF and the PQ maintenance stream over
  * two JSON delta files of 80 vectors (one file per micro-batch,
  * compaction every second batch) after one unmeasured warm-up round,
  * and writes `<outDir>/stream_<tag>.json` and `<outDir>/stream_<tag>.md`
  * — per batch: the Spark jobs it ran (each labelled by its result
  * stage's operation scopes) and the stream's phase durations.
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag> terminology"
  *
  * terminology build in the benchmark's `cohort_query` shape: directory
  * imports of 16 value sets (10 to 10k codes, every third one in two
  * versions, some XML) and of a three-map delegation chain, a 1.2k-code
  * DAG to level 16 closed by `withHierarchyElements`, the three table
  * writes, the read-back, a broadcast value-set build and the chained
  * concept map — after one unmeasured warm-up round. Writes
  * `<outDir>/terminology_<tag>.{json,md}`: per verb its Spark jobs, SQL
  * executions and wall time, and the closure's rounds (the executions
  * whose plan unions a checkpointed frame with a join: one per fixpoint
  * round).
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag> fhir"
  *
  * FHIR ingest in the benchmark's `cohort_query` shape: 48 patient
  * bundles (a Patient with race and birth-sex extensions and a telecom,
  * observations, a condition, an encounter and a medication request with
  * a contained medication), one in six of them as FHIR XML. Verbs:
  * `fromXml` plus a count, `fromJson` plus `saveAsDatabase` of the five
  * tables (JSON and XML together), a US-Core profile `extractEntry` plus
  * a write, and a contained `toJson` round trip — after one unmeasured
  * warm-up round. Writes `<outDir>/fhir_<tag>.{json,md}`: per verb its
  * Spark jobs, SQL executions, input files read (the scans' "number of
  * files read") and wall time.
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag> loops"
  *
  * the fixpoint loops on fixed fixtures, after one unmeasured warm-up
  * round: `closureLong` and `dagDepth` on the terminology DAG (as long
  * ids), `addEdges` of every tenth edge into the closure of the rest,
  * `nearDupClusters` on 40 chains of 50 ids, `addToClusters` of 40
  * pairs joining those chains, and `kCore` (k = 2), both PageRanks (5
  * iterations) on a 200-node ring with chords and 6-node pendant paths.
  * Each verb ends in one action (row count and an xxhash64 checksum of
  * the result rows). Writes `<outDir>/loops_<tag>.{json,md}`: per verb
  * its Spark jobs, SQL executions, rounds (the executions whose plan
  * joins over a checkpoint: one per fixpoint round, plus one for the
  * joined seed of `addEdges`/`addToClusters`, PageRank's initial state
  * and `addToClusters`' relabelling action), wall time, rows and
  * checksum.
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag> ann-inquery"
  *
  * the in-query IVF and IVF-PQ top-k calls over the 2000-vector corpus
  * in the shapes of q38 (`ivfTopKSeeded`, 16 seeds), q263 (`ivfPqTopK`),
  * q281 (`ivfPqTopKScaled`, hash trainer), q284 (`ivfPqTopKTwoLevel`)
  * and q290 (q281 at k = 30 re-ranked by `rerankExactTopK`), five
  * queries, after one unmeasured warm-up round. Writes
  * `<outDir>/ann_inquery_<tag>.{json,md}`: per call its Spark jobs, SQL
  * executions, wall time, rows and checksum.
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag> ann-dedup"
  *
  * the ANN near-dup entry points against persisted roots over the
  * 2000-vector corpus (16 cells: 125 postings per cell, which routes
  * raw; 4 cells: 500 per cell, which routes through the PQ codes), for
  * a batch of 40 perturbed copies of corpus rows at cosine 0.95,
  * nprobe 4, after one unmeasured warm-up round: `annNearDupPairs` at
  * caps 0 and 2, `annNearDupDropReport`, both `…AndDropReport` calls,
  * `annNearDupPairsPq`, `annNearDupAdcPrefilterReport` and
  * `annNearDupPairsAuto` on both roots. Each call reads its frames
  * afresh and ends in one action per output frame (row count and
  * checksum). Then `incrementalAnnDedupStream` (cap 2 with a drop
  * sink) single-index on the 16-cell root, dual-index on both roots,
  * and `annProbeStream` on the 16-cell root, each over two delta files
  * of 80 vectors. Writes `<outDir>/ann_dedup_<tag>.{json,md}`: per call
  * its Spark jobs, SQL executions, wall time, rows and checksums; per
  * stream batch its jobs and whether one of its SQL executions scans
  * `centroids/` or `codebook/`.
  *
  * Only public calls are used, so the same file measures any version of
  * the library. */
object ProbeJobs {

  private val spark = SparkSuite.spark

  private def jobs(body: => Unit): Int =
    org.apache.spark.TestJobs.of(spark)(body)._1

  private lazy val corpus: DataFrame =
    spark.range(0, 2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin(col("id") * 1.37 + j * 0.61).cast("float"))
        .as("embedding"))

  /** A fresh root holding the IVF index at `ivf` and the PQ one at `pq`,
    * both over `cells` hash seeds. */
  private def buildRoot(cells: Int = 16): String = {
    val root = Files.createTempDirectory("probe_jobs").toString
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", cells)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), s"$root/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec", codebookIds = 1L to 16L,
      inDims = 64, nSub = 8), s"$root/pq")
    root
  }

  def main(args: Array[String]): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    args match {
      case Array(outDir, tag) => probes(outDir, tag)
      case Array(outDir, tag, "stream") => streams(outDir, tag)
      case Array(outDir, tag, "terminology") => terminology(outDir, tag)
      case Array(outDir, tag, "fhir") => fhir(outDir, tag)
      case Array(outDir, tag, "loops") => loops(outDir, tag)
      case Array(outDir, tag, "ann-inquery") => annInQuery(outDir, tag)
      case Array(outDir, tag, "ann-dedup") => annDedup(outDir, tag)
      case _ => sys.error("usage: ProbeJobs <outDir> <tag> " +
        "[stream|terminology|fhir|loops|ann-inquery|ann-dedup]")
    }
    spark.stop()
  }

  private def probes(outDir: String, tag: String): Unit = {
    import spark.implicits._
    val root = buildRoot()
    val ivf = Similarity.readIvfIndex(spark, s"$root/ivf")
    val pq = Similarity.readIvfPqIndex(spark, s"$root/pq")
    val q = Seq((7L, (0 until 64).map(j => math.sin(7 * 1.37 + j * 0.61)
      .toFloat))).toDF("qid", "qvec")
    val probes = Seq[(String, () => DataFrame)](
      "ivf" -> (() => Similarity.probeIvfIndex(ivf, q, "qid", "qvec", 10)),
      "pq" -> (() => Similarity.probeIvfPqIndex(pq, q, "qid", "qvec", 10)))
    Files.createDirectories(Paths.get(outDir))
    val report = probes.map { case (name, probe) =>
      val cold = jobs(probe().collect())
      val warm = jobs(probe().collect())
      val walls = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        probe().collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val df = probe()
      df.collect()
      Files.writeString(Paths.get(outDir, s"${name}_probe_$tag.txt"),
        df.queryExecution.explainString(FormattedMode))
      f""""$name": {"cold_jobs": $cold, "warm_jobs": $warm, """ +
        f""""warm_wall_median_s": ${walls(2)}%.3f}"""
    }
    Files.writeString(Paths.get(outDir, s"jobs_$tag.json"),
      report.mkString("{", ", ", "}\n"))
    println(report.mkString("\n"))
  }

  /** One stream's batches: (batch id, job labels, phase ms). */
  private type Batches = Seq[(Long, Seq[String], Map[String, Long])]

  /** Runs both maintenance streams over two fresh delta files of 80
    * vectors each against a freshly built root. */
  private def streamRound(): Seq[(String, Batches)] = {
    import scala.jdk.CollectionConverters._
    val root = buildRoot()
    (0 until 2).foreach { f =>
      spark.range(2000 + 80 * f, 2080 + 80 * f)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            j => cos(col("id") * 0.91 + j * 0.47).cast("float"))
            .as("embedding"))
        .coalesce(1).write.mode("append").json(s"$root/deltas")
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    Seq("ivf", "pq").map { kind =>
      val deltas = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$root/deltas")
      var query: StreamingQuery = null
      val jobs = org.apache.spark.TestJobs.perBatch(spark) {
        query =
          if (kind == "pq") Streams.pqIndexMaintenanceStream(deltas,
            "vec_id", "embedding", s"$root/pq", s"$root/chk-pq",
            compactEvery = 2)
          else Streams.indexMaintenanceStream(deltas, "vec_id",
            "embedding", s"$root/ivf", s"$root/chk-ivf", compactEvery = 2)
        query.awaitTermination()
      }
      val byBatch = jobs.map { case ((_, b), sites) => b -> sites }
      kind -> query.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map { p =>
          (p.batchId, byBatch.getOrElse(p.batchId, Nil),
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
              .toMap)
        }
    }
  }

  private def streams(outDir: String, tag: String): Unit = {
    streamRound() // warm-up: JIT and first-plan compilation
    val measured = streamRound()
    val phases = Seq("addBatch", "triggerExecution", "queryPlanning",
      "getBatch", "latestOffset", "walCommit", "commitOffsets")
    def q(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val json = measured.map { case (kind, batches) =>
      q(kind) + ": " + batches.map { case (b, sites, ms) =>
        s"""{"batch": $b, "compacting": ${(b + 1) % 2 == 0}, """ +
          s""""jobs": ${sites.size}, "job_scopes": """ +
          sites.map(q).mkString("[", ", ", "]") + """, "duration_ms": """ +
          phases.filter(ms.contains).map(p => s"${q(p)}: ${ms(p)}")
            .mkString("{", ", ", "}") + "}"
      }.mkString("[", ", ", "]")
    }.mkString("{", ",\n ", "}\n")
    val rows = for ((kind, batches) <- measured; (b, sites, ms) <- batches)
      yield s"| $kind | $b | ${if ((b + 1) % 2 == 0) "yes" else "no"} | " +
        s"${sites.size} | " +
        phases.map(p => ms.get(p).map(_.toString).getOrElse("")).mkString(" | ") +
        " |"
    val md = (s"| stream | batch | compacts | jobs | " +
        phases.map(_ + " ms").mkString(" | ") + " |") +:
      ("|" + Seq.fill(4 + phases.size)("---").mkString("|") + "|") +: rows
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"stream_$tag.json"), json)
    Files.writeString(Paths.get(outDir, s"stream_$tag.md"),
      md.mkString("", "\n", "\n"))
    println(md.mkString("\n"))
  }

  // ===== terminology =====

  private val dx = "http://snomed.info/sct"

  /** The benchmark's hierarchy as (parent, child) node numbers: level
    * sizes grow by 2.2x to a plateau of 400, scaled to 1200 codes over 16
    * levels below the root; parents skewed to early codes of the level
    * above, 3% of codes with a second parent. */
  private lazy val dagEdges: Seq[(Int, Int)] = {
    val rnd = new scala.util.Random(6)
    val shape = (1 to 16).map(l => math.min(math.pow(2.2, l), 400.0))
    val sizes = 1 +: shape.map(w => math.max(1, math.round(w * 1199 /
      shape.sum).toInt))
    val levels = sizes.scanLeft(0)(_ + _).sliding(2).map(p => p(0) until p(1))
      .toVector
    levels.indices.tail.flatMap { l =>
      val up = levels(l - 1)
      levels(l).flatMap { c =>
        val p = up(math.min(up.size - 1,
          (math.pow(rnd.nextDouble(), 3) * up.size).toInt))
        val extra = if (l >= 3 && rnd.nextDouble() < 0.03)
          Seq(levels(l - 2)(rnd.nextInt(levels(l - 2).size))) else Nil
        (p +: extra).map(a => (a, c))
      }
    }
  }

  /** Writes the terminology inputs under a fresh directory: `valuesets/`,
    * `conceptmaps/` and `hierarchy/edges.csv`. Returns the directory. */
  private def terminologyInputs(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("probe_terminology")
    def put(sub: String, name: String, text: String): Unit = {
      Files.createDirectories(dir.resolve(sub))
      Files.writeString(dir.resolve(sub).resolve(name), text)
    }
    put("hierarchy", "edges.csv", dagEdges.map { case (a, c) =>
      f"$dx,D$a%06d,$dx,D$c%06d" }.mkString(
      "ancestorSystem,ancestorValue,descendantSystem,descendantValue\n",
      "\n", "\n"))
    (0 until 16).foreach { i =>
      val size = math.round(10 * math.pow(1000.0, i / 15.0)).toInt
      val versions = if (i % 3 == 0) Seq("1", "2") else Seq("1")
      versions.foreach { v =>
        val codes = (0 until size).map(c => f"L${c * (v.toInt + 1)}%06d")
        val url = s"http://probe.example/ValueSet/vs$i"
        if (i % 4 == 1) put("valuesets", s"vs$i-$v.xml",
          s"""<ValueSet xmlns="http://hl7.org/fhir"><url value="$url"/>""" +
            s"""<version value="$v"/><name value="vs$i"/>""" +
            """<status value="active"/><compose><include>""" +
            """<system value="http://loinc.org"/>""" +
            codes.map(c => s"""<concept><code value="$c"/></concept>""")
              .mkString + "</include></compose></ValueSet>")
        else put("valuesets", s"vs$i-$v.json",
          s"""{"resourceType":"ValueSet","url":"$url","version":"$v",""" +
            s""""name":"vs$i","status":"active","compose":{"include":[""" +
            """{"system":"http://loinc.org","concept":[""" +
            codes.map(c => s"""{"code":"$c"}""").mkString(",") + "]}]}}")
      }
    }
    Seq("a", "b", "c").zipWithIndex.foreach { case (m, i) =>
      val url = s"http://probe.example/ConceptMap/rx-$m"
      val next = Seq("b", "c").lift(i)
        .map(n => s"http://probe.example/ConceptMap/rx-$n")
      val rows = (i * 130 until i * 130 + 130).map(c => f"R$c%06d")
      if (m == "b") put("conceptmaps", s"rx-$m.xml",
        s"""<ConceptMap xmlns="http://hl7.org/fhir"><url value="$url"/>""" +
          """<version value="1"/><status value="active"/><group>""" +
          """<source value="rx"/><target value="ing"/>""" +
          rows.map(r => s"""<element><code value="$r"/><target>""" +
            s"""<code value="I$r"/><equivalence value="equivalent"/>""" +
            "</target></element>").mkString +
          next.map(n => """<unmapped><mode value="other-map"/>""" +
            s"""<url value="$n"/></unmapped>""").getOrElse("") +
          "</group></ConceptMap>")
      else put("conceptmaps", s"rx-$m.json",
        s"""{"resourceType":"ConceptMap","url":"$url","version":"1",""" +
          """"status":"active","group":[{"source":"rx","target":"ing",""" +
          next.map(n =>
            s""""unmapped":{"mode":"other-map","url":"$n"},""")
            .getOrElse("") +
          """"element":[""" + rows.map(r =>
            s"""{"code":"$r","target":[{"code":"I$r",""" +
              """"equivalence":"equivalent"}]}""").mkString(",") + "]}]}")
    }
    dir
  }

  /** One terminology build: per verb (name, jobs, SQL plans, seconds). */
  private def terminologyRound(): Seq[(String, Int, Seq[String], Double)] = {
    import graft.fhir.TerminologyResources
    import graft.terminology._
    import spark.implicits._
    val dir = terminologyInputs()
    val db = "probe_terminology"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (String, Int, Seq[String], Double)]
    def verb[A](name: String)(body: => A): A = {
      var result: Option[A] = None
      val t0 = System.nanoTime()
      val (n, plans) = org.apache.spark.TestJobs.of(spark) {
        result = Some(body)
      }
      out += ((name, n, plans, (System.nanoTime() - t0) / 1e9))
      result.get
    }
    val vs = verb("import_valuesets") {
      TerminologyResources.withValueSetsFromDirectory(spark,
        ValueSets.getEmpty(spark), dir.resolve("valuesets").toString)
    }
    val cms = verb("import_conceptmaps") {
      TerminologyResources.withConceptMapsFromDirectory(spark,
        ConceptMaps.getEmpty(spark), dir.resolve("conceptmaps").toString)
    }
    val h = verb("closure") {
      Hierarchies.getEmpty(spark).withHierarchyElements(
        "urn:graft:hierarchy:probe-dx", "2024",
        spark.read.option("header", "true")
          .csv(dir.resolve("hierarchy/edges.csv").toString)
          .as[HierarchicalElement])
    }
    verb("write_valuesets") { vs.writeToDatabase(db) }
    verb("write_conceptmaps") { cms.writeToDatabase(db) }
    verb("write_hierarchies") { h.writeToDatabase(db) }
    val (vs2, h2) = verb("read_back") {
      ConceptMaps.getFromDatabase(spark, db)
      (ValueSets.getFromDatabase(spark, db),
        Hierarchies.getFromDatabase(spark, db))
    }
    verb("broadcast_valuesets") {
      val b = BroadcastableValueSets.newBuilder()
      (0 until 16).foreach(i =>
        b.addReference(s"vs$i", s"http://probe.example/ValueSet/vs$i"))
      Seq(1, 2, 5).foreach(c =>
        b.addDescendantsOf(s"desc$c", dx, f"D$c%06d",
          "urn:graft:hierarchy:probe-dx"))
      b.build(spark, vs2, h2)
    }
    val cm = verb("chained_conceptmap") {
      TerminologyResources.broadcastConceptMapFromDirectory(spark,
        dir.resolve("conceptmaps").toString,
        "http://probe.example/ConceptMap/rx-a")
    }
    // the build must be the one described above
    val stored = spark.sql(s"SELECT (SELECT count(*) FROM $db.values), " +
      s"(SELECT count(*) FROM $db.mappings), " +
      s"(SELECT count(*) FROM $db.ancestors)").head()
    require(stored.getLong(0) > 0 && stored.getLong(1) == 390 &&
      stored.getLong(2) > 1200, s"unexpected terminology tables: $stored")
    require(cm.getTarget("rx", "R000300") == List(
      graft.terminology.CodeValue("ing", "IR000300")), "chain broken")
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    out.toSeq
  }

  private def terminology(outDir: String, tag: String): Unit = {
    terminologyRound() // warm-up: JIT and first-plan compilation
    val measured = terminologyRound()
    // a fixpoint round unions the checkpointed closure with its join
    def rounds(plans: Seq[String]): Int = plans.count(p =>
      p.contains("Union") && p.contains("Join") && p.contains("ExistingRDD"))
    val json = measured.map { case (name, n, plans, s) =>
      f""""$name": {"jobs": $n, "sql_executions": ${plans.size}, """ +
        (if (name == "closure") s""""rounds": ${rounds(plans)}, """
          else "") + f""""seconds": $s%.3f}"""
    }.mkString("{", ",\n ", "}\n")
    val md = Seq("| verb | jobs | SQL executions | rounds | seconds |",
      "|---|---|---|---|---|") ++ measured.map { case (name, n, plans, s) =>
      f"| $name | $n | ${plans.size} | " +
        (if (name == "closure") rounds(plans).toString else "") +
        f" | $s%.2f |"
    }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"terminology_$tag.json"), json)
    Files.writeString(Paths.get(outDir, s"terminology_$tag.md"),
      md.mkString("", "\n", "\n"))
    println(md.mkString("\n"))
  }

  // ===== fhir =====

  private val fhirTables =
    Seq("Patient", "Observation", "Condition", "Encounter", "MedicationRequest")

  /** One patient bundle as FHIR JSON and as FHIR XML. */
  private def patientBundle(i: Int): (String, String) = {
    import graft.fhir.FhirSchemas.{BirthSexExtensionUrl, RaceExtensionUrl}
    val p = f"p$i%04d"
    val obs = (0 until 3).map { k =>
      (s"""{"resourceType":"Observation","id":"$p-o$k","status":"final",""" +
        s""""code":{"coding":[{"system":"http://loinc.org","code":"8867-$k"}]},""" +
        s""""subject":{"reference":"Patient/$p"},""" +
        s""""valueQuantity":{"value":${60 + (i * 7 + k) % 40}.5,"unit":"bpm"}}""",
       s"""<Observation><id value="$p-o$k"/><status value="final"/>""" +
        s"""<code><coding><system value="http://loinc.org"/>""" +
        s"""<code value="8867-$k"/></coding></code>""" +
        s"""<subject><reference value="Patient/$p"/></subject>""" +
        s"""<valueQuantity><value value="${60 + (i * 7 + k) % 40}.5"/>""" +
        """<unit value="bpm"/></valueQuantity></Observation>""")
    }
    val json = Seq(
      s"""{"resourceType":"Patient","id":"$p","gender":"female",""" +
        s""""birthDate":"19${50 + i % 50}-01-02",""" +
        s""""telecom":[{"system":"phone","value":"555-$i"}],""" +
        s""""extension":[{"url":"$BirthSexExtensionUrl","valueCode":"F"},""" +
        s"""{"url":"$RaceExtensionUrl","extension":[{"url":"ombCategory",""" +
        """"valueCoding":{"system":"urn:oid:2.16.840.1.113883.6.238",""" +
        """"code":"2106-3"}},{"url":"text","valueString":"White"}]}]}""") ++
      obs.map(_._1) ++ Seq(
      s"""{"resourceType":"Condition","id":"$p-c","subject":{"reference":"Patient/$p"},""" +
        """"code":{"coding":[{"system":"http://snomed.info/sct","code":"44054006"}]}}""",
      s"""{"resourceType":"Encounter","id":"$p-e","status":"finished",""" +
        s""""subject":{"reference":"Patient/$p"}}""",
      s"""{"resourceType":"MedicationRequest","id":"$p-m","status":"active",""" +
        s""""intent":"order","subject":{"reference":"Patient/$p"},""" +
        s""""medicationReference":{"reference":"#$p-med"},""" +
        s""""contained":[{"resourceType":"Medication","id":"$p-med",""" +
        """"status":"active"}]}""")
    val xml = Seq(
      s"""<Patient><id value="$p"/>""" +
        s"""<extension url="$BirthSexExtensionUrl"><valueCode value="F"/></extension>""" +
        s"""<extension url="$RaceExtensionUrl"><extension url="ombCategory">""" +
        """<valueCoding><system value="urn:oid:2.16.840.1.113883.6.238"/>""" +
        """<code value="2106-3"/></valueCoding></extension>""" +
        """<extension url="text"><valueString value="White"/></extension>""" +
        s"""</extension><telecom><system value="phone"/><value value="555-$i"/>""" +
        s"""</telecom><gender value="female"/>""" +
        s"""<birthDate value="19${50 + i % 50}-01-02"/></Patient>""") ++
      obs.map(_._2) ++ Seq(
      s"""<Condition><id value="$p-c"/><code><coding>""" +
        """<system value="http://snomed.info/sct"/><code value="44054006"/>""" +
        s"""</coding></code><subject><reference value="Patient/$p"/></subject></Condition>""",
      s"""<Encounter><id value="$p-e"/><status value="finished"/>""" +
        s"""<subject><reference value="Patient/$p"/></subject></Encounter>""",
      s"""<MedicationRequest><id value="$p-m"/><contained><Medication>""" +
        s"""<id value="$p-med"/><status value="active"/></Medication></contained>""" +
        """<status value="active"/><intent value="order"/>""" +
        s"""<medicationReference><reference value="#$p-med"/></medicationReference>""" +
        s"""<subject><reference value="Patient/$p"/></subject></MedicationRequest>""")
    (json.map(r => s"""{"resource":$r}""").mkString(
      """{"resourceType":"Bundle","type":"collection","entry":[""", ",", "]}"),
     xml.map(r => s"<entry><resource>$r</resource></entry>").mkString(
      """<Bundle xmlns="http://hl7.org/fhir"><type value="collection"/>""",
      "", "</Bundle>"))
  }

  /** One ingest: per verb (name, jobs, SQL executions, files read, s). */
  private def fhirRound(): Seq[(String, Int, Int, Long, Double)] = {
    import graft.fhir.{Bundles, FhirSchemas, StructureDefinitions}
    import spark.implicits._
    val dir = Files.createTempDirectory("probe_fhir")
    Files.createDirectories(dir.resolve("json"))
    Files.createDirectories(dir.resolve("xml"))
    (0 until 48).foreach { i =>
      val (json, xml) = patientBundle(i)
      if (i % 6 == 5) Files.writeString(dir.resolve(f"xml/b$i%03d.xml"), xml)
      else Files.writeString(dir.resolve(f"json/b$i%03d.json"), json)
    }
    val db = "probe_fhir"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (String, Int, Int, Long, Double)]
    def verb[A](name: String)(body: => A): A = {
      var result: Option[A] = None
      val t0 = System.nanoTime()
      val (n, plans, files) = org.apache.spark.TestJobs.withFiles(spark) {
        result = Some(body)
      }
      out += ((name, n, plans.size, files, (System.nanoTime() - t0) / 1e9))
      result.get
    }
    val jsonDir = dir.resolve("json").toString
    val reg = StructureDefinitions.shipped.registryFor(
      "http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient")
    val xml = Bundles.fromXml(
      Bundles.loadFromDirectory(spark, dir.resolve("xml").toString),
      "bundle_json", FhirSchemas.defaultRegistry, fhirTables)
    val xmlEntries = verb("xml_ingest") {
      xml.select(sum(size(col("bundle.entry")))).head().getLong(0)
    }
    verb("extract_write") {
      val json = Bundles.fromJson(Bundles.loadFromDirectory(spark, jsonDir),
        "bundle_json", FhirSchemas.defaultRegistry, fhirTables)
      Bundles.saveAsDatabase(spark, json.unionByName(xml), db, fhirTables)
    }
    verb("profile_extract") {
      Bundles.extractEntry(spark, Bundles.loadFromDirectory(spark, jsonDir),
        "Patient", Nil, reg).write.saveAsTable(s"$db.patient_uscore")
    }
    val roundTrip = verb("contained_tojson") {
      val orders = Bundles.extractEntry(spark,
        Bundles.loadFromDirectory(spark, jsonDir), "MedicationRequest",
        Seq("Medication"))
      val rebundled = Bundles.toJson(orders, "MedicationRequest")
        .select(concat(lit("""{"resourceType":"Bundle","type":"collection",""" +
          """"entry":[{"resource":"""), col("json"), lit("}]}"))
          .as("bundle_json"))
      Bundles.extractEntry(spark, rebundled, "MedicationRequest",
        Seq("Medication")).where(size(col("contained")) === 1).count()
    }
    // the ingest must be the one described above
    val counts = fhirTables.map(t =>
      spark.table(s"$db.${t.toLowerCase}").count())
    require(xmlEntries == 8 * 7 && counts == Seq(48, 144, 48, 48, 48) &&
      roundTrip == 40 && spark.table(s"$db.patient_uscore")
        .where(size(col("telecom")) === 1).count() == 40,
      s"unexpected ingest: xml $xmlEntries, tables $counts, " +
        s"round trip $roundTrip")
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    out.toSeq
  }

  private def fhir(outDir: String, tag: String): Unit = {
    fhirRound() // warm-up: JIT and first-plan compilation
    val measured = fhirRound()
    val json = measured.map { case (name, n, execs, files, s) =>
      f""""$name": {"jobs": $n, "sql_executions": $execs, """ +
        f""""files_read": $files, "seconds": $s%.3f}"""
    }.mkString("{", ",\n ", "}\n")
    val md = Seq("| verb | jobs | SQL executions | files read | seconds |",
      "|---|---|---|---|---|") ++ measured.map {
      case (name, n, execs, files, s) =>
        f"| $name | $n | $execs | $files | $s%.2f |"
    }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"fhir_$tag.json"), json)
    Files.writeString(Paths.get(outDir, s"fhir_$tag.md"),
      md.mkString("", "\n", "\n"))
    println(md.mkString("\n"))
  }

  // ===== loops =====

  /** One pass over the loops: per verb (name, jobs, SQL executions,
    * rounds, seconds, rows, checksum). */
  private def loopsRound()
      : Seq[(String, Int, Int, Int, Double, Long, java.math.BigDecimal)] = {
    import graft.closure.TransitiveClosure
    import graft.ops.{Dedup, Graphs}
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (String, Int, Int, Int, Double, Long, java.math.BigDecimal)]
    def verb(name: String)(result: => DataFrame): Unit = out += {
      val (n, plans, s, rows, sum) = checksummed(result)
      (name, n, plans.size, loopRounds(plans), s, rows, sum)
    }
    val dag = dagEdges.map { case (a, c) => (a.toLong, c.toLong) }
    val (delta, base) = dag.partition { case (_, c) => c % 10 == 0 }
    verb("closureLong") {
      TransitiveClosure.closureLong(spark, dag.toDF("parent", "child"))
    }
    val closed = TransitiveClosure.closureLong(spark,
      base.toDF("parent", "child")).persist()
    closed.count()
    verb("addEdges") {
      TransitiveClosure.addEdges(spark, closed, delta.toDF("parent", "child"))
    }
    closed.unpersist()
    val chains = (0L until 2000L).filter(_ % 50 != 49).map(i => (i, i + 1))
    verb("nearDupClusters") {
      Dedup.nearDupClusters(chains.toDF("id_a", "id_b"))
    }
    val existing = Dedup.nearDupClusters(chains.toDF("id_a", "id_b"))
      .persist()
    existing.count()
    verb("addToClusters") {
      Dedup.addToClusters(existing,
        (0L until 40L).map(c => (c * 50 + 49, c * 50 + 50)).toDF("id_a", "id_b"))
    }
    existing.unpersist()
    verb("dagDepth") { Graphs.dagDepth(spark, dag.toDF("parent", "child")) }
    val ring = (0L until 200L).flatMap(i =>
      Seq((i, (i + 1) % 200), (i, (i + 17) % 200)))
    val pendant = (0L until 20L).flatMap(p => (0L until 6L).map(j =>
      (if (j == 0) p * 10 else 1000 + p * 6 + j - 1, 1000 + p * 6 + j)))
    val undirected = ring ++ pendant
    val sym = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    verb("kCore") { Graphs.kCore(spark, sym, k = 2) }
    verb("pageRankFixedPoint") {
      Graphs.pageRankFixedPoint(spark, sym, iterations = 5)
    }
    verb("personalizedPageRank") {
      Graphs.personalizedPageRank(spark, sym, Seq(0L, 1005L), iterations = 5)
    }
    out.toSeq
  }

  /** Builds `result` and reduces it to one row: the Spark jobs and SQL
    * execution plans of both, the seconds, the result's row count and
    * the decimal sum of its rows' `xxhash64` (equal sums: the same
    * rows). */
  private def checksummed(result: => DataFrame)
      : (Int, Seq[String], Double, Long, java.math.BigDecimal) = {
    var row: (Long, java.math.BigDecimal) = null
    val t0 = System.nanoTime()
    val (n, plans) = org.apache.spark.TestJobs.of(spark) {
      row = rowsAndSum(result)
    }
    (n, plans, (System.nanoTime() - t0) / 1e9, row._1, row._2)
  }

  /** One action over `df`: its row count and the decimal sum of its
    * rows' `xxhash64`. */
  private def rowsAndSum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val row = df.agg(count(lit(1)), coalesce(sum(xxhash64(
        df.columns.map(col).toSeq: _*).cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO))).head()
    (row.getLong(0), row.getDecimal(1))
  }

  /** The executions whose plan joins over a checkpoint. */
  private[graft] def loopRounds(plans: Seq[String]): Int =
    plans.count(p => p.contains("Join") && p.contains("ExistingRDD"))

  private def loops(outDir: String, tag: String): Unit = {
    loopsRound() // warm-up: JIT and first-plan compilation
    val measured = loopsRound()
    val json = measured.map { case (name, n, execs, rounds, s, rows, sum) =>
      f""""$name": {"jobs": $n, "sql_executions": $execs, """ +
        f""""rounds": $rounds, "seconds": $s%.3f, "rows": $rows, """ +
        f""""checksum": "$sum"}"""
    }.mkString("{", ",\n ", "}\n")
    val md = Seq("| verb | jobs | SQL executions | rounds | seconds | rows | " +
        "checksum |",
      "|---|---|---|---|---|---|---|") ++ measured.map {
      case (name, n, execs, rounds, s, rows, sum) =>
        f"| $name | $n | $execs | $rounds | $s%.2f | $rows | $sum |"
    }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"loops_$tag.json"), json)
    Files.writeString(Paths.get(outDir, s"loops_$tag.md"),
      md.mkString("", "\n", "\n"))
    println(md.mkString("\n"))
  }

  // ===== in-query ANN =====

  /** One pass over the in-query IVF / IVF-PQ calls: per call (name, jobs,
    * SQL executions, seconds, rows, checksum). */
  private def annInQueryRound()
      : Seq[(String, Int, Int, Double, Long, java.math.BigDecimal)] = {
    val q = corpus.where(col("vec_id") < 5)
    val seeds = corpus.where(col("vec_id") < 16)
    def call(name: String)(result: => DataFrame) = {
      val (n, plans, s, rows, sum) = checksummed(result)
      (name, n, plans.size, s, rows, sum)
    }
    Seq(
      call("q38 ivfTopKSeeded") {
        Similarity.ivfTopKSeeded(corpus, "vec_id", "embedding", q, "vec_id",
          "embedding", seeds, "vec_id", "embedding", k = 10, nprobe = 4)
      },
      call("q263 ivfPqTopK") {
        Similarity.ivfPqTopK(corpus, "vec_id", "embedding", q, "vec_id",
          "embedding", seeds, "vec_id", "embedding",
          codebookIds = 16L to 23L, inDims = 64, nSub = 8, k = 10,
          nProbe = 4)
      },
      call("q281 ivfPqTopKScaled") {
        Similarity.ivfPqTopKScaled(corpus, "vec_id", "embedding", q,
          "vec_id", "embedding", codebookIds = 16L to 23L, inDims = 64,
          nSub = 8, k = 10, trainer = "hash")
      },
      call("q284 ivfPqTopKTwoLevel") {
        Similarity.ivfPqTopKTwoLevel(corpus, "vec_id", "embedding", q,
          "vec_id", "embedding", codebookIds = 16L to 23L, inDims = 64,
          nSub = 8, k = 10)
      },
      call("q290 ivfPqTopKScaled + rerank") {
        Similarity.rerankExactTopK(corpus, "vec_id", "embedding", q,
          "vec_id", "embedding", Similarity.ivfPqTopKScaled(corpus,
            "vec_id", "embedding", q, "vec_id", "embedding",
            codebookIds = 16L to 23L, inDims = 64, nSub = 8, k = 30,
            trainer = "hash"), k = 10)
      })
  }

  private def annInQuery(outDir: String, tag: String): Unit = {
    annInQueryRound() // warm-up: JIT and first-plan compilation
    val measured = annInQueryRound()
    val json = measured.map { case (name, n, execs, s, rows, sum) =>
      f""""$name": {"jobs": $n, "sql_executions": $execs, """ +
        f""""seconds": $s%.3f, "rows": $rows, "checksum": "$sum"}"""
    }.mkString("{", ",\n ", "}\n")
    val md = Seq("| call | jobs | SQL executions | seconds | rows | checksum |",
      "|---|---|---|---|---|---|") ++ measured.map {
      case (name, n, execs, s, rows, sum) =>
        f"| $name | $n | $execs | $s%.2f | $rows | $sum |"
    }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"ann_inquery_$tag.json"), json)
    Files.writeString(Paths.get(outDir, s"ann_inquery_$tag.md"),
      md.mkString("", "\n", "\n"))
    println(md.mkString("\n"))
  }

  // ===== ANN near-dup =====

  /** One pass over the near-dup entry points: per call (name, jobs, SQL
    * executions, seconds, rows and checksum of each output frame). */
  private def annDedupRound(sparse: String, dense: String)
      : Seq[(String, Int, Int, Double, Seq[(Long, java.math.BigDecimal)])] = {
    val batch = spark.range(0, 40).select((col("id") + 5000L).as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin(col("id") * 50 * 1.37 + j * 0.61 + 0.02).cast("float"))
        .as("embedding"))
    val exclude = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"))
    val tau = 950000L
    def raw(root: String) = Similarity.readIvfIndex(spark, s"$root/ivf")
    def pq(root: String) = Similarity.readIvfPqIndex(spark, s"$root/pq")
    def call(name: String)(body: (DataFrame => Unit) => Unit) = {
      val out = scala.collection.mutable.ArrayBuffer.empty[
        (Long, java.math.BigDecimal)]
      val t0 = System.nanoTime()
      val (n, plans) = org.apache.spark.TestJobs.of(spark) {
        body(df => out += rowsAndSum(df))
      }
      (name, n, plans.size, (System.nanoTime() - t0) / 1e9, out.toSeq)
    }
    Seq(
      call("annNearDupPairs cap 0") { r =>
        r(Similarity.annNearDupPairs(raw(sparse), batch, "vec_id",
          "embedding", tau))
      },
      call("annNearDupPairs cap 2") { r =>
        r(Similarity.annNearDupPairs(raw(sparse), batch, "vec_id",
          "embedding", tau, maxPairsPerNew = 2))
      },
      call("annNearDupDropReport") { r =>
        r(Similarity.annNearDupDropReport(raw(sparse), batch, "vec_id",
          "embedding", tau, maxPairsPerNew = 2))
      },
      call("annNearDupPairsAndDropReport") { r =>
        Similarity.annNearDupPairsAndDropReport(raw(sparse), batch,
          "vec_id", "embedding", tau, maxPairsPerNew = 2,
          excludeIds = exclude) { (p, d) => r(p); r(d) }
      },
      call("annNearDupPairsPqAndDropReport") { r =>
        Similarity.annNearDupPairsPqAndDropReport(pq(sparse), raw(sparse),
          batch, "vec_id", "embedding", tau, maxPairsPerNew = 2,
          excludeIds = exclude) { (p, d) => r(p); r(d) }
      },
      call("annNearDupPairsPq cap 0") { r =>
        r(Similarity.annNearDupPairsPq(pq(sparse), raw(sparse), batch,
          "vec_id", "embedding", tau, excludeIds = exclude))
      },
      call("annNearDupAdcPrefilterReport") { r =>
        r(Similarity.annNearDupAdcPrefilterReport(pq(sparse), raw(sparse),
          batch, "vec_id", "embedding", tau))
      },
      call("annNearDupPairsAuto (routes raw)") { r =>
        r(Similarity.annNearDupPairsAuto(spark, s"$sparse/ivf",
          s"$sparse/pq", batch, "vec_id", "embedding", tau,
          maxPairsPerNew = 2))
      },
      call("annNearDupPairsAuto (routes PQ)") { r =>
        r(Similarity.annNearDupPairsAuto(spark, s"$dense/ivf",
          s"$dense/pq", batch, "vec_id", "embedding", tau,
          maxPairsPerNew = 2))
      })
  }

  /** The dedup streams (single-index, dual-index on both roots) and the
    * probe stream over two fresh delta files of 80 vectors each: per
    * stream, per batch its jobs and whether one of them scans the
    * quantizer tables. */
  private def annStreamRound(): Seq[(String, Seq[(Long, Int, Boolean)])] = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    val streams = Seq[(String, Int, (DataFrame, String) => StreamingQuery)](
      ("dedup single", 16, (in, root) => Streams.incrementalAnnDedupStream(
        in, "vec_id", "embedding", s"$root/ivf", s"$root/pairs",
        s"$root/chk", 950000L, maxPairsPerNew = 2,
        dropsPath = s"$root/drops")),
      ("dedup dual (routes raw)", 16, (in, root) =>
        Streams.incrementalAnnDedupStream(in, "vec_id", "embedding",
          s"$root/ivf", s"$root/pairs", s"$root/chk", 950000L,
          maxPairsPerNew = 2, dropsPath = s"$root/drops",
          pqIndexPath = s"$root/pq")),
      ("dedup dual (routes PQ)", 4, (in, root) =>
        Streams.incrementalAnnDedupStream(in, "vec_id", "embedding",
          s"$root/ivf", s"$root/pairs", s"$root/chk", 950000L,
          maxPairsPerNew = 2, dropsPath = s"$root/drops",
          pqIndexPath = s"$root/pq")),
      ("probe", 16, (in, root) => Streams.annProbeStream(in, "vec_id",
        "embedding", s"$root/ivf", s"$root/hits", s"$root/chk", k = 10)))
    streams.map { case (name, cells, start) =>
      val root = buildRoot(cells)
      (0 until 2).foreach { f =>
        spark.range(2000 + 80 * f, 2080 + 80 * f)
          .select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(63)),
              j => sin((col("id") - 2000) * 1.37 + j * 0.61 + 0.02)
                .cast("float")).as("embedding"))
          .coalesce(1).write.mode("append").json(s"$root/deltas")
      }
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(s"$root/deltas")
      val jobs = org.apache.spark.TestJobs.perBatchWithPlans(spark) {
        start(in, root).awaitTermination()
      }
      name -> jobs.toSeq.map { case ((_, b), js) =>
        (b, js.size, js.exists { case (_, plan) =>
          plan.contains("/centroids") || plan.contains("/codebook") })
      }.sortBy(_._1)
    }
  }

  private def annDedup(outDir: String, tag: String): Unit = {
    val (sparse, dense) = (buildRoot(16), buildRoot(4))
    annDedupRound(sparse, dense) // warm-up: JIT and first-plan compilation
    val measured = annDedupRound(sparse, dense)
    annStreamRound()
    val streams = annStreamRound()
    val json = measured.map { case (name, n, execs, s, outs) =>
      f""""$name": {"jobs": $n, "sql_executions": $execs, """ +
        f""""seconds": $s%.3f, "rows": """ +
        outs.map(_._1).mkString("[", ", ", "]") + """, "checksums": """ +
        outs.map(o => "\"" + o._2 + "\"").mkString("[", ", ", "]") + "}"
    } ++ streams.map { case (name, batches) =>
      f""""stream $name": """ + batches.map { case (b, n, scans) =>
        s"""{"batch": $b, "jobs": $n, "scans_quantizer_tables": $scans}"""
      }.mkString("[", ", ", "]")
    }
    val md = Seq("| call | jobs | SQL executions | seconds | rows | " +
        "checksums |", "|---|---|---|---|---|---|") ++ measured.map {
      case (name, n, execs, s, outs) =>
        f"| $name | $n | $execs | $s%.2f | " +
          outs.map(_._1).mkString(" / ") + " | " +
          outs.map(_._2).mkString(" / ") + " |"
    } ++ Seq("", "| stream | batch | jobs | scans centroids/codebook |",
      "|---|---|---|---|") ++ streams.flatMap { case (name, batches) =>
      batches.map { case (b, n, scans) =>
        s"| $name | $b | $n | ${if (scans) "yes" else "no"} |"
      }
    }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"ann_dedup_$tag.json"),
      json.mkString("{", ",\n ", "}\n"))
    Files.writeString(Paths.get(outDir, s"ann_dedup_$tag.md"),
      md.mkString("", "\n", "\n"))
    println(md.mkString("\n"))
  }
}
