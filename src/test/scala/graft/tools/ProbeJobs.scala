package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TestJobs
import org.apache.spark.TestJobs.Recording
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.ops.Similarity
import graft.streaming.Streams

/** The evidence tool: Spark jobs, SQL executions, files read, walls,
  * stages and result checksums of the library's entry points, all
  * recorded by one [[org.apache.spark.TestJobs.record]].
  *
  *   sbt "Test/runMain graft.tools.ProbeJobs <outDir> <tag> [mode ...]"
  *
  * Every mode but `query` and `dedup-prefilter` runs on the tests'
  * local[4] session, measures one round after an unmeasured warm-up
  * round (JIT and first-plan compilation), and writes
  * `<outDir>/<report>_<tag>.{json,md}`: per verb its jobs, SQL
  * executions, input files read (the scans' "number of files read"),
  * seconds, and the row count and xxhash64 checksum (the decimal sum of
  * the rows' `xxhash64`: equal sums, the same rows) of each output
  * frame, plus the mode's own columns. The fixtures are the benchmark's
  * shapes: 2000 64-dim vectors, 16 cells, an 8-subspace codebook of 16
  * codes.
  *
  *  - (no mode), report `jobs`: per index kind the read of a fresh root,
  *    the first probe on the read frames (cold) and the next one (warm,
  *    with the median wall of 5 more), one driver-local query, k = 10,
  *    nprobe = 4; and `{ivf,pq}_probe_<tag>.txt`, the final adaptive plan
  *    of a warm probe.
  *  - `stream`: the IVF and the PQ maintenance stream over two JSON delta
  *    files of 80 vectors (one per micro-batch, compaction every second
  *    batch); per batch its jobs, their result stages' operation scopes
  *    and the stream's phase durations.
  *  - `terminology`, in the `cohort_query` shape: directory imports of 16
  *    value sets (10 to 10k codes, every third one in two versions, some
  *    XML) and of a three-map delegation chain, a 1.2k-code DAG to level
  *    16 closed by `withHierarchyElements`, the three table writes, the
  *    read-back, a broadcast value-set build and the chained concept map;
  *    the closure's rounds (the executions whose plan unions a
  *    checkpointed frame with a join: one per fixpoint round).
  *  - `fhir`, in the `cohort_query` shape: 48 patient bundles (one in six
  *    as FHIR XML) through `fromXml` plus a count, `fromJson` plus
  *    `saveAsDatabase` of five tables, a US-Core profile `extractEntry`
  *    plus a write, and a contained `toJson` round trip.
  *  - `loops`: `closureLong` (the walk), its prefix-doubling loop
  *    (`closureLong loop`) and `dagDepth` on the terminology DAG,
  *    `addEdges` of every tenth edge into the closure of the rest,
  *    `nearDupClusters` on 40 chains of 50 ids, `addToClusters` of 40
  *    pairs joining those chains, and `kCore` (k = 2) and both PageRanks
  *    (5 iterations) on a 200-node ring with chords and pendant paths;
  *    rounds (the executions whose plan joins over a checkpoint).
  *  - `closure-scale [edges]`: the q106-shaped tree (`parent = k / 2` for
  *    k = 1 to `edges`, default 150,000) closed by the walk and by the
  *    loop, string-keyed (`closure`) and long-keyed (`closureLong`); per
  *    row its rounds, and the walk and loop checksums must be equal.
  *    `closure-scale <edges> snomed`: the string-keyed walk alone over a
  *    SNOMED-shaped DAG of about `edges` distinct edges (SCTID-like codes;
  *    every concept one parent drawn uniformly from the earlier ones, three
  *    in five a second), with the heap live after the build (after a GC,
  *    the result still held) and the old generation's peak over the build
  *    and count, against the JVM's maximum: run it under the heap to check
  *    (`SPARK_DRIVER_MEM=2g`) at the gate.
  *  - `ann-inquery`: q38 (`ivfTopKSeeded`), q263 (`ivfPqTopK`), q281
  *    (`ivfPqTopKScaled`, hash trainer), q284 (`ivfPqTopKTwoLevel`) and
  *    q290 (q281 at k = 30 re-ranked by `rerankExactTopK`).
  *  - `ann-dedup`: every near-dup entry point against a 16-cell root (125
  *    postings per cell: routes raw) and a 4-cell one (500: routes PQ),
  *    for 40 perturbed corpus rows at cosine 0.95, each call reading its
  *    frames afresh; then the dedup stream (single, dual routing raw,
  *    dual routing PQ) and the probe stream over two delta files of 80
  *    vectors, per batch whether a plan scans `centroids/`/`codebook/`.
  *  - `query <name> [sfDir] [reps]`: one `SparkEntry` query in this JVM
  *    on `graft.localSession` (SPARK_GRAFT_CPUS cores, default 32), warmed
  *    at sf0.001 as Bench does, then `reps` (default 3) timed counts at
  *    `sfDir` (default sf0.1), then one untimed count and checksum of the
  *    result (row `result`); report `query_<name>`: per rep its row
  *    over every job the rep started, on any thread (a stream query's
  *    batches too; files read blank past the session's 8 retained SQL
  *    executions), and the last rep's stages (wall, executor run and
  *    CPU, shuffle, input, spill, tasks); `query_<name>_<tag>_plan.txt`
  *    is the formatted plan.
  *  - `dedup-prefilter [sizes]`: raw capped near-dup pairs against the
  *    ADC-prefiltered path on a clustered, PQ-compressible corpus of each
  *    size (default 50k, 250k, 1M; √N cells) for a fixed 10k batch, on
  *    `graft.localSession`; both must emit the same pair count. Per size
  *    the build and kernel walls, the candidate counts and the routing
  *    evidence for `adcPrefilterRouteMinPostingsPerCell`.
  *
  * Only public calls are used, so the same file measures any version of
  * the library, except the loop entry of the closure (`closureLongWith`
  * and `closureWith` with `walkMaxEdges = LoopOnly`). */
object ProbeJobs {

  /** Whether this run is a fresh-JVM `query`/`dedup-prefilter` one. */
  private var isolated = false

  private lazy val spark: SparkSession =
    if (!isolated) SparkSuite.spark
    else graft.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

  def main(args: Array[String]): Unit = {
    isolated = args.lift(2).exists(Set("query", "dedup-prefilter"))
    spark.sparkContext.setLogLevel("ERROR")
    def twice(round: => Seq[Row]): Seq[Row] = { round; round }
    args match {
      case Array(outDir, tag) =>
        report(outDir, "jobs", tag, probes(outDir, tag))
      case Array(outDir, tag, "stream") =>
        report(outDir, "stream", tag, twice(streamRound()))
      case Array(outDir, tag, "terminology") =>
        report(outDir, "terminology", tag, twice(terminologyRound()))
      case Array(outDir, tag, "fhir") =>
        report(outDir, "fhir", tag, twice(fhirRound()))
      case Array(outDir, tag, "loops") =>
        report(outDir, "loops", tag, twice(loopsRound()))
      case Array(outDir, tag, "closure-scale", edges, "snomed") =>
        report(outDir, "closure_heap", tag, snomedWalk(edges.toLong))
      case Array(outDir, tag, "closure-scale", edges @ _*) =>
        report(outDir, "closure_scale", tag, twice(closureScaleRound(
          edges.headOption.fold(150000L)(_.toLong))))
      case Array(outDir, tag, "ann-inquery") =>
        report(outDir, "ann_inquery", tag, twice(annInQueryRound()))
      case Array(outDir, tag, "ann-dedup") =>
        val (sparse, dense) = (buildRoot(16), buildRoot(4))
        report(outDir, "ann_dedup", tag, twice(annDedupRound(sparse, dense)),
          twice(annStreamRound()))
      case Array(outDir, tag, "query", name, rest @ _*) =>
        query(outDir, tag, name, rest.headOption.getOrElse(
          "/root/testdata/sf0.1"), rest.lift(1).fold(3)(_.toInt))
      case Array(outDir, tag, "dedup-prefilter", sizes @ _*) =>
        report(outDir, "dedup_prefilter", tag, dedupPrefilter(
          if (sizes.nonEmpty) sizes.map(_.toLong)
          else Seq(50000L, 250000L, 1000000L)))
      case _ => sys.error("usage: ProbeJobs <outDir> <tag> [stream|" +
        "terminology|fhir|loops|closure-scale [edges]|ann-inquery|ann-dedup|" +
        "query <name> [sfDir] [reps]|dedup-prefilter [sizes]]")
    }
    spark.stop()
  }

  // ===== the one recorder and report =====

  /** One report row: its name and its columns, in order. */
  private type Row = (String, Seq[(String, Any)])

  /** A verb's row: the jobs, SQL executions and files read of `r`, the
    * seconds, the row count and checksum of each output frame (if any),
    * then `extra`. */
  private def verbRow(name: String, r: Recording, seconds: Double,
      outputs: Seq[(Long, java.math.BigDecimal)],
      extra: Seq[(String, Any)] = Nil): Row =
    name -> (Seq("jobs" -> r.jobs.size,
      "sql_executions" -> r.executions.size, "files_read" -> r.filesRead,
      "seconds" -> seconds) ++
      (if (outputs.isEmpty) Nil
       else Seq("rows" -> outputs.map(_._1),
         "checksums" -> outputs.map(_._2))) ++ extra)

  /** Records the verbs of one round as rows; `extra` adds a verb's own
    * columns from its name and recording. */
  private final class Verbs(
      extra: (String, Recording) => Seq[(String, Any)] = (_, _) => Nil) {
    val rows = ArrayBuffer.empty[Row]

    /** Runs `body` as the verb `name` under one recording; `body` hands
      * each output frame to its argument, which reduces it to its row
      * count and checksum in one action. */
    def apply[A](name: String)(body: (DataFrame => Unit) => A): A = {
      val outputs = ArrayBuffer.empty[(Long, java.math.BigDecimal)]
      var result: Option[A] = None
      val t0 = System.nanoTime()
      val r = TestJobs.record(spark) {
        result = Some(body(df => outputs += rowsAndSum(df)))
      }.grouped
      rows += verbRow(name, r, (System.nanoTime() - t0) / 1e9,
        outputs.toSeq, extra(name, r))
      result.get
    }
  }

  /** One action over `df`: its row count and the decimal sum of its
    * rows' `xxhash64`. */
  private def rowsAndSum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val row = df.agg(count(lit(1)), coalesce(sum(xxhash64(
        df.columns.map(col).toSeq: _*).cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO))).head()
    (row.getLong(0), row.getDecimal(1))
  }

  /** Writes the `tables` to `<outDir>/<file>_<tag>.json` (one object of
    * every row by name) and `<outDir>/<file>_<tag>.md` (one table each,
    * over its rows' columns), and prints the tables. */
  private def report(outDir: String, file: String, tag: String,
      tables: Seq[Row]*): Unit = {
    def json(v: Any): String = v match {
      case o: Option[_] => o.fold("null")(json)
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") +
        "\""
      case d: Double => f"$d%.3f"
      case b: java.math.BigDecimal => json(b.toString)
      case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
      case x => x.toString
    }
    def md(v: Any): String = v match {
      case o: Option[_] => o.fold("")(md)
      case d: Double => f"$d%.2f"
      case b: Boolean => if (b) "yes" else "no"
      case xs: Seq[_] => xs.map(md).mkString(" / ")
      case x => x.toString
    }
    val text = tables.map { rows =>
      val cols = rows.flatMap(_._2.map(_._1)).distinct
      (("name" +: cols).mkString("| ", " | ", " |") +:
        ("|---" * (cols.size + 1) + "|") +: rows.map { case (name, vs) =>
          val m = vs.toMap
          (name +: cols.map(c => m.get(c).fold("")(md)))
            .mkString("| ", " | ", " |")
        }).mkString("\n")
    }.mkString("", "\n\n", "\n")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, s"${file}_$tag.json"),
      tables.flatten.map { case (name, vs) =>
        json(name) + ": " + vs.map { case (k, v) => json(k) + ": " + json(v) }
          .mkString("{", ", ", "}")
      }.mkString("{", ",\n ", "}\n"))
    Files.writeString(Paths.get(outDir, s"${file}_$tag.md"), text)
    print(text)
  }

  // ===== index probes =====

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

  private def probes(outDir: String, tag: String): Seq[Row] = {
    import spark.implicits._
    val root = buildRoot()
    val q = Seq((7L, (0 until 64).map(j => math.sin(7 * 1.37 + j * 0.61)
      .toFloat))).toDF("qid", "qvec")
    val verbs = new Verbs()
    val ivf = verbs("ivf read")(_ =>
      Similarity.readIvfIndex(spark, s"$root/ivf"))
    val pq = verbs("pq read")(_ =>
      Similarity.readIvfPqIndex(spark, s"$root/pq"))
    val walls = Seq[(String, () => DataFrame)](
      "ivf" -> (() => Similarity.probeIvfIndex(ivf, q, "qid", "qvec", 10)),
      "pq" -> (() => Similarity.probeIvfPqIndex(pq, q, "qid", "qvec", 10)))
      .map { case (name, probe) =>
        verbs(s"$name cold")(_ => probe().collect())
        verbs(s"$name warm")(_ => probe().collect())
        val df = probe()
        df.collect()
        Files.createDirectories(Paths.get(outDir))
        Files.writeString(Paths.get(outDir, s"${name}_probe_$tag.txt"),
          df.queryExecution.explainString(FormattedMode))
        s"$name warm" -> (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          probe().collect()
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(2)
      }.toMap
    verbs.rows.toSeq.map { case (name, cols) =>
      name -> (cols ++ walls.get(name).map("warm_wall_median_s" -> _))
    }
  }

  // ===== streams =====

  /** Writes two fresh JSON delta files of 80 vectors under `root/deltas`
    * (ids from 2000, embeddings `vec` of the id) and returns their
    * one-file-per-trigger stream. */
  private def deltaStream(root: String,
      vec: (Column, Column) => Column): DataFrame = {
    (0 until 2).foreach { f =>
      spark.range(2000 + 80 * f, 2080 + 80 * f)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), j => vec(col("id"), j)
            .cast("float")).as("embedding"))
        .coalesce(1).write.mode("append").json(s"$root/deltas")
    }
    spark.readStream.schema(StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", "1").json(s"$root/deltas")
  }

  /** Runs the stream `start` to its end: one row per micro-batch that
    * ran jobs, named `<name> batch <id>`, with its seconds the batch's
    * `triggerExecution` and `extra` its own columns from its id,
    * recording and phase durations. */
  private def batchRows(name: String, start: => StreamingQuery)(
      extra: (Long, Recording, Map[String, Long]) => Seq[(String, Any)])
      : Seq[Row] = {
    var query: StreamingQuery = null
    val batches = TestJobs.record(spark) {
      query = start
      query.awaitTermination()
    }.batches
    val phases = query.recentProgress.toSeq.map(p => p.batchId ->
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      .toMap
    batches.toSeq.sortBy(_._1._2).map { case ((_, b), r) =>
      val ms = phases.getOrElse(b, Map.empty[String, Long])
      verbRow(s"$name batch $b", r,
        ms.getOrElse("triggerExecution", 0L) / 1e3, Nil, extra(b, r, ms))
    }
  }

  private val streamPhases = Seq("addBatch", "triggerExecution",
    "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets")

  /** Both maintenance streams against a freshly built root. */
  private def streamRound(): Seq[Row] = {
    val root = buildRoot()
    val deltas = deltaStream(root, (id, j) => cos(id * 0.91 + j * 0.47))
    Seq("ivf", "pq").flatMap { kind =>
      batchRows(kind,
        if (kind == "pq") Streams.pqIndexMaintenanceStream(deltas, "vec_id",
          "embedding", s"$root/pq", s"$root/chk-pq", compactEvery = 2)
        else Streams.indexMaintenanceStream(deltas, "vec_id", "embedding",
          s"$root/ivf", s"$root/chk-ivf", compactEvery = 2)
      ) { (b, r, ms) =>
        Seq("compacting" -> ((b + 1) % 2 == 0),
          "job_scopes" -> r.jobs.map(_.scopes)) ++
          streamPhases.flatMap(p => ms.get(p).map(p + "_ms" -> _))
      }
    }
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

  /** One terminology build. */
  private def terminologyRound(): Seq[Row] = {
    import graft.fhir.TerminologyResources
    import graft.terminology._
    import spark.implicits._
    val dir = terminologyInputs()
    val db = "probe_terminology"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    // a fixpoint round unions the checkpointed closure with its join
    val verb = new Verbs((name, r) =>
      if (name != "closure") Nil
      else Seq("rounds" -> r.plans.count(p => p.contains("Union") &&
        p.contains("Join") && p.contains("ExistingRDD"))))
    val vs = verb("import_valuesets") { _ =>
      TerminologyResources.withValueSetsFromDirectory(spark,
        ValueSets.getEmpty(spark), dir.resolve("valuesets").toString)
    }
    val cms = verb("import_conceptmaps") { _ =>
      TerminologyResources.withConceptMapsFromDirectory(spark,
        ConceptMaps.getEmpty(spark), dir.resolve("conceptmaps").toString)
    }
    val h = verb("closure") { _ =>
      Hierarchies.getEmpty(spark).withHierarchyElements(
        "urn:graft:hierarchy:probe-dx", "2024",
        spark.read.option("header", "true")
          .csv(dir.resolve("hierarchy/edges.csv").toString)
          .as[HierarchicalElement])
    }
    verb("write_valuesets") { _ => vs.writeToDatabase(db) }
    verb("write_conceptmaps") { _ => cms.writeToDatabase(db) }
    verb("write_hierarchies") { _ => h.writeToDatabase(db) }
    val (vs2, h2) = verb("read_back") { _ =>
      ConceptMaps.getFromDatabase(spark, db)
      (ValueSets.getFromDatabase(spark, db),
        Hierarchies.getFromDatabase(spark, db))
    }
    verb("broadcast_valuesets") { _ =>
      val b = BroadcastableValueSets.newBuilder()
      (0 until 16).foreach(i =>
        b.addReference(s"vs$i", s"http://probe.example/ValueSet/vs$i"))
      Seq(1, 2, 5).foreach(c =>
        b.addDescendantsOf(s"desc$c", dx, f"D$c%06d",
          "urn:graft:hierarchy:probe-dx"))
      b.build(spark, vs2, h2)
    }
    val cm = verb("chained_conceptmap") { _ =>
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
    verb.rows.toSeq
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

  /** One ingest. */
  private def fhirRound(): Seq[Row] = {
    import graft.fhir.{Bundles, FhirSchemas, StructureDefinitions}
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
    val verb = new Verbs()
    val jsonDir = dir.resolve("json").toString
    val reg = StructureDefinitions.shipped.registryFor(
      "http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient")
    val xml = Bundles.fromXml(
      Bundles.loadFromDirectory(spark, dir.resolve("xml").toString),
      "bundle_json", FhirSchemas.defaultRegistry, fhirTables)
    val xmlEntries = verb("xml_ingest") { _ =>
      xml.select(sum(size(col("bundle.entry")))).head().getLong(0)
    }
    verb("extract_write") { _ =>
      val json = Bundles.fromJson(Bundles.loadFromDirectory(spark, jsonDir),
        "bundle_json", FhirSchemas.defaultRegistry, fhirTables)
      Bundles.saveAsDatabase(spark, json.unionByName(xml), db, fhirTables)
    }
    verb("profile_extract") { _ =>
      Bundles.extractEntry(spark, Bundles.loadFromDirectory(spark, jsonDir),
        "Patient", Nil, reg).write.saveAsTable(s"$db.patient_uscore")
    }
    val roundTrip = verb("contained_tojson") { _ =>
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
    verb.rows.toSeq
  }

  // ===== loops =====

  /** One pass over the loops, each verb ending in one action. */
  private def loopsRound(): Seq[Row] = {
    import graft.closure.TransitiveClosure
    import graft.ops.{Dedup, Graphs}
    import spark.implicits._
    val verbs = new Verbs((_, r) => Seq("rounds" -> loopRounds(r.plans)))
    def verb(name: String)(result: => DataFrame): Unit =
      verbs(name)(_(result))
    val dag = dagEdges.map { case (a, c) => (a.toLong, c.toLong) }
    val (delta, base) = dag.partition { case (_, c) => c % 10 == 0 }
    verb("closureLong") {
      TransitiveClosure.closureLong(spark, dag.toDF("parent", "child"))
    }
    verb("closureLong loop") {
      TransitiveClosure.closureLongWith(spark, dag.toDF("parent", "child"),
        walkMaxEdges = TransitiveClosure.LoopOnly)
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
    verbs.rows.toSeq
  }

  /** The walk and the loop of both closure entries over the q106-shaped
    * tree of `edges` edges; each pair's checksums must be equal. */
  private def closureScaleRound(edges: Long): Seq[Row] = {
    import graft.closure.TransitiveClosure.{closureLongWith, closureWith,
      LoopOnly, WalkMaxEdges}
    val verbs = new Verbs((_, r) => Seq("rounds" -> loopRounds(r.plans)))
    val tree = spark.range(1, edges + 1)
      .select((col("id") / 2).cast("long").as("parent"), col("id").as("child"))
    val codes = tree.select(lit("urn:graft:tree").as("ancestorSystem"),
      col("parent").cast("string").as("ancestorValue"),
      lit("urn:graft:tree").as("descendantSystem"),
      col("child").cast("string").as("descendantValue"))
    for (gate <- Seq(WalkMaxEdges, LoopOnly)) {
      val path = if (gate == LoopOnly) "loop" else "walk"
      verbs(s"closure $path")(_(closureWith(spark, codes,
        maxIterations = 64, walkMaxEdges = gate)))
      verbs(s"closureLong $path")(_(closureLongWith(spark, tree,
        walkMaxEdges = gate)))
    }
    val sums = verbs.rows.toSeq.map { case (name, cols) =>
      name -> cols.toMap.apply("checksums") }.toMap
    Seq("closure", "closureLong").foreach(e => require(
      sums(s"$e walk") == sums(s"$e loop"), s"$e: walk != loop: $sums"))
    verbs.rows.toSeq
  }

  /** The string-keyed walk over a SNOMED-shaped DAG of about `edges`
    * distinct edges, with the peak heap of the build and count. */
  private def snomedWalk(edges: Long): Seq[Row] = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val concepts = edges * 5 / 8 + 1
    def sctid(c: Column): Column = (c * 1009 + 100000).cast("string")
    val ids = spark.range(1, concepts)
    val dag = ids.select(pmod(xxhash64(col("id"), lit(1)), col("id"))
        .as("parent"), col("id").as("child"))
      .union(ids.where(pmod(col("id"), lit(5)) < 3).select(
        pmod(xxhash64(col("id"), lit(2)), col("id")), col("id")))
      .select(lit("http://snomed.info/sct").as("ancestorSystem"),
        sctid(col("parent")).as("ancestorValue"),
        lit("http://snomed.info/sct").as("descendantSystem"),
        sctid(col("child")).as("descendantValue"))
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p =>
      p.getType == MemoryType.HEAP && p.getName.matches(".*(Old|Tenured).*"))
    val mb = 1L << 20
    def live(): Long = {
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) / mb
    }
    val before = live()
    old.foreach(_.resetPeakUsage())
    val verbs = new Verbs()
    var after = 0L
    verbs("closure walk") { out =>
      val walked = graft.closure.TransitiveClosure.closure(spark, dag,
        maxIterations = 64)
      after = live()
      out(walked)
    }
    verbs.rows.toSeq.map { case (name, cols) => name -> (cols ++ Seq(
      "distinct_edges" -> dag.distinct().count(),
      "live_heap_before_mb" -> before, "live_heap_after_build_mb" -> after,
      "old_gen_peak_mb" -> old.map(_.getPeakUsage.getUsed).sum / mb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / mb)) }
  }

  /** The executions whose plan joins over a checkpoint. */
  private[graft] def loopRounds(plans: Seq[String]): Int =
    plans.count(p => p.contains("Join") && p.contains("ExistingRDD"))

  // ===== in-query ANN =====

  /** One pass over the in-query IVF / IVF-PQ calls. */
  private def annInQueryRound(): Seq[Row] = {
    val q = corpus.where(col("vec_id") < 5)
    val seeds = corpus.where(col("vec_id") < 16)
    val verbs = new Verbs()
    def call(name: String)(result: => DataFrame): Unit =
      verbs(name)(_(result))
    call("q38 ivfTopKSeeded") {
      Similarity.ivfTopKSeeded(corpus, "vec_id", "embedding", q, "vec_id",
        "embedding", seeds, "vec_id", "embedding", k = 10, nprobe = 4)
    }
    call("q263 ivfPqTopK") {
      Similarity.ivfPqTopK(corpus, "vec_id", "embedding", q, "vec_id",
        "embedding", seeds, "vec_id", "embedding",
        codebookIds = 16L to 23L, inDims = 64, nSub = 8, k = 10,
        nProbe = 4)
    }
    call("q281 ivfPqTopKScaled") {
      Similarity.ivfPqTopKScaled(corpus, "vec_id", "embedding", q,
        "vec_id", "embedding", codebookIds = 16L to 23L, inDims = 64,
        nSub = 8, k = 10, trainer = "hash")
    }
    call("q284 ivfPqTopKTwoLevel") {
      Similarity.ivfPqTopKTwoLevel(corpus, "vec_id", "embedding", q,
        "vec_id", "embedding", codebookIds = 16L to 23L, inDims = 64,
        nSub = 8, k = 10)
    }
    call("q290 ivfPqTopKScaled + rerank") {
      Similarity.rerankExactTopK(corpus, "vec_id", "embedding", q,
        "vec_id", "embedding", Similarity.ivfPqTopKScaled(corpus,
          "vec_id", "embedding", q, "vec_id", "embedding",
          codebookIds = 16L to 23L, inDims = 64, nSub = 8, k = 30,
          trainer = "hash"), k = 10)
    }
    verbs.rows.toSeq
  }

  // ===== ANN near-dup =====

  /** One pass over the near-dup entry points. */
  private def annDedupRound(sparse: String, dense: String): Seq[Row] = {
    val batch = spark.range(0, 40).select((col("id") + 5000L).as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin(col("id") * 50 * 1.37 + j * 0.61 + 0.02).cast("float"))
        .as("embedding"))
    val exclude = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"))
    val tau = 950000L
    def raw(root: String) = Similarity.readIvfIndex(spark, s"$root/ivf")
    def pq(root: String) = Similarity.readIvfPqIndex(spark, s"$root/pq")
    val call = new Verbs()
    call("annNearDupPairs cap 0") { r =>
      r(Similarity.annNearDupPairs(raw(sparse), batch, "vec_id",
        "embedding", tau))
    }
    call("annNearDupPairs cap 2") { r =>
      r(Similarity.annNearDupPairs(raw(sparse), batch, "vec_id",
        "embedding", tau, maxPairsPerNew = 2))
    }
    call("annNearDupDropReport") { r =>
      r(Similarity.annNearDupDropReport(raw(sparse), batch, "vec_id",
        "embedding", tau, maxPairsPerNew = 2))
    }
    call("annNearDupPairsAndDropReport") { r =>
      Similarity.annNearDupPairsAndDropReport(raw(sparse), batch,
        "vec_id", "embedding", tau, maxPairsPerNew = 2,
        excludeIds = exclude) { (p, d) => r(p); r(d) }
    }
    call("annNearDupPairsPqAndDropReport") { r =>
      Similarity.annNearDupPairsPqAndDropReport(pq(sparse), raw(sparse),
        batch, "vec_id", "embedding", tau, maxPairsPerNew = 2,
        excludeIds = exclude) { (p, d) => r(p); r(d) }
    }
    call("annNearDupPairsPq cap 0") { r =>
      r(Similarity.annNearDupPairsPq(pq(sparse), raw(sparse), batch,
        "vec_id", "embedding", tau, excludeIds = exclude))
    }
    call("annNearDupAdcPrefilterReport") { r =>
      r(Similarity.annNearDupAdcPrefilterReport(pq(sparse), raw(sparse),
        batch, "vec_id", "embedding", tau))
    }
    call("annNearDupPairsAuto (routes raw)") { r =>
      r(Similarity.annNearDupPairsAuto(spark, s"$sparse/ivf",
        s"$sparse/pq", batch, "vec_id", "embedding", tau,
        maxPairsPerNew = 2))
    }
    call("annNearDupPairsAuto (routes PQ)") { r =>
      r(Similarity.annNearDupPairsAuto(spark, s"$dense/ivf",
        s"$dense/pq", batch, "vec_id", "embedding", tau,
        maxPairsPerNew = 2))
    }
    call.rows.toSeq
  }

  /** The dedup streams (single-index, dual-index on both roots) and the
    * probe stream, each against a fresh root: per batch whether one of
    * its SQL executions scans the quantizer tables. */
  private def annStreamRound(): Seq[Row] = Seq[(String, Int,
      (DataFrame, String) => StreamingQuery)](
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
    .flatMap { case (name, cells, start) =>
      val root = buildRoot(cells)
      val in = deltaStream(root,
        (id, j) => sin((id - 2000) * 1.37 + j * 0.61 + 0.02))
      batchRows(s"stream $name", start(in, root)) { (_, r, _) =>
        Seq("scans_quantizer_tables" -> r.plans.exists(p =>
          p.contains("/centroids") || p.contains("/codebook")))
      }
    }

  // ===== one query in a fresh JVM =====

  /** `reps` timed counts of the `SparkEntry` query `name` at `dir` after a
    * warm-up at sf0.001 (codegen and parquet footers, as Bench warms):
    * per rep its row, then the last rep's stages, heaviest first; the
    * formatted plan goes to `query_<name>_<tag>_plan.txt`. */
  private def query(outDir: String, tag: String, name: String, dir: String,
      reps: Int): Unit = {
    val fn = graft.SparkEntry.queries(name)
    try fn(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }
    val runs = (1 to reps).map { i =>
      var n = 0L
      val t0 = System.nanoTime()
      val r = TestJobs.record(spark) { n = fn(spark, dir).count() }
      val s = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $name rep $i: $s%.3f s rows=$n")
      (verbRow(s"rep $i", r, s, Nil, Seq("rows" -> n,
        "stages" -> r.stages.size)), r.stages)
    }
    val stages = runs.last._2.sortBy(-_.runMs).map { s =>
      s"stage ${s.id}" -> Seq("wall_ms" -> s.wallMs, "run_ms" -> s.runMs,
        "cpu_ms" -> s.cpuMs, "shuffle_read" -> s.shuffleRead,
        "shuffle_write" -> s.shuffleWrite, "input" -> s.input,
        "spill" -> s.spill, "tasks" -> s.tasks, "call_site" -> s.name.take(90))
    }
    val (rows, sum) = rowsAndSum(fn(spark, dir))
    println(s"PROBE $name checksum: rows=$rows xxhash64-sum=$sum")
    report(outDir, s"query_$name", tag, runs.map(_._1) :+ ("result" ->
      Seq("rows" -> rows, "checksums" -> Seq(sum))), stages)
    Files.writeString(Paths.get(outDir, s"query_${name}_${tag}_plan.txt"),
      fn(spark, dir).queryExecution.explainString(FormattedMode))
  }

  // ===== ADC-prefiltered near-dup routing =====

  /** The clustered, PQ-compressible corpus the ADC prefilter (and IVF-PQ
    * itself) exists for. Each vector's 8-dim subspace blocks are drawn
    * from a shared 64-pattern pool keyed by the row's cluster (id mod
    * `nClusters`), so a 256-sample codebook reconstructs almost exactly
    * while distinct clusters collide on a block with probability 1/64:
    * same-cluster cosine ≈ 0.995, cross-cluster ≤ 0.58 (measured max).
    * At τ = 0.8 a probed cell's candidates are mostly refutable — the
    * real dedup shape: few true duplicates among many coarse-cell
    * neighbours. */
  private def synthClustered(from: Long, until: Long,
      nClusters: Long): DataFrame =
    spark.range(from, until).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => {
        val cl = pmod(col("id"), lit(nClusters))
        // a nonlinear pool hash of (cluster, block): a linear form makes
        // the 8 pool choices of two clusters shift together, collapsing
        // thousands of clusters into ~64 twins
        val hx = sin((cl * 8 + floor(j / 8).cast("long")) * 12.9898) *
          43758.5453
        val pool = floor((hx - floor(hx)) * 64).cast("long")
        // fract-sin pattern values: near-iid uniform in [-1, 1], so
        // blocks of different pools are near-orthogonal
        val base = sin(pool * 378.233 + j * 12.9898) * 43758.5453
        ((base - floor(base)) * 2 - 1 +
          sin(col("id") * 97.17 + j * 31.7) * 0.05).cast("float")
      }).as("embedding"))

  /** Per corpus size `n` (√n cells, one cluster per 16 rows), both roots
    * built afresh, then the raw capped dedup, the ADC-prefiltered one and
    * the prefilter report for the next 10k ids (which have same-cluster
    * near-duplicates in the corpus), each timed twice with the minimum
    * kept (a real cost is slow both times, a host stall is not). */
  private def dedupPrefilter(sizes: Seq[Long]): Seq[Row] = sizes.map { n =>
    def timed[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def timeMin[T](body: => T): (Double, T) = {
      val (t1, r) = timed(body)
      (math.min(t1, timed(body)._1), r)
    }
    val cells = math.ceil(math.sqrt(n.toDouble)).toInt
    val nClusters = math.max(64L, n / 16L)
    val root = Files.createTempDirectory("probe_prefilter").toString
    val corpus = synthClustered(0L, n, nClusters)
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", cells)
    val (tBuildRaw, _) = timed(Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", seeds, "sid",
        "svec", twoLevelThreshold = 1), s"$root/raw"))
    val (tBuildPq, _) = timed {
      val pq = Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding",
        seeds, "sid", "svec", codebookIds = 0L until 256L, inDims = 64,
        nSub = 8, twoLevelThreshold = 1)
      Similarity.writeIvfPqIndex(pq, s"$root/pq")
      graft.Lineage.retireDependents(pq.codes)
    }
    val raw = Similarity.readIvfIndex(spark, s"$root/raw")
    val pq = Similarity.readIvfPqIndex(spark, s"$root/pq")
    val batch = synthClustered(n, n + 10000L, nClusters)
    val (tRaw, nRaw) = timeMin(Similarity.annNearDupPairs(raw, batch,
      "vec_id", "embedding", thresholdPpm = 800000L, nprobe = 4,
      maxPairsPerNew = 8).count())
    val (tPre, nPre) = timeMin(Similarity.annNearDupPairsPq(pq, raw, batch,
      "vec_id", "embedding", thresholdPpm = 800000L, nprobe = 4,
      maxPairsPerNew = 8).count())
    val (tReport, rep) = timeMin(Similarity.annNearDupAdcPrefilterReport(
      pq, raw, batch, "vec_id", "embedding", thresholdPpm = 800000L,
      nprobe = 4).collect().head)
    require(nRaw == nPre,
      s"the prefilter lost pairs at n=$n: raw $nRaw, prefiltered $nPre")
    val routesPq = Similarity.annNearDupRoutesToPq(spark, s"$root/raw")
    s"n=$n" -> Seq("cells" -> cells, "build_raw_sec" -> tBuildRaw,
      "build_pq_sec" -> tBuildPq, "dedup_raw_capped_sec" -> tRaw,
      "dedup_adc_prefiltered_sec" -> tPre, "pairs_raw" -> nRaw,
      "pairs_prefiltered" -> nPre,
      "postings_per_cell" -> n.toDouble / cells,
      "route_threshold" -> Similarity.adcPrefilterRouteMinPostingsPerCell,
      "auto_routes_to_pq" -> routesPq,
      "route_agrees_with_walls" -> (routesPq == (tPre < tRaw)),
      "prefilter_report_sec" -> tReport,
      "n_candidates" -> rep.getLong(0), "n_prefilter_kept" -> rep.getLong(1),
      "n_pairs" -> rep.getLong(2),
      "pruned_candidate_share_ppm" -> rep.getLong(3))
  }
}
