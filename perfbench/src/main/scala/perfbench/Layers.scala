package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run. A named call's time is its mean over
  * the calls made; engine counters and self times are per round of the
  * timed phase (one cohort query, one index cycle), so runs
  * of different lengths compare. A layer a workload only calls during
  * set-up (cohort_query's ingest, terminology build and closure) is reported from
  * those set-up calls, once per run. */
object Layers {

  val ProgramLayers: Seq[String] = Seq("fhir", "terminology", "closure", "ops", "streaming", "bench")

  /** Every per-layer metric, in BENCHMARK.json order, with its unit. */
  val Names: Seq[(String, String)] = Seq(
    "fhir.schema_compile_s" -> "s", "fhir.extract_write_s" -> "s",
    "fhir.xml_ingest_s" -> "s", "fhir.profile_extract_s" -> "s",
    "fhir.rows_written" -> "count", "fhir.input_read_amplification" -> "ratio",
    "closure.closure_s" -> "s", "closure.jobs" -> "count",
    "closure.ancestor_rows" -> "count", "closure.shuffle_bytes" -> "bytes",
    "terminology.import_s" -> "s", "terminology.table_write_s" -> "s",
    "terminology.table_read_s" -> "s", "terminology.broadcast_build_s" -> "s",
    "terminology.broadcast_codes" -> "count", "terminology.broadcast_bytes" -> "bytes",
    "terminology.udf_push_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.slot_busy_ratio" -> "ratio", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s", "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "driver.only_s" -> "s",
    "streaming.batches" -> "count", "streaming.add_batch_p50_s" -> "s",
    "streaming.compact_batch_p50_s" -> "s", "streaming.overhead_p50_s" -> "s",
    "streaming.jobs_per_batch" -> "count",
    "ops.index_build_s" -> "s", "ops.index_read_s" -> "s", "ops.probe_exec_s" -> "s",
    "ops.index_files" -> "count", "ops.index_bytes_per_vector" -> "bytes",
    "self.fhir_s" -> "s", "self.terminology_s" -> "s", "self.closure_s" -> "s",
    "self.ops_s" -> "s", "self.streaming_s" -> "s", "self.bench_s" -> "s")

  def report(ctx: Ctx, w: Workload, counters: SpanCounters, phases: PhaseTimes,
      rounds: Int, wall0: Long, wall1: Long): Seq[(String, Double, String)] = {
    val r = rounds.toDouble
    val (timed, setup) = ctx.tracer.spans.toSeq.partition(_.startNs >= wall0)
    // a layer's calls in the timed phase, or in set-up when the workload
    // only calls it there (cohort_query's ingest and terminology build)
    def calls(p: Span => Boolean): Seq[Span] = {
      val t = timed.filter(p)
      if (t.nonEmpty) t else setup.filter(p)
    }
    def spanS(names: String*): Double = {
      val c = calls(s => names.contains(s.name))
      if (c.isEmpty) 0.0 else c.map(_.durNs).sum / 1e9 / c.size
    }
    // counts over timed calls are per round; over set-up calls, per run
    def counted(layer: String) = {
      val c = calls(_.layer == layer)
      (c, counters.sum(c.map(_.id).toSet), if (c.exists(_.startNs >= wall0)) r else 1.0)
    }
    val all = counters.sum(timed.map(_.id).toSet)
    val (_, fhir, fhirPer) = counted("fhir")
    val (closureCalls, closure, closurePer) = counted("closure")
    val (_, streaming, _) = counted("streaming")
    val extras = w.layerExtras(ctx)
    val self = Tracer.selfTimes(timed)
    val setupSelf = Tracer.selfTimes(setup)
    val timedMs = (wall1 - wall0) / 1e6
    val jobMs = Stats.unionLength(counters.jobs.toSeq.map { case (s, e) =>
      (math.max(s, wall0 / 1000000L), math.min(e, wall1 / 1000000L)) })
    val inputBytes = extras.getOrElse("fhir.bundle_bytes", 0.0)
    val values: Map[String, Double] = Map(
      "fhir.schema_compile_s" -> spanS("schema_compile"),
      "fhir.extract_write_s" -> spanS("extract_write"),
      "fhir.xml_ingest_s" -> spanS("xml_ingest"),
      "fhir.profile_extract_s" -> spanS("profile_extract"),
      "fhir.rows_written" -> fhir.outputRecords / fhirPer,
      "fhir.input_read_amplification" ->
        (if (inputBytes > 0) fhir.inputBytes / (inputBytes * fhirPer) else 0.0),
      "closure.closure_s" -> closureCalls.map(_.durNs).sum / 1e9 / closurePer,
      "closure.jobs" -> closure.jobs / closurePer,
      "closure.shuffle_bytes" -> closure.shuffleWrite / closurePer,
      "terminology.import_s" -> spanS("import"),
      "terminology.table_write_s" -> spanS("table_write"),
      "terminology.table_read_s" -> spanS("table_read"),
      "terminology.broadcast_build_s" -> spanS("broadcast_build"),
      "terminology.udf_push_s" -> spanS("udf_push", "udf_pop"),
      "catalyst.analysis_s" -> phases.analysisMs / 1e3 / r,
      "catalyst.optimization_s" -> phases.optimizationMs / 1e3 / r,
      "catalyst.planning_s" -> phases.planningMs / 1e3 / r,
      "spark.jobs" -> all.jobs / r, "spark.stages" -> all.stages / r,
      "spark.tasks" -> all.tasks / r,
      "spark.executor_run_s" -> all.runMs / 1e3 / r,
      "spark.executor_cpu_s" -> all.cpuNs / 1e9 / r,
      "spark.slot_busy_ratio" -> all.runMs / (timedMs * Main.Cores),
      "spark.shuffle_read_bytes" -> all.shuffleRead / r,
      "spark.shuffle_write_bytes" -> all.shuffleWrite / r,
      "spark.spill_bytes" -> all.spill / r,
      "spark.gc_s" -> all.gcMs / 1e3 / r,
      "spark.input_bytes" -> all.inputBytes / r,
      "spark.output_bytes" -> all.outputBytes / r,
      "driver.only_s" -> (timedMs - jobMs) / 1e3 / r,
      "streaming.jobs_per_batch" -> {
        val b = extras.getOrElse("streaming.batches", 0.0) * r
        if (b > 0) streaming.jobs / b else 0.0
      },
      "ops.index_build_s" -> spanS("index_build"),
      "ops.index_read_s" -> spanS("index_read"),
      "ops.probe_exec_s" -> spanS("probe")) ++
      ProgramLayers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0L) / 1e9 / r) ++ extras
    def dominantOf(t: Map[String, Long]) =
      if (t.isEmpty) "none" else ProgramLayers.maxBy(l => t.getOrElse(l, 0L))
    val dominant = dominantOf(self)
    val setupDominant = dominantOf(setupSelf)
    // "driver" is wall time no job covers, so it includes Catalyst's phases
    val engine = Seq("catalyst" -> (phases.analysisMs + phases.optimizationMs + phases.planningMs) / 1e3,
      "spark" -> jobMs / 1e3, "driver" -> (timedMs - jobMs) / 1e3)
    println(f"trace dominant_layer=$dominant setup_dominant_layer=$setupDominant " +
      f"dominant_engine_layer=${engine.maxBy(_._2)._1} rounds=$rounds spans=${timed.size} " +
      engine.map { case (k, v) => f"$k=$v%.3fs" }.mkString(" "))
    Names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  def dumpSpans(spans: Seq[Span], workload: String, seed: Long, out: Path): Unit = {
    val run = s"$workload-$seed"
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run": ${Stats.quote(run)}, "id": ${s.id}, "parent": ${s.parent}, "layer": ${Stats.quote(s.layer)}, "name": ${Stats.quote(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    Files.write(out, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
