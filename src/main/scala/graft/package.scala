import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.FutureAction
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution

/** Graft — a Spark-native analytics engine with the query and
  * data-processing surface of cerner/bunsen, re-expressed as idiomatic
  * DataFrame/Catalyst code, plus the operator families a large-scale
  * training-data pipeline needs (dedup, similarity search, text
  * analysis, sketches, profiling, layout, streaming).
  *
  * ==Namespace index==
  *
  *   - [[graft.fhir]] — FHIR bundle ingestion (JSON/XML/Avro), resource
  *     extraction, composite encode/decode, profile-driven schemas,
  *     codegen'd specific-record analogs.
  *   - [[graft.terminology]] — value sets, concept maps, hierarchies:
  *     loaders (LOINC CSV, SNOMED RF2, FHIR resources), persistence
  *     (partitioned tables, guarded inserts), broadcast membership /
  *     translation UDFs and their Catalyst forms.
  *   - [[graft.closure]] — distributed transitive closure
  *     (prefix-doubling, cycle-safe, incremental `addEdges`).
  *   - [[graft.ops]] — the batch operator library: dedup, similarity,
  *     text analysis, sketches, graphs, profiling, splits/mixing,
  *     layout, range/as-of joins, media. See the per-object Scaladoc;
  *     every public method documents its scale shape.
  *   - [[graft.streaming]] — Structured Streaming forms: windowed and
  *     session aggregation, streaming dedup/enrichment, interval joins,
  *     SCD2, mergeable-sketch maintenance, funnels.
  *   - [[graft.functions]] — native Catalyst expressions and bounded
  *     aggregates (codegen'd hash kernels, bounded_collect_set,
  *     topk_by_score, KMV) shared by the operator families.
  *   - [[graft.plans]] — optimizer rules (range-join and
  *     edit-distance-join rewrites) registered via
  *     `SparkSessionExtensions`.
  *   - [[graft.sources]] — input normalization (event-time physical
  *     encodings).
  *
  * ==Conventions==
  *
  *   - Exact integer arithmetic (bigint / decimal(38,0) with floor-ppm
  *     ratios) wherever an external engine must reproduce results
  *     hash-exactly; doubles only at documented output boundaries.
  *   - Iterative fixpoints truncate lineage per round ([[graft.Lineage]]),
  *     retire superseded checkpoints, run on isolated child sessions
  *     (`graft.ConfScope`, library-internal) with loop-sized shuffle
  *     widths, and switch to reliable checkpoints via the
  *     `graft.checkpoint.dir` conf.
  *   - Bounded state everywhere: LSH buckets are capped (with drop
  *     accounting and recursive refinement), aggregation buffers are
  *     O(k), driver-side collects are constant-size by construction.
  */
package object graft {

  /** The one local session configuration of every main here (Verify,
    * Bench, Smoke and the test-scope `graft.tools.ProbeJobs`): `cpus`
    * cores and as many shuffle partitions, the only setting that differs
    * by main. The graft SQL functions and optimizer rules are installed
    * once, at build time ([[graft.functions.GraftExtensions]]), so no
    * query adds a rule to the shared session. */
  private[graft] def localSession(cpus: String)
      : org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The bounded-buffer object aggregates (topk_by_score,
      // bounded_collect_set) keep O(k) state per key, so the engine's
      // conservative 128-key sort-fallback would turn a cheap hash
      // aggregation into a full sort-and-spill of the scored input
      // (measured: 2.5x on 10x-scale margin mining). 64Ki keys x the
      // bounded buffers stays well inside executor memory.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .config("spark.ui.enabled", "false")
      // Even with the UI disabled, the app-status stores retain
      // per-execution SQL plan graphs (default 1000 executions) and
      // per-job/stage/task rows in driver heap. Over a full query suite,
      // compiled-FHIR-schema plan strings are gigabytes of
      // dead-but-referenced state (a measured 2.3 -> 30 GB heap climb).
      // Bound them hard: the mains only need the telemetry they collect
      // themselves.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()

  /** The distinct rows of `frame`, or None when there are more than `cap`:
    * the bounded driver collect, in one job. Each task deduplicates its
    * partition and stops past `cap` rows (returning none); the driver
    * merges up to `cap` + 1 and cancels the job once past `cap`, so it
    * holds at most `cap` + 1 rows plus the task results in flight. */
  private[graft] def distinctAtMost(frame: org.apache.spark.sql.DataFrame,
      cap: Int): Option[Array[UnsafeRow]] = {
    val schema = frame.schema
    val rdd = frame.queryExecution.toRdd
    val merged = new java.util.HashSet[UnsafeRow]()
    var over = false
    lazy val job: FutureAction[Unit] = frame.sparkSession.sparkContext
      .submitJob(rdd, (rows: Iterator[InternalRow]) => {
        val unsafe = UnsafeProjection.create(schema)
        val local = new java.util.HashSet[UnsafeRow]()
        while (rows.hasNext && local.size <= cap)
          local.add(unsafe(rows.next()).copy())
        if (local.size > cap) null else local.toArray(new Array[UnsafeRow](0))
      }, rdd.partitions.indices, (_: Int, part: Array[UnsafeRow]) => {
        if (part == null) over = true
        else part.iterator.takeWhile(_ => merged.size <= cap).foreach(merged.add)
        if (over || merged.size > cap) { over = true; job.cancel() }
      }, ())
    SQLExecution.withNewExecutionId(frame.queryExecution, Some("collect")) {
      Await.ready(job, Duration.Inf)
    }.value.get.recover { case _ if over => }.get
    Option.when(!over)(merged.toArray(new Array[UnsafeRow](0)))
  }
}
