package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.fhir.{Bundles, FhirSchemas}
import graft.ops.Similarity

/** Structured Streaming surface — beyond reference parity (the reference has
  * no streaming at all, SURVEY §2.10): streaming bundle ingestion reusing
  * the exact batch `from_json` path, and watermarked windowed event
  * aggregation. At scale this is the continuous-ingest front door: the same
  * compiled schemas and extraction expressions serve batch and stream, so
  * there is one codepath to validate.
  */
object Streams {

  /** Fully-qualified class name of Spark's built-in RocksDB state-store
    * provider (in Spark since 3.2; the rocksdbjni jar ships with the
    * distribution). */
  val RocksDbProviderClass: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  /** Run `body` (streaming query construction + start) with the RocksDB
    * state-store provider pinned (r13 directive #4), restoring the conf
    * after.
    *
    * WHY at 100 TB: the default HDFS-backed provider keeps every state
    * row ON-HEAP in the executor (one map per store per partition) —
    * state is then bounded by executor memory. This library's operators
    * bound their state by DESIGN (see each operator's doc): watermarked
    * windows hold only open windows; [[streamingDedup]]/the media dedup
    * index hold one row per distinct key INSIDE the watermark;
    * [[scd2Stream]] holds exactly the OPEN run per key (closed runs are
    * emitted and dropped); interval joins buffer only rows inside the
    * watermark band; [[windowedKmvDistinct]]/sketch maintenance hold
    * O(k) longs per window regardless of cardinality. But the
    * keyed-state families (dedup index, SCD2, stream-stream joins) are
    * bounded by DISTINCT KEYS, and at corpus-scale key counts
    * (billions of doc ids / users) that bound exceeds heap — RocksDB
    * spills state to local disk with an off-heap block cache, making
    * state size a disk budget instead of an OOM. The provider is a
    * pure storage swap: results are bit-identical (StreamsRocksDbSpec
    * re-runs every ≡-batch suite under it; oracle row q285 = q134
    * under RocksDB).
    *
    * Conf, not constructor: the provider class is read from the
    * SESSION conf at query start, so the scope must wrap `.start()` —
    * [[runToMemory]]/[[runToParquet]] calls inside `body` are covered.
    * Save/set/restore on the shared session conf (single-threaded query
    * construction assumed, the documented [[graft.ConfScope.withConf]]
    * caveat). */
  def withRocksDbState[T](spark: SparkSession)(body: => T): T =
    graft.ConfScope.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass",
      RocksDbProviderClass)(body)

  /** Streaming FHIR-bundle source: watch a directory of single-line-JSON
    * bundle files and extract one resource type continuously. The
    * transformation is *identical* to the batch path (Bundles.extractEntry
    * expressions) — only the source is `readStream`. */
  def bundleStream(spark: SparkSession, path: String,
      resourceName: String): DataFrame = {
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(path)
      .withColumnRenamed("value", "bundle_json")
    // envelope restricted to the one extracted type — the same
    // ingest-throughput knob as the batch path (full-registry merges
    // parse every row against every resource's fields)
    Bundles.extractEntry(spark, Bundles.fromJson(raw, "bundle_json",
      FhirSchemas.defaultRegistry, Seq(resourceName)), resourceName)
  }

  /** Run a streaming DataFrame into an in-memory table until all currently
    * available input is processed; returns the materialized result. Local
    * test/driver harness for the streaming path.
    *
    * `statePartitions`: a stateful query fixes its state-store partition
    * count from `spark.sql.shuffle.partitions` AT START and keeps it for
    * life — size it to the expected distinct-key count (each partition
    * costs a state store to initialize/commit every batch; thousands of
    * windows do not need hundreds of stores). Temporarily applied around
    * query start and restored. */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
      outputMode: String = "append",
      statePartitions: Option[Int] = None): DataFrame = {
    graft.ConfScope.withShuffleWidth(spark, statePartitions) {
      val q: StreamingQuery = stream.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      // stop in finally: a failed micro-batch must not leak a running
      // query registered under `name` (the next run would refuse to start)
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Production sink: append-mode partitioned parquet with checkpointing —
    * the shape that runs continuously on a cluster (exactly-once via the
    * checkpoint + file-sink manifest; `complete`+memory is only the local
    * test harness). Watermark closure emits each window once, so the sink
    * receives append-only finalized rows. Returns the running query; caller
    * owns its lifecycle. */
  def runToParquet(stream: DataFrame, outPath: String,
      checkpointPath: String,
      partitionCols: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val writer = stream.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).start()
  }

  /** Watermarked sliding/tumbling window aggregation over an event stream:
    * the Structured Streaming form of the q19 batch bucketing. `complete`
    * output keeps every window so the result equals the batch equivalent on
    * a static directory. */
  def windowedEventAgg(events: DataFrame, watermark: String = "1 hour",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Hopping (sliding) windowed aggregation: overlapping windows of
    * `windowDur` every `slideDur` — each event lands in
    * windowDur/slideDur windows, the shape behind "rate over the last
    * hour, refreshed every 30 minutes". State grows by that same factor
    * over tumbling windows (one row per (window, key) with
    * windowDur/slideDur concurrent windows open per key), still bounded
    * by the watermark — per-event fan-out is the planned cost of the
    * fresher read, not a leak. Epoch-aligned window starts, so an
    * external engine reproduces the window assignment arithmetically. */
  def hoppingWindowAgg(events: DataFrame, watermark: String = "1 hour",
      windowDur: String = "1 hour",
      slideDur: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming per-window value histogram — the live tail of the batch
    * drift monitor ([[graft.ops.Profiling.driftReport]]): counts per
    * (event-time window, deterministic value bin), maintained
    * incrementally in the state store. Bins are value-pure
    * (`least(floor(v / width), nBins−1)`), so every micro-batch routes a
    * row to the same cell a batch recount would — the memory-sink table
    * is bit-equal to the batch groupBy the oracle runs. State per
    * window: `nBins` longs. */
  def windowedHistogram(events: DataFrame, valueCol: String,
      binWidth: Double, nBins: Int, watermark: String = "1 hour",
      window_ : String = "1 hour"): DataFrame = {
    val bin = least(greatest(floor(col(valueCol) / binWidth), lit(0)),
      lit(nBins - 1)).cast("int")
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), window_).as("w"), bin.as("bin"))
      .groupBy(col("w"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour"), col("bin"), col("n"))
  }

  /** Streaming distinct-cardinality per window via the KMV sketch: the
    * k-minimum-values aggregate (graft.functions.KMinValues) is a
    * TypedImperativeAggregate, so it runs INSIDE the streaming state
    * store — per-window state is k longs, not a distinct-user set.
    * Streaming `count(DISTINCT ...)` is unsupported/unbounded; the
    * mergeable sketch is the production answer ("distinct users per
    * hour" over an unbounded stream with bounded state). The estimate
    * uses the portable hash, so an external engine reproduces the exact
    * same sketch and estimate from the batch data. */
  def windowedKmvDistinct(events: DataFrame, keyCol: String,
      watermark: String = "1 hour", window_ : String = "1 hour",
      k: Int = 64): DataFrame = {
    val h = conv(substring(md5(col(keyCol).cast("string")
      .cast("binary")), 1, 15), 16, 10).cast("long")
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), window_).as("w"), h.as("h"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.GraftFunctions.kminValues(col("h"), k).as("kmv"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("n_events"),
        size(col("kmv")).as("n_sketch"),
        when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble * math.scalb(1.0, 60)) /
            element_at(col("kmv"), k).cast("double")).cast("long"))
          .as("est_distinct"))
  }

  /** Streaming exact deduplication: emits the FIRST occurrence of each key
    * and drops later arrivals — `dropDuplicatesWithinWatermark`, the
    * state-BOUNDED streaming form of batch `distinct`. Per-key state is
    * evicted once the watermark passes first-seen + `watermark` delay, so
    * the state store scales with key arrival rate × delay, not with stream
    * lifetime (plain streaming `dropDuplicates` on non-time keys grows
    * forever — a 100 TB pipeline cannot run it). Duplicates separated by
    * more than the delay re-emit; downstream idempotent sinks (or the
    * batch dedup over the landed table) absorb that tail.
    *
    * On a static directory with a delay covering the input's time range
    * this equals batch `SELECT DISTINCT keys`, which is how the q43 oracle
    * verifies the streaming path. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Continuous incremental near-dedup: every micro-batch of documents is
    * LSH-hashed once, joined against the PERSISTED corpus band index for
    * cross-batch candidates (appended to `pairsPath`), and its own buckets
    * appended to the index — so each batch dedups against everything
    * ingested before it and the corpus is never re-shingled. This is the
    * steady-state 100 TB shape: per batch, work is proportional to the
    * batch, plus one equi-join against the index.
    *
    * Within-batch duplicates are the batch operator's job
    * (`Dedup.minhashCandidatePairs` on the micro-batch) — this stream only
    * adds the cross-batch increment. foreachBatch is at-least-once: on
    * retry a batch may append its buckets twice, which can only produce
    * duplicate candidate PAIRS (dedup downstream is idempotent), never
    * missed ones. */
  def incrementalDedupStream(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, pairsPath: String, checkpointPath: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    bandIndexStream(docs, indexPath, pairsPath, checkpointPath, trigger)(
      graft.ops.Dedup.minhashBandBuckets(_, idCol, textCol, shingleSize,
        numHashes, bands))(
      graft.ops.Dedup.incrementalMinhashCandidates(_, _))

  /** Starts `stream` with `body` run on each micro-batch and its id —
    * the foreachBatch start of every stream here that writes its own
    * sinks, under `checkpointPath` and `trigger`. */
  private def eachBatch(stream: DataFrame, checkpointPath: String,
      trigger: Trigger)(body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) => body(batch, batchId)
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .start()

  /** The body of the band-index dedup streams: each micro-batch's
    * `buckets` (persisted for the batch) are probed against the index at
    * `indexPath` — read, or typed-empty before the first batch lands —
    * by `candidates`, the pairs appended to `pairsPath`, then the
    * buckets appended to the index. */
  private def bandIndexStream(stream: DataFrame, indexPath: String,
      pairsPath: String, checkpointPath: String, trigger: Trigger)(
      buckets: DataFrame => DataFrame)(
      candidates: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    eachBatch(stream, checkpointPath, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      val b = buckets(batch).persist()
      try {
        val ip = new org.apache.hadoop.fs.Path(indexPath)
        val index =
          if (ip.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(ip)) spark.read.parquet(indexPath)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            b.schema)
        candidates(index, b).write.mode("append").parquet(pairsPath)
        b.write.mode("append").parquet(indexPath)
      } finally { b.unpersist(); () }
    }

  /** Incremental MEDIA near-dedup against a persisted perceptual-hash
    * band index — the steady-state shape for a growing 100 TB image
    * corpus: each arriving micro-batch of image assets is pHashed by the
    * real decode kernel, its band buckets are probed against the
    * persisted index (equi-join on the bucket key only — the corpus is
    * never rescanned), cross-batch near-dup pairs are appended, and the
    * batch's buckets join the index. The media analog of
    * [[incrementalDedupStream]], with the same at-least-once
    * idempotency: a retried batch can duplicate candidate PAIRS, never
    * miss one. */
  def incrementalMediaDedupStream(assets: DataFrame,
      indexPath: String, pairsPath: String, checkpointPath: String,
      maxHamming: Int = 10,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    incrementalSignatureDedupStream(assets, indexPath, pairsPath,
      checkpointPath, maxHamming, trigger,
      toSigs = (spark, batch) =>
        graft.ops.Multimodal.perceptualHashes(spark, batch)
          .where(col("phash").isNotNull)
          .select(col("asset_id").as("id"), col("phash").as("sig")))

  /** Incremental SIGNATURE near-dedup against a persisted band index —
    * the kernel-independent core of [[incrementalMediaDedupStream]]:
    * each micro-batch is mapped to (id, sig) rows by `toSigs` (the pHash
    * decode kernel in the media stream; identity for a stream that
    * already carries signatures, which is the oracle-verifiable form),
    * banded, probed against the persisted index on the bucket key only,
    * cross-batch pairs appended, and its buckets appended to the index.
    * Work per batch is proportional to the batch; the corpus is never
    * rescanned. At-least-once idempotency: a retried batch can duplicate
    * candidate PAIRS, never miss one. */
  def incrementalSignatureDedupStream(stream: DataFrame,
      indexPath: String, pairsPath: String, checkpointPath: String,
      maxHamming: Int = 10,
      trigger: Trigger = Trigger.AvailableNow(),
      toSigs: (SparkSession, DataFrame) => DataFrame =
        (_, b) => b): StreamingQuery =
    bandIndexStream(stream, indexPath, pairsPath, checkpointPath, trigger)(
      batch => graft.ops.Dedup.simhashBandBuckets(
        toSigs(batch.sparkSession, batch)))(
      graft.ops.Dedup.incrementalSimhashCandidates(_, _, maxHamming))

  /** Late-data audit: one row per micro-batch recording how much of the
    * batch arrived behind the stream's event-time frontier — the
    * observability a watermarked pipeline NEEDS, because watermarked aggs
    * silently DROP late rows: without this audit, lateness looks like
    * lower traffic. The frontier is replayed from the audit sink itself
    * (max event time across prior batches), so the audit restarts
    * correctly from its own output with no driver state to lose; the
    * cutoff is frontier − `delaySeconds`, mirroring the engine's
    * watermark arithmetic on exact integer micros.
    *
    * Per batch: one aggregate over the batch + one tiny read of the audit
    * table's max — work proportional to the batch, audit rows one per
    * batch. foreachBatch is at-least-once: a replayed batch re-appends
    * its audit row; consumers key by batch_id. */
  def lateDataAudit(events: DataFrame, tsCol: String, delaySeconds: Long,
      auditPath: String, checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(events, checkpointPath, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val ap = new org.apache.hadoop.fs.Path(auditPath)
      val exists = ap.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(ap)
      val frontier: Option[Long] =
        if (!exists) None
        else {
          val r = spark.read.parquet(auditPath)
            .agg(max(col("max_ts_us"))).head()
          if (r.isNullAt(0)) None else Some(r.getLong(0))
        }
      val cutoff = frontier.map(_ - delaySeconds * 1000000L)
      val r = batch
        .select(unix_micros(col(tsCol)).as("ts_us"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ts_us")).as("min_ts_us"),
          max(col("ts_us")).as("max_ts_us"),
          sum(when(col("ts_us") <
            lit(cutoff.getOrElse(Long.MinValue)), 1L).otherwise(0L))
            .as("n_late")).head()
      if (r.getLong(0) > 0) {
        // min/max are null when every event timestamp in the batch is
        // null — malformed data degrades to a null-bounded audit row,
        // it never kills the query (same discipline as the ingest
        // paths). Boxed Longs + an explicit nullable schema keep the
        // parquet append well-typed.
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val auditSchema = StructType(Seq(
          StructField("batch_id", LongType, nullable = false),
          StructField("n_rows", LongType, nullable = false),
          StructField("n_late", LongType, nullable = false),
          StructField("min_ts_us", LongType, nullable = true),
          StructField("max_ts_us", LongType, nullable = true)))
        val row = Row(batchId, r.getLong(0), r.getLong(3),
          r.getAs[java.lang.Long]("min_ts_us"),
          r.getAs[java.lang.Long]("max_ts_us"))
        spark.createDataFrame(
            java.util.Collections.singletonList(row), auditSchema)
          .write.mode("append").parquet(auditPath)
      }
    }

  // ---- custom stateful operator: streaming sessionization ----------------

  /** One input event for [[sessionStream]]. */
  case class SEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)

  /** Per-user state: `counter` sessions closed so far (keeps session ids
    * stable across the user's lifetime), plus the open session if any
    * (bounds in epoch-micros). ~40 bytes per user — the state store scales
    * to user count, not event count. */
  case class SessionAcc(counter: Long, hasOpen: Boolean, openStart: Long,
      openEnd: Long, openN: Long)

  /** One finalized session — same shape as the batch
    * [[graft.ops.Sessions.sessionStats]] row. */
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  private def micros(t: java.sql.Timestamp): Long =
    (t.getTime / 1000) * 1000000L + t.getNanos / 1000
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000L * 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** One input event for [[scd2Stream]]. */
  case class AEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      attr: String)

  /** Per-user SCD2 state: the OPEN run (attribute value + start) and its
    * 1-based version. O(1) per user — the dimension's current row,
    * maintained incrementally. */
  case class Scd2Acc(version: Int, hasOpen: Boolean, attr: String,
      fromUs: Long)

  /** One CLOSED validity interval — the batch [[graft.ops.Sessions.scd2]]
    * row shape minus the open (is_current) run, which by definition has
    * not closed yet. */
  case class Scd2Out(user_id: Long, attr: String, valid_from_us: Long,
      valid_to_us: Long, version: Int)

  /** Streaming SCD Type-2 maintenance — the incremental form of the batch
    * `Sessions.scd2` (q119): per-user state carries only the OPEN run;
    * an arriving event with a DIFFERENT attribute value closes it and
    * emits the finalized interval append-only. Closure is data-driven
    * (the next change closes the run), so no timeout/watermark clock is
    * involved and emitted rows are exactly the batch operator's closed
    * intervals — the open run stays in state as the dimension's current
    * row. One shuffle on the key into the state store; O(1) state per
    * key. */
  def scd2Stream(events: DataFrame, attrCol: String)
      : org.apache.spark.sql.Dataset[Scd2Out] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_id").cast("long").as("event_id"),
        col(attrCol).cast("string").as("attr"))
      .as[AEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Acc, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, it, state) =>
          var acc = state.getOption.getOrElse(Scd2Acc(0, false, "", 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          // same total order as the batch operator: (ts, event_id)
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val t = micros(e.ts)
            if (!acc.hasOpen) acc = Scd2Acc(1, true, e.attr, t)
            else if (e.attr != acc.attr) {
              out += Scd2Out(user, acc.attr, acc.fromUs, t, acc.version)
              acc = Scd2Acc(acc.version + 1, true, e.attr, t)
            }
          }
          state.update(acc)
          out.iterator
      }
  }

  /** One input event for [[funnelStream]]. */
  case class FEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      etype: String)

  /** Per-user funnel state: earliest greedy chain times found so far
    * (−1 = stage unreached) and whether the conversion already emitted.
    * O(steps) longs per user. */
  case class FunnelAcc(t: Seq[Long], emitted: Boolean)

  /** One COMPLETED conversion: the user and the greedy-earliest chain
    * timestamps (epoch micros) per stage. */
  case class FunnelConv(user_id: Long, ts_steps: Seq[Long])

  /** Streaming conversion funnel — the incremental form of the batch
    * `Sessions.funnel` (q70) restricted to COMPLETED conversions: per-user
    * state carries the greedy-earliest chain built so far, and the row
    * emits append-only the moment the final stage first completes. Events
    * are processed in event-time order within each micro-batch, which
    * reproduces the batch operator's greedy-earliest chain exactly when
    * per-user stage-k events do not arrive out of event-time order across
    * batches (the same frontier caveat every incremental funnel carries;
    * the batch operator remains the backfill truth). Emission is
    * data-driven, no timeout clock; state is `steps` longs per user. */
  def funnelStream(events: DataFrame, typeCol: String,
      steps: Seq[String], withinSeconds: Option[Long] = None)
      : org.apache.spark.sql.Dataset[FunnelConv] = {
    require(steps.size >= 2, "need at least two funnel steps")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val boundUs = withinSeconds.map(_ * 1000000L)
    val k = steps.size
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_id").cast("long").as("event_id"),
        col(typeCol).cast("string").as("etype"))
      .as[FEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelAcc, FunnelConv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, it, state) =>
          var acc = state.getOption
            .getOrElse(FunnelAcc(Seq.fill(k)(-1L), emitted = false))
          val t = acc.t.toArray
          var emitted = acc.emitted
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelConv]
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val ts = micros(e.ts)
            val i = steps.indexOf(e.etype)
            if (i == 0 && t(0) < 0) t(0) = ts
            else if (i > 0 && t(i) < 0 && t(i - 1) >= 0 &&
              ts > t(i - 1) && boundUs.forall(w => ts <= t(i - 1) + w)) {
              t(i) = ts
              if (i == k - 1 && !emitted) {
                emitted = true
                out += FunnelConv(user, t.toSeq)
              }
            }
          }
          state.update(FunnelAcc(t.toSeq, emitted))
          out.iterator
      }
  }

  /** Streaming gap-based sessionization — the `flatMapGroupsWithState`
    * custom-state form of the batch `Sessions.sessionStats` (q37): events
    * grouped by user, a session closes when the gap to the next event
    * exceeds `gapSeconds`, and CLOSED sessions are emitted append-only.
    *
    * Finalization is two-path: a newer in-batch event past the gap closes
    * the session immediately, and an event-time timeout (watermark passing
    * sessionEnd + gap) closes a session no further event will extend.
    * Events later than the watermark delay are dropped by the engine — the
    * delay equals the gap, so any event that could legally extend an open
    * session is still in flight when it closes. Session ids per user are
    * 1-based in event-time order, identical to the batch operator.
    *
    * At scale: one shuffle on user_id into the state store; state is O(1)
    * per user; emission is append-only so the production sink is the same
    * checkpointed parquet writer as every other stream here. */
  def sessionStream(events: DataFrame, gapSeconds: Long)
      : org.apache.spark.sql.Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapSeconds * 1000000L
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("event_id").cast("long").as("event_id"))
      .withWatermark("ts", s"$gapSeconds seconds")
      .as[SEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, it, state) =>
          var acc = state.getOption.getOrElse(SessionAcc(0L, false, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
          def close(): Unit = {
            out += SessionRow(user, acc.counter + 1, acc.openN,
              fromMicros(acc.openStart), fromMicros(acc.openEnd))
            acc = SessionAcc(acc.counter + 1, false, 0L, 0L, 0L)
          }
          if (state.hasTimedOut) {
            // watermark passed openEnd + gap: nothing can extend it
            if (acc.hasOpen) close()
            state.update(acc)
            // no open session → no new timeout; the counter stays so a
            // returning user continues its session numbering
          } else {
            // same total order as the batch operator: (ts, event_id)
            val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            sorted.foreach { e =>
              val t = micros(e.ts)
              if (!acc.hasOpen) {
                acc = acc.copy(hasOpen = true, openStart = t, openEnd = t,
                  openN = 1L)
              } else if (t - acc.openEnd > gapUs) {
                close()
                acc = acc.copy(hasOpen = true, openStart = t, openEnd = t,
                  openN = 1L)
              } else {
                acc = acc.copy(openEnd = math.max(acc.openEnd, t),
                  openN = acc.openN + 1)
              }
            }
            state.update(acc)
            if (acc.hasOpen) {
              state.setTimeoutTimestamp((acc.openEnd + gapUs) / 1000L + 1)
            }
          }
          out.iterator
      }
  }

  /** Watermarked stream-STREAM interval join: left events match right
    * events with the same key whose time falls in [left.ts,
    * left.ts + windowSeconds] — the canonical streaming correlation
    * (click→purchase attribution, request→error windows). Both sides
    * carry a watermark and the join condition bounds right.ts relative
    * to left.ts, so Spark derives state-eviction watermarks for BOTH
    * join buffers: state holds only the window's worth of events per
    * side, not the stream's history — the property that makes this
    * runnable forever at 100 TB/day. Inner join, append mode.
    *
    * Equals the batch [[graft.ops.RangeJoin.pointInInterval]] family on
    * a static input with a covering watermark, which is how the oracle
    * verifies it. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      keyCol: String, windowSeconds: Long,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(
          s"INTERVAL $windowSeconds SECONDS"))
  }

  /** Watermarked stream-stream LEFT OUTER interval join: every left
    * event emits — matched rows as they arrive, and an explicit
    * null-padded row once the watermark PROVES no match can still come
    * (right side bounded to [left.ts − windowSeconds, left.ts]). The
    * "did this purchase have a preceding click?" shape where the
    * negatives are the signal (unattributed conversions, requests with
    * no upstream cause), which the inner [[intervalJoinStream]] cannot
    * express.
    *
    * The outer semantics are what make state eviction subtle and
    * watermark-bounded state non-negotiable: a left row must be held
    * exactly until the right-side watermark passes its upper match
    * bound (left.ts), then emitted-with-nulls and dropped. Spark
    * derives both buffers' eviction thresholds from the two-sided time
    * condition, so state holds one window's worth per side forever —
    * and left rows younger than (max event time − watermark delay)
    * remain buffered at shutdown, emitted only when more data (or a
    * no-data batch) advances the watermark. The oracle reproduces
    * exactly that contract: all matched pairs, plus null rows for
    * unmatched left events older than the final watermark. */
  def leftOuterIntervalJoinStream(left: DataFrame, right: DataFrame,
      keyCol: String, windowSeconds: Long,
      watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.ts") >= col("l.ts") - expr(
          s"INTERVAL $windowSeconds SECONDS") &&
        col("r.ts") <= col("l.ts"),
      "left_outer")
  }

  /** Watermarked stream-stream FULL OUTER interval join — completes the
    * interval-join family (inner q73, left-outer q234): matched pairs
    * emit on arrival; an UNMATCHED left row emits (l, null) and an
    * unmatched right row emits (null, r) only once the watermark proves
    * no future partner can arrive (the engine holds both sides' state
    * until then). Same join condition as the left-outer variant, so the
    * batch oracle replays it as a full outer join with the identical
    * interval predicate. State on both sides is bounded by
    * watermark + window, never history-sized. */
  def fullOuterIntervalJoinStream(left: DataFrame, right: DataFrame,
      keyCol: String, windowSeconds: Long,
      watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.ts") >= col("l.ts") - expr(
          s"INTERVAL $windowSeconds SECONDS") &&
        col("r.ts") <= col("l.ts"),
      "full_outer")
  }

  /** Stream-static enrichment: every micro-batch left-joins a STATIC
    * dimension (feature/profile lookup — the standard streaming enrich).
    * The dimension is explicitly broadcast, so each micro-batch is a
    * map-side hash join: no per-batch shuffle of the stream, no state
    * store (stateless — late data needs no watermark here). At 100 TB/day
    * the dimension is the thing to keep small or pre-bucketed; a
    * stream-STREAM join is a different operator (stateful, watermarked)
    * and deliberately not this one. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Stream-to-SCD2 temporal enrichment: each streaming event picks up
    * the dimension attribute valid AT ITS EVENT TIME — the AS OF lookup
    * against a slowly-changing dimension (q57's batch as-of, live).
    * `dim` is the [[graft.ops.Sessions.scd2]] interval table
    * `(k, state, valid_from_us, valid_to_us)`; the join is
    * stream-static (stateless — the micro-batch probes the broadcast
    * interval table; no watermark, no state store), key equality plus
    * the half-open interval residual. Intervals partition each key's
    * timeline, so every event matches at most one row. */
  def scd2EnrichStream(stream: DataFrame, dim: DataFrame): DataFrame =
    stream
      .withColumn("__tu", unix_micros(col("ts")))
      .join(broadcast(dim),
        col("user_id") === col("k") &&
          col("__tu") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("__tu") < col("valid_to_us")))
      .drop("k", "valid_from_us", "valid_to_us", "__tu")

  /** Streaming events source over the testdata parquet layout. The `ts`
    * physical encoding has changed across driver rounds (nanos-long,
    * TIMESTAMP_NTZ, TIMESTAMP); the declared stream schema is probed from
    * the parquet footer (one driver-side read — a stream must declare its
    * schema up front) and the column is normalized through the same
    * [[graft.sources.EventTime]] used by the batch reader, including the
    * loud out-of-range guard: a unit misinterpretation throws at the first
    * micro-batch instead of emitting plausible 1970-era windows (the
    * round-8 silent-corruption mode). */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val logical = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val schema = graft.sources.EventTime.probeSchema(
      spark, s"$dir/events.parquet", logical)
    graft.sources.EventTime.normalize(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** One Misra–Gries summary's running state per hash bucket. */
  case class MgState(seen: Long, counters: Map[String, Long])

  /** Per-bucket candidate emission after each micro-batch. */
  case class MgOut(bucket: Int, seen_n: Long, candidates: Seq[String])

  /** STREAMING heavy-hitter candidate maintenance — the stateful phase 1
    * of the two-phase exact heavy hitters ([[graft.ops.Sketches
    * .heavyHitters]]), kept ACROSS micro-batches with
    * `mapGroupsWithState`: each of `buckets` hash-partitioned
    * Misra–Gries summaries holds at most `k` counters forever (O(buckets
    * ·k) total state, independent of stream length) and re-emits its
    * candidate set after every batch (update mode; `seen_n` is monotone,
    * so the final summary per bucket is the max-seen row).
    *
    * Correctness contract (what makes the downstream EXACT even though
    * MG is order-sensitive): a value with global count c lands entirely
    * in one bucket (hash partitioning), and MG with k counters never
    * evicts a value with c > seen_bucket/(k+1); with k ≥ the final
    * report threshold, candidates are a SUPERSET of the true heavy
    * hitters under ANY batch split and ANY arrival order — the batch
    * recount+filter then makes the output bit-deterministic. */
  def streamingHeavyHitterCandidates(values: DataFrame, valueCol: String,
      buckets: Int, k: Int): DataFrame = {
    require(buckets >= 1 && k >= 2, s"bad buckets/k: $buckets/$k")
    val spark = values.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    values.select(col(valueCol).cast("string").as("t"))
      .where(col("t").isNotNull)
      .as[String]
      .groupByKey(t => math.floorMod(t.hashCode, buckets))
      .mapGroupsWithState[MgState, MgOut](GroupStateTimeout.NoTimeout) {
        (bucket, it, state) =>
          val st = state.getOption.getOrElse(MgState(0L, Map.empty))
          var seen = st.seen
          val counters =
            scala.collection.mutable.HashMap(st.counters.toSeq: _*)
          it.foreach { t =>
            seen += 1
            if (counters.contains(t)) counters(t) += 1
            else if (counters.size < k) counters(t) = 1L
            else {
              counters.toList.foreach { case (key, v) =>
                if (v == 1L) counters.remove(key)
                else counters(key) = v - 1
              }
            }
          }
          state.update(MgState(seen, counters.toMap))
          MgOut(bucket, seen, counters.keys.toSeq.sorted)
      }
      .toDF()
  }

  /** Continuous HLL register maintenance — the HLL sibling of
    * [[cmsMaintainStream]]: each micro-batch appends its per-group
    * register table ([[graft.ops.Sketches.hllRegisters]], ≤ 64 rows per
    * group per batch); the corpus sketch at any moment is the
    * registerwise MAX over the log, and because max is idempotent an
    * at-least-once replayed batch changes NOTHING (strictly stronger
    * than the CMS log's over-count-only guarantee). Readers estimate
    * from the merged registers without touching stream history. */
  def hllMaintainStream(stream: DataFrame, groupCol: String,
      valueCol: String, regsPath: String, checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(stream, checkpointPath, trigger) { (batch, batchId) =>
      val base = batch
        .select(col(groupCol).as("g"),
          col(valueCol).cast("string").as("v"))
        .where(col("g").isNotNull && col("v").isNotNull)
      graft.ops.Sketches.hllRegisters(base)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(regsPath)
    }

  /** Continuous count-min sketch maintenance: each micro-batch's values
    * are collapsed to their d×w cell DELTA table
    * ([[graft.ops.Sketches.cmsCells]]) and appended to `cellsPath` —
    * an append-only log of mergeable partials (the same IVM shape as
    * the incremental rollup): the corpus sketch at any moment is the
    * (row, col) sum over the log, ≤ d·w rows per batch regardless of
    * batch size, and readers probe it without ever touching the raw
    * stream history.
    *
    * foreachBatch is at-least-once: a replayed batch appends its delta
    * twice, which only OVER-counts — still a valid CMS upper bound
    * (the estimate's one-sided guarantee survives retries; exactly-once
    * consumers key the log by batch_id and keep the max). */
  def cmsMaintainStream(stream: DataFrame, valueCol: String,
      cellsPath: String, checkpointPath: String, d: Int = 4,
      w: Int = 256,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    eachBatch(stream, checkpointPath, trigger) { (batch, batchId) =>
      graft.ops.Sketches.cmsCells(batch, col(valueCol), d, w)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(cellsPath)
    }

  /** Streaming benchmark decontamination — the live tail of the batch
    * n-gram decontaminator ([[graft.ops.Dedup.ngramOverlap]], q46): a
    * document micro-batch is flagged `contaminated` when it shares any
    * word `n`-gram with the benchmark set. The benchmark grams arrive
    * as a DRIVER-SIDE literal (a benchmark/eval set is small by
    * nature — at a size where the literal pinches, swap in the
    * [[graft.ops.Sketches]] Bloom positions table with the same
    * overlap test), so the check is a PURE per-row projection:
    * `arrays_overlap` against the literal — no stream-stream join, no
    * state store, no watermark, append-mode safe, and a batch replay
    * of the same frames produces bit-identical flags (the q269
    * oracle). Works unchanged on a static frame. */
  def decontaminateStream(docs: DataFrame, idCol: String,
      textCol: String, benchGrams: Seq[String], n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = array_distinct(
      graft.ops.Dedup.wordShingles(col(textCol), n))
    docs.select(col(idCol).as("doc_id"), grams.as("__g"))
      .select(col("doc_id"), size(col("__g")).cast("long").as("n_grams"),
        (if (benchGrams.isEmpty) lit(0L)
         else arrays_overlap(col("__g"), typedLit(benchGrams))
           .cast("long")).as("contaminated"))
  }

  /** Streaming ANN probe against a PERSISTED IVF index (the online half
    * of [[graft.ops.Similarity.probeIvfIndex]]'s lifecycle): each query
    * micro-batch is probed against the frozen index at `indexPath` and
    * its top-k appended to `outPath`. Per-batch work ∝ batch-size ×
    * probed cells — the postings read is dynamically pruned to the
    * batch's probe cells, so the served corpus is never rescanned, and
    * the index is never mutated (deltas land through
    * [[graft.ops.Similarity.appendToIvfIndex]] on the build side). One
    * view of the root, as in [[indexMaintenanceStream]]: the quantizer
    * is opened on the driver once (again after a rebuild), the postings
    * and tombstones read every batch, so each batch sees appended
    * deltas. At-least-once:
    * a retried batch re-appends its own results, keyed by query_id. */
  def annProbeStream(queries: DataFrame, idCol: String, vecCol: String,
      indexPath: String, outPath: String, checkpointPath: String,
      k: Int, nprobe: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val view = new Similarity.RootView(indexPath, Similarity.IvfKind)
    eachBatch(queries, checkpointPath, trigger) { (batch, _) =>
      Similarity.probeIvfIndex(view.read(batch.sparkSession),
        batch, idCol, vecCol, k, nprobe)
        .write.mode("append").parquet(outPath)
    }
  }

  /** Incremental EMBEDDING near-dedup against a persisted IVF index —
    * the semantic sibling of [[incrementalSignatureDedupStream]] and the
    * production shape of streaming SemDeDup: each micro-batch of new
    * vectors probes the index's CURRENT postings (cross-batch pairs
    * only: the probe runs before the batch is appended, so a batch
    * never matches itself), near-dup pairs at cosine ≥ thresholdPpm/10⁶
    * land in `pairsPath` — membership decided by
    * [[graft.ops.Similarity.annNearDupPairs]]'s exact quantized-integer
    * rule, no float boundary — and the batch is appended under the
    * frozen centroids. Work per batch ∝ batch × probed cells; the
    * indexed corpus is never rescanned. The index must exist at
    * `indexPath` with its centroids (pre-train the quantizer with
    * [[graft.ops.Similarity.hashSeeds]] / k-means and
    * [[graft.ops.Similarity.writeIvfIndex]]); empty postings (a fresh
    * index) probe as empty. At-least-once: a replayed batch re-appends
    * its own pairs and postings, keyed by id — and because the pair
    * probe EXCLUDES the batch's own ids from the postings side, a retry
    * that runs after its first attempt's append landed still emits only
    * cross-batch pairs (no self-pairs, no intra-batch pairs), keeping
    * the cross-batch invariant under replay.
    *
    * One view per root, as in [[indexMaintenanceStream]]: the probe
    * frames and the appends route under a driver-side open of each root
    * (meta, centroids, PQ codebook) carried for the stream's life and
    * reopened when a rebuild changes the quantizer dirs; postings,
    * codes, tombstones and the high-water mark are read every batch.
    *
    * Dense-cell protection: `maxPairsPerNew > 0` caps the emitted
    * partners per new row (top-c by exact quantized cosine,
    * [[graft.ops.Similarity.annNearDupPairs]]) and, when `dropsPath` is
    * set, writes one exact accounting row per micro-batch
    * ([[graft.ops.Similarity.annNearDupDropReport]] + batch_id) — the
    * q279 no-silent-caps contract for the ANN path: without it one hot
    * cell turns a micro-batch into an unbounded multi-million-pair emit
    * with no observability.
    *
    * Dual-index mode (`pqIndexPath`): the probe/threshold kernel is
    * AUTO-ROUTED per micro-batch between the raw kernel and the
    * COMPRESSED index ([[graft.ops.Similarity.annNearDupPairsPq]] —
    * ADC upper-bound prefilter over the stored per-posting distortion,
    * exact dots only for unrefuted candidates) by the index's measured
    * density ([[graft.ops.Similarity.annNearDupRoutesToPq]]: mean
    * postings per cell vs the SCALE-measured crossover — the raw
    * kernel is faster on sparse cells, the prefilter on dense ones),
    * and each batch is appended to BOTH roots so they stay
    * row-aligned. The pair output is IDENTICAL on either route (the
    * prefilter is lossless), so the routing is invisible downstream;
    * the chosen route is logged per batch (the rule and log line of
    * [[graft.ops.Similarity.annNearDupPairsAuto]]). Both indexes must
    * share the frozen quantizer — pre-train them from one seed frame.
    *
    * Exactly-once under replay: each root records a batch-id
    * high-water mark ([[graft.ops.Similarity.appendToIvfIndexOnce]]),
    * so a replayed foreachBatch re-appends NOTHING that already
    * committed — and because the pairs/drops writes precede the raw
    * append inside the batch, a recorded raw mark also proves the
    * batch's pairs landed, so the whole probe is skipped on replay
    * (no duplicate pairs). Residual at-least-once floor: a crash
    * between the pairs write and the raw append replays the pairs
    * once (dedup on (id_new, id_existing) downstream if that matters);
    * a crash between the raw and PQ appends replays into "raw
    * skipped, PQ completed" — the two roots realign automatically. */
  def incrementalAnnDedupStream(stream: DataFrame, idCol: String,
      vecCol: String, indexPath: String, pairsPath: String,
      checkpointPath: String, thresholdPpm: Long, nprobe: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      maxPairsPerNew: Int = 0, dropsPath: String = null,
      pqIndexPath: String = null): StreamingQuery = {
    val view = new Similarity.RootView(indexPath, Similarity.IvfKind)
    val pqView =
      Option(pqIndexPath).map(new Similarity.RootView(_, Similarity.PqKind))
    eachBatch(stream, checkpointPath, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      // replay detection: the pairs (and drops) of this batch land
      // BEFORE the raw append commits its high-water mark, so a
      // recorded mark ≥ batchId proves the probe output is already
      // in the sink — skip it entirely instead of duplicating it
      if (Similarity.readAppendHwm(spark, indexPath) < batchId)
        Similarity.annNearDupBatch(spark, view, pqView, batch, idCol,
          vecCol, thresholdPpm, nprobe, maxPairsPerNew,
          report = maxPairsPerNew > 0 && dropsPath != null,
          s"incrementalAnnDedupStream batch $batchId") {
          (pairs, report) =>
            pairs.write.mode("append").parquet(pairsPath)
            report.foreach(_.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(dropsPath))
        }
      Similarity.appendOnce(spark, view, batch, idCol, vecCol, batchId)
      pqView.foreach(
        Similarity.appendOnce(spark, _, batch, idCol, vecCol, batchId))
    }
  }

  /** Streaming index maintenance — the "index the firehose" composition
    * in one call: each micro-batch of new vectors is appended to the
    * persisted IVF index at `indexPath` under its frozen centroids
    * ([[graft.ops.Similarity.appendToIvfIndex]], parameters from the
    * index's own meta), and after every `compactEvery`-th batch the
    * postings are compacted back to one file per cell
    * ([[graft.ops.Similarity.compactIvfIndex]]) so probe cost tracks
    * bytes, not an ever-growing append-file count.
    *
    * The root is opened once per stream, on the driver and with no
    * Spark job: meta, the quantized centroid table and the postings'
    * payload columns are read with plain parquet-hadoop on the first
    * batch and carried for the life of the stream. Before each batch a
    * driver-side listing of `centroids/` and `meta/` (names, sizes,
    * mtimes) is compared with the one taken at the open; when it
    * changed — another writer rebuilt the root — the root is reopened,
    * so that batch already routes under the new centroids.
    * Everything else still runs per batch: the batch-id high-water-mark
    * check and record, the compaction-swap recovery, the lease verify
    * and tombstone resurrection. A non-compacting batch therefore runs
    * only the delta's assignment and cell-parallel write (3 Spark jobs
    * on a small micro-batch).
    *
    * The single-writer contract holds by construction WITHIN the stream
    * (append and compaction run serialized inside the same foreachBatch,
    * and micro-batches never overlap) and is ENFORCED against other
    * processes: the stream holds the root's writer lease for its whole
    * lifetime ([[graft.ops.Similarity.acquireWriterLease]] — a
    * long-running writer is exactly what the lease exists for), so a
    * second maintenance stream on the same root fails loudly at start;
    * the lease is released when the stream terminates. Probe results
    * after any number of batches equal a batch build over the union of
    * the deltas (frozen quantizer ⇒ batch-composition-invariant —
    * pinned by StreamsSpec). Exactly-once: a replayed batch is skipped
    * via the root's batch-id high-water mark
    * ([[graft.ops.Similarity.appendToIvfIndexOnce]] — the only
    * remaining duplicate window is a crash between the append and its
    * mark). `compactEvery <= 0` disables compaction. */
  def indexMaintenanceStream(deltas: DataFrame, idCol: String,
      vecCol: String, indexPath: String, checkpointPath: String,
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintenanceStream(deltas, idCol, vecCol, indexPath, checkpointPath,
      compactEvery, trigger, "indexMaintenanceStream",
      Similarity.IvfKind)

  /** [[indexMaintenanceStream]] for a persisted PQ index — the same
    * stream over the PQ kind: each micro-batch PQ-encoded and appended
    * under the FROZEN quantizer and codebook
    * ([[graft.ops.Similarity.appendToIvfPqIndex]]), codes compacted
    * back to one file per cell every `compactEvery` batches
    * ([[graft.ops.Similarity.compactIvfPqIndex]]); the carried open
    * also holds the quantized codebook, and `codebook/` joins the
    * listing it is reopened on. */
  def pqIndexMaintenanceStream(deltas: DataFrame, idCol: String,
      vecCol: String, indexPath: String, checkpointPath: String,
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintenanceStream(deltas, idCol, vecCol, indexPath, checkpointPath,
      compactEvery, trigger, "pqIndexMaintenanceStream",
      Similarity.PqKind)

  /** The shared body of the two maintenance streams: under the held
    * lease, each batch is appended exactly once to the `kind` root
    * through the stream's one carried view of it, and the root is
    * compacted after every `compactEvery`-th batch. */
  private def maintenanceStream(deltas: DataFrame, idCol: String,
      vecCol: String, indexPath: String, checkpointPath: String,
      compactEvery: Int, trigger: Trigger, op: String,
      kind: Similarity.IndexKind[_]): StreamingQuery = {
    val view = new Similarity.RootView(indexPath, kind)
    startWithHeldLease(deltas.sparkSession, indexPath, op) {
      eachBatch(deltas, checkpointPath, trigger) { (batch, batchId) =>
        val spark = batch.sparkSession
        Similarity.appendOnce(spark, view, batch, idCol, vecCol, batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          Similarity.compactIndex(spark, kind, indexPath)
      }
    }
  }

  /** The streams of THIS process currently holding an index root's
    * writer lease — consulted before acquiring so that a back-to-back
    * restart on the same root (the previous stream terminated but its
    * async release hasn't run yet) completes the release inline
    * instead of colliding with its own stale marker; a still-ACTIVE
    * prior stream is left alone and the acquire fails loudly, which is
    * the point of the lease. */
  private val heldStreamLeases = new java.util.concurrent
    .ConcurrentHashMap[String, (() => Unit, StreamingQuery)]()

  /** Acquire the index root's writer lease, start the stream, and
    * release the lease when the stream terminates (stop, completion,
    * or failure — a daemon waiter owns the release, so no listener
    * race can leak the marker; an acquire or start failure releases
    * inline). The per-batch appends inside the stream re-enter the
    * held lease when the per-operation lease conf is on, and skip
    * marker checks entirely when it is off — either way they never
    * collide with their own stream's marker. */
  private def startWithHeldLease(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      op: String)(start: => StreamingQuery): StreamingQuery =
    heldStreamLeases.synchronized {
      val prior = heldStreamLeases.get(indexPath)
      if (prior != null && !prior._2.isActive) {
        prior._1() // idempotent; the daemon's own call becomes a no-op
        heldStreamLeases.remove(indexPath, prior)
      }
      val release =
        Similarity.acquireWriterLease(spark, indexPath, op)
      val query =
        try start
        catch { case t: Throwable => release(); throw t }
      val entry = (release, query)
      heldStreamLeases.put(indexPath, entry)
      val waiter = new Thread(() => {
        try query.awaitTermination()
        catch { case _: Throwable => () }
        finally {
          release()
          heldStreamLeases.remove(indexPath, entry)
          ()
        }
      }, s"graft-$op-lease-release")
      waiter.setDaemon(true)
      waiter.start()
      query
    }
}
