package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import graft.Lineage._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based event sessionization — the standard clickstream/trace
  * transform: within each user, a gap longer than `gapSeconds` starts a
  * new session.
  *
  * Plan shape at 100 TB: one shuffle keyed by user (high cardinality —
  * parallelism scales with users, no global ordering anywhere), then two
  * window passes over each user's locally-sorted events (lag + running
  * sum, same window frame so one sort). Deterministic: ties on ts broken
  * by event id. */
object Sessions {

  /** Per-event session assignment: adds `session_id` (1-based, per user,
    * in time order). */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val prevTs = lag(col(tsCol), 1).over(w)
    // exact integer microseconds (unix_timestamp would truncate to seconds
    // and disagree with engines that keep sub-second precision)
    val newSession = when(prevTs.isNull ||
      unix_micros(col(tsCol)) - unix_micros(prevTs) > gapSeconds * 1000000L,
      lit(1)).otherwise(lit(0))
    events.withColumn("session_id",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)))
  }

  /** Last-observation-carried-forward (LOCF) enrichment: for every event,
    * the most recent NON-NULL observation of a sparse attribute at or
    * before the event's time, plus its staleness in exact micros — the
    * point-in-time-correct (leakage-free) feature join: an event is only
    * ever enriched with attribute state that existed when it happened,
    * never with a later value. The window form needs no join at all: one
    * shuffle keyed by `keyCol`, one pass over each key's locally-sorted
    * events with two IGNORE NULLS running-last frames. */
  def locfEnrich(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, attr: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__attr", attr)
      .withColumn("attr_locf", last(col("__attr"), ignoreNulls = true)
        .over(w))
      .withColumn("__attr_ts",
        last(when(col("__attr").isNotNull, col(tsCol)),
          ignoreNulls = true).over(w))
      .withColumn("staleness_us",
        unix_micros(col(tsCol)) - unix_micros(col("__attr_ts")))
      .drop("__attr", "__attr_ts")
  }

  /** SCD Type-2 compression of a mutable per-key attribute: collapse each
    * key's event history to its CHANGE POINTS, emitting one row per value
    * run with a half-open validity interval `[valid_from, valid_to)` (in
    * exact epoch micros), a 1-based version, and `is_current` on the open
    * run — the slowly-changing-dimension snapshot an incremental corpus
    * keeps per entity (latest license, latest robots.txt policy, latest
    * label) without storing every observation.
    *
    * Plan shape: one shuffle keyed by `keyCol`, then window passes over
    * each key's locally-sorted events (lag to find changes, lead +
    * row_number on the compressed runs). Parallelism scales with keys; no
    * global sort. Deterministic: ties on ts broken by `tieCol`. */
  def scd2(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val changes = events
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .where(col("__prev").isNull || col("__prev") =!= col(attrCol))
    changes
      .withColumn("version", row_number().over(w))
      .withColumn("__next_ts", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(attrCol).as("attr"),
        unix_micros(col(tsCol)).as("valid_from_us"),
        unix_micros(col("__next_ts")).as("valid_to_us"),
        col("version"),
        col("__next_ts").isNull.as("is_current"))
  }

  /** Time-in-state rollup over the [[scd2]] intervals: per (key, attr),
    * the total micros the key spent in that attribute value, with the
    * open run closed at the key's last observation and the share of the
    * key's observed span — "fraction of the user's lifetime in each
    * state", the dwell-time composition a behavioral segmentation reads.
    * Keys observed only once have zero span → share is NULL, not a
    * division error. All interval arithmetic is exact bigint micros. */
  def timeInState(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, attrCol: String): DataFrame = {
    val iv = scd2(events, keyCol, tsCol, tieCol, attrCol)
    val span = events.groupBy(col(keyCol)).agg(
      min(unix_micros(col(tsCol))).as("__start"),
      max(unix_micros(col(tsCol))).as("__end"))
    iv.join(span, Seq(keyCol))
      .withColumn("__occ",
        coalesce(col("valid_to_us"), col("__end")) - col("valid_from_us"))
      .groupBy(col(keyCol), col("attr"))
      .agg(sum(col("__occ")).as("occupied_us"),
        first(col("__end") - col("__start")).as("__span"))
      .select(col(keyCol), col("attr"), col("occupied_us"),
        when(col("__span") === 0, lit(null).cast("double"))
          .otherwise(col("occupied_us").cast("double") / col("__span"))
          .as("share"))
  }

  /** Gaps-and-islands interval merge: each event opens a fixed-length
    * interval `[ts, ts + durationUs)`; overlapping/touching intervals per
    * key merge into islands (coverage periods). Returns per key the
    * island count and total covered micros — "when was the user's feed
    * active, and for how long" — the INTERVAL-merging sibling of point
    * sessionization. Island boundaries come from one running-max window
    * (an interval starts a new island iff it begins strictly after every
    * earlier interval's end), so the whole merge is two window passes
    * over each key's locally-sorted events — no self-join. */
  def intervalIslands(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, durationUs: Long): DataFrame = {
    require(durationUs > 0, s"durationUs must be > 0, got $durationUs")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val prevMax = max(col("__e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    events
      .withColumn("__s", unix_micros(col(tsCol)))
      .withColumn("__e", col("__s") + durationUs)
      .withColumn("__new",
        when(prevMax.isNull || col("__s") > prevMax, 1).otherwise(0))
      .withColumn("__island", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("__island"))
      .agg(min(col("__s")).as("__is"), max(col("__e")).as("__ie"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("__ie") - col("__is")).as("covered_us"))
  }

  /** Event-time completeness gaps: for every (period-dimension) pair that
    * has ANY events on a day, the hours with NO events — the freshness /
    * ingestion-gap monitor (a silent upstream outage reads as lower
    * traffic unless something enumerates the expected grid). The grid is
    * built by exploding a literal hour sequence onto the observed
    * (day, dim) pairs — no cartesian join — and missing cells fall out of
    * one left-anti join on (day, dim, hour). */
  def completenessGaps(events: DataFrame, tsCol: String,
      dimCol: String): DataFrame = {
    val day = date_format(col(tsCol), "yyyy-MM-dd").as("day")
    val grid = events.select(day, col(dimCol)).distinct()
      .withColumn("hour", explode(sequence(lit(0), lit(23))))
    val observed = events
      .select(day, col(dimCol), hour(col(tsCol)).as("hour")).distinct()
    grid.join(observed, Seq("day", dimCol, "hour"), "left_anti")
  }

  /** Session-level rollup: event count and bounds per (user, session). */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapSeconds: Long): DataFrame =
    sessionize(events, userCol, tsCol, idCol, gapSeconds)
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))

  /** Half-life-decayed user activity score as of a reference instant:
    * `score(u) = Σ value·2^(−age_halflives)` over the user's events at or
    * before `asOf`, where `age_halflives = floor(age / halfLife)` — the
    * recency-weighted engagement/propensity feature every activity model
    * starts from, with a bucketed exponential decay chosen for exact
    * reproducibility: the age bucket is INTEGRAL division on microsecond
    * longs (never float), and the whole term pipeline is EXACT decimal
    * arithmetic — `2^−k` with k ≤ 20 is an exact double whose decimal
    * cast at scale 20 is exact (2⁻ᵏ = 5ᵏ/10ᵏ), the value quantizes to
    * DECIMAL(12,4), their product is an exact DECIMAL(34,24), and every
    * rounding step happens in decimal (never `round(double)`, whose
    * half-way behavior differs between engines — observed as a 1-ulp
    * 4th-decimal divergence on one user before this formulation). k caps
    * at 20: weights below 2⁻²⁰ are &lt;1e-6 of the value and the per-term
    * 6-decimal rounding floors them anyway.
    *
    * Shape at scale: ONE map-side-combined groupBy(user) over a filtered
    * scan — no window, no join, no state. */
  def decayedUserActivity(events: DataFrame, userCol: String,
      tsCol: String, valueCol: String, asOf: String,
      halfLifeSeconds: Long): DataFrame = {
    require(halfLifeSeconds > 0, s"bad half-life $halfLifeSeconds")
    val hlUs = halfLifeSeconds * 1000000L
    events
      .select(col(userCol).as("user_id"),
        unix_micros(col(tsCol)).as("ts_us"),
        col(valueCol).as("__v"))
      .withColumn("asof_us", unix_micros(lit(asOf).cast("timestamp")))
      .where(col("ts_us") <= col("asof_us"))
      .withColumn("k",
        least(expr(s"(asof_us - ts_us) div ${hlUs}L"), lit(20L)))
      .withColumn("term",
        (col("__v").cast("decimal(12,4)") *
          pow(lit(0.5), col("k")).cast("decimal(21,20)"))
          .cast("decimal(18,6)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("term")).cast("decimal(18,4)").cast("double")
          .as("activity_score"))
  }

  /** Per-user inter-event gap statistics: count, mean, median and p90 of
    * the gaps (seconds) between a user's consecutive events — the
    * dwell-time/behavioral-cadence features (bot detection reads the p90,
    * engagement models the median). Gaps are exact integer microseconds
    * (ties broken by event id) and the quantiles use Spark's EXACT
    * `percentile` with linear interpolation — the same definition as the
    * SQL oracle's `quantile_cont`, so results hash-match. Users with a
    * single event report zero gaps and null statistics.
    *
    * Shape at scale: one user-keyed shuffle + lag window (the
    * sessionize family), then a map-side-combined per-user aggregation;
    * exact percentile buffers hold one user's gaps, bounded by that
    * user's event count. */
  def interEventGaps(events: DataFrame, userCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("__id").asc)
    events
      .select(col(userCol).as("user_id"),
        unix_micros(col(tsCol)).as("ts_us"), col(idCol).as("__id"))
      .withColumn("gap_s",
        (col("ts_us") - lag(col("ts_us"), 1).over(w)).cast("double")
          / 1000000.0)
      .groupBy(col("user_id"))
      .agg(count(col("gap_s")).as("n_gaps"),
        round(avg(col("gap_s").cast("decimal(18,6)")).cast("double"), 4)
          .as("mean_gap_s"),
        round(percentile(col("gap_s"), lit(0.5)), 4).as("median_gap_s"),
        round(percentile(col("gap_s"), lit(0.9)), 4).as("p90_gap_s"))
  }

  /** Event-transition matrix: counts of consecutive (from → to) event
    * types within each user's time-ordered stream — the first-order
    * Markov view of behavior (what follows what), with each user's
    * first event counted from the synthetic state '^'. Ties on ts break
    * by event id, so the sequence — and therefore the matrix — is
    * deterministic.
    *
    * Shape at scale: one shuffle keyed by user, one lag window over each
    * user's locally-sorted events (same plan family as sessionize), then
    * a map-side-combined count over (from, to) pairs — at most
    * |event types|² surviving rows. */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    events
      .select(col(userCol), col(tsCol), col(idCol),
        col(typeCol).as("to_type"))
      .withColumn("from_type",
        coalesce(lag(col("to_type"), 1).over(w), lit("^")))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Rolling event-time feature: for every event, the mean `value` of
    * the SAME user's events in the trailing `windowSeconds` (inclusive)
    * — the standard leakage-free feature-engineering primitive (only
    * past data enters each row's feature). A RANGE frame over exact
    * integer microseconds, partitioned by user: parallelism scales with
    * users and ties in ts contribute symmetrically regardless of sort
    * order. The mean is summed in DECIMAL(18,4) (order-independent, the
    * q44 trick) so the rounded result is engine-reproducible. `n_window`
    * counts ALL frame rows (`count(*)` semantics); a NULL value adds
    * nothing to the sum but still inflates the denominator — matching
    * the SQL `count(*) OVER w` an external engine would write.
    *
    * At 100 TB this is ONE shuffle on user + a per-user time sort —
    * same cost family as sessionize; never a self-join. */
  def rollingUserMean(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valueCol: String,
      windowSeconds: Long): DataFrame = {
    require(windowSeconds > 0, s"bad window $windowSeconds")
    val w = Window.partitionBy(col(userCol))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowSeconds * 1000000L, 0)
    events.select(col(idCol), col(userCol), col(tsCol),
        col(valueCol).cast("decimal(18,4)").as("__v"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("rolling_mean",
        round((sum(col("__v")).over(w) / col("n_window"))
          .cast("double"), 4))
      .drop("__v")
  }

  /** Cohort retention: users cohort by the period of their first
    * `anchorType` event (period = `periodSeconds`-wide windows of the
    * epoch, integral microsecond division — no float drift); for every
    * later period offset, the fraction of the cohort active with ANY
    * event. The product-analytics retention triangle.
    *
    * Shape at scale: one groupBy(user) for the anchor, one distinct over
    * (user, period) for activity — both keyed on user so the exchange is
    * reused — then a groupBy over (cohort, offset) pairs whose
    * cardinality is cohorts × horizon, tiny by construction. Cohort
    * sizes attach by broadcast. */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, anchorType: String,
      periodSeconds: Long): DataFrame = {
    require(periodSeconds > 0, s"bad period $periodSeconds")
    val periodUs = periodSeconds * 1000000L
    val base = events.select(col(userCol).as("user_id"),
      unix_micros(col(tsCol)).as("ts_us"), col(typeCol).as("etype"))
    val cohorts = base.where(col("etype") === anchorType)
      .groupBy(col("user_id"))
      .agg(min(expr(s"ts_us div $periodUs")).as("cohort_period"))
    val activity = base
      .select(col("user_id"), expr(s"ts_us div $periodUs").as("period"))
      .distinct()
    // cohorts is one row per user by construction — plain count, no
    // distinct-expand
    val sizes = cohorts.groupBy(col("cohort_period"))
      .agg(count(lit(1)).as("cohort_size"))
    activity.join(cohorts, Seq("user_id"))
      .where(col("period") >= col("cohort_period"))
      .groupBy(col("cohort_period"),
        (col("period") - col("cohort_period")).as("period_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_period"))
      .select(col("cohort_period"), col("period_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 4)
          .as("retention"))
  }

  /** Ordered funnel analysis: per user, the earliest time each step of
    * `steps` is completed IN ORDER — step k+1 must occur strictly after
    * the user's step-k time (and within `withinSeconds` of it, when set).
    * Returns one row per user who completed step 1: `user_id`, `stage`
    * (how many steps completed), and `t1..tk` microsecond timestamps
    * (-1 for unreached stages). This is the "greedy earliest" funnel
    * semantics (each stage anchors at its earliest legal time), the
    * standard product-analytics conversion table.
    *
    * Plan shape at scale: stage k is a filtered equi-join on user against
    * the accumulated stage frame followed by a min-aggregate — every
    * shuffle keys on `user_id`, so after the first exchange Catalyst
    * reuses the partitioning for the whole chain; no windows, no
    * per-user sort, state per user is k longs. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      withinSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val base = events.select(col(userCol).as("user_id"),
      unix_micros(col(tsCol)).as("ts"), col(typeCol).as("etype"))
    var stage = base.where(col("etype") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    steps.tail.zipWithIndex.foreach { case (s, i) =>
      val prev = s"t${i + 1}"
      val cur = s"t${i + 2}"
      val bound = withinSeconds
        .map(w => col("ts") <= col(prev) + w * 1000000L)
        .getOrElse(lit(true))
      val next = base.where(col("etype") === s)
        .join(stage.select(col("user_id"), col(prev)), Seq("user_id"))
        .where(col("ts") > col(prev) && bound)
        .groupBy(col("user_id")).agg(min(col("ts")).as(cur))
      stage = stage.join(next, Seq("user_id"), "left")
    }
    val reached = steps.indices.tail
      .map(i => when(col(s"t${i + 1}").isNotNull, 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    stage.select(col("user_id") +: reached.cast("int").as("stage") +:
      steps.indices.map(i =>
        coalesce(col(s"t${i + 1}"), lit(-1L)).as(s"t${i + 1}")): _*)
  }

  /** Linear multi-touch attribution: every conversion splits one unit of
    * credit equally over the touches that preceded it within the
    * lookback window, rolled up per channel — the growth-analytics
    * sibling of [[funnel]] (which tracks stage completion, not credit).
    * Credit is exact integer ppm (`10^6 div n_touches` per touch), so
    * totals are engine-reproducible.
    *
    * Shape: touches join conversions per user (hash join on the user
    * key; the time window is a residual — at 100 TB add the time-bin to
    * the key exactly as the q58–q60 range-join family does), per-
    * conversion touch counts, then one channel rollup. */
  def linearAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, touchFilter: Column,
      convFilter: Column, channel: Column,
      lookbackSeconds: Long): DataFrame = {
    val micros = unix_micros(col(tsCol))
    val touches = events.where(touchFilter)
      .select(col(userCol).as("u"), micros.as("tt"),
        channel.as("channel"))
    val convs = events.where(convFilter)
      .select(col(userCol).as("u"), micros.as("tc"),
        col(idCol).as("cid"))
    val pairs = touches.join(convs, Seq("u"))
      .where(col("tt") < col("tc") &&
        col("tt") >= col("tc") - lookbackSeconds * 1000000L)
    val perConv = pairs.groupBy(col("u"), col("cid"))
      .agg(count(lit(1)).as("n_touch"))
    pairs.join(perConv, Seq("u", "cid"))
      .select(col("channel"), col("cid"),
        expr("1000000L div n_touch").as("credit_ppm"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("cid")).as("n_conversions"),
        sum(col("credit_ppm")).as("credit_ppm"))
  }

  /** Bitemporal as-of reconstruction — "what did the store believe AT
    * transaction time txAt ABOUT state at valid time validAt?": the
    * audit query behind reproducible training snapshots. [[scd2]] /
    * [[locfEnrich]] answer valid-time questions against today's log;
    * this one also rolls TRANSACTION time back, so a feature pipeline
    * re-run for a historical date ignores corrections that arrived
    * after that run's cutoff — exactly how you reproduce (or debug)
    * what a past model actually saw.
    *
    * Per key, the winning change maximizes (valid_from, tx_time, id)
    * among rows with valid_from <= validAt and tx_time <= txAt — one
    * filtered scan + one max-struct aggregate (map-side combinable, no
    * window, no join); the unique id makes ties deterministic and the
    * value rides in the struct tail, never compared. */
  def bitemporalAsOf(changes: DataFrame, keyCol: String,
      validFromCol: String, txCol: String, idCol: String,
      valueCol: String, validAt: String, txAt: String): DataFrame = {
    changes
      .where(col(validFromCol) <= lit(validAt).cast("timestamp") &&
        col(txCol) <= lit(txAt).cast("timestamp"))
      .groupBy(col(keyCol))
      .agg(max(struct(col(validFromCol).as("vf"), col(txCol).as("tx"),
        col(idCol).as("id"),
        col(valueCol).cast("decimal(18,4)").as("v"))).as("m"))
      .select(col(keyCol), col("m.vf").as("valid_from"),
        col("m.tx").as("tx_time"), col("m.id").as("change_id"),
        col("m.v").cast("double").as("value"))
  }

  /** Lag-k autocorrelation of the per-hour event-count series — the
    * seasonality probe next to the Fano burstiness stat: a strong r at
    * lag 24 is daily periodicity, a slow decay is trend, near-zero at
    * all lags is memoryless arrivals. Answers "does this hour predict
    * the next?" before anyone fits a forecaster.
    *
    * Plan: ONE aggregation builds the hourly series (tiny — hours, not
    * events), checkpointed and reused per lag; each lag is an equi-join
    * of the series against itself shifted by an exact INTERVAL (hours
    * where either endpoint is unobserved are excluded, documented), then
    * the five Pearson sums as exact bigints→decimal in one aggregate
    * with the fixed IEEE tail (two casts, two sqrt, multiply, divide) —
    * engine-identical, like [[Graphs.degreeAssortativity]]. r is null
    * when a lag has no pairs or zero variance. */
  def countAutocorrelation(events: DataFrame, tsCol: String,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1),
      s"lags must be >= 1: $lags")
    val hourly = events
      .groupBy(date_trunc("hour", col(tsCol)).as("hr"))
      .agg(count(lit(1)).as("c"))
      .truncateLineage(eager = false)
    def d(c: Column) = c.cast("decimal(19,0)")
    lags.map { k =>
      val shifted = hourly.select(
        (col("hr") + expr(s"INTERVAL $k HOURS")).as("hr"),
        col("c").as("x"))
      val pairs = hourly.join(shifted, "hr")
        .select(col("x"), col("c").as("y"))
      val sums = pairs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val vx = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      val vy = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
      sums.select(lit(k).as("lag"), col("n").as("n_pairs"),
        when(col("n") > 0 && vx =!= 0 && vy =!= 0,
          num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("autocorr"))
    }.reduce(_ unionAll _)
  }

  /** Peak concurrency per hour — "how many sessions were open at once"
    * (capacity planning, abuse detection, license audits). Every event
    * opens a half-open session `[ts, ts+sessionSeconds)`; the answer is
    * the running max of the +1/−1 boundary sweep.
    *
    * The naive sweep is ONE global ordered running sum — a single
    * reducer over every boundary. This runs it two-phase: the running
    * sum restarts per HOUR (window partitioned by the boundary's hour —
    * parallel), per-hour net deltas are cumulated on the driver (state =
    * one long per distinct hour, bounded by the time range, same budget
    * as [[Splits.deterministicShuffle]]'s block counts), and
    * `peak(h) = carry(h) + greatest(max_within(h), 0)` — the `0` is the
    * hour-start instant, which is the peak when the hour only drains.
    * Boundary ties order ends (−1) before starts (+1): half-open
    * intervals, back-to-back sessions never overlap. */
  def peakConcurrency(events: DataFrame, tsCol: String,
      sessionSeconds: Long): DataFrame = {
    require(sessionSeconds >= 1,
      s"sessionSeconds must be >= 1, got $sessionSeconds")
    val micros = unix_micros(col(tsCol))
    val b = events.select(micros.as("t"), lit(1).as("d"))
      .unionAll(events.select(
        (micros + sessionSeconds * 1000000L).as("t"), lit(-1).as("d")))
      .withColumn("hour", date_format(
        date_trunc("hour", timestamp_micros(col("t"))),
        "yyyy-MM-dd HH:mm:ss"))
    val w = Window.partitionBy(col("hour")).orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val agg = b.withColumn("run", sum(col("d")).over(w))
      .groupBy(col("hour"))
      .agg(max(col("run")).as("mx"), sum(col("d")).as("net"),
        sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_starts"))
    val carries: Map[String, Long] = {
      val nets = agg.select(col("hour"), col("net"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      var acc = 0L
      nets.map { case (h, n) => val c = acc; acc += n; h -> c }.toMap
    }
    val carry = coalesce(
      element_at(typedLit(carries), col("hour")), lit(0L))
    agg.select(col("hour"), col("n_starts"),
      (carry + greatest(col("mx"), lit(0L))).as("peak_concurrency"))
  }

  /** Top-k session paths — the "what do users actually DO" report: the
    * ordered event-type sequence of each gap-session (truncated to the
    * first `maxLen` steps), counted across all sessions, top `topK` by
    * frequency. The funnel (q70) answers "how many made it through MY
    * hypothesized order"; this discovers the orders that exist.
    *
    * Shape: the [[sessionize]] shuffle (keyed by user — parallelism
    * scales with users), a row_number cap inside the same per-user sort,
    * one groupBy building each session's path with a sorted collect
    * (bounded at `maxLen` elements by the cap — never an unbounded
    * collect_list), one counting groupBy keyed by path, and a
    * TakeOrdered top-k (no global sort). Ties deterministic: count
    * desc, then path ascending. */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, gapSeconds: Long, maxLen: Int,
      topK: Int): DataFrame = {
    require(maxLen >= 1 && topK >= 1, "maxLen and topK must be >= 1")
    val s = sessionize(
      events.where(col(userCol).isNotNull && col(tsCol).isNotNull),
      userCol, tsCol, idCol, gapSeconds)
    val w = Window.partitionBy(col(userCol), col("session_id"))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val capped = s.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxLen)
    capped
      .groupBy(col(userCol), col("session_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(unix_micros(col(tsCol)).as("t"),
          col(idCol).cast("long").as("id"),
          col(typeCol).cast("string").as("e")))),
        x => x.getField("e")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topK)
  }

  /** EXACT sliding-window distinct count — "distinct active users in the
    * trailing `windowHours` hours, reported at every observed hour" —
    * without re-scanning the window per report point. The naive form is
    * a range self-join (every hour re-counts its whole trailing window:
    * at 100 TB that reads the corpus `windowHours` times over); the
    * HLL/KMV form is approximate. This is exact AND single-pass.
    *
    * How: a user contributes to the window ending at hour h iff it has
    * an event in [h−W+1, h] — so each distinct (user, hour) covers the
    * window-end range [hour, hour+W−1]. Per user those ranges are merged
    * into islands (consecutive gap > W splits; equal-length intervals
    * sorted by start have nondecreasing ends, so the consecutive check
    * is an exact merge), each island becomes a +1/−1 boundary delta, and
    * one blocked two-phase prefix sum over the hour axis (bit-length
    * blocks → ≤64 driver subtotals → per-block parallel windows +
    * broadcast offsets) turns deltas into the running distinct count —
    * the same no-single-reducer sweep as [[Sketches.exactQuantiles]].
    * Reported only at hours that actually have events.
    *
    * Shape: one distinct (user, hour) shuffle, per-user lag windows
    * (parallelism scales with users), then hour-domain-sized frames
    * only. Output: (hour, rolling_users), hour = epoch hours. */
  def slidingDistinct(events: DataFrame, tsCol: String, idCol: String,
      windowHours: Int): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1")
    val uh = events
      .where(col(idCol).isNotNull && col(tsCol).isNotNull)
      .select(col(idCol).as("u"),
        expr(s"unix_micros($tsCol) div 3600000000").as("h"))
      .distinct()
      .truncateLineage(eager = false)
    val wU = Window.partitionBy(col("u")).orderBy(col("h"))
    val islands = uh
      .withColumn("brk",
        when(lag(col("h"), 1).over(wU).isNull ||
          col("h") - lag(col("h"), 1).over(wU) > windowHours, 1)
          .otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("u"), col("grp"))
      .agg(min(col("h")).as("s"),
        (max(col("h")) + (windowHours - 1)).as("e"))
    val deltas = islands.select(col("s").as("h"), lit(1L).as("d"))
      .unionAll(islands.select((col("e") + 1).as("h"),
        lit(-1L).as("d")))
      .groupBy(col("h")).agg(sum(col("d")).as("net"))
    val axis = deltas
      .join(uh.select(col("h")).distinct()
        .withColumn("obs", lit(1)), Seq("h"), "full_outer")
      .select(col("h"), coalesce(col("net"), lit(0L)).as("net"),
        coalesce(col("obs"), lit(0)).as("obs"))
      .withColumn("block", when(col("h") <= 0, lit(-1))
        .otherwise((length(bin(col("h"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    RunningSums(axis, Nil, col("block"), Seq(col("h")),
        Seq("cur" -> col("net"))) match {
      case None => axis.select(col("h").as("hour"),
        col("net").as("rolling_users")).limit(0)
      case Some(sums) => sums.rows.where(col("obs") === 1)
        .select(col("h").as("hour"), col("cur").as("rolling_users"))
    }
  }

  /** CUSUM changepoint detection on the per-group hourly count series —
    * "WHEN did this event type's rate shift": the classic mean-shift
    * estimator argmax_j |Σ_{i≤j}(c_i − mean)|, whose peak sits at the
    * most likely single change point. Run per group in one pass.
    *
    * Exactness: with m observed hours and C total events, the CUSUM at
    * position j scaled by m is `S_j = m·prefix_j − j·C` — pure integer,
    * no float mean anywhere; the argmax of |S_j| is identical to the
    * float CUSUM's. Ties: earliest hour. At 100 TB the hourly frame is
    * time-domain-sized (hours × groups), never event-sized — the only
    * event-scale work is the map-side-combined groupBy; the per-group
    * window runs over bounded series, parallel across groups.
    *
    * Output: (group, n_hours, n_events, cp_hour = last hour of the
    * "before" regime, s_scaled = S at the peak, signed). */
  def cusumChangepoint(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val hourly = events.where(col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
        expr(s"unix_micros($tsCol) div 3600000000").as("h"))
      .agg(count(lit(1)).as("c"))
      .truncateLineage(eager = false)
    val tot = hourly.groupBy(col("g"))
      .agg(sum(col("c")).as("ctot"), count(lit(1)).as("m"))
    val w = Window.partitionBy(col("g")).orderBy(col("h"))
    val cum = hourly
      .withColumn("pre", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("j", row_number().over(w))
    cum.join(broadcast(tot), "g")
      .select(col("g"), col("h"), col("ctot"), col("m"),
        (col("pre") * col("m") - col("j") * col("ctot")).as("s"))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("m")).as("n_hours"), max(col("ctot")).as("n_events"),
        max(struct(abs(col("s")).as("a"), (-col("h")).as("nh"),
          col("h"), col("s"))).as("mx"))
      .select(col(groupCol), col("n_hours"), col("n_events"),
        col("mx.h").as("cp_hour"), col("mx.s").as("s_scaled"))
  }

  /** Cohort LTV curves — "how much has the average week-W signup spent
    * by age K": customers cohort on their FIRST purchase week, and the
    * curve accumulates each cohort's spend across age weeks. The
    * retention matrix (q71) counts activity; this is the revenue view
    * finance actually discounts.
    *
    * Shape: one groupBy finds each customer's cohort week, one join
    * tags every order with (cohort, age), one aggregation reduces to
    * the (cohort × age) frame — the ONLY event-scale stages — and the
    * cumulative runs as per-cohort windows over that tiny frame. Exact
    * cents throughout; the per-customer average is floor-div cents
    * (documented). Ages only at observed weeks (sparse — the curve
    * holds flat between points).
    *
    * Output: (cohort_week, age_weeks, n_customers, week_cents,
    * cum_cents, cum_per_customer_cents). */
  def cohortLtv(orders: DataFrame, custCol: String, dateCol: String,
      priceCol: String): DataFrame = {
    val o = orders
      .where(col(custCol).isNotNull && col(dateCol).isNotNull &&
        col(priceCol).isNotNull)
      .select(col(custCol).as("cust"),
        expr(s"unix_micros(cast($dateCol as timestamp))" +
          " div 604800000000").as("ow"),
        (col(priceCol).cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .truncateLineage(eager = false)
    val firstw = o.groupBy(col("cust")).agg(min(col("ow")).as("cohort"))
    val sizes = firstw.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_customers"))
    val weekly = o.join(firstw, "cust")
      .groupBy(col("cohort"), (col("ow") - col("cohort")).as("age"))
      .agg(sum(col("cents")).as("week_cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly
      .withColumn("cum_cents", sum(col("week_cents")).over(w))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort").as("cohort_week"), col("age").as("age_weeks"),
        col("n_customers"), col("week_cents"), col("cum_cents"),
        expr("cum_cents div n_customers").as("cum_per_customer_cents"))
  }

  /** Rolling-window OLS trend of the per-group hourly rate — "is this
    * type trending up over the trailing week, as of every hour": the
    * rolling cousin of the global [[graft.ops.Profiling.groupOlsTrend]],
    * built on RANGE window frames over the hour axis so gaps count as
    * time (the frame is `[h−W+1, h]` in HOURS, not in rows; only
    * observed hours contribute points — documented). All five OLS
    * moment sums are exact DECIMAL windows over the hour-domain frame
    * (one per-group sort, never event-scale partitions); the slope is
    * the usual fixed IEEE tail.
    *
    * Output: (group, hour, n_hours, slope_num, slope_den,
    * slope_per_hour). */
  def rollingTrend(events: DataFrame, groupCol: String, tsCol: String,
      windowHours: Int = 168): DataFrame = {
    require(windowHours >= 2, s"windowHours must be >= 2")
    val hourly = events.where(col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
        expr(s"unix_micros($tsCol) div 3600000000").as("h"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("g")).orderBy(col("h"))
      .rangeBetween(-(windowHours - 1).toLong, 0L)
    def d38(c: Column) = c.cast("decimal(38,0)")
    hourly
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(d38(col("h"))).over(w))
      .withColumn("sy", sum(d38(col("c"))).over(w))
      .withColumn("sxy", sum(d38(col("h")) * col("c")).over(w))
      .withColumn("sxx", sum(d38(col("h")) * col("h")).over(w))
      .select(col("g").as(groupCol), col("h").as("hour"),
        col("n").as("n_hours"),
        (d38(col("n")) * col("sxy") - col("sx") * col("sy"))
          .cast("long").as("slope_num"),
        (d38(col("n")) * col("sxx") - col("sx") * col("sx"))
          .cast("long").as("slope_den"),
        expr("""case when cast(n as decimal(38,0)) * sxx - sx * sx <> 0
          then cast(cast(n as decimal(38,0)) * sxy - sx * sy as double)
            / cast(cast(n as decimal(38,0)) * sxx - sx * sx as double)
          end""").as("slope_per_hour"))
  }

  /** Rate alerting with hysteresis over the hourly count series — the
    * monitoring state machine SLO pipelines run: an alert ARMS after
    * two consecutive observed hours at or above the high threshold and
    * DISARMS at the first hour below the low threshold; the hysteresis
    * band (hi > lo) prevents flapping on a series that hovers at one
    * threshold. Thresholds are self-calibrating per group: hi =
    * hiPct% and lo = loPct% of the group's own mean hourly rate,
    * evaluated by integer cross-multiplication (c·m·100 vs pct·total —
    * no float mean). Defined over OBSERVED hours (documented: an empty
    * hour emits no row and does not advance the machine).
    *
    * The sequential state is a last-signal carry: signal = 'on' when
    * (c ≥ hi ∧ prev_c ≥ hi), 'off' when c < lo, else no signal; the
    * alert state at any hour is the most recent signal — one LOCF
    * window per group over the hour-domain frame, no driver loop.
    *
    * Output: (group, hour, n, alert_active). */
  def rateAlerts(events: DataFrame, groupCol: String, tsCol: String,
      hiPct: Int = 150, loPct: Int = 50): DataFrame = {
    require(hiPct > loPct && loPct >= 0, s"need hiPct > loPct >= 0")
    val hourly = events.where(col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
        expr(s"unix_micros($tsCol) div 3600000000").as("h"))
      .agg(count(lit(1)).as("c"))
      .truncateLineage(eager = false)
    val tot = hourly.groupBy(col("g"))
      .agg(sum(col("c")).as("ctot"), count(lit(1)).as("m"))
    val w = Window.partitionBy(col("g")).orderBy(col("h"))
    val sig = hourly.join(broadcast(tot), "g")
      .withColumn("isHi",
        col("c") * col("m") * 100 >= lit(hiPct) * col("ctot"))
      .withColumn("isLo",
        col("c") * col("m") * 100 < lit(loPct) * col("ctot"))
      .withColumn("sig", when(col("isLo"), lit("off"))
        .when(col("isHi") && lag(col("isHi"), 1).over(w), lit("on"))
        .otherwise(lit(null).cast("string")))
    sig
      .withColumn("state", coalesce(
        last(col("sig"), ignoreNulls = true).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit("off")))
      .select(col("g").as(groupCol), col("h").as("hour"), col("c").as("n"),
        (col("state") === "on").as("alert_active"))
  }

  /** First-order Markov next-event prediction accuracy — the eval-
    * pipeline question "how predictable is the next user action from
    * the current one": transitions observed before `splitTs` train a
    * per-state argmax predictor (most frequent successor, ties by type
    * name — deterministic), transitions at/after `splitTs` score it.
    * The honest temporal split matters: a random split leaks future
    * behavior into the model.
    *
    * Shape: one per-user lag window builds (prev, next, next_ts) pairs
    * (the q78 transition shuffle); the model is a state-domain-sized
    * frame (argmax via max-count then min-name — two tiny aggregates,
    * no window over data); scoring is one broadcast join. Output: one
    * row per state with test coverage plus an '__overall' row —
    * (state, predicted, n_train, n_test, n_correct, acc_ppm). */
  def markovAccuracy(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, splitTs: String): DataFrame = {
    val cut = lit(splitTs).cast("timestamp")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val pairs = events
      .where(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(userCol), col(tsCol), col(idCol),
        col(typeCol).cast("string").as("nxt"),
        lag(col(typeCol).cast("string"), 1).over(w).as("prev"))
      .where(col("prev").isNotNull)
      .truncateLineage(eager = false)
    val train = pairs.where(col(tsCol) < cut)
      .groupBy(col("prev"), col("nxt")).agg(count(lit(1)).as("c"))
    val best = train.groupBy(col("prev")).agg(max(col("c")).as("mc"),
        sum(col("c")).as("n_train"))
    val model = train.join(best, "prev")
      .where(col("c") === col("mc"))
      .groupBy(col("prev"), col("n_train"))
      .agg(min(col("nxt")).as("predicted"))
    val test = pairs.where(col(tsCol) >= cut)
      .join(broadcast(model), "prev")
      .groupBy(col("prev"), col("predicted"), col("n_train"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("nxt") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .truncateLineage(eager = false)
    val perState = test.select(col("prev").as("state"),
      col("predicted"), col("n_train"), col("n_test"), col("n_correct"),
      expr("n_correct * 1000000 div n_test").as("acc_ppm"))
    val overall = test.groupBy(lit("__overall").as("state"))
      .agg(min(lit(null).cast("string")).as("predicted"),
        sum(col("n_train")).as("n_train"), sum(col("n_test")).as("n_test"),
        sum(col("n_correct")).as("n_correct"))
      .select(col("state"), col("predicted"), col("n_train"),
        col("n_test"), col("n_correct"),
        expr("n_correct * 1000000 div n_test").as("acc_ppm"))
    perState.unionAll(overall)
  }

  /** Burst (tolerance) deduplication: within each (user, type), events
    * chained closer than `gapSeconds` to their PREDECESSOR collapse to
    * the burst's first event — the telemetry double-fire / retry-storm
    * cleaner. Chained semantics matter: three events at 0s, 4s, 8s with
    * a 5s gap are ONE burst (a naive "within 5s of the first" window
    * would split it), which is exactly gap-sessionization with a small
    * gap — so the kept set is each micro-session's first row.
    *
    * One shuffle keyed by (user, type), one lag + running-sum window
    * pass per key (ties by id — total order), then a min-struct per
    * burst. Output: the kept rows with their exact suppressed count —
    * (user, type, event_id, ts_micros, n_suppressed). */
  def burstDedup(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds >= 1, s"gapSeconds must be >= 1, got $gapSeconds")
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val prevTs = lag(col(tsCol), 1).over(w)
    val brk = when(prevTs.isNull ||
      unix_micros(col(tsCol)) - unix_micros(prevTs) >
        gapSeconds * 1000000L, 1).otherwise(0)
    events
      .where(col(userCol).isNotNull && col(typeCol).isNotNull &&
        col(tsCol).isNotNull)
      .withColumn("__burst", sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col(typeCol), col("__burst"))
      .agg(min(struct(unix_micros(col(tsCol)).as("tu"),
        col(idCol).cast("long").as("id"))).as("first"),
        (count(lit(1)) - 1).as("n_suppressed"))
      .select(col(userCol), col(typeCol), col("first.id").as("event_id"),
        col("first.tu").as("ts_micros"), col("n_suppressed"))
  }

  /** Seasonal anomaly detection on the hourly count series: each
    * (group, hour-of-week) cell learns a robust baseline — median and
    * MAD of that cell's counts across the weeks — and hours whose count
    * deviates more than `cutoff·1.4826·MAD` from their cell median are
    * flagged. The hour-of-week framing separates "3am Sunday is always
    * quiet" from "Tuesday 2pm collapsed" — a global z-score conflates
    * them (and a mean/σ baseline is itself dragged by the anomalies;
    * median/MAD is not).
    *
    * Exactness: the doubled-median trick of [[Profiling.madOutliers]] —
    * med2 = 2·median and mad4 = 4·MAD are exact integers read from the
    * cell's SORTED count array, and the flag test
    * `|2c − med2|·2·10⁴ > cutoff₁₀₀₀₀·mad4` is pure integers. Each
    * cell's array is bounded by the number of WEEKS in the data (≤53/yr
    * by construction — a bounded collect), and the whole frame after
    * the one event-scale aggregation is time-domain-sized.
    *
    * Output: flagged hours only — (group, hour, n, med2, mad4). */
  def seasonalAnomalies(events: DataFrame, groupCol: String,
      tsCol: String, cutoffX10000: Long = 44478L): DataFrame = {
    require(cutoffX10000 > 0, "cutoff must be positive")
    val hourly = events.where(col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
        expr(s"unix_micros($tsCol) div 3600000000").as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("how", pmod(col("h"), lit(168L)))
      .truncateLineage(eager = false)
    val cells = hourly.groupBy(col("g"), col("how"))
      .agg(sort_array(collect_list(col("c"))).as("arr"),
        count(lit(1)).as("n"))
      .withColumn("med2",
        expr("element_at(arr, cast((n + 1) div 2 as int)) + " +
          "element_at(arr, cast(n div 2 + 1 as int))"))
      .withColumn("devs", sort_array(transform(col("arr"),
        x => abs(x * 2 - col("med2")))))
      .withColumn("mad4",
        expr("element_at(devs, cast((n + 1) div 2 as int)) + " +
          "element_at(devs, cast(n div 2 + 1 as int))"))
      .select(col("g"), col("how"), col("med2"), col("mad4"))
    hourly.join(cells, Seq("g", "how"))
      .where(abs(col("c") * 2 - col("med2")) * 2 * 10000 >
        lit(cutoffX10000) * col("mad4"))
      .select(col("g").as(groupCol), col("h").as("hour"),
        col("c").as("n"), col("med2"), col("mad4"))
  }

  /** Linear interpolation of an irregular per-group value series onto
    * the hourly grid — the resampling step that turns event telemetry
    * into a regular time series for joins/forecasting. The naive form
    * re-scans the events per grid point (a range join against the whole
    * series); this touches event-scale data exactly once.
    *
    * How: the series is deduped to one value per (group, micro-instant)
    * (smallest id wins — deterministic), reduced to per-(group, hour)
    * FIRST/LAST boundary observations (time-domain sized — this is the
    * only event-scale aggregation), and the prev/next neighbors of
    * every grid instant come from forward/backward carries over the
    * hour axis (per-group windows on hours × groups rows, never on
    * events). A grid instant tg = h·3600e6 takes prev = last obs
    * STRICTLY before tg (i.e. in hours < h) and next = first obs at or
    * after tg (hours ≥ h) — so an observation exactly on the boundary
    * interpolates to itself. Only interior grid hours (prev AND next
    * exist) are emitted.
    *
    * Exactness: values scaled to 1e-4 units through DECIMAL; the
    * interpolation `(y_prev·(t_next−tg) + y_next·(tg−t_prev)) div
    * (t_next−t_prev)` runs in DECIMAL(38,0) integer arithmetic —
    * engine-identical for the non-negative values this contracts for
    * (floor == truncate). */
  def interpolateHourly(events: DataFrame, groupCol: String,
      tsCol: String, idCol: String, valueCol: String): DataFrame = {
    val H = 3600000000L
    val obs = events
      .where(col(groupCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        unix_micros(col(tsCol)).as("tu"),
        col(idCol).cast("long").as("id"),
        (col(valueCol).cast("decimal(18,4)") * 10000).cast("long")
          .as("y4"))
      .groupBy(col("g"), col("tu"))
      .agg(min(struct(col("id"), col("y4"))).as("m"))
      .select(col("g"), col("tu"), col("m.y4").as("y4"),
        expr(s"tu div $H").as("hb"))
      .truncateLineage(eager = false)
    val blocks = obs.groupBy(col("g"), col("hb").as("h"))
      .agg(max(struct(col("tu"), col("y4"))).as("lastm"),
        min(struct(col("tu"), col("y4"))).as("firstm"))
    val grid = obs.groupBy(col("g"))
      .agg(min(col("tu")).as("mn"), max(col("tu")).as("mx"))
      .where(expr(s"mn div $H + 1") <= expr(s"mx div $H"))
      .select(col("g"), explode(sequence(expr(s"mn div $H + 1"),
        expr(s"mx div $H"))).as("h"))
    val axis = grid.select(col("g"), col("h"), lit(1).as("isg"))
      .join(blocks, Seq("g", "h"), "full_outer")
    val wPrev = Window.partitionBy(col("g")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col("g")).orderBy(col("h"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    axis
      .withColumn("prev", last(col("lastm"), ignoreNulls = true)
        .over(wPrev))
      .withColumn("nxt", first(col("firstm"), ignoreNulls = true)
        .over(wNext))
      .where(col("isg") === 1 && col("prev").isNotNull &&
        col("nxt").isNotNull)
      .select(col("g").as(groupCol), col("h").as("hour"),
        col("prev.tu").as("prev_micros"), col("nxt.tu").as("next_micros"),
        expr(s"""(cast(prev.y4 as decimal(38,0)) * (nxt.tu - h * $H) +
          cast(nxt.y4 as decimal(38,0)) * (h * $H - prev.tu))
          div (nxt.tu - prev.tu)""").as("interp_e4"))
  }

  /** Machine-cadence (bot) audit: per key, how REGULAR the inter-event
    * gaps are — a human's gaps are all over the place, a cron job's are
    * one value. Reports exact integers only: events, gaps, distinct
    * gaps, and the modal gap's share of all gaps in ppm (ties on the
    * modal count break to the LARGER gap, pinned for engine parity).
    * Thresholding (e.g. flag share > 50%) is the reader's policy call.
    *
    * One shuffle keyed by user (window lag), one (user, gap) count, one
    * user rollup — parallelism scales with keys. */
  def cadenceAudit(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col("u"))
      .orderBy(col("ts").asc, col("tie").asc)
    val gaps = events.select(col(keyCol).as("u"),
        col(tsCol).as("ts"), col(tieCol).as("tie"))
      .where(col("u").isNotNull && col("ts").isNotNull &&
        col("tie").isNotNull)
      .withColumn("gap",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .where(col("gap").isNotNull)
    val byGap = gaps.groupBy(col("u"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
    byGap.groupBy(col("u"))
      .agg(sum(col("cnt")).as("n_gaps"),
        count(lit(1)).as("n_distinct_gaps"),
        max(struct(col("cnt"), col("gap"))).as("m"))
      .select(col("u").as(keyCol), (col("n_gaps") + 1).as("n_events"),
        col("n_gaps"), col("n_distinct_gaps"),
        col("m.gap").as("modal_gap_us"),
        expr("m.cnt * 1000000 div n_gaps").as("modal_share_ppm"))
  }

  /** Survival-analysis life table (the Kaplan–Meier estimator's exact
    * inputs) over per-key activity lifetimes: each key's lifetime is
    * `last active period − first active period`; a key still active in
    * the corpus's final observed period is CENSORED (its true lifetime
    * is only known to be ≥ t), everything else is a churn event at t.
    * Per duration t the table reports n_risk(t) = keys with lifetime
    * ≥ t, the churn events d_t, the censored c_t, and the discrete
    * hazard d_t/n_risk(t) in exact ppm (integer division). The KM
    * survival curve is the running product Π(1 − d/n) over this table —
    * left to the reader so every emitted number stays integer-exact.
    *
    * Scale shape: one groupBy over the activity rows (the only
    * data-sized pass), one broadcast of the 1-row censoring frontier,
    * then the descending-cumulative n_risk runs BLOCKED on the
    * duration-domain histogram (bit-length blocks + driver-collected
    * per-block suffix offsets, the q224 pattern) — no single-partition
    * window anywhere, so the tail stays parallel even if the period
    * domain is large. */
  def lifeTable(df: DataFrame, keyCol: String,
      period: Column): DataFrame = {
    val spans = df.select(col(keyCol).as("u"),
        period.cast("long").as("per"))
      .where(col("u").isNotNull && col("per").isNotNull)
      .groupBy(col("u"))
      .agg(min(col("per")).as("first_per"), max(col("per")).as("last_per"))
    val frontier = spans.agg(max(col("last_per")).as("max_per"))
    val byT = spans.crossJoin(broadcast(frontier))
      .select((col("last_per") - col("first_per")).as("t"),
        when(col("last_per") < col("max_per"), 1L).otherwise(0L)
          .as("churn"))
      .groupBy(col("t"))
      .agg(sum(col("churn")).as("n_churn"),
        (count(lit(1)) - sum(col("churn"))).as("n_censored"))
      .withColumn("block", (length(bin(col("t"))) - 1).cast("int"))
      .truncateLineage(eager = false)
    // descending sweep: suffix offsets from higher bit-length blocks
    // (block count ≤ 64, so the driver state is constant-size)
    RunningSums(byT, Nil, -col("block"), Seq(col("t").desc),
        Seq("n_risk" -> (col("n_churn") + col("n_censored"))))
      .map(_.rows).getOrElse(byT.withColumn("n_risk", col("n_churn")).limit(0))
      .select(col("t").as("duration"), col("n_risk"), col("n_churn"),
        col("n_censored"),
        expr("n_churn * 1000000 div n_risk").as("hazard_ppm"))
  }
}
