package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import graft.Lineage._
import org.apache.spark.sql.functions._

/** Distribution profiling for join/aggregation planning at scale: before
  * shuffling 100 TB on a key, you want to know whether one key owns half
  * the table (→ salt it, or let AQE split it) — after the shuffle the
  * straggler has already happened.
  */
object Profiling {

  /** ANALYZE-style catalog statistics in ONE pass: per column, row/null
    * counts, lexicographic and (where castable) numeric min/max, and a
    * KMV distinct-count estimate — the inputs a cost-based optimizer
    * needs for join ordering and broadcast decisions.
    *
    * Shape: unpivot to (column, value) rows, then one partial-aggregated
    * groupBy with exactly `cols.size` keys — each map task reduces its
    * partition to `cols.size` rows (min/max/count fold, the ndv buffer is
    * the O(k) KMV sketch), so the single shuffle carries rows ×
    * partitions, never data. Compare: `cols.size` separate scans, or an
    * exact `count(DISTINCT)` per column (a full shuffle of every distinct
    * value, per column). */
  def columnStats(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    val packed = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("colname"),
        col(c).cast("string").as("v"),
        // try_cast: non-numeric columns contribute NULL numeric bounds
        // instead of an ANSI cast failure
        expr(s"try_cast($c AS BIGINT)").as("vn"))): _*)).as("x"))
      .select(col("x.colname").as("colname"), col("x.v").as("v"),
        col("x.vn").as("vn"))
    val hashed = packed.withColumn("h",
      conv(substring(md5(col("v").cast("binary")), 1, 15), 16, 10)
        .cast("long"))
    hashed.groupBy("colname")
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_nulls"),
        min(col("v")).as("min_s"), max(col("v")).as("max_s"),
        min(col("vn")).as("min_num"), max(col("vn")).as("max_num"),
        graft.functions.GraftFunctions.kminValues(col("h"), k).as("kmv"))
      .select(col("colname"), col("n_rows"), col("n_nulls"),
        col("min_s"), col("max_s"), col("min_num"), col("max_num"),
        when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
          .otherwise(floor(
            lit((k - 1).toDouble * math.scalb(1.0, 60)) /
              element_at(col("kmv"), k).cast("double")).cast("long"))
          .as("ndv_est"))
  }

  /** Most-common-values (MCV) catalog statistic: per column, the top-k
    * values with occurrence counts and frequency share — the other half
    * of what a cost-based optimizer keeps next to [[columnStats]]' ndv
    * (selectivity of `col = literal` predicates on skewed columns). One
    * unpivot pass → (column, value) counts → the bounded top-k aggregate
    * per column: O(k) buffers, no per-column sort. */
  def mostCommonValues(df: DataFrame, cols: Seq[String],
      k: Int): DataFrame = {
    val packed = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("colname"),
        col(c).cast("string").as("v"))): _*)).as("x"))
      .select(col("x.colname").as("colname"), col("x.v").as("v"))
      .where(col("v").isNotNull)
    packed.groupBy(col("colname"), col("v"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("colname"))
      .agg(graft.functions.GraftFunctions.topKByScore(
          col("n").cast("double"), col("v"), k).as("top"),
        sum(col("n")).as("total"))
      .select(col("colname"), col("total"), posexplode(col("top")))
      .select(col("colname"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("value"),
        col("col.score").cast("long").as("n"),
        (col("col.score") / col("total")).as("share"))
  }

  /** Referential-integrity audit for one fact→dimension relationship:
    * ONE row (relationship, n_rows, n_orphans, n_null_fk) — data-contract
    * validation at scale. A single left join against the distinct keys
    * (small side broadcast by the planner) with conditional counts; no
    * second scan, no anti-join pass. */
  def orphanAudit(fact: DataFrame, fkCol: String, dim: DataFrame,
      pkCol: String, name: String): DataFrame =
    fact.select(col(fkCol).as("__fk"))
      .join(dim.select(col(pkCol).as("__pk")).distinct(),
        col("__fk") === col("__pk"), "left")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("__pk").isNull && col("__fk").isNotNull, 1))
          .as("n_orphans"),
        count(when(col("__fk").isNull, 1)).as("n_null_fk"))
      .withColumn("relationship", lit(name))
      .select("relationship", "n_rows", "n_orphans", "n_null_fk")

  /** Per-group equi-depth histogram — the third catalog statistic next to
    * [[columnStats]]' ndv and [[mostCommonValues]]: `buckets` rank-ranged
    * buckets per group with value bounds and exact row counts, the range-
    * predicate selectivity input. Each distinct value lands in the bucket
    * of its FIRST row rank (`(cum − c)·b div n` — pure integer division,
    * bit-identical in any engine); repeated values never split across
    * buckets, so counts are equi-depth up to duplicate mass, which is the
    * standard histogram behavior. One distinct-value aggregation, then
    * group-partitioned windows (both frames share the partition key — one
    * exchange), then a |groups|×b-row rollup. */
  def equiDepthHistogram(df: DataFrame, groupCol: String,
      valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    valueHistogram(df.select(col(groupCol).as("g"),
        col(valueCol).cast("decimal(20,4)").as("v")))
      .withColumn("bucket",
        expr(s"((cum - c) * $buckets) div n").cast("int"))
      .groupBy(col("g").as(groupCol), col("bucket"))
      .agg(min(col("v")).cast("double").as("lo"),
        max(col("v")).cast("double").as("hi"),
        sum(col("c")).as("n_rows"))
  }

  /** k-anonymity audit over a set of quasi-identifier columns: the
    * combinations matched by FEWER than `k` distinct subjects — the rows
    * a release would have to suppress or generalize (Sweeney 2002). The
    * governance sibling of the PII redaction pass: redaction removes
    * direct identifiers, this finds the indirect ones. One groupBy on
    * the quasi-identifier tuple; the distinct-subject count per group is
    * the only extra exchange (Spark's two-phase distinct aggregate). */
  def kAnonymityAudit(df: DataFrame, qids: Seq[Column], idCol: String,
      k: Int): DataFrame =
    df.groupBy(qids: _*)
      .agg(count_distinct(col(idCol)).as("n_ids"),
        count(lit(1)).as("n_rows"))
      .where(col("n_ids") < k)

  /** Heavy-hitter profile of a key column: the k most frequent non-null
    * keys with row counts, share of the table, and `skew_ratio` — share ×
    * distinct key count, i.e. how many times over-represented the key is
    * vs a uniform spread (1.0 = perfectly uniform; a key with ratio 50
    * makes its shuffle partition ~50× the average). Ties break by key
    * ascending. A NULL-key group — the most common real-world skew
    * culprit, and one a top-k over join keys can never surface because
    * nulls don't equi-join — is reported unconditionally as a dedicated
    * `rank 0` row whenever present, regardless of its size.
    *
    * Shape at scale: one map-side-combined groupBy(key) — the same
    * shuffle the join under diagnosis would do, but carrying only
    * (key, count) — then the bounded [[graft.functions.TopKByScore]]
    * aggregate (O(k) partial buffers) for the winners and a broadcast of
    * the k-row result back onto the counts; the one-row totals frame
    * attaches by broadcast cross join. No global sort, no window. */
  def keySkew(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_rows"))
    val totals = counts.agg(sum(col("n_rows")).as("__total"),
      count(lit(1)).as("__n_keys"))
    val top = counts.where(col("key").isNotNull).groupBy()
      .agg(graft.functions.GraftFunctions.topKByScore(
        col("n_rows").cast("double"), col("key"), k).as("tk"))
      .select(posexplode(col("tk")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("key"))
    val ranked = counts.where(col("key").isNotNull)
      .join(broadcast(top), Seq("key"))
      .select(col("rank"), col("key"), col("n_rows"))
    val nullRow = counts.where(col("key").isNull)
      .select(lit(0).as("rank"), col("key"), col("n_rows"))
    nullRow.unionByName(ranked)
      .crossJoin(broadcast(totals))
      .select(col("rank"), col("key"), col("n_rows"),
        round(col("n_rows").cast("double") / col("__total"), 6)
          .as("share"),
        round(col("n_rows").cast("double") * col("__n_keys") /
          col("__total"), 4).as("skew_ratio"))
  }

  /** Per-group z-score normalization: (value − group mean) / group
    * population stddev, the group-relative outlier/feature scale. The
    * value column is assumed INTEGRAL (counts, lengths): the two moments
    * are EXACT integer sums — each square is computed in
    * DECIMAL(19,0)×DECIMAL(19,0) (never the narrow input type, so an
    * int column can't silently wrap at 46341²) and accumulated in
    * DECIMAL(38,0) — so mean and variance are order-independent and the
    * double arithmetic that follows is one fixed expression, which is
    * what lets an external engine reproduce the rounded z-scores
    * bit-for-bit. A zero-variance group z-scores to 0.
    *
    * Shape at scale: one map-side-combined groupBy for the moments (one
    * surviving row per group), broadcast back onto the table — the data
    * is scanned once and never self-joined. */
  def groupZScore(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("__s"),
        sum((col(valueCol).cast("decimal(19,0)") *
            col(valueCol).cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__s2"))
    val mean = col("__s").cast("double") / col("__n")
    val m2 = col("__s2").cast("double") / col("__n")
    val std = sqrt(greatest(m2 - mean * mean, lit(0.0)))
    df.join(broadcast(stats), Seq(groupCol))
      .select(col(idCol), col(groupCol), col(valueCol),
        when(std > 0, round((v - mean) / std, 4)).otherwise(lit(0.0))
          .as("zscore"))
  }

  /** Period-over-period trend report: per key, event counts before and
    * at-or-after `cutoff` plus the add-one-smoothed rise ratio — the
    * drift/trending table read off ingestion telemetry (which sources,
    * topics or error codes are accelerating). One map-side-combined
    * groupBy carrying two conditional counters per key; no second scan,
    * no join between the periods. */
  def trendReport(df: DataFrame, key: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column,
      cutoff: org.apache.spark.sql.Column): DataFrame =
    df.select(key.as("key"), ts.as("__ts"))
      .groupBy(col("key"))
      .agg(sum(when(col("__ts") < cutoff, 1L).otherwise(0L))
          .as("n_prior"),
        sum(when(col("__ts") >= cutoff, 1L).otherwise(0L))
          .as("n_recent"))
      .select(col("key"), col("n_prior"), col("n_recent"),
        round((col("n_recent") + lit(1.0)) / (col("n_prior") + lit(1.0)),
          4).as("rise_ratio"))

  /** Per-group percentile rank: each row's relative position of `value`
    * within its group, as `percent_rank` (0 for the group minimum, 1 for
    * the maximum, ties share a rank) — the scale-free alternative to
    * z-scores when the distribution is skewed or heavy-tailed (document
    * quality, lengths). One window PARTITIONED by group, ordered by
    * (value, id) only for within-frame determinism of the sort — the
    * rank itself depends on value ties alone, so it is
    * engine-reproducible exactly. */
  def groupPercentile(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol))
    df.select(col(idCol), col(groupCol), col(valueCol),
      round(percent_rank().over(w), 6).as("pct_rank"))
  }

  /** Power-of-two histogram of a positive integral column: bucket k
    * holds values in [2^k, 2^(k+1)) — the log-scale length/token
    * distribution consulted when sizing packing windows, batch shapes,
    * and file targets (linear histograms are useless on heavy-tailed
    * length data). Bucket = ⌊log2(v)⌋ computed as the BIT LENGTH of the
    * value (`length(bin(v)) − 1`) — pure integer arithmetic every engine
    * reproduces exactly, no floating log. Non-positive values land in
    * bucket −1. One map-side-combined groupBy over ≤64 buckets; the
    * share denominator attaches by broadcast of the one-row total. */
  def powerOfTwoHistogram(df: DataFrame, valueCol: String): DataFrame = {
    val bucket = when(col(valueCol) <= 0, lit(-1))
      .otherwise((length(bin(col(valueCol))) - 1).cast("int"))
    val counts = df.select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"),
        expr("CAST(1 AS BIGINT) << greatest(bucket, 0)").as("bucket_lo"),
        col("n_rows"),
        round(col("n_rows").cast("double") / col("__total"), 6)
          .as("share"))
  }

  /** Operating-point selection for a score-based filter: for each target
    * precision, the LOWEST threshold t (maximum recall) such that rows
    * with score >= t are at least target-ppm positive — how you turn a
    * quality-classifier score into an actual keep/drop gate at a
    * promised purity, without eyeballing a PR curve.
    *
    * Exact: per distinct score, (count, positives) from one groupBy;
    * the cumulative "kept/positives at threshold v" sweep runs as the
    * two-phase blocked prefix sum DESCENDING over the score's bit-length
    * blocks (offsets from higher blocks broadcast, per-block parallel
    * windows — no single-reducer window); precision is integer ppm and
    * the winning threshold per target is one min-struct aggregate.
    * Unachievable targets emit no row. */
  def precisionThreshold(df: DataFrame, scoreCol: String, label: Column,
      targets: Seq[Long]): DataFrame = {
    require(targets.nonEmpty && targets.forall(t => t >= 0 &&
      t <= 1000000L), s"targets must be ppm in [0, 1e6]: $targets")
    val per = df.select(col(scoreCol).cast("long").as("v"),
        when(label, 1L).otherwise(0L).as("pos"))
      .where(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    // descending sweep: offsets accumulate from the HIGHEST block down
    val sums = RunningSums(per, Nil, -col("block"), Seq(col("v").desc),
        Seq("n_kept" -> col("c"), "n_pos" -> col("p"))).getOrElse {
      return per.select(lit(0L).as("target_ppm"), col("v").as("threshold"),
        lit(0L).as("n_kept"), lit(0L).as("n_pos"),
        lit(0L).as("precision_ppm")).limit(0)
    }
    val pr = sums.rows.select(col("v"), col("n_kept"), col("n_pos"))
      .withColumn("precision_ppm",
        expr("n_pos * 1000000L div n_kept"))
      .truncateLineage(eager = false)
    targets.map { t =>
      pr.where(col("precision_ppm") >= t)
        .groupBy(lit(t).as("target_ppm"))
        .agg(min(struct(col("v"), col("n_kept"), col("n_pos"),
          col("precision_ppm"))).as("m"))
        .select(col("target_ppm"), col("m.v").as("threshold"),
          col("m.n_kept"), col("m.n_pos"), col("m.precision_ppm"))
    }.reduce(_ unionAll _)
  }

  /** Agreement between two partitionings of the same rows — the QA stat
    * for any clustering pipeline: how well do near-dup clusters align
    * with known groups, a new labeling with the previous run, a cheap
    * clustering with an expensive one? Reports the EXACT pair-counting
    * Rand index (fraction of row pairs on which the partitions agree —
    * together in both or apart in both) and purity (each A-cluster
    * votes its dominant B-label), both in exact ppm.
    *
    * All combinatorics run on the CONTINGENCY table (one
    * groupBy(a,b).count — the only pass over the data; everything after
    * is |A-labels|·|B-labels| rows): a = ΣC(n_ij,2), r = ΣC(n_i·,2),
    * c = ΣC(n_·j,2), RI = (C(n,2) + 2a − r − c)/C(n,2); pair counts in
    * DECIMAL(38,0) so n up to 10^18 rows cannot overflow. */
  def partitionAgreement(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val ct = df.select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .truncateLineage(eager = false)
    def d(c: Column) = c.cast("decimal(38,0)")
    def pairs(c: Column) = (d(c) * (d(c) - 1)).cast("decimal(38,0)")
    val aSide = ct.groupBy(col("a")).agg(sum(col("n")).as("na"))
      .agg(count(lit(1)).as("n_clusters_a"),
        sum(pairs(col("na"))).as("r2"))
    val bSide = ct.groupBy(col("b")).agg(sum(col("n")).as("nb"))
      .agg(count(lit(1)).as("n_clusters_b"),
        sum(pairs(col("nb"))).as("c2"))
    val cells = ct.agg(sum(col("n")).as("n_rows"),
      sum(pairs(col("n"))).as("a2"))
    val purity = ct.groupBy(col("a"))
      .agg(max(col("n")).as("mx"))
      .agg(sum(col("mx")).as("pur"))
    // (doubled pair counts throughout: C(n,2)·2 = n(n-1), so nothing
    // is halved and everything stays integral)
    cells.crossJoin(broadcast(aSide)).crossJoin(broadcast(bSide))
      .crossJoin(broadcast(purity))
      .where(col("n_rows") > 1)
      .select(col("n_rows"), col("n_clusters_a"), col("n_clusters_b"),
        expr("(CAST(n_rows AS DECIMAL(38,0)) * (n_rows - 1) " +
          "+ 2 * a2 - r2 - c2) * 1000000 div " +
          "(CAST(n_rows AS DECIMAL(38,0)) * (n_rows - 1))").as("rand_ppm"),
        expr("CAST(pur * 1000000 AS DECIMAL(38,0)) div n_rows")
          .as("purity_ppm"))
  }

  /** Per-group OLS trend of a metric over time — "is this metric
    * drifting, and how fast?" as a number per key, the regression
    * sibling of [[trendReport]]'s period ratios: slope of value against
    * the absolute hour index, from the five moment sums in ONE
    * map-side-combined aggregate per group (no window, no sort, no
    * second pass).
    *
    * Exactness: x = epoch-hour (exact integer), y snapped to
    * DECIMAL(18,4) then scaled to exact 1e-4-unit integers, so every
    * sum and cross-product is scale-0 integer arithmetic (DECIMAL(38,0)
    * — no engine-specific decimal scale rules anywhere); num/den are
    * reported exactly so the arithmetic is auditable, and the slope
    * itself (value units per hour) is one fixed IEEE multiply+divide,
    * bit-identical across engines. Null for single-point or
    * zero-time-variance groups. */
  def groupOlsTrend(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val obs = df.select(col(groupCol),
        expr(s"unix_micros($tsCol) div 3600000000").as("x"),
        (col(valueCol).cast("decimal(18,4)") * 10000).cast("long")
          .as("y4"))
      .where(col("x").isNotNull && col("y4").isNotNull)
    def d(c: Column) = c.cast("decimal(38,0)")
    val sums = obs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y4")).as("sy4"),
        sum(d(col("x")) * col("y4")).as("sxy4"),
        sum(d(col("x")) * col("x")).as("sxx"))
    val num = d(col("n")) * d(col("sxy4")) - d(col("sx")) * d(col("sy4"))
    val den = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    sums.select(col(groupCol), col("n"),
      // exact internally; the reported diagnostics are BIGINT (an
      // overflow at astronomic scale fails loudly under ANSI rather
      // than silently rounding)
      num.cast("long").as("slope_num_e4"),
      den.cast("long").as("slope_den"),
      when(den =!= 0, num.cast("double") /
        (den.cast("double") * lit(10000.0))).as("slope_per_hour"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov distance between two cohorts'
    * integer-value distributions — the unbinned companion to
    * [[driftReport]]: the supremum CDF gap sees shape drift that a
    * binned chi-style report smears away, and it is THE standard "did
    * this feature's distribution move?" gate between a reference corpus
    * and a new snapshot.
    *
    * Exactness: D = max over distinct v of |cumA(v)·nB − cumB(v)·nA| /
    * (nA·nB) — all integer products (DECIMAL(38,0), overflow-safe at
    * any scale), reported in exact ppm plus the value where the gap
    * peaks (ties → largest value, both engines agree).
    *
    * Scale shape: one groupBy collapses the data to DISTINCT values with
    * per-side counts; the running CDF over values is the two-phase
    * distributed prefix sum (bit-length blocks → ≤64 (block, subtotal)
    * pairs on the driver → per-block parallel windows + broadcast
    * offsets — never a single-reducer global window); the sup is one
    * max-aggregate. Driver state: 64 pairs of longs, regardless of data
    * size. */
  def ksDistance(df: DataFrame, sideCol: String, valueCol: String,
      sideA: String, sideB: String): DataFrame = {
    val obs = df.select(col(sideCol).as("s"),
        col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull &&
        (col("s") === sideA || col("s") === sideB))
    val per = obs.groupBy(col("v"))
      .agg(sum(when(col("s") === sideA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("s") === sideB, 1L).otherwise(0L)).as("cb"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    val sums = RunningSums(per, Nil, col("block"), Seq(col("v")),
        Seq("cuma" -> col("ca"), "cumb" -> col("cb"), "nv" -> lit(1L)))
      .getOrElse {
        return per.select(lit(0L).as("n_a"), lit(0L).as("n_b"),
          lit(0L).as("n_values"), col("v").as("ks_at"),
          lit(0L).as("ks_ppm")).limit(0)
      }
    val Seq(na, nb, nv) = Seq("cuma", "cumb", "nv").map(sums.total(_).toLong)
    if (na == 0 || nb == 0) {
      return per.select(lit(na).as("n_a"), lit(nb).as("n_b"),
        lit(nv).as("n_values"), col("v").as("ks_at"),
        lit(0L).as("ks_ppm")).limit(0)
    }
    def dec(c: Column) = c.cast("decimal(38,0)")
    val best = sums.rows
      .select(col("v"),
        abs(dec(col("cuma")) * nb - dec(col("cumb")) * na).as("diff"))
      .groupBy(lit(1).as("__g"))
      .agg(max(struct(col("diff"), col("v"))).as("m"))
    best.select(lit(na).as("n_a"), lit(nb).as("n_b"),
      lit(nv).as("n_values"), col("m.v").as("ks_at"),
      expr(s"m.diff * 1000000 div " +
        s"(CAST(${na} AS DECIMAL(38,0)) * ${nb})").as("ks_ppm"))
  }

  /** Pre-shuffle join-size estimation — the "should I run, broadcast, or
    * salt this join?" decision stat, computed WITHOUT running the join:
    * at 100 TB an equi-join's output size (and its worst single key) is
    * exactly what you must know before committing to the shuffle, and
    * both are estimable from bounded-state passes over each side alone.
    *
    * Decomposition (the classical skew-aware estimator):
    *   - HOT keys (exact): [[Sketches.heavyHitters]] finds every key with
    *     count·hhK > N on either side (bounded Misra–Gries state, exact
    *     recount); their pairwise products are the join's skew mass,
    *     computed exactly — including `worst_hot_pairs`, the single-key
    *     maximum that decides salting.
    *   - REST (estimate): uniformity within the long tail —
    *     rest_a·rest_b div max(ndv_rest_a, ndv_rest_b), with the rest
    *     ndv from a KMV sketch (exact below kmvK). The max-ndv
    *     denominator is the standard key-containment assumption.
    *
    * Everything is deterministic integer arithmetic over the portable
    * hash family, so an external engine recomputes the identical
    * estimate. One row out per relationship. */
  def joinSizeEstimate(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, rel: String, hhK: Int = 50,
      kmvK: Int = 256): DataFrame = {
    val p60 = (c: Column) =>
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    val ka = a.select(col(aKey).cast("string").as("k"))
      .where(col("k").isNotNull)
    val kb = b.select(col(bKey).cast("string").as("k"))
      .where(col("k").isNotNull)
    val hot = Sketches.heavyHitters(ka, col("k"), hhK)
      .select(col("value").as("hk"))
      .unionAll(Sketches.heavyHitters(kb, col("k"), hhK)
        .select(col("value").as("hk")))
      .distinct()
      .truncateLineage(eager = false)
    def hotCounts(side: DataFrame, out: String) = side
      .join(broadcast(hot), col("k") === col("hk"))
      .groupBy(col("hk")).agg(count(lit(1)).as(out))
    val hotStats = hotCounts(ka, "ca").withColumnRenamed("hk", "hka")
      .join(hotCounts(kb, "cb").withColumnRenamed("hk", "hkb"),
        col("hka") === col("hkb"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .agg(count(lit(1)).as("n_hot_keys"),
        sum(col("ca") * col("cb")).as("hot_pairs"),
        max(col("ca") * col("cb")).as("worst_hot_pairs"),
        sum(col("ca")).as("hot_a"), sum(col("cb")).as("hot_b"))
    def restNdv(side: DataFrame, out: String) = side
      .join(broadcast(hot), col("k") === col("hk"), "left_anti")
      .select(p60(col("k")).as("h"))
      .agg(graft.functions.GraftFunctions.kminValues(col("h"), kmvK)
        .as("kmv"))
      .select(when(size(col("kmv")) < kmvK, size(col("kmv")).cast("long"))
        .otherwise(floor(lit((kmvK - 1).toDouble * math.scalb(1.0, 60)) /
          element_at(col("kmv"), kmvK).cast("double")).cast("long"))
        .as(out))
    val totals = ka.agg(count(lit(1)).as("n_a"))
      .crossJoin(kb.agg(count(lit(1)).as("n_b")))
    totals.crossJoin(broadcast(hotStats))
      .crossJoin(broadcast(restNdv(ka, "ndv_rest_a")))
      .crossJoin(broadcast(restNdv(kb, "ndv_rest_b")))
      .select(lit(rel).as("relationship"), col("n_a"), col("n_b"),
        col("n_hot_keys"),
        coalesce(col("hot_pairs"), lit(0L)).as("hot_pairs"),
        coalesce(col("worst_hot_pairs"), lit(0L)).as("worst_hot_pairs"),
        (col("n_a") - coalesce(col("hot_a"), lit(0L))).as("rest_a"),
        (col("n_b") - coalesce(col("hot_b"), lit(0L))).as("rest_b"),
        col("ndv_rest_a"), col("ndv_rest_b"))
      .withColumn("est_rest",
        // explicit zero-denominator guard: ANSI div throws on /0
        when(greatest(col("ndv_rest_a"), col("ndv_rest_b")) > 0,
          expr("CAST(rest_a AS DECIMAL(38,0)) * rest_b div " +
            "greatest(ndv_rest_a, ndv_rest_b)")).otherwise(lit(0L)))
      .withColumn("est_total",
        col("hot_pairs") + col("est_rest"))
  }

  /** Benford first-significant-digit audit — the classic fabricated-data
    * / unit-mixing detector for monetary and count columns: naturally
    * occurring multiplicative data follows P(d) = log10(1+1/d); uniform
    * or hand-entered data does not, and a column whose digit profile
    * deviates hard is the first thing a data-quality sweep flags.
    *
    * Exactness discipline: the value is snapped to DECIMAL(18,2) (both
    * engines round the double identically), the digit is the first
    * character of the integral part — no floating log10 anywhere — and
    * shares are exact integer ppm. The expected ppm per digit is a
    * shared literal table (the only place log10 appears, pre-computed).
    * One ≤9-key map-side-combined groupBy; the total attaches by
    * broadcast of the one-row sum. Rows with value < 1 are excluded
    * (no first significant digit in the integral part). */
  def benfordAudit(df: DataFrame, value: Column): DataFrame = {
    val benford = Map("1" -> 301030L, "2" -> 176091L, "3" -> 124939L,
      "4" -> 96910L, "5" -> 79181L, "6" -> 66947L, "7" -> 57992L,
      "8" -> 51153L, "9" -> 45757L)
    val digit = substring(
      floor(value.cast("decimal(18,2)")).cast("long").cast("string"),
      1, 1)
    val counts = df.where(value >= 1)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    val expected = element_at(typedLit(benford), col("digit"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        expr("n * 1000000L div __total").as("share_ppm"),
        expected.as("benford_ppm"),
        (expr("n * 1000000L div __total") - expected).as("delta_ppm"))
  }

  /** Per-group Gini–Simpson diversity of a categorical mix in exact ppm:
    * 1 − Σ pᵢ² — the probability two draws from the group differ. The
    * behavioral-diversity feature next to [[Sessions.interEventGaps]]'
    * cadence: bots and single-purpose scripts sit near 0, organic
    * activity spreads; on corpora it reads as source/language mix
    * concentration (1 − Herfindahl). Shannon entropy needs a log per
    * group — this is the engine-exact diversity index (all integer:
    * 1e6 − Σcᵢ²·1e6 div n²). Two map-side-combined groupBys, keyed on
    * (group, category) then group. */
  def mixDiversity(df: DataFrame, groupCol: String,
      category: Column): DataFrame = {
    val c = df.select(col(groupCol), category.as("__cat"))
      .groupBy(col(groupCol), col("__cat"))
      .agg(count(lit(1)).as("c"))
    c.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("c")).as("n_obs"), sum(col("c") * col("c")).as("__s2"))
      .select(col(groupCol), col("n_categories"), col("n_obs"),
        // __s2 through DECIMAL(38,0): a single category count above
        // ~3.0e6 would overflow c^2 * 1e6 in BIGINT (throw under ANSI,
        // wrap otherwise) while the oracle computes in HUGEINT — the
        // decimal widen keeps both engines exact at any group size
        expr("1000000L - (CAST(__s2 AS DECIMAL(38,0)) * 1000000 div " +
          "(CAST(n_obs AS DECIMAL(38,0)) * n_obs))")
          .as("simpson_ppm"))
  }

  /** Per-group winsorization: clip `value` to its group's exact
    * interpolated [lo, hi] percentiles — the outlier-taming feature prep
    * that keeps a few million-char documents from dominating
    * length-normalized statistics, applied per group because length
    * scales differ by source/language. Emits the clip bounds alongside
    * the clipped value so downstream audits can see what moved.
    *
    * The interpolation is done in EXACT DECIMAL arithmetic over discrete
    * order statistics (the same `v_k + (v_{k+1} − v_k)·frac` definition
    * as Spark's `percentile` / DuckDB's `quantile_cont`), never through
    * `round(double, n)` — double rounding differs between engines by
    * 1 ulp at half-way points, which would break oracle hash parity on
    * unlucky data. Values are quantized to 4 decimal places on entry
    * (exact for integer columns); `lo`/`hi` must carry ≤ 6 decimal
    * digits so every intermediate stays inside decimal(38) exactly.
    *
    * Shape at scale: one groupBy(group, value) collapsing to the
    * DISTINCT-value histogram (the same state Spark's exact `percentile`
    * buffers internally), ONE window pass over that small histogram
    * (running count + group total share one partitioning, so one
    * exchange), a conditional aggregate picking both percentiles' order
    * statistics in the same pass, and a broadcast of the per-group
    * bounds back onto the table. A single linear stage chain — no rank
    * probe join, no global sort, no self-join on the data. */
  def winsorize(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"bad percentiles [$lo, $hi]")
    val loBd = BigDecimal(lo.toString)
    val hiBd = BigDecimal(hi.toString)
    require(loBd.scale <= 6 && hiBd.scale <= 6,
      s"lo/hi must have <= 6 decimal digits, got [$lo, $hi]")
    val vdec = col(valueCol).cast("decimal(20,4)")
    val cum = valueHistogram(df.select(col(groupCol).as("g"), vdec.as("v")))
    // fractional target positions p·(n−1), exact decimal; k = floor,
    // frac = remainder. k+1 clamps to n−1 (frac is 0 there anyway).
    // n is a per-row column now, so the ranks are too — the order
    // statistics v_k, v_{k+1} for both percentiles come out of one
    // conditional aggregate over the histogram (a row "hits" rank r iff
    // cum − c <= r < cum), with no probe join.
    def pos(p: BigDecimal) = lit(p) * (col("n") - 1)
    def frac(p: BigDecimal) =
      (pos(p) - floor(pos(p))).cast("decimal(10,6)")
    def k(p: BigDecimal) = floor(pos(p)).cast("long")
    def k1(p: BigDecimal) = least(k(p) + 1, col("n") - 1)
    def hit(r: Column) = col("cum") - col("c") <= r && r < col("cum")
    val bounds = cum.groupBy(col("g"))
      .agg(max(when(hit(k(loBd)), col("v"))).as("v_lo0"),
        max(when(hit(k1(loBd)), col("v"))).as("v_lo1"),
        max(when(hit(k(hiBd)), col("v"))).as("v_hi0"),
        max(when(hit(k1(hiBd)), col("v"))).as("v_hi1"),
        max(frac(loBd)).as("f_lo"), // constant per group
        max(frac(hiBd)).as("f_hi"))
      .select(col("g"),
        (col("v_lo0") + (col("v_lo1") - col("v_lo0")) * col("f_lo"))
          .as("p_lo_d"),
        (col("v_hi0") + (col("v_hi1") - col("v_hi0")) * col("f_hi"))
          .as("p_hi_d"))
    df.join(broadcast(bounds), col(groupCol) === col("g"))
      .select(col(idCol), col(groupCol), col(valueCol),
        round(col("p_lo_d"), 4).cast("double").as("p_lo"),
        round(col("p_hi_d"), 4).cast("double").as("p_hi"),
        round(least(greatest(vdec.cast("decimal(30,10)"),
            col("p_lo_d")), col("p_hi_d")), 4)
          .cast("double").as("clipped"))
  }

  /** Functional-dependency discovery over declared column pairs: does
    * `det → dep` hold (every determinant value maps to exactly one
    * dependent value)? The dependency-mining side of data contracts —
    * [[orphanAudit]] checks DECLARED foreign keys row by row; this
    * DISCOVERS which columns determine which, the input to
    * normalization, key inference, and "this column silently stopped
    * being derivable" alerts.
    *
    * Output per pair: distinct determinant count, distinct
    * (det, dep) pair count, the number of determinant values with >1
    * dependent (violating keys), and `holds`. Null values participate
    * as ordinary values (a sentinel-coalesced string), so a
    * half-nulled dependent column correctly breaks the FD.
    *
    * Shape: ONE unpivot pass over the input (all pairs share the scan),
    * a two-level groupBy — (pair, det-value) then (pair) — both
    * map-side combined; nothing driver-side. */
  def functionalDependencies(df: DataFrame,
      pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one (det, dep) pair")
    def s(c: String) =
      coalesce(col(c).cast("string"), lit("\u0000null"))
    val packed = df.select(explode(array(pairs.map { case (a, b) =>
      struct(lit(a).as("det"), lit(b).as("dep"),
        s(a).as("av"), s(b).as("bv"))
    }: _*)).as("x")).select(col("x.det").as("det"),
      col("x.dep").as("dep"), col("x.av").as("av"), col("x.bv").as("bv"))
    packed.groupBy(col("det"), col("dep"), col("av"))
      .agg(countDistinct(col("bv")).as("ndb"))
      .groupBy(col("det"), col("dep"))
      .agg(count(lit(1)).as("ndv_det"),
        sum(col("ndb")).as("ndv_pair"),
        sum(when(col("ndb") > 1, 1L).otherwise(0L))
          .as("n_violating_keys"))
      .select(col("det"), col("dep"), col("ndv_det"), col("ndv_pair"),
        col("n_violating_keys"),
        (col("n_violating_keys") === 0).as("holds"))
  }

  /** The per-group distinct-value histogram of `rows`' (`g`, `v`)
    * columns: one row per distinct (g, v) with its count `c`, its
    * running count `cum` in ascending v and its group's total `n`. Both
    * windows share partitionBy(g), so Catalyst plans them over one
    * exchange, and no state reaches the driver, so any number of groups
    * fits (the blocked [[RunningSums]] holds groups × blocks offsets on
    * the driver instead, and serves few, huge groups). */
  private def valueHistogram(rows: DataFrame, g: String = "g",
      v: String = "v"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byG = Window.partitionBy(col(g))
    rows.groupBy(col(g), col(v)).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(byG.orderBy(col(v))))
      .withColumn("n", sum(col("c")).over(byG))
  }

  /** Doubled exact median per group over `(g, v DECIMAL)` rows:
    * returns `(g, n, m2)` with `m2 = v_k + v_j` for 0-based order
    * statistics `k = (n−1) div 2`, `j = n div 2` — that is EXACTLY
    * 2 × the interpolated median, with no division anywhere (odd n:
    * k = j so m2 = 2·v_k; even n: the two middle values). Same
    * distinct-value-histogram + conditional-aggregate shape as
    * [[winsorize]]: one groupBy, two windows over one exchange, order
    * statistics without a probe join. */
  private def medianX2(vals: DataFrame): DataFrame = {
    val cum = valueHistogram(vals)
    val k = expr("(n - 1) div 2")
    val j = expr("n div 2")
    def hit(r: Column) = col("cum") - col("c") <= r && r < col("cum")
    cum.groupBy(col("g"))
      .agg(max(col("n")).as("n"),
        max(when(hit(k), col("v"))).as("v0"),
        max(when(hit(j), col("v"))).as("v1"))
      .select(col("g"), col("n"), (col("v0") + col("v1")).as("m2"))
  }

  /** Robust outlier report per group: median / MAD (median absolute
    * deviation) and the count of values beyond
    * `cutoff · 1.4826 · MAD` of the median — the outlier gate that,
    * unlike [[groupZScore]], a few extreme values cannot drag open
    * (mean and stddev both chase the outliers; median and MAD ignore
    * them). 1.4826 ≈ 1/Φ⁻¹(3/4) makes σ̂ = 1.4826·MAD estimate the
    * stddev under normality, so `cutoff` reads in sigmas.
    *
    * Exactness: both medians use the DOUBLED trick (m2 = sum of the two
    * middle order statistics — no division), deviations are
    * `|2v − m2|` (twice the true deviation, exact decimal), and the
    * outlier test `2·dev2 > cutoff·1.4826·mad4` multiplies exact
    * decimals only — engine-identical, no rounding anywhere before the
    * final display cast. Three aggregation passes over the (g, v)
    * projection, each the winsorize histogram shape. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      cutoff: BigDecimal = BigDecimal(3)): DataFrame = {
    require(cutoff > 0 && cutoff.scale <= 2,
      s"cutoff must be positive with <= 2 decimals, got $cutoff")
    val vals = df.select(col(groupCol).as("g"),
        col(valueCol).cast("decimal(20,4)").as("v"))
      .truncateLineage(eager = false)
    val med = medianX2(vals)
    val dev = vals.join(broadcast(med.select(col("g"), col("m2"))),
        Seq("g"))
      .select(col("g"), abs(col("v") * 2 - col("m2")).as("v"))
    val mad = medianX2(dev)
      .select(col("g"), col("m2").as("mad4"))
    val thresh = lit(cutoff * BigDecimal("1.4826"))
    val counts = vals
      .join(broadcast(med.select(col("g"), col("m2"))), Seq("g"))
      .join(broadcast(mad), Seq("g"))
      .groupBy(col("g"))
      .agg(sum(when(abs(col("v") * 2 - col("m2")) * 2 >
        thresh * col("mad4"), 1L).otherwise(0L)).as("n_outliers"))
    med.join(mad, Seq("g")).join(counts, Seq("g"))
      .select(col("g").as(groupCol), col("n"),
        round(col("m2") * lit(BigDecimal("0.5")), 4).cast("double")
          .as("median"),
        round(col("mad4") * lit(BigDecimal("0.25")), 4).cast("double")
          .as("mad"),
        col("n_outliers"))
  }

  /** Inclusion-dependency discovery: is every distinct value of
    * `a.aCol` present in `b.bCol`? The foreign-key MINING side of the
    * contract suite — [[orphanAudit]] checks a declared FK row by row;
    * this tests CANDIDATE containments at the distinct-value level, the
    * signal schema-matching and FK-inference tools run on. One distinct
    * per side + one left-anti join, all on single columns. */
  def inclusionDependency(a: DataFrame, aCol: String, b: DataFrame,
      bCol: String, label: String): DataFrame = {
    val av = a.select(col(aCol).cast("string").as("v"))
      .where(col("v").isNotNull).distinct()
    val bv = b.select(col(bCol).cast("string").as("v"))
      .where(col("v").isNotNull).distinct()
    val missing = av.join(bv, Seq("v"), "left_anti")
    av.agg(count(lit(1)).as("ndv"))
      .crossJoin(broadcast(missing.agg(count(lit(1)).as("n_missing"))))
      .select(lit(label).as("candidate"), col("ndv"), col("n_missing"),
        (col("n_missing") === 0).as("holds"))
  }

  /** Quantile transform (percentile-rank normalization): every row gets
    * its value's within-group percentile rank in exact ppm —
    * `pct_ppm = 10^6 · (rank_of_value − 1) div (n − 1)` with rank = the
    * count of strictly smaller values +1 (so ties share a rank, min
    * maps to 0, max to 10^6). The sklearn-QuantileTransformer feature
    * prep, distribution-free and engine-exact.
    *
    * Shape: distinct-value histogram per group (one groupBy), running
    * count window over DISTINCT VALUES (vocab-sized, partitioned per
    * group — never a row-level window), then one (g, v) hash join back
    * onto the rows. */
  def quantileTransform(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val vdec = col(valueCol).cast("decimal(20,4)")
    val cum = valueHistogram(df.select(col(groupCol).as("__qg"),
        vdec.as("__qv")), "__qg", "__qv")
      .select(col("__qg"), col("__qv"),
        when(col("n") === 1, lit(0L)).otherwise(
          expr("((cum - c) * 1000000L) div (n - 1)")).as("pct_ppm"))
    df.join(cum, col(groupCol) === col("__qg") && vdec === col("__qv"))
      .select(col(idCol), col(groupCol), col(valueCol),
        col("pct_ppm"))
  }

  /** Leave-one-out target encoding: each row's category feature becomes
    * the mean target of the OTHER rows in its category — the standard
    * high-cardinality categorical encoder, leave-one-out so a row never
    * sees its own label (the leakage the naive mean encoder commits).
    *
    * Exactness: targets are scaled to integral 1e-4 units through
    * DECIMAL (exact), so `loo = (sum − t) div (n − 1)` is pure integer
    * arithmetic — engine-identical, no float accumulation order
    * anywhere. Categories with a single row encode NULL (there is no
    * "other rows" mean; impute downstream).
    *
    * Shape: one map-side-combined groupBy to (category, sum, n) and one
    * hash join back — the category frame is ndv-sized and broadcasts
    * when small. */
  def targetEncodeLoo(df: DataFrame, catCol: String, idCol: String,
      targetCol: String): DataFrame = {
    val t = (col(targetCol).cast("decimal(18,4)") * 10000).cast("long")
    val stats = df.groupBy(col(catCol).as("g"))
      .agg(sum(t).as("tsum"), count(lit(1)).as("n"))
    df.select(col(idCol), col(catCol), col(targetCol), t.as("__t"))
      .join(broadcast(stats), col(catCol) === col("g"))
      .select(col(idCol), col(catCol), col(targetCol),
        when(col("n") > 1,
          expr("(tsum - __t) div (n - 1)")).as("loo_enc_e4"))
  }

  /** Snapshot diff between two corpus versions: per id, whether the row
    * was `added`, `removed`, `changed` (same id, different content hash)
    * or `unchanged` — the audit table an incremental ingestion run emits
    * so downstream consumers (dedup indexes, embeddings, splits) know
    * exactly what to recompute. One full-outer hash join on id carrying
    * only (id, md5) — content never crosses the wire; at steady state
    * both snapshots are bucketed by id and the join is exchange-free. */
  def corpusDiff(previous: DataFrame, current: DataFrame, idCol: String,
      contentCol: String): DataFrame = {
    def fp(df: DataFrame, h: String) =
      df.select(col(idCol).as("id"), md5(col(contentCol)).as(h))
    fp(previous, "old_hash")
      .join(fp(current, "new_hash"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Distribution-drift report between a reference and a current slice —
    * the data-contract monitor that catches silent upstream changes
    * (unit changes, truncation, new default values) before they poison a
    * training run. Per (group, value-bin): raw counts on both sides,
    * Laplace-smoothed shares in exact parts-per-million, and the
    * chi-square drift contribution. Reported PER BIN (the actionable
    * artifact — which part of the distribution moved), never summed
    * across bins, so no cross-bin float accumulation exists anywhere.
    *
    * Exactness discipline: bins are value-deterministic
    * (`least(floor(v / width), nBins−1)`); shares are integral divisions
    * of exact counts; the chi contribution's numerator difference and
    * denominator product are computed in DECIMAL and cast to double for
    * ONE multiply and ONE divide — IEEE-identical in any engine.
    *
    * Shape: one conditional-aggregation pass over the data (both slices
    * counted in the same groupBy — the input is scanned once), an
    * explode over the fixed bin range to materialize empty bins, and a
    * per-group totals join. */
  def driftReport(df: DataFrame, groupCol: String, valueCol: String,
      isRef: Column, binWidth: Double, nBins: Int): DataFrame = {
    require(nBins >= 2 && binWidth > 0,
      s"need nBins >= 2 and binWidth > 0, got $nBins/$binWidth")
    def d19(c: Column) = c.cast("decimal(19,0)")
    val bin = least(greatest(floor(col(valueCol) / binWidth), lit(0)),
      lit(nBins - 1)).cast("int")
    val cnt = df.select(col(groupCol).as("g"), bin.as("bin"),
        isRef.as("__ref"))
      .groupBy(col("g"), col("bin"))
      .agg(sum(when(col("__ref"), 1L).otherwise(0L)).as("r"),
        sum(when(col("__ref"), 0L).otherwise(1L)).as("c"))
    val full = cnt.select(col("g")).distinct()
      .select(col("g"), explode(sequence(lit(0), lit(nBins - 1)))
        .as("bin"))
      .join(cnt, Seq("g", "bin"), "left")
      .select(col("g"), col("bin"),
        (coalesce(col("r"), lit(0L)) + 1L).as("r1"),
        (coalesce(col("c"), lit(0L)) + 1L).as("c1"))
    val tot = full.groupBy(col("g"))
      .agg(sum(col("r1")).as("nr1"), sum(col("c1")).as("nc1"))
    val diff = (d19(col("c1")) * d19(col("nr1")) -
      d19(col("r1")) * d19(col("nc1"))).cast("double")
    full.join(tot, Seq("g"))
      .select(col("g").as(groupCol), col("bin"),
        (col("r1") - 1L).as("ref_n"), (col("c1") - 1L).as("cur_n"),
        expr("(r1 * 1000000L) div nr1").as("ref_ppm"),
        expr("(c1 * 1000000L) div nc1").as("cur_ppm"),
        (diff * diff /
          (d19(col("r1")) * d19(col("nc1")) * d19(col("nr1")))
            .cast("double")).as("chi"))
  }

  /** 2-D Pareto frontier (skyline), both dimensions maximized: the rows
    * no other row beats on both axes — "best customers" / "best
    * quality-per-cost documents" without a hand-tuned scalarization.
    * A point survives iff no point has x' >= x AND y' >= y with at least
    * one strict; exact duplicates of a frontier point all survive.
    *
    * The naive formulations both die at scale: the NOT EXISTS anti-join
    * is all-pairs, and the single ORDER BY x window serializes the table
    * through one reducer. This runs the banded sweep instead (the
    * [[Splits.curriculumOrder]] two-phase shape): band by exact x
    * percentiles (ONE broadcast boundary row), run the running
    * lexicographic-max sweep per band IN PARALLEL (window partitioned by
    * band, ordered x desc, y desc: a preceding row within the band has
    * x' >= x, so it dominates iff struct(y', x') > struct(y, x)), and
    * resolve cross-band domination with a suffix-max of per-band y
    * maxima — every row of band j > k has STRICTLY greater x (bands cut
    * on x), so any higher-band y-max >= y dominates. Driver state:
    * `bands` doubles. One shuffle (the band hash) after the boundary
    * aggregate. */
  def paretoFrontier2D(df: DataFrame, idCol: String, xCol: String,
      yCol: String, bands: Int = 32): DataFrame = {
    require(bands >= 2, s"bands must be >= 2, got $bands")
    val pts = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(idCol).as("id"), col(xCol).as("x"), col(yCol).as("y"))
    val bounds = pts.agg(percentile(col("x"),
      typedLit((1 until bands).map(_.toDouble / bands))).as("__bs"))
    val base = pts.crossJoin(broadcast(bounds))
      .select(col("id"), col("x"), col("y"),
        size(filter(col("__bs"),
          b => col("x").cast("double") > b)).cast("int").as("band"))
    // suffix max of per-band y maxima: yDominators(k) = max y over all
    // bands with strictly greater x (higher band index)
    val bandMax = base.groupBy(col("band"))
      .agg(max(col("y").cast("double")).as("by"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(-_._1)
    if (bandMax.isEmpty) return base.drop("band").limit(0)
    val suffix = scala.collection.mutable.Map.empty[Int, Double]
    var run = Double.NegativeInfinity
    bandMax.foreach { case (b, m) =>
      if (run > Double.NegativeInfinity) suffix(b) = run
      run = math.max(run, m)
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"))
      .orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val rm = max(struct(col("y").as("y"), col("x").as("x"))).over(w)
    val crossDom = element_at(typedLit(suffix.toMap), col("band"))
    base
      .withColumn("__rm", rm)
      .where((col("__rm").isNull ||
          !(col("__rm") > struct(col("y").as("y"), col("x").as("x")))) &&
        (crossDom.isNull || crossDom < col("y").cast("double")))
      .select(col("id"), col("x"), col("y"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation with
    * EXACT distributed quantile buckets — the standard CRM / lifecycle
    * segmentation: score every customer 1..`buckets` on each of the
    * three axes and report the segment grid. The naive form (three
    * `ntile()` windows over the whole customer table) serializes a
    * 100 TB groupBy result through one reducer per metric AND is
    * engine-ambiguous on ties (ntile splits equal values across
    * buckets by arrival order).
    *
    * Here the bucket is a pure function of the value's exact min-rank:
    * `q = (minrank0 · buckets) div n + 1`, so equal values always land
    * in the same bucket in every engine, and the rank comes from the
    * blocked two-phase prefix sum (groupBy DISTINCT metric values →
    * bit-length blocks → ≤3·64 subtotals on the driver → per-block
    * parallel windows + broadcast offsets) — no global sort, no
    * single-reducer window. Metrics are exact integers end to end:
    * recency = epoch-day of the latest order, frequency = order count,
    * monetary = cents through DECIMAL. Bucket 1 = lowest values
    * (oldest / fewest / least), `buckets` = highest.
    *
    * Output: one row per populated (r_q, f_q, m_q) cell with customer
    * count and exact total monetary cents. */
  def rfmSegments(orders: DataFrame, keyCol: String, dateCol: String,
      priceCol: String, buckets: Int = 5): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val rfm = orders
      .where(col(keyCol).isNotNull && col(dateCol).isNotNull)
      .groupBy(col(keyCol).as("k"))
      // cast-to-timestamp first: NTZ-encoded date columns are
      // value-identical under the UTC session, and the cast is a no-op
      // on TimestampType
      .agg(expr(s"unix_micros(max(cast($dateCol as timestamp)))" +
          " div 86400000000").as("r"),
        count(lit(1)).as("f"),
        sum((col(priceCol).cast("decimal(18,2)") * 100).cast("long"))
          .as("m"))
      .truncateLineage(eager = false)
    val long = rfm.select(col("k"), lit("r").as("metric"),
        col("r").as("v"))
      .unionAll(rfm.select(col("k"), lit("f").as("metric"),
        col("f").as("v")))
      .unionAll(rfm.select(col("k"), lit("m").as("metric"),
        col("m").as("v")))
    val per = long.groupBy(col("metric"), col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    val sums = RunningSums(per, Seq(col("metric")), col("block"),
        Seq(col("v")), Seq("cum" -> col("c"))).getOrElse {
      return per.select(lit(null).cast("int").as("r_q"),
        lit(null).cast("int").as("f_q"),
        lit(null).cast("int").as("m_q"), col("c").as("n_customers"),
        col("c").as("sum_monetary_cents")).limit(0)
    }
    val bucketed = sums.rows
      .select(col("metric"), col("v"),
        (col("cum") - col("c")).as("mr"),
        sums.groupTotal("cum").as("n"))
      .select(col("metric"), col("v"),
        (expr(s"(mr * $buckets) div n") + 1).cast("int").as("q"))
    val scored = long.join(bucketed, Seq("metric", "v"))
      .groupBy(col("k"))
      .agg(max(when(col("metric") === "r", col("q"))).as("r_q"),
        max(when(col("metric") === "f", col("q"))).as("f_q"),
        max(when(col("metric") === "m", col("q"))).as("m_q"))
    scored.join(rfm.select(col("k"), col("m")), "k")
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("m")).as("sum_monetary_cents"))
  }

  /** Market-basket association rules (support / confidence / lift) over
    * co-occurring items — the "customers who bought X also bought Y"
    * mining stage. At 100 TB the dangers are (a) the all-pairs item
    * join (item-domain quadratic) and (b) low-support noise; both are
    * handled the apriori way: items are pre-filtered by
    * `count ≥ minPairCount` (a pair can never be more frequent than
    * its rarest item, so the prune is lossless), and pairs are
    * generated only WITHIN a basket — per-basket quadratic, bounded by
    * basket size, never corpus-quadratic.
    *
    * Stats are exact integers: support counts straight off the
    * groupBy; `conf_ppm = cp·1e6 div c(a)`;
    * `lift_ppm = cp·n_baskets·1e6 div (c(a)·c(b))` through
    * DECIMAL(38,0). Both rule directions are emitted; the final top-k
    * is a TakeOrdered (no global sort) with full deterministic
    * tie-break (lift desc, conf desc, antecedent, consequent). */
  def associationRules(baskets: DataFrame, basketCol: String,
      itemCol: String, minPairCount: Long, topK: Int): DataFrame = {
    require(minPairCount >= 1 && topK >= 1,
      s"minPairCount and topK must be >= 1")
    val bi = baskets
      .where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("b"), col(itemCol).cast("long").as("i"))
      .distinct()
      .truncateLineage(eager = false)
    val itemCnt = bi.groupBy(col("i")).agg(count(lit(1)).as("ci"))
    val frequent = itemCnt.where(col("ci") >= minPairCount)
    val fbi = bi.join(frequent.select(col("i")), "i")
    val pairs = fbi.select(col("b"), col("i"))
      .join(fbi.select(col("b"), col("i").as("i2")), "b")
      .where(col("i") < col("i2"))
      .groupBy(col("i").as("ia"), col("i2").as("ib"))
      .agg(count(lit(1)).as("cp"))
      .where(col("cp") >= minPairCount)
    val nBaskets = broadcast(
      bi.select(col("b")).distinct().agg(count(lit(1)).as("nb")))
    val rules = pairs.select(col("ia").as("ante"), col("ib").as("cons"),
        col("cp"))
      .unionAll(pairs.select(col("ib").as("ante"), col("ia").as("cons"),
        col("cp")))
      .join(itemCnt.select(col("i").as("ante"), col("ci").as("ca")),
        "ante")
      .join(itemCnt.select(col("i").as("cons"), col("ci").as("cb")),
        "cons")
      .crossJoin(nBaskets)
    // integral div end to end: Spark's decimal `/` rounds HALF_UP at
    // its result scale, which can disagree with the oracle's floor
    rules.select(col("ante"), col("cons"), col("cp").as("pair_count"),
        col("ca").as("ante_count"), col("cb").as("cons_count"),
        expr("cp * 1000000 div ca").as("conf_ppm"),
        expr("cast(cast(cp as decimal(38,0)) * nb * 1000000 div " +
          "(cast(ca as decimal(38,0)) * cb) as bigint)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("conf_ppm").desc,
        col("ante").asc, col("cons").asc)
      .limit(topK)
  }

  /** Golden-record survivorship — the MDM merge step: given attribute
    * updates from multiple source systems, pick ONE surviving value per
    * (entity, attribute) by source precedence first, then recency, then
    * a unique tie-breaker. This is the deterministic heart of "merge
    * the CRM, the order feed, and the correction feed into one customer
    * profile"; the naive per-attribute subqueries rescan the update log
    * once per attribute.
    *
    * Shape: ONE filtered scan and ONE max-struct aggregate keyed by
    * (entity, attribute) — map-side combinable, no window, no join, no
    * rescan; parallelism scales with entity×attribute cardinality. The
    * ordering struct is (precedence, epoch-micros, tie-id) — all exact
    * integers — and the value rides behind the tie-breaker so it is
    * never compared. `n_candidates` reports merge contention per cell.
    *
    * Output: (key, attr, value, src_precedence, updated_micros,
    * n_candidates). */
  def goldenRecord(updates: DataFrame, keyCol: String, attrCol: String,
      valueCol: String, precedenceCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    updates
      .where(col(keyCol).isNotNull && col(attrCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(keyCol).as("key"), col(attrCol).as("attr"))
      .agg(max(struct(col(precedenceCol).cast("int").as("p"),
          unix_micros(col(tsCol).cast("timestamp")).as("t"),
          col(tieCol).cast("long").as("id"),
          col(valueCol).cast("string").as("v"))).as("m"),
        count(lit(1)).as("n_candidates"))
      .select(col("key"), col("attr"), col("m.v").as("value"),
        col("m.p").as("src_precedence"),
        col("m.t").as("updated_micros"), col("n_candidates"))
  }

  /** Binary-conversion A/B readout with Wilson intervals — the
    * discrete-metric companion to [[cupedAdjust]]: users are assigned
    * by the deterministic salted hash, exposure = has a 'view'-style
    * trigger event, conversion = a 'purchase'-style goal event AT OR
    * AFTER the user's first trigger (the leakage-honest definition —
    * pre-exposure purchases don't count). Counts are exact; the rate
    * and the Wilson 95% bounds are a fixed IEEE tail over them (z =
    * 1.96 literal), the interval of record for conversion dashboards
    * (never the naive normal interval, which breaks near 0/1).
    *
    * Output: one row per arm — (arm, n_exposed, n_converted, rate_ppm,
    * wilson_lo, wilson_hi). */
  def conversionAb(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, triggerType: String, goalType: String,
      salt: String = "graft-ab"): DataFrame = {
    val per = events
      .where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol).as("u"))
      .agg(min(when(col(typeCol) === triggerType, col(tsCol)))
        .as("first_trigger"),
        max(when(col(typeCol) === goalType, col(tsCol))).as("last_goal"))
      .where(col("first_trigger").isNotNull)
      .select(col("u"),
        (col("last_goal").isNotNull &&
          col("last_goal") >= col("first_trigger")).as("converted"),
        when(graft.ops.Splits.splitBucket(col("u"), salt) < 5000, "A")
          .otherwise("B").as("arm"))
    per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_exposed"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
      .select(col("arm"), col("n_exposed"), col("n_converted"),
        expr("n_converted * 1000000 div n_exposed").as("rate_ppm"),
        // the D suffix on every literal matters: Spark parses a bare
        // `1.9208` as DECIMAL(5,4), so `1.0 + 3.8416 / n` would be exact
        // decimal arithmetic cast to double at the end — one ulp off the
        // oracle's pure-double chain (seen: wilson_hi 1.0000000000000002
        // vs 1.0 at n=5). Double literals keep the whole chain IEEE on
        // both engines.
        expr("""(cast(n_converted as double) / n_exposed
            + 1.9208D / n_exposed
            - 1.96D * sqrt((cast(n_converted as double) / n_exposed)
              * (1.0D - cast(n_converted as double) / n_exposed)
              / n_exposed + 0.9604D / (cast(n_exposed as double)
              * n_exposed)))
          / (1.0D + 3.8416D / n_exposed)""").as("wilson_lo"),
        expr("""(cast(n_converted as double) / n_exposed
            + 1.9208D / n_exposed
            + 1.96D * sqrt((cast(n_converted as double) / n_exposed)
              * (1.0D - cast(n_converted as double) / n_exposed)
              / n_exposed + 0.9604D / (cast(n_exposed as double)
              * n_exposed)))
          / (1.0D + 3.8416D / n_exposed)""").as("wilson_hi"))
  }

  /** Rank movers between two periods — "which products moved most in
    * the revenue leaderboard": every entity's exact dense position
    * (value desc, key asc — fully tie-deterministic) in period A and
    * period B, top `topK` by absolute rank change. The naive form is
    * two global ORDER BY DESC row_numbers; here each period's rank is
    * `total − count-at-or-below + 1`, the count being the blocked
    * (period, bit-length) running count ([[RunningSums]]) over (value
    * asc, key desc) — keys are unique per period, so that order is the
    * exact reverse of the rank order; parallel windows, no
    * single-reducer sort. Entities present in only one period are
    * excluded (no rank to compare).
    *
    * Output: (key, rank_a, rank_b, delta) — delta = rank_a − rank_b
    * (positive = climbed), topK by |delta| desc then key. */
  def rankMovers(df: DataFrame, keyCol: String, isPeriodA: Column,
      valueCents: Column, topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val per = df.select(
        when(isPeriodA, "a").otherwise("b").as("p"),
        col(keyCol).cast("long").as("k"),
        valueCents.cast("long").as("vc"))
      .where(col("k").isNotNull && col("vc").isNotNull)
      .groupBy(col("p"), col("k")).agg(sum(col("vc")).as("v"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    // keys are unique per period, so the running count over
    // (value asc, key desc) is the row's rank from the bottom
    val sums = RunningSums(per, Seq(col("p")), col("block"),
        Seq(col("v"), col("k").desc), Seq("cnt" -> lit(1L))).getOrElse {
      return per.select(col("k").as(keyCol), col("v").as("rank_a"),
        col("v").as("rank_b"), col("v").as("delta")).limit(0)
    }
    val ranked = sums.rows.withColumn("rank",
      sums.groupTotal("cnt") - col("cnt") + 1L)
    val ra = ranked.where(col("p") === "a")
      .select(col("k"), col("rank").as("rank_a"))
    val rb = ranked.where(col("p") === "b")
      .select(col("k"), col("rank").as("rank_b"))
    ra.join(rb, "k")
      .select(col("k").as(keyCol), col("rank_a"), col("rank_b"),
        (col("rank_a") - col("rank_b")).as("delta"))
      .orderBy(abs(col("delta")).desc, col(keyCol).asc)
      .limit(topK)
  }

  /** ABC / Pareto classification — the inventory-management classic:
    * rank entities by value descending and classify A = the entities
    * carrying the first 80% of total value, B = the next 15%, C = the
    * tail. The naive form is one global ORDER BY value DESC with a
    * running sum — a single-reducer sort at 100 TB. Here the
    * descending cumulative "mass before this entity" is S − the blocked
    * running mass ([[RunningSums]]) over (value asc, entity desc):
    * entities are unique, so that order is the exact reverse of (value
    * desc, entity asc), and the classification predicate
    * `before·100 < 80·S` is exact integer arithmetic with full tie
    * determinism.
    *
    * Output: one row per class — (abc_class, n_entities, mass_cents,
    * share_ppm). */
  def abcClassification(df: DataFrame, keyCol: String,
      valueCents: Column): DataFrame = {
    val per = df.select(col(keyCol).cast("long").as("k"),
        valueCents.cast("long").as("vc"))
      .where(col("k").isNotNull && col("vc").isNotNull)
      .groupBy(col("k")).agg(sum(col("vc")).as("v"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    def d38(c: Column) = c.cast("decimal(38,0)")
    // entities are unique, so the running mass over (value asc, key
    // desc) is the mass at and after the entity in (value desc, key asc)
    val sums = RunningSums(per, Nil, col("block"),
        Seq(col("v"), col("k").desc), Seq("cum" -> d38(col("v"))))
      .getOrElse {
        return per.select(lit("A").as("abc_class"),
          col("v").as("n_entities"), col("v").as("mass_cents"),
          col("v").as("share_ppm")).limit(0)
      }
    val s = sums.total("cum")
    if (s <= 0) {
      return per.groupBy(lit("C").as("abc_class"))
        .agg(count(lit(1)).as("n_entities"), sum(col("v"))
          .as("mass_cents"),
          max(lit(null).cast("long")).as("share_ppm"))
    }
    val sLit = lit(s.toString).cast("decimal(38,0)")
    val classed = sums.rows
      .withColumn("before", sLit - col("cum"))
      .withColumn("abc_class",
        when(col("before") * 100 < sLit * 80, "A")
          .when(col("before") * 100 < sLit * 95, "B")
          .otherwise("C"))
    classed.groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_entities"), sum(col("v")).as("mass_cents"),
        expr(s"cast(sum(cast(v as decimal(38,0))) * 1000000 div " +
          s"cast('${s}' as decimal(38,0)) as bigint)").as("share_ppm"))
  }

  /** Chi-square independence audit of two categorical columns — "is
    * event type independent of day-of-week?": the full contingency
    * grid with exact expected counts and per-cell chi-square
    * contributions, ABSENT cells included (they carry the whole
    * expected mass — the classic bug in naive GROUP BY versions).
    * Domains are report-dimension-sized by contract.
    *
    * Exactness: expected·N = r_a·c_b, so the contribution is
    * `(n_ab·N − r_a·c_b)²·1e6 div (N·r_a·c_b)` — one integer division
    * per cell through DECIMAL(38,0), no float accumulation. Output one
    * row per grid cell: (a, b, n_ab, row_total, col_total,
    * expected_e4, contrib_e6). The test statistic is the sum of
    * contrib_e6 (left to the reader with dof = (R−1)(C−1)). */
  def chiSquareIndependence(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cell = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
      .truncateLineage(eager = false)
    val ra = cell.groupBy(col("a")).agg(sum(col("nab")).as("rtot"))
    val cb = cell.groupBy(col("b")).agg(sum(col("nab")).as("ctot"))
    val tot = broadcast(cell.groupBy(lit(1).as("__o"))
      .agg(sum(col("nab")).as("n")))
    def d38(c: Column) = c.cast("decimal(38,0)")
    ra.crossJoin(broadcast(cb))
      .join(cell, Seq("a", "b"), "left")
      .crossJoin(tot)
      .select(col("a").as(aCol), col("b").as(bCol),
        coalesce(col("nab"), lit(0L)).as("n_ab"),
        col("rtot").as("row_total"), col("ctot").as("col_total"),
        expr("cast(cast(rtot as decimal(38,0)) * ctot * 10000 div n " +
          "as bigint)").as("expected_e4"),
        expr("cast((cast(coalesce(nab, 0) as decimal(38,0)) * n - " +
          "cast(rtot as decimal(38,0)) * ctot) * " +
          "(cast(coalesce(nab, 0) as decimal(38,0)) * n - " +
          "cast(rtot as decimal(38,0)) * ctot) * 1000000 div " +
          "(cast(n as decimal(38,0)) * rtot * ctot) as bigint)")
          .as("contrib_e6"))
  }

  /** CUPED-adjusted A/B experiment readout — the variance-reduction
    * standard of experimentation platforms: the post-period metric is
    * adjusted by θ·(pre-period covariate − its mean) before comparing
    * arms, removing the between-user variance the pre-period already
    * explains. Assignment is the deterministic salted-hash split
    * ([[graft.ops.Splits.splitBucket]] < 5000 → arm A).
    *
    * Exactness discipline: every SUM is an exact integer (per-user
    * pre/post means in floored 1e-4 units through DECIMAL); θ and the
    * final means are a fixed handful of IEEE ops over those exact
    * sums — no float accumulation order anywhere. θ is the pooled
    * cov(x,y)/var(x); users without pre-period activity take covariate
    * 0 (documented; they still measure). Output one row: (n_a, n_b,
    * mean_a_e4, mean_b_e4, raw_diff, theta, adj_diff). */
  def cupedAdjust(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, splitTs: String,
      salt: String = "graft-ab"): DataFrame = {
    val cut = lit(splitTs).cast("timestamp")
    val y4 = (col(valueCol).cast("decimal(18,4)") * 10000).cast("long")
    val per = events
      .where(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(userCol).as("u"))
      .agg(
        sum(when(col(tsCol) < cut, y4)).as("pre_sum"),
        count(when(col(tsCol) < cut, 1)).as("pre_n"),
        sum(when(col(tsCol) >= cut, y4)).as("post_sum"),
        count(when(col(tsCol) >= cut, 1)).as("post_n"))
      .where(col("post_n") > 0)
      // Per-user means are FLOOR division (a - pmod(a, n)) div n, not
      // Spark's truncate-toward-zero `div`: the two differ on negative
      // sums, and the DuckDB oracle's `//` floors — a metric that can go
      // negative (refunds, deltas) must not desync the engines. pmod is
      // non-negative for n > 0, so the subtraction lands exactly on the
      // floor multiple.
      .select(col("u"),
        when(col("pre_n") > 0,
          expr("(pre_sum - pmod(pre_sum, pre_n)) div pre_n"))
          .otherwise(lit(0L)).as("x"),
        expr("(post_sum - pmod(post_sum, post_n)) div post_n").as("y"),
        (graft.ops.Splits.splitBucket(col("u"), salt) < 5000).as("isA"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val sums = per.groupBy(lit(1).as("__o"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        sum(d38(col("x")) * col("y")).as("sxy"),
        sum(d38(col("x")) * col("x")).as("sxx"),
        sum(when(col("isA"), 1L).otherwise(0L)).as("na"),
        sum(when(col("isA"), d38(col("x")))).as("sxa"),
        sum(when(col("isA"), d38(col("y")))).as("sya"),
        sum(when(!col("isA"), d38(col("x")))).as("sxb"),
        sum(when(!col("isA"), d38(col("y")))).as("syb"))
    // θ and the means: a FIXED chain of IEEE ops over exact sums
    sums.select(col("na").as("n_a"), (col("n") - col("na")).as("n_b"),
        expr("cast(sya as double) / cast(na as double)")
          .as("mean_a_e4"),
        expr("cast(syb as double) / cast(n - na as double)")
          .as("mean_b_e4"),
        expr("cast(sya as double) / cast(na as double) - " +
          "cast(syb as double) / cast(n - na as double)")
          .as("raw_diff_e4"),
        expr("case when n * sxx - sx * sx <> 0 then " +
          "cast(n * sxy - sx * sy as double) / " +
          "cast(n * sxx - sx * sx as double) else 0.0 end").as("theta"),
        expr("(cast(sya as double) / cast(na as double) - " +
          "cast(syb as double) / cast(n - na as double)) - " +
          "(case when n * sxx - sx * sx <> 0 then " +
          "cast(n * sxy - sx * sy as double) / " +
          "cast(n * sxx - sx * sx as double) else 0.0 end) * " +
          "(cast(sxa as double) / cast(na as double) - " +
          "cast(sxb as double) / cast(n - na as double))")
          .as("adj_diff_e4"))
  }

  /** Revenue/wealth concentration report — exact Gini coefficient and
    * top-p% shares (the Lorenz points behind "the top 1% of customers
    * drive X% of revenue") with NO global sort: distinct cent values
    * with counts, the blocked two-phase prefix sum for both the rank
    * prefix and the mass prefix, and the tie-exact closed form
    * 2·Σᵢ i·xᵢ = Σ_v y_v·(2·c·m + c·(c+1)) over tied groups (m =
    * 0-based min-rank) — all DECIMAL(38,0) integers, one division per
    * statistic. Gini = (2Σ i·x − (n+1)·S) / (n·S); a top-p% share
    * splits its boundary tie group exactly by row count.
    *
    * Output rows: ('gini', ppm), ('top1', ppm), ('top10', ppm), each
    * carrying (n_rows, total_cents). Non-negative values required (the
    * Lorenz construction); null values excluded. */
  def concentrationReport(df: DataFrame, valueCol: String): DataFrame = {
    val per = df
      .select((col(valueCol).cast("decimal(18,2)") * 100).cast("long")
        .as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val sums = RunningSums(per, Nil, col("block"), Seq(col("v")),
        Seq("cumc" -> col("c"), "cumm" -> d38(col("c")) * col("v")))
      .getOrElse {
        return per.select(lit("gini").as("stat"), col("c").as("ppm"),
          col("c").as("n_rows"), col("c").as("total_cents")).limit(0)
      }
    val n = sums.total("cumc").toLong
    val s = sums.total("cumm")
    if (s == 0) {
      // degenerate all-zero mass: Lorenz/Gini undefined — report nulls
      return Seq("gini", "top1", "top10").map { st =>
        per.groupBy(lit(st).as("stat"))
          .agg(max(lit(null).cast("long")).as("ppm"))
          .select(col("stat"), col("ppm"), lit(n).as("n_rows"),
            lit(0L).as("total_cents"))
      }.reduce(_ unionAll _)
    }
    val cum = sums.rows.select(col("v"), col("c"), col("cumc"), col("cumm"))
      .truncateLineage(eager = false)
    val sLit = lit(new java.math.BigDecimal(s.bigInteger))
      .cast("decimal(38,0)")
    // gini: Σ_v y·(2cm + c(c+1)) with m = cumc − c, then the closed form
    val gini = cum
      .select((d38(col("v")) *
        (d38(col("c")) * (col("cumc") - col("c")) * 2 +
          d38(col("c")) * (col("c") + 1))).as("t"))
      .groupBy(lit("gini").as("stat"))
      .agg(expr(s"cast((sum(t) - ($n + 1) * cast('${s}' as " +
        s"decimal(38,0))) * 1000000 div ($n * cast('${s}' as " +
        "decimal(38,0))) as bigint)").as("ppm"))
      .select(col("stat"), col("ppm"), lit(n).as("n_rows"),
        sLit.cast("long").as("total_cents"))
    val tops = Seq(1, 10).map { p =>
      val kp = (n * p + 99) / 100
      val bottom = n - kp
      val top =
        if (bottom <= 0) cum.groupBy(lit(s"top$p").as("stat"))
          .agg(max(lit(1000000L)).as("ppm"))
        else cum
          .where(col("cumc") - col("c") <= bottom - 1 &&
            col("cumc") > bottom - 1)
          .select(((sLit - (col("cumm") - d38(col("c")) * col("v")) -
            d38(lit(bottom) - (col("cumc") - col("c"))) * col("v")) *
            1000000).as("topmass"))
          .groupBy(lit(s"top$p").as("stat"))
          .agg(expr(s"cast(sum(topmass) div cast('${s}' as " +
            "decimal(38,0)) as bigint)").as("ppm"))
      top.select(col("stat"), col("ppm"), lit(n).as("n_rows"),
        sLit.cast("long").as("total_cents"))
    }
    (gini +: tops).reduce(_ unionAll _)
  }

  /** t-closeness / l-diversity privacy audit — the release-gate
    * companion to k-anonymity (q125): per quasi-identifier group,
    * (a) group size (the k), (b) the count of distinct sensitive
    * values (the l), and (c) the total-variation distance between the
    * group's sensitive-value distribution and the global one in exact
    * ppm (the categorical t in t-closeness: a group whose sensitive mix
    * mirrors the population leaks nothing even at small k; a skewed one
    * leaks at ANY k).
    *
    * Exactness: TVD = Σ_v |n_gv·N − n_v·N_g| · 1e6 div (2·N_g·N) — the
    * absolute differences are summed as exact DECIMAL(38,0) integers
    * and divided once. The value grid is (groups × sensitive-domain)
    * with absent cells contributing |0 − n_v·N_g| — the sensitive
    * domain is bounded by contract (categories, not free text), so the
    * grid is report-dimension-sized; event-scale data is touched once
    * by the (group, value) count. */
  def tCloseness(df: DataFrame, quasiCol: String,
      sensitiveCol: String): DataFrame = {
    val cell = df
      .where(col(quasiCol).isNotNull && col(sensitiveCol).isNotNull)
      .select(col(quasiCol).cast("string").as("q"),
        col(sensitiveCol).cast("string").as("s"))
      .groupBy(col("q"), col("s")).agg(count(lit(1)).as("nqs"))
      .truncateLineage(eager = false)
    val grp = cell.groupBy(col("q"))
      .agg(sum(col("nqs")).as("nq"), count(lit(1)).as("ldiv"))
    val glob = cell.groupBy(col("s")).agg(sum(col("nqs")).as("ns"))
    val tot = broadcast(cell.groupBy(lit(1).as("__o"))
      .agg(sum(col("nqs")).as("n")))
    def d38(c: Column) = c.cast("decimal(38,0)")
    grp.crossJoin(broadcast(glob))
      .join(cell, Seq("q", "s"), "left")
      .crossJoin(tot)
      .select(col("q"), col("nq"), col("ldiv"), col("n"),
        abs(d38(coalesce(col("nqs"), lit(0L))) * d38(col("n")) -
          d38(col("ns")) * d38(col("nq"))).as("num"))
      .groupBy(col("q").as(quasiCol))
      .agg(max(col("nq")).as("k_size"), max(col("ldiv"))
          .as("l_diversity"),
        expr("cast(sum(num) * 1000000 div " +
          "(2 * cast(max(nq) as decimal(38,0)) * max(n)) as bigint)")
          .as("tvd_ppm"))
  }

  /** Business days (Mon–Fri) from epoch-day `startDay` exclusive to
    * `endDay` inclusive — the SLA / lead-time metric ("shipped in how
    * many working days?") in CLOSED FORM: `wd(m) = 5·(m div 7) +
    * min(m mod 7 + 1, 5)` counts weekdays in [0, m] of a Monday-origin
    * axis (epoch day 0 = Thursday, hence the +3 shift), and the lag is
    * a difference of two such counts. No generated calendar dimension,
    * no join, no window — one codegen'd integer expression per row,
    * which is the difference at 100 TB between a projection and a
    * billion-row calendar join. Exact and engine-portable (div/mod
    * arithmetic only). Negative spans yield negative lags
    * symmetrically. */
  def businessDaysBetween(startDay: Column, endDay: Column): Column = {
    def intDiv(a: Column, b: Long) =
      ((a - pmod(a, lit(b))) / lit(b)).cast("long")
    def wd(m: Column) =
      lit(5L) * intDiv(m, 7L) + least(pmod(m, lit(7L)) + 1, lit(5L))
    wd(endDay.cast("long") + 3) - wd(startDay.cast("long") + 3)
  }

  /** One-pass pairwise Pearson correlation matrix over exact-integer
    * columns — the ANALYZE-style companion to [[columnStats]]: the CBO /
    * feature-selection correlation table computed in a SINGLE scan.
    *
    * Callers pass each column pre-scaled to an exact integer grid (cents,
    * basis points, …). All moment sums (Σx, Σx², Σxy for every pair) run
    * as one partial-aggregated pass — k columns cost k(k+3)/2 + 1
    * aggregate buffers per task and ONE shuffle of one row, never a
    * second scan per pair. The final correlations divide exact
    * DECIMAL(38,0) moment terms cast to double (IEEE sqrt/division on
    * identical integers — bit-reproducible across engines, unlike
    * accumulating floating-point covariances in scan order).
    *
    * Output: one row per unordered column pair (col_a < col_b
    * positionally): (col_a, col_b, n_rows, corr). At 100 TB the cost is
    * the one scan; the pair explosion happens on a 1-row frame. */
  def correlationMatrix(df: DataFrame,
      cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val named = cols.zipWithIndex.map { case ((n, c), i) =>
      (n, c, s"x$i")
    }
    val base = df.select(named.map { case (_, c, a) =>
      c.cast("decimal(38,0)").as(a)
    }: _*)
    val aggs: Seq[Column] = Seq(count(lit(1)).as("n")) ++
      named.map { case (_, _, a) => sum(col(a)).as(s"s_$a") } ++
      (for {
        i <- named.indices; j <- i until named.size
      } yield {
        val (ai, aj) = (named(i)._3, named(j)._3)
        sum((col(ai) * col(aj)).cast("decimal(38,0)"))
          .as(s"p_${ai}_$aj")
      })
    val g = base.agg(aggs.head, aggs.tail: _*)
    def term(p: String, a: String, b: String): Column =
      (col(p) * col("n") - col(s"s_$a") * col(s"s_$b")).cast("double")
    val pairRows = for {
      i <- named.indices; j <- (i + 1) until named.size
    } yield {
      val (ni, _, ai) = named(i)
      val (nj, _, aj) = named(j)
      val denom = sqrt(term(s"p_${ai}_$ai", ai, ai)) *
        sqrt(term(s"p_${aj}_$aj", aj, aj))
      // a zero-variance column has no defined correlation: emit NaN
      // explicitly (ANSI mode would otherwise throw on the 0-division)
      g.select(lit(ni).as("col_a"), lit(nj).as("col_b"),
        col("n").cast("long").as("n_rows"),
        when(denom === 0d, lit(Double.NaN))
          .otherwise(term(s"p_${ai}_$aj", ai, aj) / denom).as("corr"))
    }
    pairRows.reduce(_ unionAll _)
  }

  /** Differentially-private-style noisy count release with DETERMINISTIC
    * seeded noise — the governance sibling of [[kAnonymityAudit]]: the
    * release never publishes a true small count, and the whole pipeline
    * stays reproducible (and cross-engine verifiable) because the noise
    * is a pure function of the group key + salt, not an RNG stream.
    *
    * Noise: z ~ approx N(0,1) by Irwin–Hall — the sum of 12 uniforms
    * u_i = md5_60(salt:key:i)/2^60 minus 6 — scaled by `sigma` and
    * rounded via floor(x + 0.5). Every u_i is a dyadic rational, so with
    * `sigma` a power of two ALL arithmetic is exact IEEE double ops (no
    * transcendentals): any engine that computes the same md5 lands on
    * the same released counts bit-for-bit. Groups whose released count
    * falls below `suppressBelow` are dropped entirely (suppression, not
    * clamping — publishing "0" would still reveal group existence).
    *
    * One keyed aggregation; the noise is a projection. Scale cost =
    * exactly the groupBy. */
  def dpNoisyCounts(df: DataFrame, keyCols: Seq[String], sigma: Double,
      suppressBelow: Long, salt: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(sigma > 0, s"sigma must be positive, got $sigma")
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_true"))
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    def u(i: Int): Column =
      conv(substring(md5(concat(lit(salt + ":"), key, lit(":" + i))
        .cast("binary")), 1, 15), 16, 10).cast("long").cast("double") /
        lit(1152921504606846976.0) // 2^60
    val z = (1 to 12).map(u).reduce(_ + _) - lit(6.0)
    val released = greatest(lit(0L),
      col("n_true") + floor(lit(sigma) * z + lit(0.5)).cast("long"))
    counts
      .select(keyCols.map(col) :+ released.as("n_released"): _*)
      .where(col("n_released") >= suppressBelow)
  }

  /** Reliability-diagram (calibration) table for a scored binary
    * outcome: rows bucketed into `bins` equal-width confidence bins,
    * each bin reporting exact support, positives, total predicted
    * confidence, and the |accuracy − confidence| gap — the per-bin data
    * behind ECE (expected calibration error = Σ n_b·gap_b / N, left to
    * the reader so every emitted number stays exact).
    *
    * `scoreUnits` is the model score as INTEGER micro-units (0..1e6):
    * callers floor their double score once at the boundary, and all
    * binning/aggregation/gap arithmetic below is integer-exact — no
    * float means whose partial-aggregation order could differ between
    * runs or engines. One keyed aggregation over `bins` groups. */
  def calibrationReport(df: DataFrame, scoreUnits: Column, label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val width = 1000000L / bins
    val b = df.select(scoreUnits.cast("long").as("su"),
        label.cast("long").as("y"))
      .where(col("su").isNotNull && col("y").isNotNull)
      .select(least(lit(bins - 1L),
        greatest(lit(0L), expr(s"su div $width"))).as("bin"),
        col("su"), col("y"))
    b.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("n_pos"),
        sum(col("su")).as("sum_score_u"))
      // |mean(y)*1e6 - mean(score_u)| in micro-units, exact integer div
      .withColumn("gap_u",
        expr("abs(n_pos * 1000000 - sum_score_u) div n"))
  }

  /** Missingness co-occurrence matrix: for every column pair, the exact
    * contingency of NULL patterns — n rows, each column present, both
    * present (absent cells derivable: n − n_a − n_b + n_both). Columns
    * that go null TOGETHER signal a structural upstream cause (a failed
    * join stage, a consent flag) rather than independent noise — the
    * first question a missing-data audit asks, and chi/phi is one
    * reader-side formula from these counts.
    *
    * ONE pass, one aggregate row (a conditional-sum column per column
    * and per pair), melted to pair rows with stack — no per-pair scans,
    * no row multiplication. */
  def missingnessMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val flags = df.select(cols.zipWithIndex.map { case (c, i) =>
      col(c).isNotNull.cast("long").as(s"__p$i")
    }: _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)
    val aggs = Seq(count(lit(1)).as("__n")) ++
      cols.indices.map(i => sum(col(s"__p$i")).as(s"__a$i")) ++
      pairs.map { case (i, j) =>
        sum(col(s"__p$i") * col(s"__p$j")).as(s"__b${i}_$j")
      }
    val row = flags.agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs.map { case (i, j) =>
      s"'${cols(i).replace("'", "''")}', " +
        s"'${cols(j).replace("'", "''")}', __n, __a$i, __a$j, __b${i}_$j"
    }.mkString(", ")
    row.select(expr(s"stack(${pairs.size}, $stackArgs) " +
        "AS (col_a, col_b, n, n_a, n_b, n_both)"))
      .withColumn("n_neither",
        col("n") - col("n_a") - col("n_b") + col("n_both"))
  }

  /** Cross-group quantile matching (distribution alignment): map every
    * distinct value of each non-reference group onto the REFERENCE
    * group's value at the same percentile — the calibration table that
    * makes per-source scores comparable before a global threshold
    * (quantile normalization). Rank conventions are [[quantileTransform]]'s
    * exact min-rank ppm; the reference lookup is rank containment
    * (target rank k = pct·(n_ref−1) div 1e6 falls in exactly one ref
    * value's [min-rank, max-rank] interval), executed as the binned
    * range equi-join ([[RangeJoin.pointInInterval]]) — never a
    * nested-loop BETWEEN.
    *
    * Output one row per (group, distinct value): its count, exact
    * percentile ppm, and the matched reference value. All rank
    * arithmetic exact longs; values carried as DECIMAL(20,4). */
  def quantileMatch(df: DataFrame, groupCol: String, valueCol: String,
      refGroup: String): DataFrame = {
    val cum = valueHistogram(df.select(col(groupCol).as("g"),
        col(valueCol).cast("decimal(20,4)").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull))
      .truncateLineage(eager = false)
    val ref = cum.where(col("g") === refGroup)
      .select(col("v").as("r_v"), (col("cum") - col("c")).as("r_lo"),
        (col("cum") - 1).as("r_hi"))
    val nRefRow = cum.where(col("g") === refGroup)
      .agg(max(col("n"))).collect()
    if (nRefRow.isEmpty || nRefRow.head.isNullAt(0)) {
      // empty input / missing reference: an empty mapping, not an
      // error (the every-query-completes-on-empty-tables contract)
      return cum.limit(0).select(col("g").as(groupCol),
        lit(0.0).as("value"), lit(0L).as("n"), lit(0L).as("pct_ppm"),
        lit(0.0).as("matched_value"))
    }
    val nRef = nRefRow.head.getLong(0)
    val tgt = cum.where(col("g") =!= refGroup)
      .select(col("g"), col("v"), col("c"),
        when(col("n") === 1, lit(0L)).otherwise(
          expr("((cum - c) * 1000000L) div (n - 1)")).as("pct_ppm"))
      .withColumn("k", expr(s"(pct_ppm * (${nRef}L - 1)) div 1000000"))
      .withColumn("pid", concat(col("g"), lit("\u0000"), col("v")))
    // bin width ~ 4x the mean ref-interval length (interval length =
    // value's duplicate count, usually 1): keeps interval fan-out ~1
    // bin while bounding same-bin candidates to a handful per point —
    // nRef/constant would put hundreds of singleton intervals per bin
    // at high-cardinality refs (measured 5.7x wall at 10x rows)
    val nRefVals = ref.count()
    val matched = RangeJoin.pointInInterval(
      tgt.select(col("pid"), col("k")), "pid", "k",
      ref.withColumn("iid", col("r_v")), "iid", "r_lo", "r_hi",
      binWidth = math.max(1L, 4L * nRef / math.max(1L, nRefVals)))
      .select(col("point_id").as("pid"),
        col("interval_id").cast("decimal(20,4)").as("matched_value"))
    // DECIMAL internally for exact grouping; DOUBLE at the output
    // boundary (the library-wide decimal-then-double contract)
    tgt.join(matched, Seq("pid"))
      .select(col("g").as(groupCol),
        col("v").cast("double").as("value"),
        col("c").as("n"), col("pct_ppm"),
        col("matched_value").cast("double").as("matched_value"))
  }

  /** Robust per-key outlier flags via median / MAD (median absolute
    * deviation) — the anomaly monitor that survives the exact skew that
    * breaks mean/stddev z-scores (one traffic spike inflates a stddev
    * until nothing else flags; the median barely moves). Rows are
    * bucketed to hours per key; an hour is an outlier when its count
    * deviates from the key's median by more than `k` × MAD. All
    * quantities are EXACT integers: both medians are type-1 order
    * statistics from the [[graft.ops.Sketches.exactQuantilesByGroup]]
    * kernel (value at 0-based rank ⌈n/2⌉−1 — blocked two-phase ranks,
    * no per-key global sort), the deviation is |n − med| in longs, and
    * the flag test cross-multiplies (dev > k·MAD) so no division ever
    * happens. MAD = 0 (an utterly regular key) flags ANY deviating
    * hour — the desired behavior for cron-like keys. Output:
    * (key, hour, n, med, mad, outlier 0/1). */
  /** Exact Gini coefficient of a non-negative value per group — the
    * concentration statistic behind "is this source's token mass spread
    * across documents or piled into a few megadocs" (a high-Gini source
    * is one dedup pass or one boilerplate generator away from
    * dominating a mixture; [[mixDiversity]]'s Gini–SIMPSON index
    * measures categorical variety, a different quantity). Uses the
    * rank formula G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over values
    * ranked ascending within the group; equal values commute under the
    * rank sum, so the result is order-independent. Reported as exact
    * floor ppm via one decimal(38,0) fraction — no float division.
    *
    * Shape: the blocked two-phase rank kernel (the
    * [[graft.ops.Sketches.exactQuantilesByGroup]] machinery) — a
    * per-group window ranks the whole group's ROWS through one reducer
    * task, the single-partition-window pattern this library exists to
    * avoid when groups are few and huge (a handful of sources, billions
    * of docs each). Instead: groupBy DISTINCT (group, value) counts →
    * (group, bit-length) block subtotals (driver holds groups × ≤64
    * longs) → per-block parallel cumulative windows + broadcast
    * offsets. A distinct value v with count c and lo values below it
    * occupies ranks lo+1..lo+c, contributing v·c·(2·lo + c + 1) to
    * 2·Σi·x — equal values commute, so blocked ranks are exact. */
  def giniConcentration(df: DataFrame, groupCol: String,
      valueCol: String, maxGroups: Int = 65536): DataFrame = {
    val per = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull && col("v") >= 0)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    // loud cardinality guard (r13 directive #6): the kernel collects
    // groups × ≤65 block subtotals to the driver — the right contract
    // for corpus stats over a handful of sources, an OOM trap if someone
    // passes a row-scale group column. The probe reads the checkpoint
    // blocks the collect below reuses, so it costs one cheap job.
    val nGroups = per.select(col("g")).distinct().count()
    require(nGroups <= maxGroups,
      s"giniConcentration: $nGroups distinct '$groupCol' groups exceed " +
        s"maxGroups=$maxGroups — the blocked-rank kernel holds groups x " +
        "<=65 block subtotals on the driver. Use a genuinely low-" +
        "cardinality group column, or raise maxGroups deliberately")
    val sums = RunningSums(per, Seq(col("g")), col("block"),
        Seq(col("v")), Seq("cum" -> col("c"))).getOrElse {
      return per.select(col("g").as(groupCol), col("c").as("n"),
        col("v").as("sum_value"), col("v").as("gini_ppm")).limit(0)
    }
    sums.rows.select(col("g"), col("v"), col("c"),
        (col("cum") - col("c")).as("lo"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("n"),
        sum(d38c(col("v")) * d38c(col("c"))).as("sx"),
        sum(d38c(col("v")) * d38c(col("c")) *
          (d38c(col("lo")) * lit(2) + d38c(col("c")) + lit(1)))
          .as("two_six"))
      .select(col("g").as(groupCol), col("n"),
        col("sx").cast("long").as("sum_value"),
        when(col("sx") > 0, expr(
          """cast((1000000 * (two_six - cast(n + 1 as decimal(38,0))
            | * sx)) div (cast(n as decimal(38,0)) * sx) as bigint)"""
            .stripMargin.replace("\n", " ")))
          .as("gini_ppm"))
  }

  /** floor(2^60 · P(Poisson(1) ≤ k)) for k = 0..5 — the inverse-CDF
    * table for hash-derived Poisson bootstrap weights. Hardcoded (not
    * recomputed with exp/factorial at runtime) so the engine and every
    * external replayer compare against bit-identical thresholds. */
  private val PoissonCdf60: Seq[Long] = Seq(
    424136118829305344L, 848272237658610688L, 1060340297073263360L,
    1131029650211480960L, 1148701988496035328L, 1152236456152946176L)

  /** Poisson-bootstrap confidence interval for a per-group mean — the
    * standard single-pass bootstrap at data scale (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams"): true resampling
    * needs the whole dataset per replica, but Binomial(n, 1/n) →
    * Poisson(1), so replica j simply weights each row by a
    * Poisson(1)-distributed integer derived DETERMINISTICALLY from
    * md5(salt:id:j) via the hardcoded inverse-CDF table — every engine
    * reproduces the exact weights, every replica is one weighted
    * aggregation, and all `b` replicas ride ONE explode+groupBy pass
    * (map-side combined: the shuffle carries (group, replica) partial
    * sums, not rows).
    *
    * Replica means are reported in exact e4 fixed point
    * (⌊1e4·Σwv / Σw⌋, integer div — no float summation order anywhere);
    * the interval is the type-1 (1/20, 19/20) quantile pair of the `b`
    * replica means, selected inside one collected b-entry array per
    * group (b is a constant, so the buffer is bounded). Output:
    * (group, n_rows, mean_e4, ci_lo_e4, ci_hi_e4). */
  def bootstrapMeanCi(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, b: Int = 40,
      salt: String = "graft-boot"): DataFrame = {
    require(b >= 2 && b <= 256, s"need 2 <= b <= 256 replicas, got $b")
    val rows = df.select(col(groupCol).cast("string").as("g"),
        col(idCol).cast("string").as("id"),
        col(valueCol).cast("long").as("v"))
      .where(col("g").isNotNull && col("id").isNotNull &&
        col("v").isNotNull)
    val overall = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"),
        expr("(10000 * sum(cast(v as decimal(38,0)))) div count(1)")
          .as("mean_e4"))
    val cdf = typedLit(PoissonCdf60)
    val reps = rows
      .select(col("g"), col("v"), explode(sequence(lit(0),
        lit(b - 1))).as("j"),
        col("id"))
      .withColumn("u", conv(substring(md5(concat_ws(":", lit(salt),
        col("id"), col("j"))), 1, 15), 16, 10).cast("long"))
      // weight = #{k : cdf[k] <= u} (0..6): u below cdf[0] -> 0, above
      // cdf[5] -> 6; a size() over the filtered 6-entry literal
      .withColumn("w", size(filter(cdf, t => t <= col("u"))).cast("long"))
      .groupBy(col("g"), col("j"))
      .agg(sum(expr("cast(w * v as decimal(38,0))")).as("swv"),
        sum(col("w")).as("sw"))
      .where(col("sw") > 0)
      .select(col("g"),
        expr("(10000 * swv) div sw").cast("long").as("m_e4"))
    val ci = reps.groupBy(col("g"))
      .agg(sort_array(collect_list(col("m_e4"))).as("ms"))
      .select(col("g"),
        expr("element_at(ms, cast((size(ms) + 19) div 20 as int))")
          .as("ci_lo_e4"),
        expr("element_at(ms, cast((19 * size(ms) + 19) div 20 as int))")
          .as("ci_hi_e4"))
    overall.join(ci, Seq("g"))
      .select(col("g").as(groupCol), col("n_rows"),
        col("mean_e4").cast("long").as("mean_e4"),
        col("ci_lo_e4"), col("ci_hi_e4"))
  }

  /** Referential-integrity audit — the data-quality gate between "the
    * IND holds" ([[indDiscovery]]'s yes/no) and shipping a join that
    * silently drops rows: per (child, parent) pair, how many child rows
    * carry a NULL key, how many match, how many are ORPHANS, and the
    * orphan rate in exact ppm (plus the distinct orphan key count — a
    * few hot bad keys vs diffuse corruption read very differently).
    * One left join against the DISTINCT parent keys + one aggregate.
    * No broadcast hint: parents range from dimension tables to
    * fact-sized key sets (orders for lineitem→orders), so the join
    * strategy is left to size-based planning — a forced broadcast of a
    * fact-scale distinct-key set would blow the broadcast limit or OOM
    * the driver at 100 TB, while a genuinely small parent still
    * broadcasts via stats/AQE. */
  def fkIntegrityAudit(child: DataFrame, fkCol: String,
      parent: DataFrame, pkCol: String, label: String): DataFrame = {
    val keys = parent.select(col(pkCol).as("k")).where(col("k").isNotNull)
      .distinct().withColumn("hit", lit(1L))
    child.select(col(fkCol).as("fk"))
      .join(keys, col("fk") === col("k"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
        coalesce(sum(col("hit")), lit(0L)).as("n_matched"),
        sum(when(col("fk").isNotNull && col("hit").isNull, 1L)
          .otherwise(0L)).as("n_orphans"),
        count_distinct(when(col("fk").isNotNull && col("hit").isNull,
          col("fk"))).as("n_orphan_keys"))
      .select(lit(label).as("fk_label"), col("n_child"),
        col("n_null_fk"), col("n_matched"), col("n_orphans"),
        col("n_orphan_keys"),
        when(col("n_child") > 0,
          expr("n_orphans * 1000000 div n_child")).as("orphan_ppm"))
  }

  /** Fellegi–Sunter agreement-pattern profile — the u-probability
    * estimation step of probabilistic record linkage: candidate pairs
    * come from equi-join BLOCKING (pairs share every block column;
    * blocks above `maxBlockSize` are dropped, the same quadratic guard
    * as the LSH bucket cap — a hot block's pairs are O(size²) and a
    * real linker refines its blocking key instead), each pair's
    * agreement PATTERN is the bit vector of per-field equalities, and
    * every observed pattern is reported with its pair count and its
    * LIFT over the independence expectation
    * (P(pattern) / Π P(bit_i)) in exact ppm — the table a linker reads
    * to pick match/non-match thresholds: conditional dependence between
    * fields shows up as lift far from 1e6.
    *
    * Exactness: lift_ppm = n_pattern · T^(k−1) · 1e6 div Π x_i computed
    * in decimal(38,0) (T = total pairs, x_i = pairs agreeing — or
    * disagreeing, per the pattern bit — on field i); null when some
    * x_i = 0 (then n_pattern = 0 could not have been observed anyway).
    * Shape: one block-keyed self-join (capped), one pattern groupBy,
    * marginals as ONE one-row aggregate attached by broadcast. */
  def linkageAgreementPatterns(df: DataFrame, idCol: String,
      blockCols: Seq[String], fieldCols: Seq[String],
      maxBlockSize: Int = 64): DataFrame = {
    require(blockCols.nonEmpty, "need at least one blocking column")
    require(fieldCols.nonEmpty && fieldCols.size <= 6,
      s"need 1..6 comparison fields, got ${fieldCols.size}")
    val k = fieldCols.size
    val recs = df.select(
      (col(idCol).as("id") +:
        blockCols.zipWithIndex.map { case (c, i) =>
          coalesce(col(c).cast("string"), lit("\u0000null"))
            .as(s"bk$i") } ++:
        fieldCols.zipWithIndex.map { case (c, i) =>
          coalesce(col(c).cast("string"), lit("\u0000null"))
            .as(s"f$i") }): _*)
    val bk = (0 until blockCols.size).map(i => col(s"bk$i"))
    val small = recs.groupBy(bk: _*)
      .agg(count(lit(1)).as("__bn")).where(col("__bn") <= maxBlockSize)
      .select(bk: _*)
    val blocked = recs.join(small, blockCols.indices.map(i => s"bk$i"))
    val right = blocked.select(
      (col("id").as("id_b") +:
        (blockCols.indices.map(i => col(s"bk$i")) ++
        fieldCols.indices.map(i => col(s"f$i").as(s"g$i")))): _*)
    val pairs = blocked.join(right,
        blockCols.indices.map(i => s"bk$i").toSeq)
      .where(col("id") < col("id_b"))
      .select(fieldCols.indices.map(i =>
        (col(s"f$i") === col(s"g$i")).cast("int").as(s"a$i")): _*)
    val marg = pairs.groupBy()
      .agg(count(lit(1)).as("t"),
        fieldCols.indices.map(i => sum(col(s"a$i")).as(s"m$i")): _*)
    val byPattern = pairs
      .groupBy(fieldCols.indices.map(i => col(s"a$i")): _*)
      .agg(count(lit(1)).as("n_pairs"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val denom = fieldCols.indices.map { i =>
      d38(when(col(s"a$i") === 1, col(s"m$i"))
        .otherwise(col("t") - col(s"m$i")))
    }.reduce(_ * _)
    val numer = (1 until k).map(_ => d38(col("t")))
      .foldLeft(d38(col("n_pairs")) * 1000000L)(_ * _)
    byPattern.join(broadcast(marg))
      .withColumn("__num", numer.cast("decimal(38,0)"))
      .withColumn("__den", denom.cast("decimal(38,0)"))
      .select((fieldCols.indices.map(i =>
          col(s"a$i").cast("long").as(s"agree_${fieldCols(i)}")) ++
        Seq(col("n_pairs"),
          // exact FLOOR quotient: decimal `div` (IntegralDivide), not
          // `/` (rounded decimal quotient) — replayable as `//` on
          // DuckDB HUGEINTs, which agrees for these non-negative terms
          when(col("__den") > 0, expr("__num div __den"))
            .as("lift_ppm"))): _*)
  }

  /** Winsorization / clipping report per group — the feature-pipeline
    * gate run before any model consumes a heavy-tailed column: exact
    * type-1 lo/hi cut values (the [[graft.ops.Sketches
    * .exactQuantilesByGroup]] kernel — blocked ranks, no per-key global
    * sort), how many rows each side would clip, and the exact integer
    * column sum before vs after clipping (the mass the clip moves).
    * Fractions are (num, den) pairs, integer-exact end to end. */
  def winsorizeReport(df: DataFrame, groupCol: String, valueCol: String,
      lo: (Int, Int) = (1, 20), hi: (Int, Int) = (19, 20),
      maxGroups: Int = 65536): DataFrame = {
    val vals = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val cuts = Sketches.exactQuantilesByGroup(vals, "g", "v",
        Seq(lo, hi), maxGroups)
      .groupBy(col("g"))
      .agg(max(when(col("p_num") === lo._1 && col("p_den") === lo._2,
          col("value"))).as("lo_cut"),
        max(when(col("p_num") === hi._1 && col("p_den") === hi._2,
          col("value"))).as("hi_cut"))
    vals.join(cuts, Seq("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("lo_cut")).as("lo_cut"),
        max(col("hi_cut")).as("hi_cut"),
        sum(when(col("v") < col("lo_cut"), 1L).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col("v") > col("hi_cut"), 1L).otherwise(0L))
          .as("n_clipped_hi"),
        sum(d38c(col("v"))).as("sum_raw"),
        sum(d38c(greatest(least(col("v"), col("hi_cut")),
          col("lo_cut")))).as("sum_winsorized"))
      .select(col("g").as(groupCol), col("n_rows"), col("lo_cut"),
        col("hi_cut"), col("n_clipped_lo"), col("n_clipped_hi"),
        col("sum_raw").cast("long").as("sum_raw"),
        col("sum_winsorized").cast("long").as("sum_winsorized"))
  }

  private def d38c(c: Column): Column = c.cast("decimal(38,0)")

  /** Order-invariant corpus checksum — the migration/replication
    * verifier for "did the rewritten 100 TB table keep EXACTLY the same
    * rows" without sorting either side: each row hashes (md5-portable)
    * over the given columns with an explicit null sentinel and a
    * non-printing separator, and the table reduces to commutative
    * aggregates (count, decimal(38,0) hash sum, bit-XOR, min, max) that
    * are partition-order- and layout-independent — two copies match iff
    * all five numbers match (sum+xor+count makes a forged collision
    * need simultaneous preimages). One scan, one one-row aggregate; any
    * engine with md5 recomputes it. */
  def corpusChecksum(df: DataFrame, cols: Seq[String],
      label: String): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val h = conv(substring(md5(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
        : _*)), 1, 15), 16, 10).cast("long")
    df.select(h.as("h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(d38c(col("h"))),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))
          .as("hash_sum"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("hash_xor"),
        min(col("h")).as("hash_min"), max(col("h")).as("hash_max"))
      .select(lit(label).as("table_name"), col("n_rows"),
        col("hash_sum").cast("string").as("hash_sum"),
        col("hash_xor"), col("hash_min"), col("hash_max"))
  }

  /** Robust per-key hourly outlier flags via median/MAD (doc comment above describes the exact kernel). */
  def madHourlyOutliers(df: DataFrame, keyCol: String, tsCol: String,
      k: Int = 3, maxGroups: Int = 65536): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df
      .select(col(keyCol).cast("string").as("key"),
        unix_micros(col(tsCol)).as("us"))
      .select(col("key"), expr("us div 3600000000").as("hour"))
      .where(col("key").isNotNull && col("hour").isNotNull)
      .groupBy(col("key"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val med = Sketches.exactQuantilesByGroup(counts, "key", "n",
        Seq((1, 2)), maxGroups)
      .select(col("key"), col("value").as("med"))
    val dev = counts.join(med, Seq("key"))
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = Sketches.exactQuantilesByGroup(dev, "key", "dev",
        Seq((1, 2)), maxGroups)
      .select(col("key"), col("value").as("mad"))
    dev.join(mad, Seq("key"))
      .select(col("key"), col("hour"), col("n"), col("med"), col("mad"),
        when(col("dev") > lit(k.toLong) * col("mad"), lit(1L))
          .otherwise(lit(0L)).as("outlier"))
  }
}
