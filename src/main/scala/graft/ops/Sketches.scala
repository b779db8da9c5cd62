package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import graft.Lineage._
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches for corpus profiling.
  *
  * At 100 TB, `count(DISTINCT token)` per group is one of the most
  * expensive questions you can ask — every distinct value crosses the
  * shuffle. The KMV sketch answers it with a bounded, associative,
  * commutative buffer (k longs per group per map task), an error of about
  * `1/sqrt(k-2)`, and — because sketches merge — the per-day/per-partition
  * sketches can be persisted and unioned later without rescanning history.
  *
  * Oracle-portability: the hash is the md5-derived 60-bit family
  * (GraftHashImpl portable mode), so the k-th minimum and the estimate are
  * bit-reproducible by any engine with md5 — the DuckDB oracle rebuilds
  * the sketch from `row_number() OVER (ORDER BY hash)` on distinct hashes
  * and must land on the identical estimate.
  */
object Sketches {

  /** 2^60 as an exact double (both factors of the estimator stay exactly
    * representable, so the single IEEE division is the only rounding and
    * is identical in every IEEE-754 engine). */
  private val HashSpace: Double = math.scalb(1.0, 60)

  private def portable60(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Pairwise distinct-set OVERLAP estimates between groups from their KMV
    * sketches (Beyer et al., SIGMOD 2007): for each group pair, merge the
    * two k-minima sketches into the union's k-minima `u`, estimate
    * |A ∪ B| from u's k-th minimum, estimate Jaccard as the fraction of
    * u's members present in BOTH input sketches, and the intersection as
    * their product — the cross-corpus contamination estimator
    * ("how many distinct shingles do train and eval share?") that never
    * compares the corpora directly: the only pass over the data is the
    * sketching aggregation; the pair arithmetic runs on G sketch rows
    * (G = number of corpora, tiny by construction).
    *
    * When the merged sketch is not full (m < k) both input sketches were
    * complete enumerations, so union/intersection/Jaccard are EXACT — the
    * estimator degrades to the truth on small groups. */
  def kmvOverlap(df: DataFrame, groupCol: String, values: Column,
      k: Int): DataFrame = {
    val hashed = df.select(col(groupCol).as("g"), explode(values).as("v"))
      .select(col("g"), portable60(col("v")).as("h"))
    val sk = hashed.groupBy("g")
      .agg(graft.functions.GraftFunctions.kminValues(col("h"), k)
        .as("kmv"))
    val pairs = sk.as("a").join(sk.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("source_a"), col("b.g").as("source_b"),
        col("a.kmv").as("ka"), col("b.kmv").as("kb"))
    val unionEstD = lit((k - 1).toDouble * HashSpace) /
      element_at(col("u"), size(col("u"))).cast("double")
    pairs
      .withColumn("u",
        slice(array_sort(array_union(col("ka"), col("kb"))), 1, k))
      .withColumn("ab", array_intersect(col("ka"), col("kb")))
      .withColumn("m", size(col("u")))
      .withColumn("shared", size(array_intersect(col("u"), col("ab"))))
      .select(
        col("source_a"), col("source_b"),
        col("shared").as("n_shared_minima"),
        when(col("m") < k, col("m").cast("long"))
          .otherwise(floor(unionEstD).cast("long")).as("union_est"),
        floor((col("shared").cast("double") / col("m")) *
          when(col("m") < k, col("m").cast("double"))
            .otherwise(unionEstD)).cast("long").as("inter_est"),
        (col("shared").cast("double") / col("m")).as("jaccard_est"))
  }

  /** Per-group distinct-cardinality estimate of `valueCol` via a k-minimum-
    * values sketch over the portable 60-bit hash.
    *
    * Output: (group, n_values, n_sketch, kth_min, est_distinct) where
    * `est_distinct = floor((k-1) * 2^60 / kth_min)` when the sketch is
    * full, and the EXACT distinct count (= sketch size) when the group has
    * fewer than k distinct values.
    *
    * One partial-aggregated pass: explode → map-side k-long buffers →
    * one shuffle of O(k) rows per (group, partition). No distinct shuffle
    * of the raw values anywhere. */
  def kmvDistinct(df: DataFrame, groupCol: String, values: Column,
      k: Int): DataFrame = {
    val hashed = df.select(col(groupCol), explode(values).as("v"))
      .select(col(groupCol), portable60(col("v")).as("h"))
    hashed
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_values"),
        graft.functions.GraftFunctions.kminValues(col("h"), k).as("kmv"))
      .select(
        col(groupCol),
        col("n_values"),
        size(col("kmv")).as("n_sketch"),
        element_at(col("kmv"), size(col("kmv"))).as("kth_min"),
        when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble * HashSpace) /
            element_at(col("kmv"), k).cast("double")).cast("long"))
          .as("est_distinct"))
  }

  /** Bounded-state per-group quantile estimation from a deterministic
    * hash sample — the scale path next to [[Profiling.equiDepthHistogram]]
    * (which shuffles every distinct value): per group, the k rows with
    * the smallest salted 52-bit portable hash form a uniform
    * without-replacement sample (the [[Splits.quotaSample]] bounded
    * aggregate — O(k) state per group per map task, no window over the
    * data); quantile p is the ceil(p·m)-th order statistic of the
    * sample. Everything after the one sampling pass runs on k·G rows.
    *
    * Determinism: the sample is a pure function of (salt, group, id), so
    * re-runs, re-partitions, and external engines reproduce it exactly;
    * probabilities are FRACTIONS (num/den) so the rank index is integer
    * arithmetic — no float rank boundary anywhere. Returned quantile
    * values are actual data values, untouched by arithmetic. */
  def sampledQuantiles(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int, ps: Seq[(Int, Int)],
      salt: String = "graft"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(ps.nonEmpty && ps.forall { case (n, d) =>
      n >= 1 && n <= d }, s"fractions must satisfy 1 <= num <= den: $ps")
    val picks = Splits.quotaSample(df, idCol, groupCol, k, salt)
      .select(col("stratum"), col("id"))
    val vals = df.select(col(groupCol).as("stratum"),
      col(idCol).as("id"), col(valueCol).as("v"))
    val arr = vals.join(broadcast(picks), Seq("stratum", "id"))
      .groupBy(col("stratum"))
      .agg(array_sort(collect_list(struct(col("v"), col("id"))))
        .as("sv"))
      .select(col("stratum"), col("sv"), size(col("sv")).as("m"))
    val tot = df.groupBy(col(groupCol).as("stratum"))
      .agg(count(lit(1)).as("n_rows"))
    val qCols = ps.map { case (num, den) =>
      element_at(col("sv"),
        expr(s"cast(($num * m + ${den - 1}) div $den as int)"))
        .getField("v").as(s"p${num * 100 / den}")
    }
    arr.join(tot, Seq("stratum"))
      .select(col("stratum").as(groupCol) +: col("n_rows") +:
        col("m").cast("int").as("n_sample") +: qCols: _*)
  }

  /** Sketch cube: distinct-cardinality estimates for every level of a
    * two-dimension hierarchy — (dim1, dim2), (dim1), (dim2), total — from
    * ONE sketching pass over the raw data.
    *
    * The raw values are scanned exactly once, into per-cell KMV sketches;
    * every coarser level is then a MERGE of cell sketches (explode the
    * O(k)-long arrays, re-aggregate `kmin_values`), running over |cells|
    * rows instead of the data. This is the additive-sketch pattern that
    * makes 100 TB distinct-count rollups cheap: the per-cell sketch table
    * is what you persist per ingestion day, and any slice/rollup —
    * including ones not materialized here — is an array merge away,
    * never a rescan of history.
    *
    * The merge is LOSSLESS w.r.t. direct sketching: every hash among the
    * union's k minima is, in its own cell, among that cell's k minima —
    * so the merged sketch equals the sketch computed directly over the
    * union, and the DuckDB oracle (which rebuilds each level's sketch
    * directly from the raw hashes) must land on identical
    * (n_sketch, kth_min, est_distinct). Estimates are exact (= distinct
    * count) on levels with fewer than k distinct values.
    *
    * Output: (level, dim1, dim2, n_values, n_sketch, kth_min,
    * est_distinct) with the rolled-away dimension NULL. Dims must be
    * string columns; `value` is hashed with the portable 60-bit family.
    */
  def kmvRollup(df: DataFrame, dim1: String, dim2: String, value: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // One pass over the raw data -> per-cell sketches; checkpointed so
    // the four level merges reread |cells| rows, not the input.
    val cells = df
      .select(col(dim1).cast("string").as("d1"),
        col(dim2).cast("string").as("d2"), portable60(value).as("h"))
      .where(col("h").isNotNull)
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n"),
        graft.functions.GraftFunctions.kminValues(col("h"), k).as("kmv"))
      .truncateLineage(eager = false)
    val nullStr = lit(null).cast("string")
    def level(name: String, keep1: Boolean, keep2: Boolean): DataFrame = {
      // Literal level key in the groupBy keeps the total level
      // empty-input-safe (no constant row from a global aggregate).
      val base = cells.select(lit(name).as("level"),
        (if (keep1) col("d1") else nullStr).as(dim1),
        (if (keep2) col("d2") else nullStr).as(dim2),
        col("n"), col("kmv"))
      val counts = base.groupBy("level", dim1, dim2)
        .agg(sum(col("n")).as("n_values"))
      val merged = base
        .select(col("level"), col(dim1), col(dim2),
          explode(col("kmv")).as("h"))
        .groupBy("level", dim1, dim2)
        .agg(graft.functions.GraftFunctions.kminValues(col("h"), k)
          .as("kmv"))
        .withColumnsRenamed(Map("level" -> "m_level", dim1 -> "m_d1",
          dim2 -> "m_d2"))
      // Null-safe keys: the rolled-away dimension is NULL on both sides
      // (still a hash-joinable equi-key via <=>, never a theta join).
      counts.join(merged, col("level") === col("m_level") &&
          col(dim1) <=> col("m_d1") && col(dim2) <=> col("m_d2"))
        .select(col("level"), col(dim1), col(dim2), col("n_values"),
          size(col("kmv")).as("n_sketch"),
          element_at(col("kmv"), size(col("kmv"))).as("kth_min"),
          when(size(col("kmv")) < k, size(col("kmv")).cast("long"))
            .otherwise(floor(lit((k - 1).toDouble * HashSpace) /
              element_at(col("kmv"), k).cast("double")).cast("long"))
            .as("est_distinct"))
    }
    level("cell", keep1 = true, keep2 = true)
      .unionAll(level(dim1, keep1 = true, keep2 = false))
      .unionAll(level(dim2, keep1 = false, keep2 = true))
      .unionAll(level("total", keep1 = false, keep2 = false))
  }

  /** EXACT global quantiles WITHOUT a global sort — the order-statistic
    * primitive behind "p99 latency", "median document length", SLA
    * reporting: at 100 TB a global ORDER BY serializes through one
    * reducer; this computes exact type-1 quantiles (value at 0-based
    * rank ⌈p·n⌉−1) from one groupBy over DISTINCT values, the blocked
    * two-phase prefix sum (bit-length blocks → ≤64 subtotals on the
    * driver → per-block parallel windows + broadcast offsets), and a
    * rank-containment filter: the value v whose cumulative range
    * [cum−cnt, cum) covers the target rank IS the order statistic — no
    * sort of the data, no interpolation ambiguity, engine-exact.
    *
    * Fractions are (num, den) pairs so the rank index is pure integer
    * arithmetic. Output: one row per fraction (p_num, p_den, rank,
    * value, n_rows). Empty input → empty result. */
  def exactQuantiles(df: DataFrame, valueCol: String,
      ps: Seq[(Int, Int)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (n, d) =>
      n >= 1 && n <= d }, s"fractions must satisfy 1 <= num <= den: $ps")
    val per = df.select(col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    val sums = RunningSums(per, Nil, col("block"), Seq(col("v")),
        Seq("cum" -> col("c"))).getOrElse {
      return per.select(lit(0).as("p_num"), lit(1).as("p_den"),
        lit(0L).as("rank"), col("v").as("value"), lit(0L).as("n_rows"))
        .limit(0)
    }
    val n = sums.total("cum").toLong
    val cum = sums.rows.select(col("v"), col("c"), col("cum"))
      .truncateLineage(eager = false)
    // ONE pass over the cumulative frame for ALL requested fractions
    // (r11 directive #6 — the old per-fraction filter re-ran the frame
    // ps.size times): the target ranks fold into the plan as a literal
    // array of (p_num, p_den, rank) structs; each distinct value keeps
    // the targets its cumulative range [cum−c, cum) contains (almost
    // always zero, at most ps.size). 0-based rank = ceil(p·n) − 1 in
    // pure integer arithmetic. The lambda touches only the pre-bound
    // `lo`/`cum` columns and a ps-sized literal (the interpreted-HOF
    // binding rule).
    val targets = typedLit(ps.map { case (num, den) =>
      (num, den, (num.toLong * n + den - 1) / den - 1)
    })
    cum.select(col("v"), col("cum"),
        (col("cum") - col("c")).as("lo"))
      .select(col("v"), filter(targets, t =>
        t.getField("_3") >= col("lo") && t.getField("_3") < col("cum"))
        .as("hits"))
      .where(size(col("hits")) > 0)
      .select(explode(col("hits")).as("t"), col("v"))
      .select(col("t._1").as("p_num"), col("t._2").as("p_den"),
        col("t._3").as("rank"), col("v").as("value"),
        lit(n).as("n_rows"))
  }

  /** Per-GROUP exact quantiles — the "p99 latency per service" / "median
    * doc length per language" SLA report, same no-global-sort machinery
    * as [[exactQuantiles]] but one order statistic per (group, fraction):
    * blocks are (group, bit-length) pairs, the driver holds
    * groups × ≤64 subtotals (groups are report-dimension-sized by
    * contract — services, languages, event types), and each group's
    * target rank is column arithmetic over its broadcast total, so one
    * rank-containment filter serves every group at once. The naive
    * per-group `row_number() OVER (PARTITION BY g ORDER BY v)` shuffles
    * every ROW into one task per group; this shuffles only DISTINCT
    * (group, value) counts.
    *
    * Output: (group, p_num, p_den, rank, value, n_rows) — one row per
    * group per fraction. Groups are read as strings; null groups/values
    * excluded. */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[(Int, Int)],
      maxGroups: Int = 65536): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (n, d) =>
      n >= 1 && n <= d }, s"fractions must satisfy 1 <= num <= den: $ps")
    val per = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull && col("g").isNotNull)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    // loud cardinality guard (r13 directive #6): the kernel collects
    // groups × ≤65 block subtotals (and a per-group offset literal) to
    // the driver — an OOM trap on a row-scale group column; fail with
    // the fix spelled out instead. The probe reads the checkpoint
    // blocks the collect below reuses (one cheap job).
    val nGroups = per.select(col("g")).distinct().count()
    require(nGroups <= maxGroups,
      s"exactQuantilesByGroup: $nGroups distinct '$groupCol' groups " +
        s"exceed maxGroups=$maxGroups — the blocked-rank kernel holds " +
        "groups x <=65 block subtotals on the driver. Use grouped " +
        "quantile SKETCHES for high-cardinality groups, or raise " +
        "maxGroups deliberately")
    val sums = RunningSums(per, Seq(col("g")), col("block"),
        Seq(col("v")), Seq("cum" -> col("c"))).getOrElse {
      return per.select(col("g").as(groupCol), lit(0).as("p_num"),
        lit(1).as("p_den"), col("c").as("rank"), col("v").as("value"),
        col("c").as("n_rows")).limit(0)
    }
    val cum = sums.rows.select(col("g"), col("v"), col("c"), col("cum"),
        sums.groupTotal("cum").as("n"))
      .truncateLineage(eager = false)
    ps.map { case (num, den) =>
      val rk = expr(s"($num * n + ${den - 1}) div $den - 1")
      cum.where(col("cum") - col("c") <= rk && col("cum") > rk)
        .select(col("g").as(groupCol), lit(num).as("p_num"),
          lit(den).as("p_den"), rk.as("rank"), col("v").as("value"),
          col("n").as("n_rows"))
    }.reduce(_ unionAll _)
  }

  /** EXACT weighted quantiles — order statistics where each row counts
    * with a weight (the weighted median price by quantity sold, the
    * byte-weighted latency percentile): the value v at which the
    * cumulative WEIGHT first reaches ⌈p·W⌉. Same no-global-sort
    * machinery as [[exactQuantiles]] with weight sums in place of row
    * counts — distinct values → bit-length blocks → ≤64 driver
    * subtotals → per-block parallel windows + rank containment on the
    * weight axis. Weights must be non-negative integers (cast up
    * front); zero-weight rows cannot carry a quantile and are dropped.
    *
    * Output: (p_num, p_den, wrank, value, total_weight) per
    * fraction. */
  def weightedQuantiles(df: DataFrame, valueCol: String,
      weightCol: String, ps: Seq[(Int, Int)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (n, d) =>
      n >= 1 && n <= d }, s"fractions must satisfy 1 <= num <= den: $ps")
    val per = df.select(col(valueCol).cast("long").as("v"),
        col(weightCol).cast("long").as("wt"))
      .where(col("v").isNotNull && col("wt").isNotNull && col("wt") > 0)
      .groupBy(col("v")).agg(sum(col("wt")).as("w"))
      .withColumn("block", when(col("v") <= 0, lit(-1))
        .otherwise((length(bin(col("v"))) - 1).cast("int")))
      .truncateLineage(eager = false)
    // values are distinct, so ROWS and RANGE frames agree
    val sums = RunningSums(per, Nil, col("block"), Seq(col("v")),
        Seq("cum" -> col("w"))).getOrElse {
      return per.select(lit(0).as("p_num"), lit(1).as("p_den"),
        col("w").as("wrank"), col("v").as("value"),
        col("w").as("total_weight")).limit(0)
    }
    val wTot = sums.total("cum").toLong
    val cum = sums.rows.select(col("v"), col("w"), col("cum"))
      .truncateLineage(eager = false)
    ps.map { case (num, den) =>
      // 1-based weight rank ceil(p*W) in pure integer arithmetic
      val rk = (num.toLong * wTot + den - 1) / den
      cum.where(col("cum") - col("w") < rk && col("cum") >= rk)
        .select(lit(num).as("p_num"), lit(den).as("p_den"),
          lit(rk).as("wrank"), col("v").as("value"),
          lit(wTot).as("total_weight"))
    }.reduce(_ unionAll _)
  }

  /** EXACT heavy hitters (frequency · k > N) via a two-phase
    * Misra–Gries sweep — the frequent-token / hot-key report that at
    * 100 TB cannot be answered with a plain `groupBy(token).count()`:
    * that shuffles EVERY distinct token (billions of keys) to find the
    * handful of frequent ones.
    *
    * Phase 1 runs Misra–Gries with `k` counters inside each partition
    * (bounded O(k) state, one pass, no shuffle) and emits only the
    * surviving candidate keys — at most k per partition. Pigeonhole
    * guarantee: any value with global count > N/k has, in at least one
    * partition, local count > N_i/(k+1), and Misra–Gries with k counters
    * never evicts such a value — so the candidate union is a SUPERSET of
    * the true heavy hitters. Phase 2 exact-counts only the candidates
    * (broadcast semi-join — the groupBy now runs over ≤ k·partitions
    * keys) and keeps those with `cnt · k > N`. The result is therefore
    * exactly the brute-force answer, which is what the oracle computes.
    *
    * `values` must be a string column (one observation per row). */
  def heavyHitters(df: DataFrame, values: Column, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df.select(values.cast("string").as("t"))
      .where(col("t").isNotNull)
      .truncateLineage(eager = false)
    val candidates = obs.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters.update(t, c + 1)
          case None if counters.size < k => counters.update(t, 1L)
          case None =>
            // decrement-all; drop zeros; the incoming value is discarded
            val dead = List.newBuilder[String]
            counters.foreach { case (key, c) =>
              if (c == 1L) dead += key else counters.update(key, c - 1)
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("cand").distinct()
    val totals = obs.agg(count(lit(1)).as("n_total"))
    obs.join(broadcast(candidates), col("t") === col("cand"), "left_semi")
      .groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .where(col("cnt") * k > col("n_total"))
      .select(col("t").as("value"), col("cnt"), col("n_total"))
  }

  /** HyperLogLog-style register sketch cardinality per group — the
    * register-based sibling of [[kmvDistinct]] (Flajolet et al. 2007):
    * m = 64 registers, register j = max over hashed values landing in
    * bucket j of (leading-zero run length + 1) of the remaining 54 hash
    * bits. O(m) state per group, single-pass, MERGEABLE by registerwise
    * max — the property that makes it the snapshot-union sketch (union
    * cardinality from two sketches without touching either corpus;
    * see the spec's merge test).
    *
    * Engine-portable AND bit-deterministic: the hash is the md5-60
    * family, and the harmonic term is kept EXACT — Σ_j 2^(−M_j) is
    * computed as the integer S = Σ_used 2^(55−M_j) + (64−n_used)·2^55
    * over long arithmetic (no float sum whose order could differ), so
    * the raw-HLL estimate α₆₄·m²·2^55 / S is one IEEE division on
    * identical integers in any engine. No small/large-range corrections
    * (they need ln; documented raw estimate — callers below ~2.5·m
    * distinct should use [[kmvDistinct]], which is exact below k).
    *
    * Output: (group, n_used, s_total, hll_est, n_exact) — n_exact from
    * a companion exact pass so the report doubles as an accuracy
    * audit. */
  def hllDistinct(df: DataFrame, groupCol: String,
      value: Column): DataFrame = {
    val base = df.select(col(groupCol).as("g"), value.cast("string").as("v"))
      .where(col("v").isNotNull)
    val exact = base.groupBy(col("g"))
      .agg(count_distinct(col("v")).as("n_exact"))
    hllEstimate(hllRegisters(base)).join(exact, Seq("g"))
      .select(col("g").as(groupCol), col("n_used"), col("s_total"),
        col("hll_est"), col("n_exact"))
  }

  /** The HLL register table itself: (g, bucket, m_j) with one row per
    * TOUCHED register (untouched registers are implicit zeros, restored
    * arithmetically by [[hllEstimate]]). This is the persistable sketch
    * artifact: per-snapshot register tables are O(64) rows per group,
    * and the union of any number of snapshots is a groupBy-max over
    * their concatenated tables ([[hllMergeRegisters]]) — cardinality of
    * a month is computed from 30 daily sketches without re-reading a
    * byte of the corpus. Input must be pre-shaped to (g, v) string
    * columns (see [[hllDistinct]]). */
  def hllRegisters(base: DataFrame): DataFrame =
    base.select(col("g"), portable60(col("v")).as("h"))
      .select(col("g"),
        expr("h div 18014398509481984").as("bucket"), // top 6 of 60 bits
        pmod(col("h"), lit(18014398509481984L)).as("r")) // low 54 bits
      .select(col("g"), col("bucket"),
        // rho = leading zeros of the 54-bit field + 1 = 55 - bitlen(r);
        // bitlen via base-2 conv (portable: DuckDB printf('%b'))
        (lit(55) - when(col("r") === 0, lit(0))
          .otherwise(length(conv(col("r"), 10, 2)))).as("rho"))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("m_j"))

  /** Registerwise-max union of register tables — the sketch-merge
    * operator. max is associative/commutative/idempotent, so any
    * partition of the corpus into snapshots (and any merge order,
    * including re-merging overlapping snapshots) yields bit-identical
    * registers to a single pass over the union. */
  def hllMergeRegisters(regTables: DataFrame*): DataFrame =
    regTables.reduce(_ unionByName _)
      .groupBy(col("g"), col("bucket")).agg(max(col("m_j")).as("m_j"))

  /** Raw-HLL estimate from a register table: exact integer harmonic
    * term S = Σ_used 2^(55−M_j) + (64−n_used)·2^55, then one IEEE
    * division (see [[hllDistinct]] for the determinism contract). */
  def hllEstimate(regs: DataFrame): DataFrame =
    regs.groupBy(col("g"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - m_j AS INT))"))
        .as("s_used"), count(lit(1)).as("n_used"))
      .select(col("g"), col("n_used"),
        (col("s_used") +
          (lit(64L) - col("n_used")) * lit(36028797018963968L))
          .as("s_total"))
      // alpha_64 * m^2 * 2^55 / S  (left-assoc IEEE, exact scalings)
      .withColumn("hll_est",
        lit(0.709) * lit(4096.0) * lit(36028797018963968.0) /
          col("s_total").cast("double"))

  /** Count–min sketch cell table (Cormode & Muthukrishnan 2005): d
    * row-salted hash rows × w columns of counters; occurrence of v adds
    * 1 to cell (i, h_i(v) mod w) for each row i. The table is the whole
    * sketch — d·w counters regardless of key cardinality — and it is
    * MERGEABLE BY CELLWISE SUM, so per-partition/per-day cell tables
    * union-and-re-aggregate into the corpus sketch without rescanning.
    *
    * Scale shape: the explode is a d× map-side multiply, but partial
    * aggregation collapses each partition's contribution to ≤ d·w rows
    * before the shuffle — the shuffle is O(partitions · d · w), never
    * O(rows). Hash = md5-60 of "i:v" (row-salted), so every engine
    * rebuilds identical cells. */
  def cmsCells(df: DataFrame, value: Column, d: Int = 4,
      w: Int = 256): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1, w >= 2; got d=$d w=$w")
    df.select(value.cast("string").as("v")).where(col("v").isNotNull)
      .select(col("v"),
        explode(array((0 until d).map(lit(_)): _*)).as("row"))
      .select(col("row"),
        pmod(portable60(concat(col("row").cast("string"), lit(":"),
          col("v"))), lit(w.toLong)).as("col"))
      .groupBy(col("row"), col("col")).agg(count(lit(1)).as("cnt"))
  }

  /** Portable Bloom-filter false-positive audit: build an mBits-bit,
    * k-hash Bloom filter over the member set (bit positions from the
    * md5-60 family, so any engine rebuilds the identical filter),
    * probe it with a DISJOINT key set (probes are anti-joined against
    * members inside the audit — the measured rate is honest), and
    * report the exact false-positive count and rate. n_bits_set is the
    * filter's real load, from which the theoretical rate
    * (bits_set/m)^k is one reader-side division — saturation reads
    * directly off the report.
    *
    * The filter itself is the distinct-positions table (≤ mBits rows —
    * broadcastable no matter how many members), and it is MERGEABLE BY
    * UNION (bitwise OR ≡ distinct of concatenated position tables):
    * per-partition/per-day filters union into the corpus filter
    * without rescanning, same contract as the KMV/HLL/CMS family. */
  def bloomFprAudit(members: DataFrame, mValue: Column,
      probes: DataFrame, pValue: Column, mBits: Int = 1024,
      k: Int = 4): DataFrame = {
    require(mBits >= 2 && k >= 1, s"bad mBits/k: $mBits/$k")
    def positions(df: DataFrame): DataFrame = df
      .select(col("v"),
        explode(array((0 until k).map(lit(_)): _*)).as("i"))
      .select(col("v"),
        pmod(portable60(concat(col("i").cast("string"), lit(":"),
          col("v"))), lit(mBits.toLong)).as("pos"))
    val mem = members.select(mValue.cast("string").as("v"))
      .where(col("v").isNotNull).distinct()
    val prb = probes.select(pValue.cast("string").as("v"))
      .where(col("v").isNotNull).distinct()
      .join(mem, Seq("v"), "left_anti")
    val bits = positions(mem).select(col("pos")).distinct()
    val hits = positions(prb)
      .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"),
        "left")
      .groupBy(col("v"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("nh"))
    val fp = hits.agg(count(lit(1)).as("n_probes"),
      sum(when(col("nh") === k, 1L).otherwise(0L))
        .as("n_false_positives"))
    mem.agg(count(lit(1)).as("n_members"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
      .crossJoin(broadcast(fp))
      .select(col("n_members"), col("n_bits_set"), col("n_probes"),
        col("n_false_positives"),
        expr("n_false_positives * 1000000 div greatest(1, n_probes)")
          .as("fpr_ppm"))
  }

  /** Point-frequency estimates from a CMS cell table for the given key
    * frame (one string column `v`): est(v) = min over rows i of
    * cell(i, h_i(v)) — never an underestimate; over-counting comes only
    * from hash collisions (≤ e/w · N with probability 1 − e^−d). The
    * cell table is d·w rows, so the probe join is broadcast — keys
    * never shuffle. */
  def cmsPointEstimates(cells: DataFrame, keys: DataFrame, d: Int = 4,
      w: Int = 256): DataFrame =
    keys.select(col("v"),
        explode(array((0 until d).map(lit(_)): _*)).as("row"))
      .select(col("v"), col("row"),
        pmod(portable60(concat(col("row").cast("string"), lit(":"),
          col("v"))), lit(w.toLong)).as("col"))
      .join(broadcast(cells), Seq("row", "col"), "left")
      .groupBy(col("v"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
}
