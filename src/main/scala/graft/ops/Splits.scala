package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import graft.Lineage._
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting and sampling for training pipelines:
  * train/val/test assignment, fractional and stratified sampling — all
  * derived from a salted content-addressable hash of the row id, never
  * from `rand()`.
  *
  * Why not `rand()`/`randomSplit`: at 100 TB a split must be (a) stable
  * under retries, re-partitioning and incremental re-runs — the same row
  * always lands in the same split; (b) reproducible by any other engine
  * auditing the pipeline; (c) free of coordination — no persisted split
  * table, no join. A salted hash of the id gives all three as a pure
  * map-side projection: no shuffle, no state, and new data arriving later
  * is assigned consistently. Changing the salt re-draws the entire
  * assignment (the standard trick for split-version bumps).
  *
  * The hash is the engine-portable md5-derived 60-bit value (same scheme
  * as the portable dedup kernels): `md5(salt:id)` first 15 hex chars as a
  * non-negative BIGINT. Spark evaluates it with built-in `md5`/`conv`
  * (codegen'd); DuckDB and any SQL engine reproduce it verbatim, which is
  * what makes the q39 oracle a full rows+schema+hash check.
  */
object Splits {

  /** Number of assignment buckets: weights resolve at 1/10000 granularity. */
  val Buckets = 10000

  /** Salted portable bucket in [0, Buckets) for a row id. */
  def splitBucket(id: Column, salt: String): Column =
    pmod(conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))),
      1, 15), 16, 10).cast("long"), lit(Buckets))

  /** The split label column for (label, weight) fractions summing to ~1.
    * Weights resolve to cumulative integer bucket thresholds; the final
    * label absorbs rounding remainder so every bucket is assigned. */
  def splitLabel(id: Column, weights: Seq[(String, Double)],
      salt: String): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${weights.map(_._2).sum}")
    val b = splitBucket(id, salt)
    val cuts = weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * Buckets))
    weights.init.zip(cuts.init).foldRight(
      lit(weights.last._1): Column) { case (((label, _), cut), rest) =>
      when(b < cut, lit(label)).otherwise(rest)
    }
  }

  /** Adds a `split` column with the deterministic assignment. */
  def assignSplit(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "graft"): DataFrame =
    df.withColumn("split", splitLabel(col(idCol), weights, salt))

  /** Deterministic `fraction` sample: keeps rows whose bucket falls below
    * `fraction * Buckets`. Same row set on every run and every engine. */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
      salt: String = "graft"): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"bad fraction $fraction")
    df.where(splitBucket(col(idCol), salt) <
      math.round(fraction * Buckets))
  }

  /** Deterministic stratified sample: per-stratum fractions (strata absent
    * from the map are dropped). The stratum key joins into the hash salt,
    * so two strata sample independently even over the same id space. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
      fractions: Map[String, Double],
      salt: String = "graft"): DataFrame = {
    val cut = fractions.toSeq.sortBy(_._1).foldRight(lit(-1): Column) {
      case ((stratum, f), rest) =>
        when(col(stratumCol) === stratum,
          lit(math.round(f * Buckets))).otherwise(rest)
    }
    df.where(splitBucket(
      concat(col(stratumCol), lit("/"), col(idCol).cast("string")),
      salt) < cut)
  }

  /** Leakage-safe split: every near-duplicate cluster lands in ONE split.
    * `clusters` is the (id, cluster_id) output of
    * [[Dedup.nearDupClusters]]; rows absent from it are singletons and
    * hash on their own id. Hashing the cluster representative instead of
    * the document id makes train/test contamination through near-dups
    * structurally impossible — the standard leakage hole in naive per-doc
    * splits, where two near-identical documents draw independent buckets.
    *
    * Plan shape: one equi-join on id against the cluster membership (at
    * scale both sides hash-partition on id; membership carries only the
    * paired documents, not the corpus), then the same map-side projection
    * as [[assignSplit]]. */
  def leakageSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
      weights: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt: String = "graft"): DataFrame =
    df.join(clusters.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("split",
        splitLabel(coalesce(col("cluster_id"), col(idCol)), weights, salt))
      .drop("cluster_id")

  /** Deterministic weighted (importance) sample: row i survives with
    * probability min(1, weight_i × scale), where `scale` calibrates the
    * expected kept-row count — quality-weighted subsampling without
    * `rand()`. The acceptance test compares the row's salted portable
    * bucket (uniform on [0, Buckets)) against its own weight-derived
    * threshold, so the decision is per-row deterministic, stable under
    * retries/re-partitioning, reproducible by any engine, and
    * re-drawable by changing the salt. Weights resolve at 1/Buckets
    * granularity (clamped to [0, 1] after scaling); NULL or negative
    * weights drop the row. Pure map-side projection — no shuffle. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      scale: Double, salt: String = "graft"): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val threshold = least(lit(Buckets.toDouble),
      greatest(lit(0.0), weight * scale * Buckets))
    df.where(splitBucket(col(idCol), salt) < round(threshold))
  }

  /** Deterministic global shuffle: every row gets a salted portable
    * 52-bit `shuffle_key` and its dense global `position` (0-based) in
    * key order — the reproducible corpus permutation a training run reads
    * in, with ties (hash collisions) broken by id so the order is total.
    * Changing the salt re-draws the whole permutation.
    *
    * `position` is a GLOBAL rank, which a bare `row_number()` window
    * computes on ONE reducer task (the 100 TB killer). This runs the
    * two-phase distributed prefix count instead (the [[Packing]] scheme,
    * but blocked on the KEY space, which the hash makes uniform by
    * construction): per-block row counts → `buckets` longs on the driver
    * → per-block `row_number` windows that run in parallel, shifted by
    * the broadcast cumulative offsets. The block is a pure function of
    * the key, so both phases agree under retries/re-partitioning and
    * nothing needs caching. One aggregate + one window shuffle of the
    * (id, key) projection; the widest driver state is `buckets` longs. */
  def deterministicShuffle(df: DataFrame, idCol: String,
      salt: String = "graft", buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val key = conv(substring(md5(concat(lit(salt), lit(":"),
      col(idCol).cast("string"))), 1, 13), 16, 10).cast("long")
    val blockWidth = (1L << 52) / buckets + 1
    // integral div: `/` on Columns divides as DOUBLE, which is exact
    // only below 2^53 — safe for today's 13-hex (52-bit) keys but a
    // silent misassignment the moment the key widens. `div` stays long.
    val base = df.select(col(idCol).as("id"), key.as("shuffle_key"))
      .withColumn("block", expr(s"shuffle_key div ${blockWidth}L"))
    RunningSums(base, Nil, col("block"), Seq(col("shuffle_key"), col("id")),
        Seq("position" -> lit(1L))) match {
      case None => base.select(col("id"), col("shuffle_key"),
        lit(0L).as("position")).limit(0)
      case Some(sums) => sums.rows.select(col("id"), col("shuffle_key"),
        (col("position") - 1L).as("position"))
    }
  }

  /** Curriculum ordering: a deterministic global reading order that is
    * sorted ACROSS quality bands but shuffled WITHIN each band — the
    * standard curriculum-learning layout (easy→hard by coarse score,
    * no fine-grained score sort that would correlate adjacent batches).
    * Bands are exact score quantiles (band i = rows above the i-th of
    * `bands−1` interpolated boundaries, strict `>` so both engines
    * agree); within a band the order is the salted portable-hash
    * permutation of [[deterministicShuffle]].
    *
    * Same scale shape as the shuffle: boundaries are ONE aggregate row
    * broadcast back; the global position is the two-phase prefix count
    * blocked on (band, key-block) — `bands × buckets` longs of driver
    * state, per-(band, block) rank windows that run in parallel, never
    * a single-reducer global window. */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String,
      bands: Int, salt: String = "graft", buckets: Int = 64): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val bounds = df.agg(percentile(col(scoreCol),
      typedLit((1 until bands).map(_.toDouble / bands))).as("__bs"))
    val key = conv(substring(md5(concat(lit(salt), lit(":"),
      col(idCol).cast("string"))), 1, 13), 16, 10).cast("long")
    val blockWidth = (1L << 52) / buckets + 1
    val base = df.crossJoin(broadcast(bounds))
      .select(col(idCol).as("id"), col(scoreCol).as("score"),
        size(filter(col("__bs"),
          b => col(scoreCol).cast("double") > b)).cast("int").as("band"),
        key.as("shuffle_key"))
      .withColumn("block", expr(s"shuffle_key div ${blockWidth}L"))
    RunningSums(base, Nil, struct(col("band"), col("block")),
        Seq(col("shuffle_key"), col("id")), Seq("position" -> lit(1L))) match {
      case None => base.select(col("id"), col("score"), col("band"),
        lit(0L).as("position")).limit(0)
      case Some(sums) => sums.rows.select(col("id"), col("score"),
        col("band"), (col("position") - 1L).as("position"))
    }
  }

  /** Deterministic per-stratum quota: min(n, |stratum|) rows per stratum,
    * picked by ascending salted portable hash — a reproducible "take N
    * documents per source" with no `rand()` and no global sort. Runs
    * through the bounded [[graft.functions.TopKByScore]] aggregate (O(n)
    * partial buffers, map-side combine), NOT a `row_number()` window,
    * which would shuffle every row of a stratum into a single reducer
    * task. The hash keeps 13 hex chars (52 bits) so its negation is exact
    * in the aggregate's double score and any external engine orders
    * identically. Returns (stratum, id, rank) with rank 1..n by hash
    * order. */
  def quotaSample(df: DataFrame, idCol: String, stratumCol: String,
      n: Int, salt: String = "graft"): DataFrame = {
    val h = conv(substring(md5(concat(lit(salt), lit(":"),
      col(stratumCol), lit("/"), col(idCol).cast("string"))), 1, 13),
      16, 10).cast("long")
    df.select(col(stratumCol).as("stratum"), col(idCol).as("id"),
        h.as("h"))
      .groupBy(col("stratum"))
      .agg(graft.functions.GraftFunctions.topKByScore(
        -col("h").cast("double"), col("id"), n).as("picks"))
      .select(col("stratum"), posexplode(col("picks")))
      .select(col("stratum"), col("col.id").as("id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Deterministic negative sampling for contrastive / recommender
    * training: per user, `k` items the user did NOT interact with,
    * drawn by salted hash from the item domain — no `rand()`, so
    * training-set construction is reproducible and incremental reruns
    * agree. Draws `k * oversample` candidates per user (i = 1..m;
    * candidate = lo + hash(salt:u/i) mod span), keeps real items
    * (semi-join the domain), drops positives (anti-join), dedupes
    * repeated draws at their first index, and ranks survivors by draw
    * index, keeping k. Too few survivors for a hyper-active user →
    * fewer rows (raise `oversample`).
    *
    * Shape: domain bounds attach as a ONE-ROW broadcast; candidates
    * explode map-side; both joins are broadcastable-or-hash on
    * (item) / (user, item); the rank window partitions by user. */
  def negativeSample(positives: DataFrame, userCol: String,
      itemCol: String, itemDomain: DataFrame, domainItemCol: String,
      k: Int, oversample: Int = 4, salt: String = "graft"): DataFrame = {
    require(k >= 1 && oversample >= 1,
      s"k and oversample must be >= 1, got $k/$oversample")
    val m = k * oversample
    val pos = positives.select(col(userCol).as("u"),
      col(itemCol).cast("long").as("item")).distinct()
      .truncateLineage(eager = false)
    val dom = itemDomain.agg(
      min(col(domainItemCol)).cast("long").as("lo"),
      max(col(domainItemCol)).cast("long").as("hi"))
    val h = conv(substring(md5(concat(lit(salt), lit(":"),
      col("u").cast("string"), lit("/"), col("i").cast("string"))),
      1, 13), 16, 10).cast("long")
    val cand = pos.select(col("u")).distinct()
      .crossJoin(broadcast(dom))
      .select(col("u"), col("lo"), col("hi"),
        explode(sequence(lit(1), lit(m))).as("i"))
      .select(col("u"), col("i"),
        (col("lo") + pmod(h, col("hi") - col("lo") + 1)).as("item"))
    val real = cand.join(
      itemDomain.select(col(domainItemCol).cast("long").as("item")),
      Seq("item"), "left_semi")
    val negs = real.join(pos, Seq("u", "item"), "left_anti")
      .groupBy(col("u"), col("item")).agg(min(col("i")).as("mi"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("mi"))
    negs.select(col("u").as(userCol),
        row_number().over(w).cast("int").as("rank"),
        col("item").as(s"neg_$itemCol"))
      .where(col("rank") <= k)
  }

  /** Neyman-allocation stratified sampling — the survey-design sampler:
    * a fixed budget of `totalN` rows is split across strata
    * proportionally to N_h·S_h (stratum size × stratum std dev), so
    * high-variance strata get more of the budget; uniform-fraction
    * sampling wastes budget on homogeneous strata. The estimator-
    * variance-optimal allocation for stratified means.
    *
    * Exactness: N_h·S_h = sqrt(N_h·Σy² − (Σy)²) — one integer sqrt per
    * stratum. The variance term is exact (DECIMAL moments of 1e-4
    * units); its double conversion and sqrt are correctly rounded in
    * every IEEE engine, and the result is floored back to an INTEGER
    * weight immediately, so the whole allocation (floor division +
    * largest-remainder top-up, ties by stratum name) is pure integer
    * arithmetic — engine-identical. Allocations are capped at the
    * stratum size (no redistribution; documented).
    *
    * The sample itself is the `n_h` smallest (portable-hash, id) rows
    * per stratum via the blocked two-phase rank (strata × 64 hash
    * blocks → bounded driver offsets → per-block parallel windows) —
    * no per-stratum global sort. Strata are report-dimension-sized by
    * contract (segments, languages, sources).
    *
    * Output: one row per stratum — (stratum, n_rows, neyman_w,
    * alloc_n, sampled_n, id_checksum); `id_checksum` (sum of sampled
    * ids) pins the exact membership without carrying it. */
  def neymanSample(df: DataFrame, stratumCol: String, idCol: String,
      valueCol: String, totalN: Int,
      salt: String = "graft"): DataFrame = {
    require(totalN >= 1, s"totalN must be >= 1, got $totalN")
    val hash = conv(substring(md5(concat(lit(salt + ":"), col("g"),
      lit("/"), col("id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val base = df
      .where(col(stratumCol).isNotNull && col(idCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(stratumCol).cast("string").as("g"),
        col(idCol).cast("long").as("id"),
        (col(valueCol).cast("decimal(18,4)") * 10000).cast("long")
          .as("y4"))
      .withColumn("h", hash)
      .withColumn("block", (col("h") / lit(1L << 54)).cast("int"))
      .truncateLineage(eager = false)
    val stats = base.groupBy(col("g"))
      .agg(count(lit(1)).as("nh"),
        sum(col("y4").cast("decimal(38,0)")).as("sy"),
        sum(col("y4").cast("decimal(38,0)") *
          col("y4").cast("decimal(38,0)")).as("syy"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        BigInt(r.getDecimal(2).toBigInteger),
        BigInt(r.getDecimal(3).toBigInteger)))
      .sortBy(_._1)
    if (stats.isEmpty) {
      return base.select(col("g").as("stratum"), col("id").as("n_rows"),
        col("id").as("neyman_w"), col("id").cast("int").as("alloc_n"),
        col("id").as("sampled_n"), col("id").as("id_checksum")).limit(0)
    }
    // integer Neyman weights: floor(sqrt(nh*syy - sy^2))
    val w: Map[String, BigInt] = stats.map { case (g, nh, sy, syy) =>
      g -> BigInt(math.sqrt((BigInt(nh) * syy - sy * sy).toDouble)
        .toLong)
    }.toMap
    val wTot = stats.map(s => w(s._1)).sum
    // largest-remainder allocation in exact integers, ties by stratum
    val alloc = scala.collection.mutable.Map.empty[String, Long]
    if (wTot > 0) {
      stats.foreach { case (g, _, _, _) =>
        alloc(g) = ((BigInt(totalN) * w(g)) / wTot).toLong
      }
      val rem = stats.map { case (g, _, _, _) =>
        g -> (BigInt(totalN) * w(g)) % wTot }
      var left = totalN - alloc.values.sum
      rem.sortBy { case (g, r) => (-r, g) }.foreach { case (g, _) =>
        if (left > 0) { alloc(g) += 1; left -= 1 }
      }
    } else {
      // zero-variance strata everywhere: equal split, ties by name
      val k = stats.size
      stats.zipWithIndex.foreach { case ((g, _, _, _), i) =>
        alloc(g) = totalN / k + (if (i < totalN % k) 1L else 0L)
      }
    }
    stats.foreach { case (g, nh, _, _) =>
      alloc(g) = math.min(alloc(g), nh) }
    // blocked two-phase per-stratum rank over (hash, id)
    val sampled = RunningSums(base, Seq(col("g")), col("block"),
        Seq(col("h"), col("id")), Seq("rank" -> lit(1L))).get.rows
      .where(col("rank") <=
        element_at(typedLit(alloc.toMap), col("g")))
    val statsMapN: Map[String, Long] = stats.map(s => s._1 -> s._2).toMap
    sampled.groupBy(col("g"))
      .agg(count(lit(1)).as("sampled_n"), sum(col("id")).as("id_checksum"))
      .select(col("g").as("stratum"),
        element_at(typedLit(statsMapN), col("g")).as("n_rows"),
        element_at(typedLit(w.map { case (k, v) => k -> v.toLong }),
          col("g")).as("neyman_w"),
        element_at(typedLit(alloc.toMap), col("g")).cast("int")
          .as("alloc_n"),
        col("sampled_n"), col("id_checksum"))
  }

  /** Largest-remainder (Hamilton) quota allocation: split an integer
    * sampling `budget` across cells proportional to their row mass so
    * that the quotas are integers, sum EXACTLY to the budget, and no
    * cell is more than 1 off its exact proportional share — the
    * allocation step between "we want 10M samples at these domain
    * proportions" and any per-cell sampler ([[deterministicSample]],
    * [[quotaSample]]). Floors first (base = ⌊budget·n/T⌋), then the
    * leftover seats go to the largest remainders (budget·n mod T), ties
    * broken by cell ascending — all integer arithmetic, no float
    * shares.
    *
    * Shape: one groupBy to cell counts (the only data-sized pass), then
    * the remainder ranking runs INSIDE one collected row over the cell
    * array (cells are report-dimension-sized by contract — sources ×
    * languages, not keys; the O(cells²) interpreted rank runs once on
    * one row — the [[graft.ops.TextAnalysis.vocabCoverage]] pattern, no
    * single-partition window). Output: (cell, n, base, remainder,
    * quota). */
  def quotaAllocation(df: DataFrame, cellCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val cells = df.select(col(cellCol).cast("string").as("cell"))
      .where(col("cell").isNotNull)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val one = cells.groupBy()
      .agg(sort_array(collect_list(struct(col("cell"), col("n"))))
        .as("cs"), sum(col("n")).as("t"))
      .where(col("t") > 0)
    one.select(col("t"),
        expr(s"""transform(cs, x -> struct(
          x.cell as cell, x.n as n,
          (${budget}L * x.n) div t as base,
          pmod(${budget}L * x.n, t) as rem))""".replace("\n", " "))
          .as("cs2"))
      .withColumn("extra",
        lit(budget) - expr(
          "aggregate(cs2, CAST(0 AS BIGINT), (a, x) -> a + x.base)"))
      .select(explode(transform(col("cs2"), x => struct(
        x.getField("cell").as("cell"), x.getField("n").as("n"),
        x.getField("base").as("base"), x.getField("rem").as("rem"),
        // seats by remainder rank: a cell wins +1 iff fewer than
        // `extra` cells precede it under (rem desc, cell asc)
        (x.getField("base") + when(size(filter(col("cs2"), y =>
          y.getField("rem") > x.getField("rem") ||
            (y.getField("rem") === x.getField("rem") &&
              y.getField("cell") < x.getField("cell")))) < col("extra"),
          1L).otherwise(0L)).as("quota")))).as("e"))
      .select(col("e.cell").as("cell"), col("e.n").as("n"),
        col("e.base").as("base"), col("e.rem").as("remainder"),
        col("e.quota").as("quota"))
  }
}
