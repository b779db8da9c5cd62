package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import graft.Lineage._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard near-dup.
  *
  * Scale design: every variant is a shuffle-on-key groupBy/join — no driver
  * materialization, no cross-join. MinHash banding turns O(n²) pair
  * generation into per-bucket joins; at 100 TB the band-bucket groupBy
  * shuffles only (band, signature) keys and AQE handles hot buckets.
  */
object Dedup {

  /** Exact dedup on a hash of the content column: keeps the row with the
    * minimum `idCol` per distinct content (deterministic winner). */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(contentCol)))
      .orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact-dup groups: content hash → keeper id + duplicate count (only
    * groups with >1 row). */
  def exactDupGroups(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("n_dups"))
      .where(col("n_dups") > 1)

  /** Content-fingerprint index for exact dedup — the persisted artifact
    * an incremental pipeline keeps (partition/bucket it by
    * `content_hash`): (id, content_hash) per corpus row. */
  def exactFingerprints(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    df.select(col(idCol).as("id"), md5(col(contentCol)).as("content_hash"))

  /** Incremental exact dedup: classify a NEW batch against the persisted
    * fingerprint index — the steady-state form of [[exact]] at 100 TB,
    * where re-hashing the whole corpus per ingestion is the cost to kill.
    * Each batch row gets a `status`: `index_dup` (content already in the
    * corpus), `batch_dup` (first seen in this batch, but a smaller-id
    * batch row is the keeper), or `new` (the keeper). Keep `new`, drop
    * the rest, append the kept fingerprints to the index.
    *
    * Shape at scale: one semi-join-shaped left join on content_hash
    * (batch side tiny vs corpus; both sides hash-partition on the join
    * key — bucket the index by content_hash and the index side never
    * re-shuffles) plus one batch-only window partitioned by hash. */
  def incrementalExactDedup(index: DataFrame,
      batch: DataFrame): DataFrame = {
    val hits = index.select(col("content_hash")).distinct()
      .withColumn("__hit", lit(1))
    val w = Window.partitionBy(col("content_hash")).orderBy(col("id").asc)
    batch.select(col("id"), col("content_hash"))
      .join(hits, Seq("content_hash"), "left")
      .withColumn("__rn", row_number().over(w))
      .select(col("id"), col("content_hash"),
        when(col("__hit").isNotNull, lit("index_dup"))
          .when(col("__rn") === 1, lit("new"))
          .otherwise(lit("batch_dup")).as("status"))
  }

  /** Lower-cased whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** Word shingles (n-grams of whitespace tokens) as an array column.
    *
    * Perf note (matters at 100 TB): higher-order functions are interpreted,
    * not codegen'd, so an expensive expression referenced *inside* a lambda
    * is re-evaluated per array element. This implementation never puts the
    * token array inside a lambda body: the i-th shifted views are built with
    * n top-level `slice` calls and stitched with `arrays_zip`, so the
    * tokenization runs O(n) times per row, not O(tokens²). */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Word shingles from an already-bound token array (see [[wordShingles]]). */
  def shinglesFromTokens(toks: Column, n: Int): Column = {
    val cnt = size(toks)
    val parts = (0 until n).map(j =>
      slice(toks, lit(j + 1), cnt - n + 1).as(s"t$j"))
    val sh = transform(arrays_zip(parts: _*),
      s => concat_ws(" ", (0 until n).map(j => s.getField(s"t$j")): _*))
    when(cnt < n, array(concat_ws(" ", toks))).otherwise(sh)
  }

  /** MinHash signature from a *bound* shingle column: for k hash functions
    * h_i(x) = xxhash64(x, seed=i), signature element i is the min over
    * shingles. Keep `shingles` a materialized/bound column — passing a
    * complex expression would re-evaluate it k times. */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingles, s => xxhash64(s, lit(i))))
    }: _*)

  /** Buckets larger than this are dropped (degenerate LSH buckets make the
    * pair count quadratic; near-dups falling in a huge bucket on one band
    * are still caught by their other bands). Standard practice at scale. */
  val MaxBucketSize = 200

  /** (bucket, id) rows → distinct candidate (id_a < id_b) pairs, with the
    * aggregation buffer capped at [[MaxBucketSize]] per bucket
    * (bounded_collect_set: null = degenerate bucket, dropped — an
    * unbounded collect_set would OOM on a hot key long before any size
    * filter ran). One shuffle on bucket; pair expansion from the sorted
    * per-bucket id list (ids sorted → id_a < id_b by construction, no
    * self-join anywhere). */
  private[ops] def candidatePairsFromBuckets(bucketed: DataFrame,
      maxBucketSize: Int = MaxBucketSize): DataFrame =
    bucketed.groupBy(col("bucket"))
      .agg(graft.functions.GraftFunctions
        .boundedCollectSet(col("id"), maxBucketSize).as("ids"))
      .where(col("ids").isNotNull && size(col("ids")) >= 2)
      // native index_pairs expression: the interpreted nested-transform
      // form evaluated a closure per PAIR and was the whole job on hot
      // buckets at the 10x scale-stress run (same output, same order)
      .select(explode(graft.functions.GraftFunctions
        .indexPairs(col("ids"))).as("pair"))
      .select(col("pair.id_a"), col("pair.id_b"))
      .distinct()

  /** MinHash + LSH near-dup candidate pairs.
    *
    * Pipeline: shingle → k-element minhash signature → split into `bands`
    * bands of k/bands rows → (band, bandSignature) bucket key → self-join
    * within buckets → distinct candidate pairs (a < b). The band-bucket
    * join is an equi-join on the bucket key, so Catalyst shuffles both
    * sides by key; there is no O(n²) comparison anywhere.
    *
    * `portable = true` computes the minhash minima with the md5-derived
    * portable hash (GraftHashImpl portable mode) so an external engine can
    * reproduce the bucket partition — the oracle-verified variant; the
    * banding/bucketing/pair-expansion plan is IDENTICAL either way. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, contentCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      portable: Boolean = false): DataFrame =
    candidatePairsFromBuckets(minhashBandBuckets(df, idCol, contentCol,
      shingleSize, numHashes, bands, portable))

  /** (id, bucket) band-bucket rows for a corpus — the LSH index. This is
    * the artifact an incremental pipeline PERSISTS (partitioned/bucketed
    * by `bucket`): ingesting a new batch then only re-hashes the batch and
    * joins it against this table, never re-shingling the corpus. */
  def minhashBandBuckets(df: DataFrame, idCol: String, contentCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // native MinHashBands expression: tokenize → k-function signature →
    // per-band bucket keys, all in ONE codegen'd pass per row (the HOF
    // formulation re-traversed the shingle array once per hash function,
    // interpreted, and needed a checkpoint so band slicing wouldn't
    // recompute the signature)
    df.select(col(idCol).as("id"),
        posexplode(graft.functions.GraftFunctions.minhashBands(
          tokens(col(contentCol)), shingleSize, numHashes, bands, portable)))
      .select(col("id"),
        xxhash64(col("pos"), col("col")).as("bucket"))
  }

  /** Incremental near-dup candidates: a NEW batch of (id, bucket) rows
    * joined against the EXISTING corpus index — (new_id, index_id) pairs.
    * This is how dedup runs at 100 TB in steady state: the quadratic-ish
    * full-corpus pass happens once; every later ingestion batch is
    * index-build (batch only) + one equi-join on bucket against the
    * persisted index, with the small batch side broadcast-able.
    *
    * Hot-bucket policy matches the batch path: index buckets holding more
    * than `maxBucketSize` entries are degenerate (stop-shingle collisions)
    * and are dropped — at scale the bucket counts are materialized with
    * the index, so the filter is a metadata lookup, not a second scan. */
  def incrementalMinhashCandidates(index: DataFrame, batch: DataFrame,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val hot = index.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucketSize)
      .select(col("bucket"))
    index.join(hot, Seq("bucket"), "left_anti")
      .select(col("bucket"), col("id").as("index_id"))
      .join(batch.select(col("bucket"), col("id").as("new_id")),
        Seq("bucket"))
      .select(col("new_id"), col("index_id"))
      .distinct()
  }

  /** Bucket-cap drop accounting — the NO-SILENT-CAPS side output for the
    * banding family: [[candidatePairsFromBuckets]] (and the incremental
    * path) drop buckets above `maxBucketSize` as degenerate, which is the
    * right quadratic guard but, at 100 TB, also the classic dedup-recall
    * hole when a hot shingle family concentrates real duplicates. This
    * report makes the drop measurable instead of invisible: ONE row of
    * (n_rows, n_buckets, n_buckets_dropped, n_rows_in_dropped_buckets,
    * dropped_row_share_ppm) over any (id, bucket) frame — minhash bands,
    * simhash bands, hyperplane tables alike. Share is exact floor ppm
    * (integer div, no float). Shape: one groupBy on bucket (the same
    * shuffle key the pair expansion uses) + one global fold. */
  def bucketDropReport(bucketed: DataFrame,
      maxBucketSize: Int = MaxBucketSize): DataFrame =
    bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("n") > maxBucketSize, 1L).otherwise(0L)),
          lit(0L)).as("n_buckets_dropped"),
        coalesce(sum(when(col("n") > maxBucketSize, col("n"))
          .otherwise(0L)), lit(0L)).as("n_rows_in_dropped_buckets"))
      .select(col("n_rows"), col("n_buckets"), col("n_buckets_dropped"),
        col("n_rows_in_dropped_buckets"),
        when(col("n_rows") > 0,
          expr("n_rows_in_dropped_buckets * 1000000 div n_rows"))
          .otherwise(lit(0L)).as("dropped_row_share_ppm"))

  /** Recursive band refinement — candidate pairs where an over-cap bucket
    * is RE-BANDED on a fresh hash family (scoped within its parent
    * bucket) instead of dropped: the members of a hot bucket are handed
    * to `refresh(members, round)` which returns fresh (id, bucket) rows
    * from an independent family; sub-buckets are keyed by
    * (parent, fresh) so refinement never merges unrelated buckets. Only
    * buckets still over cap after `refineRounds` rounds are dropped
    * (account for them with [[bucketDropReport]] on the banding input).
    *
    * Why this preserves recall where the flat cap loses it: a hot bucket
    * is usually a FAMILY accident (a stop-shingle winning the minima for
    * most of the corpus); true near-dups inside it still collide in the
    * fresh family with the usual 1-(1-J^r)^b band probability, while the
    * accidental co-residents disperse — each round thins a hot bucket by
    * the non-dup collision factor, so a constant number of rounds brings
    * any family-accident bucket under cap. A bucket that stays hot under
    * EVERY family is a genuine clique (all-pairs output would be
    * quadratic by definition) and is dropped with accounting.
    *
    * Shape at scale: per round, one groupBy on bucket for sizes, one
    * re-band of ONLY the over-cap members (hot buckets are a vanishing
    * corpus share by definition — the refresh input is delta-sized), and
    * the same capped pair expansion. Rounds are bounded and
    * driver-counted; each round's frame truncates lineage. */
  def refinedCandidatePairs(bucketed: DataFrame,
      refresh: (DataFrame, Int) => DataFrame,
      maxBucketSize: Int = MaxBucketSize,
      refineRounds: Int = 2): DataFrame = {
    require(refineRounds >= 0, "refineRounds must be >= 0")
    var cur = bucketed
    var out: DataFrame = null
    for (r <- 0 to refineRounds) {
      // sizes via groupBy + key-join, NOT a per-bucket window: a window
      // partition cannot be split, so a genuinely hot bucket would pin
      // one straggler task; the join's probe side streams and AQE can
      // split a skewed join partition
      val sizes = cur.groupBy(col("bucket")).agg(count(lit(1)).as("__n"))
      val sized = cur.join(sizes, Seq("bucket"))
        .truncateLineage(eager = false)
      val ok = sized.where(col("__n") <= maxBucketSize)
        .select(col("bucket"), col("id"))
      val p = candidatePairsFromBuckets(ok, maxBucketSize)
      out = if (out == null) p else out.unionAll(p)
      if (r < refineRounds) {
        val over = sized.where(col("__n") > maxBucketSize)
          .select(col("bucket").as("__parent"), col("id"))
        val members = over.select(col("id")).distinct()
        val fresh = refresh(members, r + 1)
          .select(col("id"), col("bucket").as("__fresh"))
        cur = over.join(fresh, Seq("id"))
          .select(col("id"),
            xxhash64(col("__parent"), col("__fresh")).as("bucket"))
      }
    }
    out.distinct()
  }

  /** MinHash + LSH candidate pairs with recursive band refinement — the
    * recall-safe form of [[minhashCandidatePairs]]: over-cap buckets are
    * re-banded per round on a fresh minhash family (tokens salted with a
    * fixed `"<round>:"` prefix — a bijection on the token set, so every
    * pairwise Jaccard is EXACTLY preserved while all shingle hashes
    * re-roll) instead of dropped. The refresh pass re-tokenizes only the
    * over-cap members (semi-join against the corpus). */
  def minhashCandidatePairsRefined(df: DataFrame, idCol: String,
      contentCol: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 4, portable: Boolean = false,
      maxBucketSize: Int = MaxBucketSize,
      refineRounds: Int = 2): DataFrame = {
    val base = minhashBandBuckets(df, idCol, contentCol, shingleSize,
      numHashes, bands, portable)
    val docs = df.select(col(idCol).as("id"), col(contentCol).as("__txt"))
    val refresh = (members: DataFrame, round: Int) =>
      docs.join(members, Seq("id"))
        .select(col("id"),
          posexplode(graft.functions.GraftFunctions.minhashBands(
            transform(tokens(col("__txt")),
              t => concat(lit(s"$round:"), t)),
            shingleSize, numHashes, bands, portable)))
        .select(col("id"), xxhash64(col("pos"), col("col")).as("bucket"))
    refinedCandidatePairs(base, refresh, maxBucketSize, refineRounds)
  }

  /** Benchmark decontamination: (doc, benchmark) pairs that share at least
    * one word n-gram, with the count of distinct shared n-grams — the
    * standard eval-set contamination sweep before training. The benchmark
    * side is small by contract (eval sets are thousands of documents) and
    * is broadcast, so the corpus is scanned once map-side and never
    * shuffled on the gram key; the only shuffle carries the (doc, bench)
    * hit pairs, which are rare.
    *
    * Grams join as strings here (oracle-portable); at extreme scale hash
    * them first (`GraftFunctions.shingleHashes`) to shrink the broadcast —
    * the plan shape is identical. */
  def ngramOverlap(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol).as("doc_id"),
      explode(array_distinct(wordShingles(col(textCol), n))).as("gram"))
    val b = benchmark.select(col(benchIdCol).as("bench_id"),
      explode(array_distinct(wordShingles(col(benchTextCol), n))).as("gram"))
    c.join(broadcast(b), Seq("gram"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exact Jaccard similarity on word shingles for given candidate pairs
    * (verification stage after LSH). Shingles are compared as 64-bit
    * rolling hashes (ShingleHashes) — set operations over longs, not
    * strings; identical Jaccard up to hash collisions (~2^-64 per pair). */
  def jaccardVerify(df: DataFrame, idCol: String, contentCol: String,
      pairs: DataFrame, shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame =
    jaccardVerifyHashed(df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.shingleHashes(
        tokens(col(contentCol)), shingleSize).as("sh")), pairs, threshold)

  /** Verify stage over a precomputed (id, sh) shingle-hash-set DataFrame —
    * callers that already built the shingle index pass it here instead of
    * paying a second full tokenize+hash scan of the corpus. */
  def jaccardVerifyHashed(sh: DataFrame, pairs: DataFrame,
      threshold: Double): DataFrame = {
    pairs
      .join(sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        when(col("uni") === 0, lit(0.0))
          .otherwise(col("inter").cast("double") / col("uni")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** End-to-end MinHash near-dedup: LSH candidates → Jaccard verify.
    * Approximate: recall is the LSH band-collision probability
    * 1-(1-J^rows)^bands, so low-similarity pairs can be missed. For the
    * exact variant (100% recall at any threshold) see
    * [[jaccardNearDupsExact]]. */
  def minhashNearDups(df: DataFrame, idCol: String, contentCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame =
    jaccardVerify(df, idCol, contentCol,
      minhashCandidatePairs(df, idCol, contentCol, shingleSize, numHashes,
        bands),
      shingleSize, threshold)

  /** Asymmetric CONTAINMENT near-dups: ordered pairs (a, b) where at
    * least `threshold` of a's shingles also appear in b — the relation
    * symmetric Jaccard cannot see (a 200-word quote inside a 10k-word
    * page has J ≈ 0.02 but containment 1.0). The containment direction is
    * what training-data curation needs: drop the contained copy, keep the
    * superset document.
    *
    * Stop-shingle rule (the scale guard AND a quality filter): shingles
    * appearing in more than `maxShingleDf` documents are boilerplate and
    * are removed from both the overlap numerator and the |A| denominator,
    * so containment measures rare-content overlap.
    *
    * Candidate generation is PPJoin-C-style and recall-preserving:
    * containment ≥ θ needs overlap ≥ ⌈θ|A|⌉, so A must share a shingle
    * within its |A| − ⌈θ|A|⌉ + 1 RAREST shingles (global df-ascending
    * order) with B — only those prefixes probe the inverted index, and a
    * length filter (|B| ≥ ⌈θ|A|⌉) prunes further. Survivors verify by
    * exact set intersection of the two bounded per-doc shingle arrays.
    * The naive full×full rare-shingle join (with a per-pair count
    * shuffle) went ~100× super-linear at 10× rows on the planted tiny
    * vocabulary (every shingle's df rides just under the cap → Σdf²
    * explodes); prefixes hold only each document's rarest shingles, so
    * probe-side df stays small and candidates — not raw join rows — are
    * all that shuffles.
    *
    * `portable = true` hashes shingles with the md5-60 family the DuckDB
    * oracle rebuilds verbatim (identical results even under hash
    * collision, because both engines hash). */
  def containmentNearDups(df: DataFrame, idCol: String, contentCol: String,
      shingleSize: Int = 3, threshold: Double = 0.9,
      maxShingleDf: Int = 100, portable: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val ex = df.select(col(idCol).as("id"),
      explode(graft.functions.GraftFunctions.shingleHashes(
        tokens(col(contentCol)), shingleSize, portable)).as("h"))
    val freq = ex.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxShingleDf)
    // per-doc rare shingles, rarest-first under ONE global total order
    // ((df, h) struct sort — ties broken by hash), as in the exact
    // Jaccard join
    val ordered = ex.join(freq, Seq("h"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ofh"))
      .select(col("id"),
        transform(col("ofh"), x => x.getField("h")).as("osh"),
        size(col("ofh")).as("n"))
    // overlap ≥ ⌈θ·n⌉ must touch the first n - ⌈θ·n⌉ + 1 rarest; the
    // 1e-9 nudge keeps a float overshoot of an exactly-integer θ·n from
    // shortening the prefix (longer is always safe)
    val prefixLen = (col("n") -
      ceil(lit(threshold) * col("n") - lit(1e-9)) + 1).cast("int")
    val probe = ordered.select(col("id"), col("n"),
      explode(slice(col("osh"), lit(1), greatest(prefixLen, lit(1))))
        .as("h"))
    val index = ordered.select(col("id"), col("n"),
      explode(col("osh")).as("h"))
    val cand = probe.as("a").join(index.as("b"),
        col("a.h") === col("b.h") && col("a.id") =!= col("b.id") &&
          col("b.n") >= ceil(lit(threshold) * col("a.n") - lit(1e-9)))
      .select(col("a.id").as("contained_id"),
        col("b.id").as("container_id"))
      .distinct()
    val sets = ordered.select(col("id"), col("osh"))
    cand
      .join(sets.withColumnRenamed("id", "contained_id")
        .withColumnRenamed("osh", "__sa"), Seq("contained_id"))
      .join(sets.withColumnRenamed("id", "container_id")
        .withColumnRenamed("osh", "__sb"), Seq("container_id"))
      .withColumn("n_rare", size(col("__sa")).cast("long"))
      .withColumn("overlap",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("containment",
        col("overlap").cast("double") / col("n_rare"))
      .where(col("containment") >= threshold)
      .select("contained_id", "container_id", "n_rare", "overlap",
        "containment")
  }

  /** EXACT Jaccard near-dup pairs via PPJoin-style prefix filtering: for
    * sets canonically sorted under ONE global total order, two sets with
    * J(A,B) >= t must share an element within their first
    * |A| - ceil(t*|A|) + 1 elements — so exploding only those prefixes and
    * equi-joining on the element yields a candidate set with 100% recall
    * and no all-pairs product anywhere. Guarantees exactness where MinHash
    * LSH is probabilistic.
    *
    * Selectivity (the part that makes it fast, not just correct): the
    * canonical order is GLOBAL DOCUMENT FREQUENCY ascending — prefixes then
    * hold each document's rarest shingles, so unrelated documents that
    * share only common n-grams never collide (hash order put common
    * shingles in prefixes and generated ~1700x more candidates than true
    * pairs on the benchmark corpus). The classic positional filter prunes
    * further: a match at positions (i, j) caps the possible overlap at
    * 1 + min(|A|-i-1, |B|-j-1), which must reach
    * ceil(t/(1+t)·(|A|+|B|)); and the length filter needs
    * t·|A| <= |B| <= |A|/t. All three are recall-preserving.
    *
    * At 100 TB: one extra aggregation for the frequency table (shuffle on
    * shingle hash, map-side combined), the candidate join shuffles only
    * rare-shingle prefix entries, and the verify join touches only
    * surviving candidates. Those are corpus-linear; the irreducibly
    * quadratic part is the Σdf² candidate volume of a planted-duplicate
    * vocabulary, which is why the TRUTH role of this operator (fidelity
    * reports) runs it at `truthSample` < 1: a deterministic md5-bucket
    * sample of the corpus (the q264 escape hatch) cuts that Σdf² side by
    * sample² while staying engine-portable. Default 1.0 = the exact
    * full-corpus operator, unchanged. */
  def jaccardNearDupsExact(df: DataFrame, idCol: String, contentCol: String,
      shingleSize: Int = 3, threshold: Double = 0.8,
      truthSample: Double = 1.0,
      sampleSalt: String = "truth"): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(truthSample > 0 && truthSample <= 1,
      s"truthSample must be in (0, 1], got $truthSample")
    val base =
      if (truthSample >= 1.0) df
      else df.where(Splits.splitBucket(col(idCol), sampleSalt) <
        math.round(truthSample * Splits.Buckets))
    val sh = base.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.shingleHashes(
        tokens(col(contentCol)), shingleSize).as("sh"))
    val exAll = sh.select(col("id"), explode(col("sh")).as("h"))
    val freq = exAll.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // per-doc shingle list re-sorted rare-first ((df, h) struct sort is
    // lexicographic, ties broken by hash — one consistent global order)
    val ordered = exAll.join(freq, Seq("h"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ofh"))
      .select(col("id"),
        transform(col("ofh"), x => x.getField("h")).as("osh"),
        size(col("ofh")).as("n"))
    // prefix length |s| - ceil(t*|s|) + 1; the 1e-9 nudge keeps a
    // floating-point overshoot of an exactly-integer t*|s| from shortening
    // the prefix (a longer prefix is always safe, a shorter one is not)
    val prefixLen = (col("n") -
      ceil(lit(threshold) * col("n") - lit(1e-9)) + 1).cast("int")
    val ex = ordered.select(col("id"), col("n"),
      posexplode(slice(col("osh"), lit(1), greatest(prefixLen, lit(1)))))
      .select(col("id"), col("n"), col("pos"), col("col").as("h"))
    // minimum required overlap ceil(t/(1+t)·(na+nb)); the -1e-9 nudges keep
    // double overshoot of an exactly-integer product from dropping an
    // exact-boundary pair (recall-preserving: they only widen the filters)
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("a.n") + col("b.n")) - lit(1e-9))
    val cand = ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("b.n") >= lit(threshold) * col("a.n") - lit(1e-9) &&
          col("a.n") >= lit(threshold) * col("b.n") - lit(1e-9) &&
          lit(1) + least(col("a.n") - col("a.pos") - 1,
            col("b.n") - col("b.pos") - 1) >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // reuse the shingle index built above — no second corpus scan
    jaccardVerifyHashed(sh, cand, threshold)
  }

  /** Edit-distance-1 similarity join via deletion-neighborhood blocking
    * (the FastSS family): every string emits itself plus its |s|
    * single-character deletions as blocking keys; any pair within edit
    * distance 1 — substitution, insertion, or deletion — provably shares
    * at least one key (a substitution at i shares the delete-at-i
    * variant; an insertion's longer string deletes back to the shorter
    * one, which is its own key). Candidates from the key equi-join are
    * then verified with the exact codegen'd `levenshtein`, so the output
    * is EXACTLY the all-pairs `levenshtein(a,b) <= 1` result — without
    * the all-pairs: work is bounded by blocking-bucket sizes (for
    * distinct strings each bucket holds at most alphabet·|s|+1 members),
    * never by n^2. The classic entity-resolution key join (near-identical
    * IDs/names/URLs from typos or OCR noise) at corpus scale. */
  def editOneJoin(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val base = df.where(col(strCol).isNotNull)
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .truncateLineage(eager = false)
    // ONE equi-join, zero distincts (r18): the old shape deduped
    // (id, variant) rows, deduped candidate id pairs, then re-attached
    // both strings — four shuffles of the quadratic candidate volume.
    // Exactly-once emission needs none of that (the same argument as
    // [[graft.plans.EditDistanceJoinRewrite]]): DISTINCT strings at edit
    // distance 1 share EXACTLY ONE variant value, so their single join
    // match is already unique; only EQUAL strings share the whole
    // neighborhood, and the witness predicate restricts those to the
    // self-variant match (v = s_a). Duplicate input rows keep their join
    // multiplicity exactly as the old attach-join fan-out produced it.
    // The deletion_variants kernel dedups within a row (a run of k
    // identical characters deletes to the same variant k times).
    val variants = base.select(col("id"),
      col("s"), explode(graft.functions.GraftFunctions
        .deletionVariants(col("s"))).as("v"))
    // NEVER broadcast a deletion-neighborhood side (same reasoning as
    // the optimizer rule): the explode fans rows out ~|s| times and each
    // hash match pays the banded verify, so the probe side's true cost
    // is far beyond its scan-size estimate — size-based planning
    // collapses a single-split input into ONE broadcast-probe task
    // (measured at 10x bench scale: 42 s serial vs 4 s shuffled). The
    // shuffle_merge hint keys both sides on the variant, the
    // partitioning a 100 TB run wants anyway.
    variants.select(col("id").as("id_a"), col("s").as("s_a"), col("v"))
      .hint("shuffle_merge")
      .join(variants.select(col("id").as("id_b"), col("s").as("s_b"),
        col("v")).hint("shuffle_merge"), Seq("v"))
      .where(col("id_a") < col("id_b") &&
        (col("s_a") =!= col("s_b") || col("v") === col("s_a")))
      // banded verify: the THRESHOLDED levenshtein computes only the
      // k=1 diagonal band (O(|s|) with early exit, vs the full O(|s|²)
      // matrix) and returns -1 past the bound — `dist >= 0 ⟺ lev <= 1`,
      // and dist equals the true distance on every surviving row
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), 1))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"),
        col("dist"))
  }

  /** Weighted (multiset) Jaccard over token term-frequencies for a
    * given candidate-pair set:
    * `Jw = Σ_tok min(tf_a, tf_b) / Σ_tok max(tf_a, tf_b)` — the
    * repetition-aware refinement of set Jaccard (a document that
    * repeats one paragraph 50x looks near-identical to a single copy
    * under set semantics; the multiset form sees the mass difference).
    * Returned in EXACT ppm (integer sums, one integral division).
    *
    * Shape: one tokenize+count pass builds the (id, tok, tf) index;
    * each candidate pair joins its two postings via a full-outer on
    * (pair, token) — work is candidate-bounded (feed LSH/SNM/edit-join
    * candidates, never all pairs). */
  def weightedJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, pairs: DataFrame): DataFrame = {
    val tf = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
      .truncateLineage(eager = false)
    val p = pairs.select(col("id_a"), col("id_b"))
    val a = p.join(tf.select(col("id").as("id_a"), col("tok"),
      col("tf").as("ca")), Seq("id_a"))
    val b = p.join(tf.select(col("id").as("id_b"), col("tok"),
      col("tf").as("cb")), Seq("id_b"))
    a.join(b, Seq("id_a", "id_b", "tok"), "full_outer")
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        sum(least(coalesce(col("ca"), lit(0L)),
          coalesce(col("cb"), lit(0L)))).as("inter_tf"),
        sum(greatest(coalesce(col("ca"), lit(0L)),
          coalesce(col("cb"), lit(0L)))).as("union_tf"))
      .select(col("id_a"), col("id_b"), col("inter_tf"), col("union_tf"),
        when(col("union_tf") > 0,
          expr("(inter_tf * 1000000L) div union_tf")).as("wj_ppm"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo's classic
    * merge/purge blocking): rank every row by a sort key, emit the pairs
    * within `w` positions of each other. Complements the LSH family —
    * catches near-matches that SORT adjacently (shared prefixes, near-
    * identical codes) with linear candidate volume `n·w`.
    *
    * The global rank is NOT a bare `row_number()` window (one-reducer
    * killer). It is the banded two-phase prefix count
    * ([[Splits.curriculumOrder]]'s shape) made ORDER-PRESERVING for
    * strings: band on exact percentiles of a monotone 60-bit prefix
    * encoding of the key (byte-wise, so numeric order == Spark's binary
    * string order; equal encodings always share a band), rank within
    * each band in parallel, shift by broadcast per-band offsets
    * (`bands` longs of driver state). Pairing is an equi-join on the
    * rank block `rank div w` (each left row probes its own and the next
    * block) — never a rank-inequality nested loop. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      keyCol: String, w: Int, bands: Int = 32): DataFrame = {
    require(w >= 1, s"w must be >= 1, got $w")
    require(bands >= 2, s"bands must be >= 2, got $bands")
    val pts = df.where(col(keyCol).isNotNull)
      .select(col(idCol).as("id"), col(keyCol).as("k"))
    // order-preserving 60-bit encoding: first 7.5 bytes, NUL-padded so
    // shorter strings sort before their extensions numerically too
    val enc = conv(substring(hex(rpad(col("k"), 8, "\u0000")), 1, 15),
      16, 10).cast("long")
    val bounds = pts.agg(percentile(enc,
      typedLit((1 until bands).map(_.toDouble / bands))).as("__bs"))
    val base = pts.crossJoin(broadcast(bounds))
      .select(col("id"), col("k"),
        size(filter(col("__bs"),
          b => enc.cast("double") > b)).cast("int").as("band"))
    val ranked = RunningSums(base, Nil, col("band"),
        Seq(col("k"), col("id")), Seq("rank" -> lit(1L))) match {
      case None =>
        return pts.select(col("id").as("id_a"), col("id").as("id_b"),
          col("k").as("k_a"), col("k").as("k_b"),
          lit(0L).as("rank_dist")).limit(0)
      case Some(sums) => sums.rows.select(col("id"), col("k"), col("rank"))
        .withColumn("bkt", expr(s"rank div $w"))
    }
    val probes = ranked.select(col("id").as("id_a"), col("k").as("k_a"),
      col("rank").as("ra"),
      explode(array(col("bkt"), col("bkt") + 1L)).as("jb"))
    probes.join(ranked.select(col("id").as("id_b"), col("k").as("k_b"),
        col("rank").as("rb"), col("bkt").as("jb")), Seq("jb"))
      .where(col("rb") > col("ra") && col("rb") <= col("ra") + w)
      .select(col("id_a"), col("id_b"), col("k_a"), col("k_b"),
        (col("rb") - col("ra")).as("rank_dist"))
  }

  /** SimHash: 64-bit signature whose bits are majority votes of per-shingle
    * hash bits. Rows whose signatures agree on most bits are near-dups.
    * Native codegen'd expression — one pass per row. */
  def simhash64(text: Column, shingleSize: Int = 2,
      portable: Boolean = false): Column =
    graft.functions.GraftFunctions.simhash64(tokens(text), shingleSize,
      portable)

  /** Bit-vote packing over a *bound* array<long> of shingle hashes — the
    * interpreted HOF differential oracle for the native kernel's vote stage
    * (KernelDifferentialSpec feeds both identical hash arrays; the hashes
    * column must be materialized — the 64 bit votes each traverse it). */
  def simhashFromHashes(hashes: Column): Column = {
    val bits = (0 until 64).map { b =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected components over near-dup pairs — the keeper-selection step
    * of a dedup pipeline: every document in a duplicate component gets the
    * component's minimum id as `cluster_id` (keep the row where
    * id == cluster_id, drop the rest).
    *
    * Distributed min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors; labels only decrease
    * and reach the component minimum in diameter rounds (near-dup
    * components are shallow in practice — dup clusters are cliques or
    * near-cliques). Same shuffle-by-key + fixpoint shape as the transitive
    * closure; no driver materialization. */
  def nearDupClusters(pairs: DataFrame, maxIterations: Int = 20,
      shufflePartitions: Option[Int] = None): DataFrame =
    // the pair frame is usually an expensive LSH pipeline: the entry
    // checkpoint keeps the width count from re-executing it (measured
    // +27% on q47)
    graft.ConfScope.loopEntry(pairs.sparkSession, pairs,
      shufflePartitions) { entry =>
      nearDupClustersImpl(entry.frame, maxIterations)
    }

  /** Incremental near-dup cluster maintenance (r11 directive #5 — the
    * dedup analogue of [[graft.closure.TransitiveClosure.addEdges]]):
    * merge a DELTA of candidate pairs into persisted cluster
    * assignments WITHOUT rescanning the corpus pair graph.
    *
    * Correctness rests on the standard union-find contraction: since
    * `existing` holds exact components of the old graph, the
    * components of (old ∪ delta) equal the components of the
    * CONTRACTED graph whose nodes are old cluster roots and new doc
    * ids, with each delta pair mapped endpoint-wise to its root
    * (self-loops dropped). Label propagation runs only on that
    * contracted graph — O(delta) edges, never O(corpus) — and the
    * resulting root relabeling joins back onto `existing` by
    * cluster_id. Because every old root IS the minimum member id of
    * its old component, the propagated minimum over contracted
    * components equals the global minimum member id of the merged
    * component: bit-identical to a full [[nearDupClusters]] recompute
    * over the union (the q140 proof shape; pinned by the q265 oracle).
    *
    * `existing` columns: (id, cluster_id); `newPairs`: (id_a, id_b).
    * Output: (id, cluster_id) covering old ids ∪ delta endpoints. */
  def addToClusters(existing: DataFrame, newPairs: DataFrame,
      maxIterations: Int = 20,
      shufflePartitions: Option[Int] = None): DataFrame =
    graft.ConfScope.withIsolatedSession(existing.sparkSession) {
      (iso, rebind) =>
        addToClustersImpl(iso, rebind(existing), rebind(newPairs),
          maxIterations, shufflePartitions)
    }

  /** Contraction joins at the full `existing` table's width, label
    * propagation at the contracted graph's
    * ([[graft.ConfScope.withTwoWidths]]); an explicit `fixedWidth` pins
    * both. */
  private def addToClustersImpl(iso: org.apache.spark.sql.SparkSession,
      existing: DataFrame, newPairs: DataFrame,
      maxIterations: Int, fixedWidth: Option[Int]): DataFrame = {
    val ex = existing.select(col("id"), col("cluster_id"))
      .truncateLineage(eager = false)
    val np = newPairs.select(col("id_a"), col("id_b"))
      .truncateLineage(eager = false)
    val contracted = graft.ConfScope.withTwoWidths(iso, fixedWidth,
        math.max(ex.count(), np.count())) {
      // endpoint -> old root (or itself when the endpoint is a new doc);
      // checkpointed at the large-side width, so the loop below never
      // re-executes the existing-table joins
      np.join(ex.select(col("id").as("id_a"), col("cluster_id").as("ra")),
          Seq("id_a"), "left")
        .join(ex.select(col("id").as("id_b"), col("cluster_id").as("rb")),
          Seq("id_b"), "left")
        .select(coalesce(col("ra"), col("id_a")).as("id_a"),
          coalesce(col("rb"), col("id_b")).as("id_b"))
        .where(col("id_a") =!= col("id_b"))
    } { (contractedPairs, _) =>
      graft.Lineage.retire(np)
      nearDupClustersImpl(contractedPairs, maxIterations)
        .truncateLineage(eager = false)
    }
    val relabel = contracted
      .select(col("id").as("root"), col("cluster_id").as("newlab"))
    // old members follow their root's new label (untouched roots keep
    // their label through the coalesce); contracted nodes that are not
    // old ids are the genuinely new docs
    val updated = ex.join(relabel, ex("cluster_id") === relabel("root"),
        "left")
      .select(ex("id").as("id"),
        coalesce(col("newlab"), ex("cluster_id")).as("cluster_id"))
    val fresh = contracted
      .join(ex.select(col("id")), Seq("id"), "left_anti")
    updated.unionAll(fresh)
  }

  /** Dup-cluster quality report — the QA table read after any
    * clustering run before trusting its keepers: per cluster, member
    * count, observed candidate pairs, and DENSITY in exact ppm (pairs
    * over the n·(n−1)/2 clique maximum). A near-clique (density ~1e6)
    * is a confident duplicate group; a long sparse chain (density
    * → 2/n) is usually LSH transitivity gluing unrelated docs through
    * borderline pairs — the clusters a pipeline should re-verify or
    * split before deduping. Each pair is attributed through its
    * id_a endpoint (both endpoints share a cluster by construction).
    * Two keyed aggregations + one dimension join; nothing quadratic. */
  def clusterDensityReport(clusters: DataFrame,
      pairs: DataFrame): DataFrame = {
    val m = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    val pc = pairs.select(col("id_a").as("id"))
      .join(clusters, Seq("id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_pairs"))
    m.join(pc, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(col("n_members") >= 2, expr(
          "coalesce(n_pairs, 0) * 2000000 div " +
            "(n_members * (n_members - 1))")).as("density_ppm"))
  }

  private def nearDupClustersImpl(pairs: DataFrame,
      maxIterations: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
    val und = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .truncateLineage(eager = false)
    // lazy checkpoints: the plan is a leaf either way (the labelSum action
    // below materializes it), so each round runs a single job
    val start = und.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .truncateLineage(eager = false)
    // labels only decrease, so the label sum is a monotone convergence
    // measure: unchanged sum == fixpoint. Summed in DECIMAL(38,0): ids may
    // be hash-derived values spanning the full 64-bit range, where a long
    // sum overflows (ANSI mode: ArithmeticException mid-loop). coalesce
    // covers the empty-pair-graph case (sum of zero rows is null).
    def labelSum(df: DataFrame): BigDecimal =
      BigDecimal(df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0))
    // the undirected edge frame is released when the loop ends: without
    // that a long-lived session leaks 2x|pairs| rows of checkpoint blocks
    // PER CALL (measured: two 20M-pair runs OOMed an 8g driver that a
    // single run fits in comfortably)
    graft.Lineage.fixpoint(start, maxIterations,
      Some(labelSum(start) -> labelSum _),
      s"Label propagation did not converge within $maxIterations rounds",
      releasing = Seq(und)) { labels =>
      // the explicit .as aliases mint fresh attribute ids on every union
      // branch — `labels` feeds both branches and the jump join below, and
      // shared attrs across a union + self-referencing join break
      // Catalyst's union constraint rewrite
      val neighborLabels = und
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .select(col("a").as("id"), col("label").as("label"))
      val step1 = labels.select(col("id").as("id"), col("label").as("label"))
        .union(neighborLabels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      // pointer jump: follow the label's own (previous-round) label —
      // every label IS a node id, so the join is total; chain components
      // converge in O(log diameter) rounds instead of O(diameter)
      step1.as("x")
        .join(labels.select(col("id").as("lid"), col("label").as("llabel")),
          col("x.label") === col("lid"))
        .select(col("x.id").as("id"),
          least(col("x.label"), col("llabel")).as("label"))
    }.select(col("id"), col("label").as("cluster_id"))
  }

  /** SimHash near-dup pairs: LSH on 4 x 16-bit chunks (signatures within
    * Hamming distance <= 3 of each other share at least one identical
    * 16-bit chunk), then exact Hamming verify. Bucketed through the same
    * capped-bucket pair expansion as MinHash — no self-join, bounded
    * buffers under chunk-value skew.
    *
    * Two INDEPENDENT chunk decompositions band the signature: the aligned
    * chunks (bits [0,16)…[48,64)) and the same chunks of the signature
    * rotated left by 8 bits. Each is a disjoint 16-bit cover of all 64
    * bits, so the pigeonhole guarantee (<= 3 flipped bits touch <= 3
    * chunks → >= 1 identical chunk) holds in BOTH — a pair is lost only
    * if its matching chunk exceeds the bucket cap in both decompositions
    * simultaneously, the same multi-band rescue story as MinHash
    * (DedupSpec pins the rescue on an adversarially skewed fixture). */
  def simhashNearDups(df: DataFrame, idCol: String, contentCol: String,
      maxHamming: Int = 3, shingleSize: Int = 2,
      maxBucketSize: Int = 2000, portable: Boolean = false): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.simhash64(
        tokens(col(contentCol)), shingleSize, portable).as("sig"))
    simhashPairsFromSigs(sigs, maxHamming, maxBucketSize)
  }

  /** Two-cover 16-bit band buckets of precomputed (id, sig) 64-bit
    * signatures: 4 direct chunks plus 4 chunks of the rotate-left-8
    * cover, as (id, sig, bucket) rows — the persistable band-index
    * layout shared by the batch pair kernel and the incremental
    * (streaming) dedup path. */
  private[graft] def simhashBandBuckets(sigs: DataFrame): DataFrame = {
    // rotate left by 8: an independent disjoint 16-bit cover of the bits
    val rot = shiftrightunsigned(col("sig"), 8)
      .bitwiseOR(shiftleft(col("sig"), 56))
    sigs.select(col("id"), col("sig"),
      posexplode(array(
        (0 until 4).map(c =>
          shiftright(col("sig"), c * 16).bitwiseAND(0xFFFFL)) ++
        (0 until 4).map(c =>
          shiftright(rot, c * 16).bitwiseAND(0xFFFFL)): _*)))
      .select(col("id"), col("sig"),
        xxhash64(col("pos"), col("col")).as("bucket"))
  }

  /** Cross-batch candidate pairs for the incremental signature-dedup
    * path: equi-join the new batch's band buckets against the persisted
    * index ON THE BUCKET KEY only (both sides carry their signature, so
    * the Hamming verify needs no second lookup), dedup the candidate
    * pair list, verify exactly. Work per batch is proportional to the
    * batch's bucket collisions — the persisted corpus is never
    * rescanned, only probed on the (bucketable) join key. */
  private[graft] def incrementalSimhashCandidates(index: DataFrame,
      batch: DataFrame, maxHamming: Int): DataFrame =
    index.select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("bucket"))
      .join(batch.select(col("id").as("id_b"), col("sig").as("sig_b"),
        col("bucket")), Seq("bucket"))
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()

  /** Candidate generation + exact verify over precomputed (id, sig)
    * signatures — the banding kernel of [[simhashNearDups]], exposed so
    * the recall property can be tested on controlled signatures. */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    val bucketed = simhashBandBuckets(sigs).select("id", "bucket")
    candidatePairsFromBuckets(bucketed, maxBucketSize)
      .join(sigs.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sig", "sig_a"), Seq("id_a"))
      .join(sigs.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sig", "sig_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Span-level repeated-substring detection — the exact-substring dedup
    * family (repeated boilerplate/licenses/templates that document-level
    * dedup misses because the surrounding text differs): every
    * `windowTokens`-token sliding window is fingerprinted, and windows
    * whose fingerprint occurs at least `minDf` times corpus-wide (within
    * or across documents) are returned with their position and global
    * frequency. Fingerprints are the md5-derived 60-bit portable hash of
    * the window text, so an external engine reproduces them. Only
    * documents with >= windowTokens tokens produce windows.
    *
    * Shape at scale: posexplode of top-level-built shingles (no lambda
    * re-evaluation of the token array), one groupBy(fingerprint) count
    * with map-side partial aggregation, then an equi-join of window rows
    * against the (minDf-filtered, small) hot set — two shuffles, nothing
    * quadratic. Returns (doc_id, pos, span_hash, n_global). */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minDf: Long = 2): DataFrame = {
    require(windowTokens >= 1 && minDf >= 2,
      s"need windowTokens >= 1 and minDf >= 2, got $windowTokens/$minDf")
    val toks = df.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= windowTokens)
    val win = toks
      .select(col("doc_id"),
        posexplode(shinglesFromTokens(col("tk"), windowTokens)))
      .select(col("doc_id"), col("pos").cast("int").as("pos"),
        conv(substring(md5(col("col")), 1, 15), 16, 10).cast("long")
          .as("span_hash"))
    val hot = win.groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_global"))
      .where(col("n_global") >= minDf)
    win.join(hot, Seq("span_hash"))
      .select(col("doc_id"), col("pos"), col("span_hash"), col("n_global"))
  }

  /** Per-document summary of [[repeatedSpans]]: how much of each document
    * is covered by corpus-repeated windows — the span-level analogue of
    * the Gopher repetition filters, used to drop or deprioritize
    * boilerplate-heavy documents. Every input row is returned;
    * documents shorter than the window report 0 windows. */
  def repeatedSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minDf: Long = 2): DataFrame = {
    val rep = repeatedSpans(df, idCol, textCol, windowTokens, minDf)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_repeated"))
    df.select(col(idCol).as("doc_id"),
        greatest(size(tokens(col(textCol))) - windowTokens + 1, lit(0))
          .cast("long").as("n_windows"))
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        round(when(col("n_windows") > 0,
          coalesce(col("n_repeated"), lit(0L)).cast("double") /
            col("n_windows")).otherwise(lit(0.0)), 4).as("repeat_ratio"))
  }

  /** Shared fidelity tail for the signature/banding quality reports
    * (q217 minhash, q245 simhash, q264 sampled): exact-truth pairs vs
    * candidate pairs, both keyed (id_a, id_b), reduced to one row of
    * exact-integer counts and ppm ratios. One full-outer join on the
    * pair key + one aggregation — scales with pair volume, never
    * corpus². */
  def pairFidelity(exact: DataFrame, candidates: DataFrame): DataFrame =
    exact.select(col("id_a"), col("id_b"), lit(1L).as("e"))
      .join(candidates.select(col("id_a"), col("id_b"), lit(1L).as("c")),
        Seq("id_a", "id_b"), "full_outer")
      .groupBy(lit(1).as("__g"))
      .agg(sum(col("e")).as("n_exact"),
        sum(col("c")).as("n_candidates"),
        sum(col("e") * col("c")).as("n_hits"))
      .select(coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_exact") > 0,
          expr("n_hits * 1000000 div n_exact")).as("recall_ppm"),
        when(col("n_candidates") > 0,
          expr("n_hits * 1000000 div n_candidates")).as("precision_ppm"))

  /** Sample-scale SimHash fidelity (r11 directive #4): the exact-truth
    * side of a fidelity report is inherently quadratic in matching
    * documents (q245 measured 102 s at sf1 — unrunnable at corpus
    * scale), while the candidate side stays banded and capped. This
    * variant evaluates the truth on a DETERMINISTIC doc-hash sample
    * (the q36/q64 md5-bucket kernel, engine-portable) of fraction
    * `truthSample`, and restricts the FULL-corpus candidate set to
    * pairs with both endpoints sampled — so banding density (bucket
    * collisions, cap evictions) is that of the real corpus, truth cost
    * drops by truthSample², and the reported recall/precision are the
    * exact fidelity ON the sampled pair population (each true pair
    * enters with probability truthSample², independent of its hit
    * status, so the ppm ratios are unbiased estimators of the
    * full-corpus ratios with a stated sample size n_exact). The
    * full-truth path (q245) remains for oracle parity at fixture
    * scales. */
  def simhashFidelitySampled(docs: DataFrame, idCol: String,
      contentCol: String, maxHamming: Int = 3, shingleSize: Int = 3,
      threshold: Double = 0.5, truthSample: Double = 0.5,
      salt: String = "truth", portable: Boolean = true): DataFrame = {
    require(truthSample > 0 && truthSample <= 1,
      s"truthSample must be in (0, 1], got $truthSample")
    val cut = math.round(truthSample * Splits.Buckets)
    val inSample = (c: Column) => Splits.splitBucket(c, salt) < cut
    // pure expression filters — no join against a sample list
    val cand = simhashNearDups(docs, idCol, contentCol, maxHamming,
        shingleSize, portable = portable)
      .where(inSample(col("id_a")) && inSample(col("id_b")))
      .select(col("id_a"), col("id_b"))
    val exact = jaccardNearDupsExact(docs, idCol, contentCol,
        shingleSize, threshold, truthSample, salt)
      .select(col("id_a"), col("id_b"))
    pairFidelity(exact, cand)
  }

  /** Sample-scale MinHash-LSH tuning report (r12 directive #3 — the
    * q217 family's escape hatch, same construction as
    * [[simhashFidelitySampled]]): the banding candidates come from the
    * FULL corpus (real bucket density, real cap evictions) restricted
    * to pairs with both endpoints in the deterministic md5-bucket
    * sample, while the exact PPJoin truth runs only on the sampled
    * sub-corpus — its quadratic Σdf² side falls by truthSample², and
    * the recall/precision ppm are unbiased for the full corpus (every
    * true pair enters the sampled population with probability
    * truthSample² independent of its banding-hit status). */
  def minhashFidelitySampled(docs: DataFrame, idCol: String,
      contentCol: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 8, threshold: Double = 0.5,
      truthSample: Double = 0.5, salt: String = "truth",
      portable: Boolean = true): DataFrame = {
    require(truthSample > 0 && truthSample <= 1,
      s"truthSample must be in (0, 1], got $truthSample")
    val cut = math.round(truthSample * Splits.Buckets)
    val inSample = (c: Column) => Splits.splitBucket(c, salt) < cut
    val cand = minhashCandidatePairs(docs, idCol, contentCol,
        shingleSize, numHashes, bands, portable)
      .where(inSample(col("id_a")) && inSample(col("id_b")))
      .select(col("id_a"), col("id_b"))
    val exact = jaccardNearDupsExact(docs, idCol, contentCol,
        shingleSize, threshold, truthSample, salt)
      .select(col("id_a"), col("id_b"))
    pairFidelity(exact, cand)
  }
}
