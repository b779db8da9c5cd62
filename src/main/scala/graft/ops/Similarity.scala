package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType, IntegerType, LongType, StructField, StructType}
import graft.Lineage._
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Embedding similarity search: brute-force cosine top-k baseline plus an
  * LSH-bucketed approximate variant as the scale path.
  *
  * Embeddings are `array<float>` columns; dot products and LSH signatures
  * are native codegen'd Catalyst expressions (graft.functions) — one kernel
  * call per row, no interpreted per-element lambdas, no UDF boxing.
  */
object Similarity {

  /** Dot product of two array<float> or array<double> columns (native). */
  def dot(a: Column, b: Column): Column = GraftFunctions.vectorDot(a, b)

  /** Euclidean norm of a vector column (native dot + sqrt). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. Prefer the
    * precomputed-norm forms below inside joins. */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom === 0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  private def cosinePre(dotAB: Column, normA: Column, normB: Column): Column =
    when(normA * normB === 0, lit(0.0)).otherwise(dotAB / (normA * normB))

  /** Widen a CPU-bound stage to the session's core parallelism when the
    * planned input is narrower. A byte-small parquet file plans a single
    * split, which would run a compute-heavy kernel (dot products, media
    * decode) on one core of 32; at real scale the input already has more
    * splits than cores and this is a no-op — the guard keeps the 100 TB
    * path shuffle-free. Found the hard way: the 10× scale-stress run of
    * margin mining planned ONE partition for a 5 MB embeddings file and
    * pinned two cores for minutes. */
  private[ops] def widenForCompute(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Per-query top-k reduction of scored (query_id, corpus_id, score) rows
    * via the bounded [[graft.functions.TopKByScore]] aggregate. Unlike a
    * `row_number()` window partitioned by query_id — which shuffles EVERY
    * scored corpus row for a query into a single reducer task — the
    * aggregate does map-side partial aggregation with O(k) buffers, so
    * per-query reducer input is k × numPartitions rows no matter how large
    * the corpus is. Ties broken by corpus_id asc (deterministic). */
  private def topKReduce(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("score"), col("corpus_id"), k)
        .as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("corpus_id"),
        col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Brute-force cosine top-k: for each query row, the k most similar corpus
    * rows. The (small) query set is broadcast against the (large) corpus —
    * the corpus is never shuffled, only scored map-side and reduced with the
    * bounded top-k aggregate. Norms are computed once per row on each side
    * *before* the join, so the pair loop does one dot product only.
    *
    * At 1000-executor scale: queries broadcast once; scoring is map-local;
    * the only shuffle carries k-entry aggregation buffers per (query,
    * partition).
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = widenForCompute(corpus)
      .select(col(corpusId).as("corpus_id"),
        col(corpusVec).as("cvec"), norm(col(corpusVec)).as("cnorm"))
    val q = queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qvec"), norm(col(queryVec)).as("qnorm"))
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        cosinePre(dot(col("cvec"), col("qvec")), col("cnorm"), col("qnorm"))
          .as("score"))
    topKReduce(scored, k)
  }

  /** Random-hyperplane LSH bucket id — native HyperplaneLsh expression
    * (sign bits of projections onto `numPlanes` deterministic pseudo-random
    * ±1 hyperplanes). `portable = true` uses the md5-derived plane signs
    * over the quantized vector (engine-reproducible signatures — the
    * oracle-verified variant). */
  def hyperplaneBucket(vec: Column, dim: Int, numPlanes: Int,
      portable: Boolean = false): Column =
    GraftFunctions.hyperplaneLsh(vec, numPlanes, portable)

  /** LSH-bucketed approximate top-k: bucket the corpus once (reusable,
    * write-out-able as a partitioned table at scale), bucket the queries,
    * then score only within matching buckets.
    *
    * `multiProbe` > 0 additionally probes that many Hamming-1 neighbor
    * buckets per query (single sign-bit flips) — the standard multi-probe
    * LSH recall boost: a near neighbor on the wrong side of one hyperplane
    * is still found, at the cost of probing a few more (mostly small)
    * buckets. The corpus side is untouched — only the broadcast query side
    * fans out. */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int, numPlanes: Int = 8, multiProbe: Int = 0,
      portable: Boolean = false): DataFrame = {
    val bCorpus = corpus.select(col(corpusId).as("corpus_id"),
      col(corpusVec).as("cvec"), norm(col(corpusVec)).as("cnorm"),
      hyperplaneBucket(col(corpusVec), dim, numPlanes, portable).as("bucket"))
    val bQueries0 = queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qvec"), norm(col(queryVec)).as("qnorm"),
      hyperplaneBucket(col(queryVec), dim, numPlanes, portable).as("bucket"))
    val bQueries =
      if (multiProbe <= 0) bQueries0
      else {
        val probes = array((col("bucket") +:
          (0 until math.min(multiProbe, numPlanes)).map(i =>
            col("bucket").bitwiseXOR(lit(1L << i)))): _*)
        bQueries0.withColumn("bucket", explode(probes))
      }
    val scored = bCorpus.join(broadcast(bQueries), Seq("bucket"))
      .select(col("query_id"), col("corpus_id"),
        cosinePre(dot(col("cvec"), col("qvec")), col("cnorm"), col("qnorm"))
          .as("score"))
    topKReduce(scored, k)
  }

  /** IVF (inverted-file) approximate nearest neighbors — the second scale
    * path besides hyperplane LSH: a k-means coarse quantizer partitions the
    * corpus into `numCentroids` cells ONCE (at scale the assigned table is
    * persisted partitioned by cell, so probes prune partitions), and each
    * query scores only the corpus rows in its `nprobe` closest cells.
    *
    * Plan shape: centroids are a driver-side literal (small by
    * construction); per-query cell ranking and the final top-k both run
    * through the bounded TopKByScore aggregate; the corpus is touched only
    * via an equi-join on cell id. Deterministic for a fixed seed.
    */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numCentroids: Int = 16, nprobe: Int = 4,
      seed: Long = 42): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = corpus.select(col(corpusId).as("corpus_id"),
      col(corpusVec).as("cvec"))
      .withColumn("features",
        array_to_vector(col("cvec").cast("array<double>")))
    val model = new KMeans().setK(numCentroids).setSeed(seed)
      .setMaxIter(20).fit(feat)
    val assigned = model.transform(feat)
      .select(col("corpus_id"), col("cvec"),
        norm(col("cvec")).as("cnorm"), col("prediction").as("cell"))
    val centroids: Seq[Seq[Double]] =
      model.clusterCenters.map(_.toArray.toSeq).toSeq
    // rank each query's cells by the SAME metric k-means assigned corpus
    // rows with — Euclidean distance. argmin ||q-c||² == argmax of
    // 2·q·c − ||c||² (the ||q||² term is constant per query), so the cell
    // score is 2·dot − centroidNorm². Ranking by raw dot product instead
    // would send queries with non-unit-norm centroids to the wrong cells.
    val centroidNorm2: Seq[Double] = centroids.map(c => c.map(x => x * x).sum)
    val cellScored = queries
      .select(col(queryId).as("query_id"),
        col(queryVec).cast("array<double>").as("qvecd"))
      .select(col("query_id"),
        posexplode(transform(typedLit(centroids),
          c => GraftFunctions.vectorDot(c, col("qvecd")))))
      .select(col("query_id"), col("pos").cast("int").as("cell"),
        (col("col") * 2 - element_at(typedLit(centroidNorm2), col("pos") + 1))
          .as("score"))
    val probes = cellScored.groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("score"),
        col("cell").cast("long"), nprobe).as("cells"))
      .select(col("query_id"), explode(col("cells.id")).as("cell"))
      .select(col("query_id"), col("cell").cast("int").as("cell"))
      .join(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("qvec"), norm(col(queryVec)).as("qnorm")),
        Seq("query_id"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("corpus_id"),
        cosinePre(dot(col("cvec"), col("qvec")), col("cnorm"), col("qnorm"))
          .as("score"))
    topKReduce(scored, k)
  }

  /** IVF with EXTERNALLY SUPPLIED centroid rows ("seeded" IVF, q38):
    * the coarse quantizer is a set of designated seed vectors instead of
    * fitted k-means centers, and cell assignment runs on QUANTIZED
    * integers (exact in double arithmetic), so the cell partition and
    * probe sets are bit-reproducible on any engine. At scale the seeds
    * are the persisted centroids of a prior clustering job; here they
    * are small by contract.
    *
    * One call is [[buildIvfIndex]] (flat assignment at every cell
    * count) followed by [[probeIvfIndex]] over the unpersisted frames,
    * so it returns exactly the rows a persisted build → probe returns,
    * including the index's one-float32-rounding rule: seeds and corpus
    * vectors are cast to `array<float>` before quantizing (a double
    * component such as 0.00005 at quantScale 10⁴ quantizes to 0, as
    * from the float32 the index stores, not to 1), and `corpus_id` is a
    * BIGINT. Cell ids are indices into the seed rows in ascending
    * `seedId` order; assignment argmax and probe ranking both break
    * score ties by lowest cell id (matching `row_number() OVER (ORDER BY
    * score DESC, cell ASC)` in an external engine). */
  def ivfTopKSeeded(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      seeds: DataFrame, seedId: String, seedVec: String,
      k: Int, nprobe: Int = 4, quantScale: Int = 10000): DataFrame =
    probeIvfIndex(buildIvfIndex(corpus, corpusId, corpusVec, seeds, seedId,
        seedVec, quantScale, twoLevelThreshold = Int.MaxValue),
      queries, queryId, queryVec, k, nprobe)

  /** Per-row probe routing — the one cell-ranking implementation of
    * every IVF and IVF-PQ probe: each row of `rows` is repeated once per
    * cell of its top-`nprobe` cells, as a new `cell` INT column. `qv` is
    * the row's quantized vector, ranked against the quantized centroid
    * table by the native [[graft.functions.IvfTopCells]] kernel
    * (2·q·c − ‖c‖², highest first, ties to the lowest cell). A row whose
    * vector is null, holds a null or NaN, or matches no centroid's
    * length routes nowhere.
    *
    * Rows route independently: two rows sharing a query id each probe
    * their OWN cells, and their candidates merge into one top-k per id
    * in [[topKReduce]] (a corpus row reached by both appears once per
    * row that reached it).
    *
    * The `cell < #cells` bound holds for every kernel output; it stays
    * in the plan as the probe side's selective predicate. Spark's
    * PartitionPruning adds the dynamic pruning filter on the
    * postings/codes `cell` partitions only when the other join side
    * carries one, and a driver-local query set folds every filter below
    * the generator into its LocalRelation. */
  private def routeToCells(rows: DataFrame, qv: Column,
      centTab: Array[Array[Double]], cnTab: Array[Double],
      nprobe: Int): DataFrame =
    rows.withColumn("cell",
        explode(GraftFunctions.ivfTopCells(qv, centTab, cnTab, nprobe)))
      .where(col("cell") < centTab.length)

  /** Driver-side cell scorer compiled from the (small-by-contract) seed
    * rows: `qv => array(2·qv·c_i − ||c_i||²)` over the quantized seed
    * vectors c_i, indexed in ascending `seedId` order. argmin ||q−c||² ==
    * argmax 2·q·c − ||c||² (the ||q||² term is constant per row), and all
    * terms are exact integers after quantization, so cell assignment has no
    * float-order sensitivity on any engine. The input Column must already
    * be quantized with the same `quantScale`. */
  private[ops] def seededCellScorer(seeds: DataFrame, seedId: String,
      seedVec: String, quantScale: Int): Column => Column = {
    val (cents, cn) = collectSeedTable(seeds, seedId, seedVec, quantScale)
    scorerFromTable(cents, cn)
  }

  /** The seed rows as driver-side primitive tables (ascending `seedId`
    * order = cell index), shared by the score-array form
    * ([[scorerFromTable]], query probes) and the native argmax kernel
    * (corpus assignment). */
  private[ops] def collectSeedTable(seeds: DataFrame, seedId: String,
      seedVec: String, quantScale: Int)
      : (Array[Array[Double]], Array[Double]) = {
    val rows = seeds
      .select(col(seedId).as("sid"),
        col(seedVec).cast("array<double>").as("v"))
      .orderBy(col("sid"))
      .select("v").collect()
    quantizeTable(rows.map(r => vectorOf(r, 0, "collectSeedTable")).toSeq,
      quantScale)
  }

  /** Column `i` of `r` (an array of doubles) as a primitive array; a null
    * vector or element fails loudly under `op`. */
  private def vectorOf(r: org.apache.spark.sql.Row, i: Int,
      op: String): Array[Double] = {
    require(!r.isNullAt(i), s"$op: a quantizer row has a null vector")
    r.getSeq[Any](i).map { x =>
      require(x != null, s"$op: a quantizer vector holds a null element")
      x.asInstanceOf[Double]
    }.toArray
  }

  /** THE rounding rule of every driver-side quantizer table: each
    * element becomes round(x·quantScale), HALF_UP through
    * `java.math.BigDecimal` exactly as Spark's `round` computes it (a
    * NaN or infinity passes through), and each row's ‖c‖² comes from the
    * `vector_dot` kernel itself ([[graft.functions.GraftHashImpl.dotD]]),
    * so the table is bit-identical to the one the engine would compute
    * with `transform(v, x => round(x·qs))` and `vector_dot(cv, cv)`. The
    * input is the vectors in table order, already widened to double (a
    * float32 element widens exactly, as Spark's cast does). */
  private[ops] def quantizeTable(vecs: Seq[Array[Double]],
      quantScale: Int): (Array[Array[Double]], Array[Double]) = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val q = vecs.map(_.map { x =>
      val v = x * quantScale
      if (v.isNaN || v.isInfinite) v
      else java.math.BigDecimal.valueOf(v)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    }).toArray
    (q, q.map { v =>
      val a = ArrayData.toArrayData(v)
      graft.functions.GraftHashImpl.dotD(a, a).doubleValue()
    })
  }

  /** Bit-equality of two quantizer tables. */
  private def sameTable(a: Array[Array[Double]],
      b: Array[Array[Double]]): Boolean =
    a.length == b.length &&
      a.indices.forall(j => java.util.Arrays.equals(a(j), b(j)))

  private[ops] def scorerFromTable(cents: Array[Array[Double]],
      cn: Array[Double]): Column => Column = {
    val centsSeq: Seq[Seq[Double]] = cents.map(_.toSeq).toSeq
    val cnSeq: Seq[Double] = cn.toSeq
    (qv: Column) =>
      transform(typedLit(centsSeq), (c, i) =>
        GraftFunctions.vectorDot(c, qv) * 2 -
          element_at(typedLit(cnSeq), i + 1))
  }

  /** Margin-based bitext/pair mining (Artetxe–Schwenk ratio margin — the
    * alignment-mining stage of the CCMatrix/LASER pipeline family):
    * candidate pairs are each source vector's forward top-`k` neighbors;
    * the pair cosine is rescaled by the mean of the two sides' top-`k`
    * neighborhood cosines, demoting "hub" vectors that are close to
    * everything; pairs at margin ≥ `threshold` survive. Exact
    * brute-force kernel (the oracle-verified variant): two broadcast
    * top-k passes — the bigger side is never shuffled — then two small
    * aggregations and a join on the candidate list. At 100 TB the same
    * margin is computed over [[ivfTopK]]/[[lshTopK]] candidates, which
    * produce the identical (query_id, corpus_id, score, rank) shape
    * this consumes. */
  def marginMining(src: DataFrame, srcId: String, srcVec: String,
      tgt: DataFrame, tgtId: String, tgtVec: String,
      k: Int, threshold: Double): DataFrame = {
    // the top-k result is tiny (n_src × k rows) but feeds TWO branches
    // (candidate pairs + the neighborhood means); without materializing
    // it Spark re-runs the full O(n·m) scoring pass per branch —
    // measured as 3 full passes instead of 2 at the 10× scale run
    val fwd = bruteForceTopK(tgt, tgtId, tgtVec, src, srcId, srcVec, k)
      .truncateLineage(false)
    val bwd = bruteForceTopK(src, srcId, srcVec, tgt, tgtId, tgtVec, k)
    val degSrc = fwd.groupBy(col("query_id"))
      .agg(avg(col("score")).as("deg_src"))
    val degTgt = bwd.groupBy(col("query_id").as("corpus_id"))
      .agg(avg(col("score")).as("deg_tgt"))
    fwd.join(degSrc, Seq("query_id"))
      .join(degTgt, Seq("corpus_id"))
      .select(col("query_id").as("src_id"), col("corpus_id").as("tgt_id"),
        (col("score") * 2.0 / (col("deg_src") + col("deg_tgt")))
          .as("margin"))
      .where(col("margin") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs within one dataset, via LSH
    * buckets (exact within-bucket scoring, a-id < b-id dedup). Candidate
    * pairs come from the capped-bucket expansion (bounded buffers, no
    * self-join) shared with the dedup operators; vectors are joined back
    * only for surviving candidates. */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, numPlanes: Int = 8): DataFrame = {
    val b = df.select(col(idCol).as("id"),
      col(vecCol).as("vec"), norm(col(vecCol)).as("nrm"))
      .withColumn("bucket", hyperplaneBucket(col("vec"), dim, numPlanes))
    val cand = Dedup.candidatePairsFromBuckets(b.select(col("id"),
      col("bucket")))
    cand
      .join(b.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("nrm").as("nrm_a")), Seq("id_a"))
      .join(b.select(col("id").as("id_b"), col("vec").as("vec_b"),
        col("nrm").as("nrm_b")), Seq("id_b"))
      .withColumn("score", cosinePre(dot(col("vec_a"), col("vec_b")),
        col("nrm_a"), col("nrm_b")))
      .where(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Semi-supervised kNN label propagation (weak supervision): rows whose
    * id satisfies `id % holdoutMod == 0` act as the UNLABELED set; each
    * gets the majority label of its `k` nearest LABELED rows by maximum
    * inner product over quantized embeddings (integer dots — exact in
    * double, so ranking, ties and votes are bit-reproducible on any
    * engine). Ties: neighbors by (dot desc, id asc), votes by (count
    * desc, label asc). Output carries the held-out TRUE label, so the
    * result doubles as a propagation-accuracy report.
    *
    * Plan shape: the unlabeled queries broadcast against the labeled
    * corpus (corpus never shuffles — scored map-side, reduced by the
    * bounded top-k aggregate), then a vote aggregation keyed by query.
    * The scale path swaps the brute-force scoring for the IVF/LSH
    * candidate generators, identical vote tail. */
  def knnLabelPropagation(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, holdoutMod: Int, k: Int,
      quantScale: Int = 10000): DataFrame = {
    require(holdoutMod >= 2 && k >= 1,
      s"need holdoutMod >= 2 and k >= 1, got $holdoutMod/$k")
    val d = quantized(df, idCol, vecCol, quantScale)
      .join(df.select(col(idCol).as("id"), col(labelCol).as("label")),
        Seq("id"))
      .withColumn("held", pmod(col("id"), lit(holdoutMod)) === 0)
    val labeled = d.where(!col("held"))
      .select(col("id").as("nid"), col("qv").as("nqv"),
        col("label").as("nlabel"))
    val unlabeled = d.where(col("held"))
      .select(col("id").as("uid"), col("qv").as("uqv"),
        col("label").as("true_label"))
    // Fused exact scoring kernel (r18, guide §1.2/§4.2): the naive shape
    // — labeled.join(broadcast(unlabeled)) — materializes every
    // (labeled × unlabeled) pair as a join row just so the bounded top-k
    // aggregate can throw almost all of them away; at 10x bench scale
    // that is 64M rows through the join/project/aggregate machinery for
    // a 4k×5-row answer (measured 29.7 s). The kernel computes the same
    // integer-exact dots in a primitive per-partition loop and emits at
    // most k candidates per (query, partition) — the same partial the
    // map-side aggregate would keep — then the UNCHANGED topk/vote tail
    // merges them. Exactness: dots are sums of integer-valued doubles
    // (≤ 2^53, any order identical), partial top-k per partition under
    // the aggregate's own total order (TopKHeap: d desc, id asc) is a
    // lossless partial of global top-k, and null/NaN/dim-mismatch rows
    // are skipped exactly as vector_dot → topk_by_score would skip them.
    val scored = knnScoredPartials(labeled, unlabeled, k)
    val neighbors = scored.groupBy(col("uid"), col("true_label"))
      .agg(graft.functions.GraftFunctions.topKByScore(
        col("d").cast("double"), col("nid"), k).as("top"))
      .select(col("uid"), col("true_label"),
        explode(transform(col("top"), x => x.getField("id"))).as("nid"))
    val votes = neighbors
      .join(labeled.select(col("nid"), col("nlabel")), Seq("nid"))
      .groupBy(col("uid"), col("true_label"), col("nlabel"))
      .agg(count(lit(1)).as("n"))
    votes.groupBy(col("uid").as("vec_id"), col("true_label"))
      .agg(max(struct(col("n"), (-col("nlabel")).as("neg"),
        col("nlabel"))).as("w"))
      .select(col("vec_id"),
        col("w").getField("nlabel").as("predicted_label"),
        col("w").getField("n").as("n_votes"), col("true_label"))
  }

  /** The scoring front half of [[knnLabelPropagation]] as a fused
    * per-partition kernel: for every unlabeled query, the ≤ k best
    * (dot desc, nid asc) labeled candidates FROM EACH PARTITION of the
    * labeled side — exactly the partial buffers a map-side
    * `topk_by_score` would keep, without materializing the
    * labeled × unlabeled join rows the naive plan feeds it. Output
    * columns (uid, true_label, nid, d); the caller's unchanged
    * aggregate merges partials into the global top-k.
    *
    * Skip semantics match `vector_dot` → `topk_by_score` exactly: null
    * id/vector, null element, dimension mismatch, or NaN dot → the pair
    * contributes nothing. Falls back to the broadcast-join shape for id
    * types whose tie order the kernel does not reproduce (only int/long
    * ids take the fused path; string order would differ between
    * UTF8String bytes and java.lang.String chars for supplementary
    * code points).
    *
    * EAGER, unlike the plan around it: the fused path collects the whole
    * unlabeled side to the driver and broadcasts it when this function
    * is CALLED, so building the result frame runs a Spark job before any
    * action. The collect has no size guard — the query side is assumed
    * small, and a large one is held on the driver whole — and the
    * broadcast is never destroyed, since the returned frame may
    * recompute from it for as long as it is referenced. (A lazy,
    * guarded operator that builds nothing until an action runs is the
    * open fix.) */
  private def knnScoredPartials(labeled: DataFrame, unlabeled: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idType = labeled.schema("nid").dataType
    if (idType != IntegerType && idType != LongType)
      return labeled.join(broadcast(unlabeled))
        .select(col("uid"), col("true_label"), col("nid"),
          dot(col("nqv"), col("uqv")).as("d"))
    val spark = labeled.sparkSession
    val uSchema = unlabeled.schema
    def toVec(r: Row, i: Int): Array[Double] =
      if (r.isNullAt(i)) null
      else {
        val s = r.getAs[scala.collection.Seq[Any]](i)
        val out = new Array[Double](s.length)
        var j = 0
        val it = s.iterator
        while (it.hasNext) {
          val v = it.next()
          if (v == null) return null // null element → dot is null → skip
          out(j) = v.asInstanceOf[Double]
          j += 1
        }
        out
      }
    // the query side is collected exactly as the naive plan's broadcast
    // would collect it; a query with a null/corrupt vector stays in the
    // arrays as a null slot so indices keep aligned, and scores nothing
    val uRows = unlabeled.select(col("uid"), col("true_label"), col("uqv"))
      .collect()
    val uids = uRows.map(_.get(0))
    val ulbls = uRows.map(_.get(1))
    val uqvs = uRows.map(toVec(_, 2))
    val bc = spark.sparkContext.broadcast((uids, ulbls, uqvs))
    val idOrd: Ordering[Any] = (idType match {
      case IntegerType => Ordering.Int
      case _ => Ordering.Long
    }).asInstanceOf[Ordering[Any]]
    val outSchema = StructType(Seq(
      StructField("uid", uSchema("uid").dataType),
      StructField("true_label", uSchema("true_label").dataType),
      StructField("nid", idType),
      StructField("d", DoubleType)))
    val rdd = labeled.select(col("nid"), col("nqv")).rdd
      .mapPartitions { it =>
        val (qIds, qLbls, qVecs) = bc.value
        val n = qIds.length
        val heaps = new Array[graft.functions.TopKHeap](n)
        it.foreach { r =>
          val nid = if (r.isNullAt(0)) null else r.get(0)
          val nqv = toVec(r, 1)
          if (nid != null && nqv != null) {
            var i = 0
            while (i < n) {
              val u = qVecs(i)
              if (u != null && u.length == nqv.length) {
                // same sequential order as vector_dot's kernel; the
                // quantized products are integer-valued (≤ 2^53), so
                // the sum is exact in any order anyway
                var s = 0.0
                var j = 0
                while (j < u.length) { s += u(j) * nqv(j); j += 1 }
                if (!java.lang.Double.isNaN(s)) {
                  if (heaps(i) == null)
                    heaps(i) = new graft.functions.TopKHeap(k, idOrd)
                  heaps(i).insert(s, nid)
                }
              }
              i += 1
            }
          }
        }
        (0 until n).iterator.flatMap { i =>
          val h = heaps(i)
          if (h == null) Iterator.empty
          else (0 until h.size).iterator
            .map(j => Row(qIds(i), qLbls(i), h.ids(j), h.scores(j)))
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Exact all-pairs cosine near-duplicates over QUANTIZED embeddings —
    * each element is rounded to 1/quantScale (default 1e-4), making every
    * dot product an integer that is exact in double arithmetic (≤ 2^53),
    * and the threshold test an integer/decimal compare with no float
    * reduction-order sensitivity at all. The quantization noise (~1e-4 on
    * the cosine) is irrelevant for near-dup thresholds; in exchange the
    * result is bit-reproducible on any engine, which is what makes this the
    * oracle-checkable variant (q34). Quadratic in the filtered id range —
    * the scale path is `cosineNearDups`.
    *
    * Threshold exactness: t is interpreted at its shortest decimal
    * representation (BigDecimal.valueOf), t² = num/10^s exactly, and the
    * test is dot²·10^s >= na·nb·num in DECIMAL(38,0) — pure integers. The
    * dot>0 guard makes the squared compare equivalent to cosine >= t, which
    * is why t must be positive. */
  def cosineNearDupsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, quantScale: Int = 10000): DataFrame = {
    val d = quantized(df, idCol, vecCol, quantScale)
    val cand = d.as("a").join(d.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.qv").as("qv_a"),
        col("a.nrm").as("nrm_a"), col("b.id").as("id_b"),
        col("b.qv").as("qv_b"), col("b.nrm").as("nrm_b"))
    quantizedThresholdFilter(cand, threshold)
  }

  /** (id, qv, nrm) rows: each element rounded to 1/quantScale — every dot
    * product an exact integer — plus the squared norm. */
  private def quantized(df: DataFrame, idCol: String, vecCol: String,
      quantScale: Int): DataFrame =
    df.select(col(idCol).as("id"),
      transform(col(vecCol), x => round(x.cast("double") * quantScale))
        .as("qv"))
      .withColumn("nrm", dot(col("qv"), col("qv")))

  /** The bit-reproducible cosine >= t test over quantized candidate rows
    * (id_a, qv_a, nrm_a, id_b, qv_b, nrm_b): t² = num/10^s at t's shortest
    * decimal representation, and the test is dot²·10^s >= na·nb·num in
    * DECIMAL(38,0) — pure integers, no float reduction-order sensitivity.
    * The dot>0 guard makes the squared compare equivalent to cosine >= t,
    * which is why t must be positive. */
  private def quantizedThresholdFilter(cand: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val t2 = java.math.BigDecimal.valueOf(threshold).pow(2)
    // double-noise thresholds (0.8500000000000001) would push den past
    // what the overflow-free split below can carry — and sub-1e-6
    // threshold precision is meaningless anyway; fail loudly instead
    require(t2.scale() <= 12,
      s"threshold $threshold has no short decimal representation " +
        "(squared scale " + t2.scale() + " > 12) — pass the intended " +
        "short-decimal threshold, e.g. 0.85 not 0.8500000000000001")
    val num = new java.math.BigDecimal(t2.unscaledValue()) // < den
    val den = new java.math.BigDecimal(
      java.math.BigInteger.TEN.pow(t2.scale()))             // ≤ 10¹²
    // EXACT dot²·den ≥ num·na·nb across the whole < 2⁵³ integer domain:
    // the direct products reach ~10⁴⁴ and overflow decimal(38,0) (the
    // annNearDupPairs bug class, ADVICE r14), so split den = dh·10⁶+dl
    // and nb = bh·10⁶+bl and compare (A·dh − C·bh)·10⁶ ≥ C·bl − A·dl
    // with A = dot², C = num·na — every intermediate ≤ ~8.1·10³⁷. The
    // magnitude branches keep the final ·10⁶ product in range: at
    // L ≥ 10²⁸ the LHS exceeds any possible RHS (≤ 9·10³³); at
    // L ≤ −10³² it is below any possible RHS (≥ −8.1·10³⁷).
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val (dh, dl) = {
      val Array(q, r) = den.toBigInteger
        .divideAndRemainder(java.math.BigInteger.valueOf(1000000L))
      (new java.math.BigDecimal(q), new java.math.BigDecimal(r))
    }
    cand
      .withColumn("dotd", dot(col("qv_a"), col("qv_b")))
      .where(col("nrm_a") > 0 && col("nrm_b") > 0 && col("dotd") > 0)
      .withColumn("__a", dec(col("dotd")) * dec(col("dotd")))
      .withColumn("__c", lit(num) * dec(col("nrm_a")))
      .withColumn("__bh", expr("cast(nrm_b as bigint) div 1000000"))
      .withColumn("__bl", expr("cast(nrm_b as bigint) % 1000000"))
      .withColumn("__l", col("__a") * lit(dh) -
        col("__c") * expr("cast(__bh as decimal(19,0))"))
      .withColumn("__r", col("__c") * expr("cast(__bl as decimal(7,0))")
        - col("__a") * lit(dl))
      .where(expr(
        "CASE WHEN __l >= cast(10000000000000000000000000000 as " +
          "decimal(38,0)) THEN true " +
          "WHEN __l <= cast(-100000000000000000000000000000000 as " +
          "decimal(38,0)) THEN false " +
          "ELSE __l * cast(1000000 as decimal(7,0)) >= __r END"))
      .select(col("id_a"), col("id_b"))
  }

  /** Cosine near-duplicate pairs via MULTI-TABLE hyperplane LSH — the scale
    * path for the same semantics as [[cosineNearDupsExact]]: candidates come
    * from `numTables` independent `bitsPerTable`-bit sign-LSH tables
    * (HyperplaneBands kernel, capped-bucket pair expansion — bounded
    * buffers, no self-join, no all-pairs product anywhere), and every
    * candidate is verified with the SAME quantized integer threshold test,
    * so precision is exact by construction and the only approximation is
    * candidate recall: per pair 1-(1-p^bits)^tables with p = 1 - θ/π.
    *
    * Sizing: bits ~ log2(n/targetBucketSize) bounds per-table bucket sizes;
    * tables buys recall — for threshold 0.3 (p ≈ 0.597, the weakest pair
    * this operator accepts), bits=4/tables=96 gives per-pair miss
    * probability (1-0.597⁴)⁹⁶ ≈ 2e-6. OpsSpec pins measured recall = 1.0
    * against the exact kernel on the test corpus, and the q34/q35
    * CORRECTNESS entries run THIS path against the all-pairs oracle. */
  def cosineNearDupsBanded(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numTables: Int = 96, bitsPerTable: Int = 4,
      quantScale: Int = 10000,
      maxBucketSize: Int = Dedup.MaxBucketSize): DataFrame = {
    // materialize the quantized+banded corpus once (lazy localCheckpoint):
    // it feeds THREE branches (bucket explode + both verify joins), which
    // would otherwise each re-run the 96-table hyperplane projection
    // kernel over every corpus row — the same reason Spark's own
    // MinHashLSH caches before approxSimilarityJoin
    val d = quantized(df, idCol, vecCol, quantScale)
      .withColumn("buckets",
        GraftFunctions.hyperplaneBands(col("qv"), bitsPerTable, numTables))
      .truncateLineage(eager = false)
    val bucketed = d.select(col("id"), posexplode(col("buckets")))
      .select(col("id"), xxhash64(col("pos"), col("col")).as("bucket"))
    val cand = Dedup.candidatePairsFromBuckets(bucketed, maxBucketSize)
      .join(d.select(col("id").as("id_a"), col("qv").as("qv_a"),
        col("nrm").as("nrm_a")), Seq("id_a"))
      .join(d.select(col("id").as("id_b"), col("qv").as("qv_b"),
        col("nrm").as("nrm_b")), Seq("id_b"))
    quantizedThresholdFilter(cand, threshold)
  }

  /** SemDeDup-style semantic pruning: assign every row to its nearest
    * seeded cell (quantized-integer argmax, ties to the lowest cell id —
    * bit-reproducible on any engine, same quantizer as [[ivfTopKSeeded]]),
    * then mark as duplicates the rows that have a WITHIN-CELL cosine
    * near-duplicate with a smaller id ("keep first", transitive-free greedy:
    * a row is dropped iff any smaller-id row in its cell clears the
    * threshold, whether or not that row is itself kept). Pair verification
    * is the same exact integer threshold test as [[cosineNearDupsExact]].
    *
    * Scale design (the SemDeDup trick, made safe at 100 TB):
    *  - Centroids join as a broadcast TABLE, not a plan literal — a
    *    typedLit of 100k×d vectors bloats the plan tree and kills codegen;
    *    a table is just data. The broadcast cross join has a k-row build
    *    side by contract (same legitimate class as the ANN query-set
    *    broadcast), and the argmax is a map-side-combined
    *    `max(struct(score, -cell))` — every centroid row for an id is
    *    produced in the id's own partition, so the shuffle carries ONE
    *    row per id. Cell ids are the seeds' OWN ids (cast to int):
    *    centroid tables come from a prior clustering job that already owns
    *    a dense id space; re-ranking them would need a global window.
    *  - Within-cell pairs route through the same capped
    *    [[Dedup.candidatePairsFromBuckets]] machinery as MinHash/LSH
    *    (bounded aggregation buffers, explode from collected id lists, no
    *    self-join): the quadratic term is min(|cell|, maxCellSize)² per
    *    cell, a hot cell can never melt an executor, and an over-budget
    *    cell (> `maxCellSize`) contributes no pairs — the signal to re-run
    *    the clustering job with more centroids, not a crash.
    *
    * Returns (id, cell, keep) for every input row. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedId: String, seedVec: String,
      threshold: Double, quantScale: Int = 10000,
      maxCellSize: Int = 10000): DataFrame = {
    val q = quantized(df, idCol, vecCol, quantScale)
    // Loud guard on the dense-id contract: seed ids outside int range (or
    // distinct longs that collide mod 2^32) would silently wrap under the
    // cast below and merge unrelated cells. The seeds table is broadcast-
    // small by contract, so one driver aggregate over it is free.
    val chk = seeds.agg(
      min(col(seedId).cast("long")).as("mn"),
      max(col(seedId).cast("long")).as("mx"),
      count(lit(1)).as("n"),
      count_distinct(col(seedId).cast("int")).as("nd")).head()
    if (!chk.isNullAt(0)) {
      require(chk.getLong(0) >= Int.MinValue.toLong &&
        chk.getLong(1) <= Int.MaxValue.toLong,
        s"semanticDedup: seed ids [${chk.getLong(0)}, ${chk.getLong(1)}] " +
          "outside int range — cell assignment would wrap")
      require(chk.getLong(2) == chk.getLong(3),
        s"semanticDedup: ${chk.getLong(2)} seeds collapse to " +
          s"${chk.getLong(3)} distinct cell ids after int cast")
    }
    val s = seeds.select(col(seedId).cast("int").as("cell"),
        transform(col(seedVec), x => round(x.cast("double") * quantScale))
          .as("cv"))
      .withColumn("cn", dot(col("cv"), col("cv")))
    val assigned = q.crossJoin(broadcast(s))
      // argmin ||q−c||² == argmax 2·q·c − ||c||²; all terms exact
      // integers after quantization (dim·quantScale² ≪ 2^53)
      .select(col("id"), col("cell"),
        (dot(col("qv"), col("cv")) * 2 - col("cn")).as("score"))
      .groupBy(col("id"))
      .agg(max(struct(col("score"), (-col("cell")).as("nc"))).as("best"))
      .select(col("id"), (-col("best.nc")).cast("int").as("cell"))
    val pairs = Dedup.candidatePairsFromBuckets(
        assigned.select(col("id"), col("cell").cast("long").as("bucket")),
        maxCellSize)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val cand = pairs
      .join(q.select(col("id").as("id_a"), col("qv").as("qv_a"),
        col("nrm").as("nrm_a")), Seq("id_a"))
      .join(q.select(col("id").as("id_b"), col("qv").as("qv_b"),
        col("nrm").as("nrm_b")), Seq("id_b"))
    val dropped = quantizedThresholdFilter(cand, threshold)
      .select(col("id_b").as("id")).distinct()
    assigned
      .join(dropped.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup").isNull.as("keep"))
  }

  /** Prototypicality scoring (the "SSL prototypes" pruning family —
    * Sorscher et al., Beyond neural scaling laws): each row's cosine to
    * its assigned seeded-cell centroid. Rows far from every prototype are
    * outliers/noise (prune lowest scores); rows too close to a prototype
    * are redundant (prune highest scores, keeping [[semanticDedup]] for
    * the pairwise-exact version). Cell assignment is the bit-reproducible
    * quantized argmax shared with [[ivfTopKSeeded]]; the cosine is
    * computed from the quantized integer dot/norms with a fixed operation
    * sequence (`dot / (sqrt(na)·sqrt(nb))`, each step correctly-rounded
    * IEEE), so any engine reproduces the rounded score exactly.
    *
    * A pure map-side projection after the (tiny) seed collect — no join,
    * no shuffle, nothing pairwise. Returns (id, cell, proto_score). */
  def prototypicality(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedId: String, seedVec: String,
      quantScale: Int = 10000): DataFrame = {
    val cellScores = seededCellScorer(seeds, seedId, seedVec, quantScale)
    val centNorm: Seq[Double] = seeds
      .select(transform(col(seedVec),
        x => round(x.cast("double") * quantScale)).as("cv"),
        col(seedId).as("sid"))
      .orderBy(col("sid"))
      .withColumn("cn", dot(col("cv"), col("cv")))
      .select("cn").collect().map(_.getDouble(0)).toSeq
    // the argmax score is 2·dot − ||c||², so the centroid dot falls out
    // arithmetically — no second vector pass, all terms exact integers
    quantized(df, idCol, vecCol, quantScale)
      .withColumn("scores", cellScores(col("qv")))
      .withColumn("cell",
        (array_position(col("scores"), array_max(col("scores"))) - 1)
          .cast("int"))
      .withColumn("cn", element_at(typedLit(centNorm), col("cell") + 1))
      .withColumn("cdot",
        (element_at(col("scores"), col("cell") + 1) + col("cn")) / 2)
      .select(col("id"), col("cell"),
        round(when(col("nrm") > 0 && col("cn") > 0,
          col("cdot") / (sqrt(col("nrm")) * sqrt(col("cn"))))
          .otherwise(lit(0.0)), 4).as("proto_score"))
  }

  /** Quantization recall ablation — the measurement you run BEFORE
    * shipping int8 embeddings: for each query, top-k under coarse
    * (int8-range, `loScale`) quantization vs fine (`hiScale`) reference
    * quantization, and recall@k of the coarse list against the fine
    * one. At 100 TB the index memory/bandwidth win of int8 is 4×; this
    * op tells you what it costs in retrieval quality, per query, before
    * any index is rebuilt.
    *
    * Both rankings are exact integer dot products (ties by id), so
    * recall is engine-exact ppm — no float reduction order anywhere.
    * One broadcast join scores BOTH precisions in a single corpus pass;
    * the two bounded top-k aggregates share the shuffle. */
  def quantizationRecall(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, hiScale: Int = 10000,
      loScale: Int = 16): DataFrame = {
    require(k >= 1 && hiScale > loScale && loScale >= 1,
      s"need k >= 1 and hiScale > loScale >= 1, got $k/$hiScale/$loScale")
    def qz(vec: Column, s: Int) =
      transform(vec, x => round(x.cast("double") * s))
    val c = widenForCompute(corpus).select(col(corpusId).as("corpus_id"),
      qz(col(corpusVec), hiScale).as("cvh"),
      qz(col(corpusVec), loScale).as("cvl"))
    val q = queries.select(col(queryId).as("query_id"),
      qz(col(queryVec), hiScale).as("qvh"),
      qz(col(queryVec), loScale).as("qvl"))
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        dot(col("cvh"), col("qvh")).as("dh"),
        dot(col("cvl"), col("qvl")).as("dl"))
    scored.groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("dh").cast("double"),
          col("corpus_id"), k).as("th"),
        GraftFunctions.topKByScore(col("dl").cast("double"),
          col("corpus_id"), k).as("tl"))
      .select(col("query_id"),
        size(col("th")).as("n_hi"), size(col("tl")).as("n_lo"),
        size(array_intersect(
          transform(col("th"), x => x.getField("id")),
          transform(col("tl"), x => x.getField("id")))).as("n_common"))
      .withColumn("recall_ppm",
        expr("n_common * 1000000L div n_hi"))
  }

  /** Reciprocal-rank fusion of per-query retrieval lists — the standard
    * way to combine multiple rankers (query reformulations, hybrid
    * lexical+vector, per-shard lists) into one consensus ranking:
    * item score = Σ over lists 1/(kConst + rank). An item near the top
    * of ANY list surfaces; items mid-pack everywhere beat items great
    * in one list and absent elsewhere. kConst=60 is the published
    * default (Cormack et al., SIGIR'09).
    *
    * Engine-exact variant: similarity is the integer dot product over
    * quantized vectors (ties broken by id), the fusion weight is
    * 1e6 div (kConst + rank) in exact integer ppm, and the fused order
    * is (score desc, id asc) — no float anywhere, so the full fused
    * ranking hash-matches any engine.
    *
    * Plan shape: queries broadcast once against the corpus (corpus never
    * shuffles — scored map-side, reduced by the bounded top-k aggregate
    * to perListK entries per query); everything after runs on
    * |queries|·perListK rows. The final top-N is itself a bounded
    * aggregate — no global sort of the fused table. */
  def reciprocalRankFusion(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, perListK: Int, topN: Int, kConst: Int = 60,
      quantScale: Int = 10000): DataFrame = {
    require(perListK >= 1 && topN >= 1 && kConst >= 1,
      s"need perListK/topN/kConst >= 1, got $perListK/$topN/$kConst")
    val c = quantized(widenForCompute(corpus), corpusId, corpusVec,
      quantScale).select(col("id").as("corpus_id"), col("qv").as("cv"))
    val q = quantized(queries, queryId, queryVec, quantScale)
      .select(col("id").as("query_id"), col("qv").as("quv"))
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        dot(col("cv"), col("quv")).as("d"))
    val contrib = scored.groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("d").cast("double"),
        col("corpus_id"), perListK).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("col.id").as("corpus_id"),
        (col("pos") + 1).cast("int").as("rank"))
    val fused = contrib.groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_lists"), min(col("rank")).as("best_rank"),
        sum(expr(s"1000000L div ($kConst + rank)")).as("rrf_ppm"))
      .truncateLineage(eager = false)
    // literal grouping key: empty-input-safe bounded top-N (no constant
    // row from a global aggregate), ties broken by id like every list
    fused.groupBy(lit(1).as("__g"))
      .agg(GraftFunctions.topKByScore(col("rrf_ppm").cast("double"),
        col("corpus_id"), topN).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as("corpus_id"),
        (col("pos") + 1).cast("int").as("fused_rank"))
      .join(fused, Seq("corpus_id"))
      .select(col("corpus_id"), col("fused_rank"), col("n_lists"),
        col("best_rank"), col("rrf_ppm"))
  }

  /** Embedding-distribution drift monitor: the cosine between the
    * centroids of two cohorts of an embedding column — the cheap,
    * online-computable canary for "did the upstream encoder / data mix
    * shift" (a centroid cosine well below 1 means the cohorts occupy
    * different regions; per-dimension sums also expose WHICH axes
    * moved). At 100 TB this is one map-side-combined aggregation:
    * vectors are never pairwise compared.
    *
    * Exactness: per-dimension SUM of quantized components is an exact
    * integer (posexplode → groupBy dim — dims × cohorts rows, never a
    * driver-side vector); the three dot products of the two sum-vectors
    * are exact DECIMAL(38,0); only the final cosine is the fixed IEEE
    * sqrt/divide tail. Centroid cosine == cosine of sums (the 1/n
    * factors cancel), so no division happens before the tail.
    *
    * Output one row: (n_a, n_b, dot_ab, nsq_a, nsq_b,
    * cos_centroids). */
  def embeddingDrift(df: DataFrame, idCol: String, vecCol: String,
      isCohortA: Column, quantScale: Int = 10000): DataFrame = {
    val q = df.select(isCohortA.as("a"),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double") * quantScale).cast("long"))))
      .select(col("a"), col("pos"), col("col").as("qv"))
    val dims = q.groupBy(col("pos"))
      .agg(sum(when(col("a"), col("qv"))).as("sa"),
        sum(when(!col("a"), col("qv"))).as("sb"))
    def d38(c: Column) = coalesce(c, lit(0)).cast("decimal(38,0)")
    val counts = df.groupBy(lit(1).as("__o"))
      .agg(sum(when(isCohortA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isCohortA, 1L).otherwise(0L)).as("n_b"))
    dims
      .groupBy(lit(1).as("__o"))
      .agg(sum(d38(col("sa")) * d38(col("sb"))).as("dot_ab"),
        sum(d38(col("sa")) * d38(col("sa"))).as("nsq_a"),
        sum(d38(col("sb")) * d38(col("sb"))).as("nsq_b"))
      .join(counts, "__o")
      .select(col("n_a"), col("n_b"),
        col("dot_ab").cast("long").as("dot_ab"),
        col("nsq_a").cast("long").as("nsq_a"),
        col("nsq_b").cast("long").as("nsq_b"),
        when(col("nsq_a") > 0 && col("nsq_b") > 0,
          expr("cast(dot_ab as double) / (sqrt(cast(nsq_a as double))" +
            " * sqrt(cast(nsq_b as double)))")).as("cos_centroids"))
  }

  /** MMR (maximal marginal relevance) diversified re-ranking — the
    * standard fix for "the top-k are 10 copies of the same document":
    * after retrieval, results are picked greedily by
    * `λ·relevance − (1−λ)·max-similarity-to-already-picked`, trading
    * relevance against redundancy. This is the selection step behind
    * diverse RAG contexts and dedup-aware eval set construction.
    *
    * Exactness: relevance and pairwise similarity are integer dot
    * products over the same quantized vectors, and the MMR score is
    * `lambdaNum·rel − (lambdaDen−lambdaNum)·maxSim` — the λ-tradeoff
    * scaled to pure integer arithmetic (monotonically identical to the
    * float form). Ties: higher score, then smaller corpus id. The
    * greedy recurrence is inherently sequential in `selectK`, so it is
    * unrolled as `selectK−1` bounded relational steps (anti-join →
    * pair-dot max → argmax-struct pick) over candidate frames of
    * `queries × candidateK` rows — the corpus-scale work (scoring) is
    * the same broadcast map-side pass as [[bruteForceTopK]], and the
    * loop only ever touches candidate-bounded data.
    *
    * Output: (query_id, mmr_rank, corpus_id, rel_dot, max_sim,
    * mmr_score); max_sim/mmr_score are NULL on the rank-1 seed pick. */
  def mmrRerank(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      candidateK: Int, selectK: Int, lambdaNum: Int = 7,
      lambdaDen: Int = 10, quantScale: Int = 10000): DataFrame = {
    require(candidateK >= selectK && selectK >= 1,
      s"need candidateK >= selectK >= 1, got $candidateK/$selectK")
    require(lambdaDen > lambdaNum && lambdaNum > 0,
      s"need 0 < lambdaNum < lambdaDen, got $lambdaNum/$lambdaDen")
    val c = quantized(widenForCompute(corpus), corpusId, corpusVec,
      quantScale).select(col("id").as("corpus_id"), col("qv").as("cv"))
    val q = quantized(queries, queryId, queryVec, quantScale)
      .select(col("id").as("query_id"), col("qv").as("quv"))
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        dot(col("cv"), col("quv")).cast("long").as("rel"))
    // bounded top-candidateK reduction, then re-attach vectors: the
    // candidate frame (queries × candidateK rows) is all the greedy
    // loop ever sees
    val cand = scored.groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("rel").cast("double"),
        col("corpus_id"), candidateK).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("e"))
      .select(col("query_id"), col("e.id").as("corpus_id"),
        col("e.score").cast("long").as("rel"))
      .join(c, "corpus_id")
      .truncateLineage(eager = false)
    val lamA = lambdaNum
    val lamB = lambdaDen - lambdaNum
    // seed: pure argmax relevance (tie: smaller id via negated key)
    var selected = cand.groupBy(col("query_id"))
      .agg(max(struct(col("rel"), (-col("corpus_id")).as("nid"),
        col("corpus_id"), col("cv"))).as("m"))
      .select(col("query_id"), lit(1).as("mmr_rank"),
        col("m.corpus_id").as("corpus_id"), col("m.rel").as("rel_dot"),
        lit(null).cast("long").as("max_sim"),
        lit(null).cast("long").as("mmr_score"), col("m.cv").as("scv"))
    for (step <- 2 to selectK) {
      val sel = selected.select(col("query_id"),
        col("corpus_id").as("sid"), col("scv"))
      val remaining = cand.join(sel.select(col("query_id"),
          col("sid").as("corpus_id")), Seq("query_id", "corpus_id"),
        "left_anti")
      val pick = remaining
        .join(sel, "query_id")
        .groupBy(col("query_id"), col("corpus_id"))
        .agg(max(dot(col("cv"), col("scv")).cast("long")).as("ms"))
        .join(cand, Seq("query_id", "corpus_id"))
        .select(col("query_id"), col("corpus_id"), col("rel"),
          col("ms"), (col("rel") * lamA - col("ms") * lamB).as("mmr"),
          col("cv"))
        .groupBy(col("query_id"))
        .agg(max(struct(col("mmr"), (-col("corpus_id")).as("nid"),
          col("corpus_id"), col("rel"), col("ms"), col("cv"))).as("m"))
        .select(col("query_id"), lit(step).as("mmr_rank"),
          col("m.corpus_id").as("corpus_id"),
          col("m.rel").as("rel_dot"), col("m.ms").as("max_sim"),
          col("m.mmr").as("mmr_score"), col("m.cv").as("scv"))
      selected = selected.unionAll(pick)
        .truncateLineage(eager = false)
    }
    selected.select(col("query_id"), col("mmr_rank"), col("corpus_id"),
      col("rel_dot"), col("max_sim"), col("mmr_score"))
  }

  /** Embedding-corpus health report — the hygiene gate before any ANN /
    * similarity work trusts a vector column: every row is classified
    * into exactly one state (null_vector / wrong_dims / nonfinite /
    * zero_vector / ok) and the ok rows carry exact integer norm²
    * extremes and totals (quantScale² units), so "norms collapsed after
    * that re-embed" is a table read, not a guess. One scan, one
    * state-keyed aggregation; NaN/±Inf detection runs on the raw floats
    * BEFORE quantization would destroy the evidence. */
  def embeddingHealthReport(df: DataFrame, idCol: String, vecCol: String,
      expectedDims: Int, quantScale: Int = 10000): DataFrame = {
    require(expectedDims >= 1, s"bad expectedDims $expectedDims")
    // non-finite elements quantize to 0 INSIDE the lambda (ANSI round/
    // cast of NaN would throw before the state column could classify
    // the row) — such rows are labeled nonfinite before qv is read
    val staged = df.select(col(idCol).as("id"), col(vecCol).as("e"))
      .withColumn("qv", transform(col("e"), x => {
        val xd = x.cast("double")
        when(isnan(xd) || xd === lit(Double.PositiveInfinity) ||
          xd === lit(Double.NegativeInfinity), lit(0L))
          .otherwise(round(xd * quantScale).cast("long"))
      }))
    val xd = (x: Column) => x.cast("double")
    val nonfinite = exists(col("e"), x => isnan(xd(x)) ||
      xd(x) === lit(Double.PositiveInfinity) ||
      xd(x) === lit(Double.NegativeInfinity))
    val state = when(col("e").isNull, lit("null_vector"))
      .when(size(col("e")) =!= expectedDims, lit("wrong_dims"))
      .when(nonfinite, lit("nonfinite"))
      .when(size(filter(col("qv"), x => x =!= 0L)) === 0,
        lit("zero_vector"))
      .otherwise(lit("ok"))
    val norm2 = expr(
      "aggregate(qv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")
    staged.select(state.as("state"),
        when(state === "ok", norm2).as("n2"))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n"), min(col("n2")).as("min_norm2"),
        max(col("n2")).as("max_norm2"),
        sum(col("n2")).as("sum_norm2"))
  }

  /** Product-quantization assignment + reconstruction-error report
    * (Jégou et al. 2011): the quantized vector is split into `nSub`
    * contiguous subspaces; each subspace has its own codebook — here
    * the designated seed rows' corresponding blocks (the persisted
    * per-subspace k-means centers at scale, a driver-side literal by
    * the same small-by-contract argument as seeded IVF) — and every
    * vector's block is assigned to its nearest code by EXACT integer
    * L2, ties broken by lowest code id. Output per (subspace, code):
    * vectors assigned and the exact summed squared error — the
    * distortion table that sizes a PQ index before anyone builds it
    * (total SSE / nSub·scale² = mean per-block quantization error).
    *
    * Plan shape: codebook folded into the plan as literals; per row
    * nSub·|codes| integer distance expressions + one O(nSub) explode;
    * one keyed aggregation. No join, no shuffle except the final
    * (subspace, code) rollup. */
  def pqAssignmentReport(df: DataFrame, idCol: String, vecCol: String,
      inDims: Int, nSub: Int, seedIds: Seq[Long],
      quantScale: Int = 10000): DataFrame = {
    require(nSub >= 1 && inDims % nSub == 0,
      s"inDims $inDims must divide into nSub $nSub")
    require(seedIds.nonEmpty, "need at least one seed row")
    val subLen = inDims / nSub
    val q = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol),
        x => round(x.cast("double") * quantScale).cast("long")).as("qv"))
      .where(col("qv").isNotNull && size(col("qv")) === inDims)
    val codebook: Seq[(Long, Seq[Long])] = q
      .where(col("id").isin(seedIds: _*))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .sortBy(_._1).toSeq
    if (codebook.isEmpty) {
      // empty/seedless input: an empty report, not an error (the
      // every-query-completes-on-empty-tables contract)
      return q.limit(0).select(lit(0).as("subspace"),
        lit(0L).as("code"), lit(0L).as("n_assigned"), lit(0L).as("sse"))
    }
    // ‖x−c‖² = Σx² − 2·x·c + ‖c‖²: Σx² is shared across the codebook
    // and ‖c‖² is a literal, so the per-row work is one Σx² plus one
    // dot per (subspace, code) — each bound as a NAMED column in its
    // own projection (evaluated once; the naive flat form recomputed
    // every difference per code and fell out of codegen: 5x slower at
    // 50k rows)
    def blockDot(off: Int, cv: Seq[Long]): Column =
      (0 until subLen).map { i =>
        element_at(col("qv"), off + i + 1) * lit(cv(off + i))
      }.reduce(_ + _)
    val ssqCols = (0 until nSub).map { s =>
      val off = s * subLen
      (0 until subLen).map { i =>
        val x = element_at(col("qv"), off + i + 1); x * x
      }.reduce(_ + _).as(s"__ssq$s")
    }
    val dotCols = for (s <- 0 until nSub; (ci, (_, cv)) <-
        codebook.zipWithIndex.map(p => (p._2, p._1)))
      yield blockDot(s * subLen, cv).as(s"__dot${s}_$ci")
    val staged = q.select(col("id") +: (ssqCols ++ dotCols): _*)
    val perSub = (0 until nSub).map { s =>
      val best = array_min(array(codebook.zipWithIndex.map {
        case ((code, cv), ci) =>
          val off = s * subLen
          val csq = (off until off + subLen)
            .map(i => cv(i) * cv(i)).sum
          struct((col(s"__ssq$s") - lit(2L) * col(s"__dot${s}_$ci") +
            lit(csq)).as("d"), lit(code).as("c"))
      }: _*))
      struct(lit(s).as("sub"), best.getField("c").as("code"),
        best.getField("d").as("err"))
    }
    staged.select(explode(array(perSub: _*)).as("a"))
      .groupBy(col("a.sub").as("subspace"), col("a.code").as("code"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("a.err")).as("sse"))
  }

  /** IVF-PQ approximate nearest neighbors (Jégou et al. 2011) — the
    * memory-bounded composition of the two halves this library already
    * ships separately: seeded-IVF coarse cells ([[ivfTopKSeeded]], q38)
    * prune which corpus rows a query touches, and the per-subspace PQ
    * codebook ([[pqAssignmentReport]], q248) stores each pruned row as
    * nSub small code indices scored by ADC (asymmetric distance).
    *
    * Index layout — the 100 TB point: after the one-pass encode
    * projection, a corpus vector is carried ONLY as
    * (corpus_id, cell:int, codes:array<int> of nSub entries). The raw
    * embedding column never crosses the candidate join, so index memory
    * and scan traffic are O(nSub ints) per vector instead of
    * O(dims floats) — for 64-dim floats at nSub=8 a 8x reduction, and
    * the ratio grows with dims.
    *
    * Query path: cells are ranked exactly as q38 (integer quantized
    * scores, ties to the lowest cell id); each query row probes its own
    * `nProbe` best cells carrying a lookup table LUT[s][ci] =
    * ‖q_s − c_{ci,s}‖², so a candidate costs nSub array probes — no dot
    * products at scan time. This is the NON-RESIDUAL ADC variant (codes
    * quantize the vector itself, not the cell residual): the codebook is
    * one global table — the same one q248 audits — and every distance is
    * an exact integer after quantization, replayable by any engine (all
    * magnitudes stay under 2^53).
    *
    * One call is [[buildIvfPqIndex]] (flat assignment at every cell
    * count) followed by [[probeIvfPqIndex]] over the unpersisted frames,
    * so it returns exactly the rows a persisted build → probe returns —
    * with the index's one-float32-rounding rule: seeds, codebook rows
    * and corpus vectors are cast to `array<float>` before quantizing.
    * Output: (query_id, corpus_id, approx_d2, rank), ranked by
    * approx_d2 asc with ties broken by corpus_id asc (`row_number()`
    * parity). Recall@k vs the exact [[bruteForceTopK]] kernel is pinned
    * in OpsSpec (q38's proof shape). */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      seeds: DataFrame, seedId: String, seedVec: String,
      codebookIds: Seq[Long], inDims: Int, nSub: Int, k: Int,
      nProbe: Int = 4, quantScale: Int = 10000): DataFrame = {
    require(codebookIds.nonEmpty, "need at least one codebook row")
    probeIvfPqIndex(buildIvfPqIndex(corpus, corpusId, corpusVec, seeds,
        seedId, seedVec, codebookIds, inDims, nSub, quantScale,
        twoLevelThreshold = Int.MaxValue),
      queries, queryId, queryVec, k, nProbe)
  }

  /** The PQ kernel tables derived from the (quantized) codebook alone:
    * `cbBlock(s)(ci)` = code ci's slice for subspace s, `csq(s)(ci)`
    * its Σx². They ride the task closure as ONE reference object inside
    * the native kernels — the staged-column formulation this replaced
    * (nSub×nCodes generated dot columns per row) spent most of its wall
    * COMPILING 64KB-limit-skirting codegen stages (measured: 2048
    * columns at a 256-code/8-sub codebook). All values are quantized
    * integers-as-doubles, so the kernel's arithmetic is exact and
    * bit-identical to the column form it replaced. */
  private def pqTables(cb: Seq[Seq[Long]], inDims: Int, nSub: Int)
      : (Array[Array[Array[Double]]], Array[Array[Double]]) = {
    val subLen = inDims / nSub
    val cbBlock: Array[Array[Array[Double]]] = (0 until nSub).map { s =>
      cb.map(cv =>
        (s * subLen until (s + 1) * subLen).map(i => cv(i).toDouble)
          .toArray).toArray
    }.toArray
    val csq: Array[Array[Double]] =
      cbBlock.map(_.map(b => b.map(x => x * x).sum))
    (cbBlock, csq)
  }

  /** One-pass PQ encode of a coarse-assigned corpus (corpus_id, qv
    * quantized, cell) → (cell, corpus_id, codes nSub×int, e2, nb2), one
    * native [[graft.functions.PqEncodeWithErr]] call per row, barriered.
    * `nb2` = ‖x‖² and `e2` = ‖x − x̂‖² are exact integers in the
    * quantized domain (the encode kernel's own argmin distances); the
    * stored distortion is what makes [[annNearDupPairsPq]]'s ADC
    * prefilter provably lossless. The PLAN BARRIER matters: without it
    * Catalyst fuses the encode into and around the candidate join
    * (measured 50 s vs 3 s at q281's sf1 run in the staged-column era).
    * The checkpoint is also the honest shape: this frame IS the codes
    * artifact [[writeIvfPqIndex]] persists. */
  private def pqEncodeIndexed(base: DataFrame,
      cbBlock: Array[Array[Array[Double]]], csq: Array[Array[Double]],
      payloadCols: Seq[String] = Nil): DataFrame = {
    val pl = payloadCols.map(col)
    base.select(col("corpus_id") +: col("cell") +:
        GraftFunctions.pqEncodeWithErr(col("qv"), cbBlock, csq)
          .as("enc") +:
        dot(col("qv"), col("qv")).as("nb2") +: pl: _*)
      .select(col("cell").cast("int").as("cell") +: col("corpus_id") +:
        col("enc").getField("codes").as("codes") +:
        col("enc").getField("err2").as("e2") +: col("nb2") +: pl: _*)
      .truncateLineage(eager = false)
  }

  /** √N default for the IVF cell count and its probe default — exposed
    * so specs and capacity planning use the library's own arithmetic. */
  def defaultIvfCells(n: Long): Int =
    math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
  /** Probe-count default: round(sqrt(cells)), min 1. */
  def defaultIvfProbes(cells: Int): Int =
    math.max(1, math.round(math.sqrt(cells.toDouble)).toInt)

  /** Deterministic hash-seeded coarse quantizer: the `numCells` corpus
    * rows with the smallest (md5("ivf:"+id), id) — an engine-portable
    * uniform sample of the corpus as seed vectors, so the cell count
    * scales with the corpus by construction and an external engine
    * reproduces the exact same seed set (the oracle-verified trainer;
    * [[ivfPqTopKScaled]]'s k-means mode clusters better but its centers
    * are not replayable outside Spark). `sid` is the hex hash + ':' +
    * zero-padded id, so ascending-sid order (the cell-index order
    * [[seededCellScorer]] uses) is exactly (hash, id) order. Plan
    * shape: TakeOrderedAndProject — per-partition top-numCells then a
    * driver merge, never a global sort. */
  def hashSeeds(corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int, salt: String = "ivf"): DataFrame = {
    require(numCells >= 1, "numCells must be >= 1")
    corpus.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("svec"))
      .where(col("svec").isNotNull)
      .select(concat(
          substring(md5(concat(lit(salt + ":"),
            col("__id").cast("string")).cast("binary")), 1, 15),
          lit(":"), lpad(col("__id").cast("string"), 20, "0")).as("sid"),
        col("svec"))
      .orderBy(col("sid"))
      .limit(numCells)
  }

  /** IVF-PQ with an N-SCALED coarse quantizer (r12 directive #2): cell
    * count defaults to ⌈√N⌉ of the valid corpus and nProbe to ⌈√cells⌋,
    * so per-probe candidate work stays at the √N IVF sweet spot as the
    * corpus grows instead of degenerating to a scan of 1/16th of it.
    *
    * `trainer = "kmeans"` (default): Spark ML k-means fitted on a
    * deterministic hash-capped sample (≤ `maxTrainRows` rows — training
    * never scans 100 TB), centers become the seed frame. Best cell
    * balance; Spark-only (centers are float iterates, not replayable
    * elsewhere — recall vs the exact kernel is spec-pinned instead).
    * `trainer = "hash"`: [[hashSeeds]] — slightly worse balance, but
    * the whole index is engine-portable integer arithmetic (the
    * oracle-verified q281 variant).
    *
    * Everything downstream is [[ivfPqTopK]]: one [[buildIvfPqIndex]]
    * with flat assignment, then [[probeIvfPqIndex]] over the unpersisted
    * frames. Like every seed source, the k-means centers are rounded to
    * float32 before they are quantized (the index's one-float32-rounding
    * rule). Flat assignment scores every corpus row against every cell
    * — O(N·√N·dims), the standard flat-IVF cost; [[ivfPqTopKTwoLevel]]
    * is the same call with the two-level route. */
  def ivfPqTopKScaled(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, codebookIds: Seq[Long], inDims: Int, nSub: Int,
      k: Int, numCells: Option[Int] = None, nProbe: Option[Int] = None,
      quantScale: Int = 10000, trainer: String = "kmeans",
      seed: Long = 42, maxTrainRows: Int = 65536): DataFrame = {
    require(trainer == "kmeans" || trainer == "hash",
      s"trainer must be 'kmeans' or 'hash', got $trainer")
    ivfPqTopKN(corpus, corpusId, corpusVec, queries, queryId, queryVec,
        codebookIds, inDims, nSub, k, numCells, nProbe, quantScale,
        twoLevelThreshold = Int.MaxValue) { (valid, n, cells) =>
      if (trainer == "hash") hashSeeds(valid, "__id", "__v", cells)
      else kmeansSeeds(valid, n, cells, seed, maxTrainRows)
    }
  }

  /** IVF-PQ with a TWO-LEVEL coarse quantizer (r13 directive #3): the
    * hash-trained [[ivfPqTopKScaled]] with the corpus assigned through
    * the q284 two-level route at every cell count ([[argmaxCell]]):
    * ⌈√cells⌉ SUPER-cells are hash-drawn from the centroid list (same
    * (md5, id)-order rule as [[hashSeeds]], salt "ivf2", over cell
    * indices), each centroid groups under its argmax super-cell
    * driver-side, and a corpus row scores the super-cells, then only its
    * super-cell's centroids — O(N·∜N·dims) assignment instead of
    * O(N·√N·dims). The route is part of the quantizer definition (the
    * nearest centroid may live outside the chosen super-cell — standard
    * hierarchical-IVF semantics), and every score is exact integer
    * arithmetic with ties to the lowest index, so an external engine
    * replays the identical assignment (the q284 oracle). QUERIES still
    * rank all cells exactly for their probe sets. Like
    * [[ivfPqTopKScaled]], one call is a [[buildIvfPqIndex]] (here with
    * `twoLevelThreshold` 0) and a [[probeIvfPqIndex]] over the
    * unpersisted frames, under the same one-float32-rounding rule. */
  def ivfPqTopKTwoLevel(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, codebookIds: Seq[Long], inDims: Int, nSub: Int,
      k: Int, numCells: Option[Int] = None, nProbe: Option[Int] = None,
      quantScale: Int = 10000): DataFrame =
    ivfPqTopKN(corpus, corpusId, corpusVec, queries, queryId, queryVec,
        codebookIds, inDims, nSub, k, numCells, nProbe, quantScale,
        twoLevelThreshold = 0) { (valid, _, cells) =>
      hashSeeds(valid, "__id", "__v", cells)
    }

  /** The N-scaled body of [[ivfPqTopKScaled]] and [[ivfPqTopKTwoLevel]]:
    * N = the valid corpus rows (`__id`, `__v` of `inDims` entries),
    * ⌈√N⌉ cells and ⌈√cells⌋ probes unless given, seeds from
    * `seedsOf(valid, N, cells)`, then [[ivfPqTopK]]'s build → probe
    * under `twoLevelThreshold`. An empty valid corpus is an empty
    * result. */
  private def ivfPqTopKN(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, codebookIds: Seq[Long], inDims: Int, nSub: Int,
      k: Int, numCells: Option[Int], nProbe: Option[Int], quantScale: Int,
      twoLevelThreshold: Int)(
      seedsOf: (DataFrame, Long, Int) => DataFrame): DataFrame = {
    val valid = corpus.select(col(corpusId).cast("long").as("__id"),
        col(corpusVec).as("__v"))
      .where(col("__v").isNotNull && size(col("__v")) === inDims)
    val n = valid.count()
    if (n == 0L) return noPqHits(queries, queryId)
    require(codebookIds.nonEmpty, "need at least one codebook row")
    val cells = numCells.getOrElse(defaultIvfCells(n))
    val probe = nProbe.getOrElse(defaultIvfProbes(cells))
    probeIvfPqIndex(buildIvfPqIndex(corpus, corpusId, corpusVec,
        seedsOf(valid, n, cells), "sid", "svec", codebookIds, inDims, nSub,
        quantScale, twoLevelThreshold),
      queries, queryId, queryVec, k, probe)
  }

  /** k-means seeds for [[ivfPqTopKScaled]]: (sid, svec) = the `cells`
    * centers of a fit on a deterministic hash-capped sample of `valid`
    * (≤ `maxTrainRows` rows, the same rows on every run). */
  private def kmeansSeeds(valid: DataFrame, n: Long, cells: Int, seed: Long,
      maxTrainRows: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // the fit must never scan the full corpus at scale (no rand())
    val keepPpm = math.min(1000000L, maxTrainRows.toLong * 1000000L / n)
    val train = valid
      .where(pmod(xxhash64(lit("ivf-train"), col("__id")),
        lit(1000000L)) < lit(keepPpm))
      .withColumn("features",
        array_to_vector(col("__v").cast("array<double>")))
      .truncateLineage(eager = false)
    // loud guard (r13 advice): k-means needs >= k training rows. The ppm
    // hash cap keeps ~maxTrainRows of them, so a caller-supplied
    // numCells above the sample — or cells = ceil(sqrt(N)) outgrowing
    // maxTrainRows^2 corpora — must fail with the fix spelled out, not
    // as a KMeans internals error at fit time.
    val trainN = train.count()
    require(trainN >= cells,
      s"IVF k-means trainer: $cells cells requested but the hash-" +
        s"capped training sample holds only $trainN rows (cap " +
        s"maxTrainRows=$maxTrainRows); raise maxTrainRows above the " +
        "cell count or lower numCells")
    val model = new KMeans().setK(cells).setSeed(seed).setMaxIter(20)
      .fit(train)
    // the training sample's checkpoint fed the guard count + the fit
    // iterations; dead once the centers are driver-side
    graft.Lineage.retire(train)
    val spark = valid.sparkSession
    import spark.implicits._
    model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toDF("sid", "svec")
  }

  private def md5hex15(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .substring(0, 15)

  /** Deterministic ±1 sign for the JL projection matrix cell (j, i):
    * parity of the md5-60 of "j:i" — the same engine-portable hash
    * family as every other sketch, computed DRIVER-side here (the
    * matrix is outDims×inDims literals folded into the plan; nothing is
    * broadcast) and replayed by the oracle's own md5. */
  private def jlSign(j: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1
    else -1
  }

  /** Johnson–Lindenstrauss random-projection distortion audit:
    * embeddings are quantized to exact integers (quantScale units),
    * projected to `outDims` dimensions with a deterministic ±1 sign
    * matrix ([[jlSign]] — Achlioptas 2003's database-friendly variant,
    * no 1/√m scaling so E[‖y‖²] = outDims·‖x‖²), and for each adjacent
    * id pair (even, even+1) the report emits the EXACT integer squared
    * distance before and after projection plus the distortion ratio in
    * ppm of the expected outDims× inflation — the go/no-go table before
    * swapping full vectors for projected ones in a 100 TB ANN pipeline.
    *
    * Projection is linear, so the pair's projected distance is computed
    * from the DIFFERENCE vector (one matrix apply per pair, not two),
    * and every number until the final ppm division is exact long
    * arithmetic — no float reduction order anywhere. One self-join on
    * id+1 (both sides shuffle-partitioned on the join key), then pure
    * per-row expressions. */
  def jlProjectDistortion(df: DataFrame, idCol: String, vecCol: String,
      inDims: Int, outDims: Int = 8, quantScale: Int = 10000): DataFrame = {
    require(inDims >= 1 && outDims >= 1 && outDims <= inDims,
      s"bad dims: in=$inDims out=$outDims")
    val q = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol),
        x => round(x.cast("double") * quantScale).cast("long")).as("qv"))
      .where(col("qv").isNotNull && size(col("qv")) === inDims)
    val pairs = q.select(col("id").as("id_a"), col("qv").as("qa"))
      .where(pmod(col("id_a"), lit(2)) === 0)
      .join(q.select(col("id").as("id_b"), col("qv").as("qb")),
        col("id_b") === col("id_a") + 1)
      // difference vector bound OUTSIDE the lambdas (HOFs are
      // interpreted; see Dedup.shingles note)
      .withColumn("dv", zip_with(col("qa"), col("qb"), (x, y) => x - y))
    val d2o = expr("aggregate(dv, CAST(0 AS BIGINT), " +
      "(acc, x) -> acc + x * x)")
    val dys = (0 until outDims).map { j =>
      (0 until inDims).map { i =>
        element_at(col("dv"), i + 1) * lit(jlSign(j, i).toLong)
      }.reduce(_ + _)
    }
    val d2p = dys.map(dy => dy * dy).reduce(_ + _)
    pairs.select(col("id_a"), col("id_b"), d2o.as("d2_orig"),
      d2p.as("d2_proj"))
      .withColumn("distortion_ppm",
        // d2_proj * 1e6 wraps in 64-bit for d2_proj > ~9.2e12 while the
        // DuckDB oracle promotes to HUGEINT; widen to decimal(38,0) (the
        // wordSubsampleAudit pattern) so the ppm is exact at any norm.
        when(col("d2_orig") === 0, lit(null).cast("long"))
          .otherwise(expr(
            s"cast(cast(d2_proj as decimal(38,0)) * 1000000 div " +
              s"($outDims * cast(d2_orig as decimal(38,0))) as bigint)")))
  }

  // ===== Persisted IVF index lifecycle =====

  /** The two frames of an IVF index: `centroids` — (cell INT, cvec
    * ARRAY<FLOAT>), small by contract (≤ a few thousand rows, the
    * driver-literal budget every IVF path here already assumes);
    * `postings` — (cell INT, corpus_id BIGINT, cvec ARRAY<FLOAT>,
    * cnorm DOUBLE), corpus-scale. When the postings frame comes from
    * [[readIvfIndex]] it is a parquet read DISK-partitioned by `cell`,
    * so a probe's equi-join on `cell` prunes unprobed cells at the file
    * level (dynamic partition pruning) — the index is built and paid for
    * once, then every probe batch reads only nprobe/cells of the data.
    * `quantScale`/`twoLevelThreshold` are the build's quantization
    * parameters, carried WITH the index (persisted in `<path>/meta`,
    * read back by [[readIvfIndex]]) so append and probe can never
    * silently diverge from the build's rounding or routing.
    *
    * The driver-side quantizer table (quantized centroids in cell order
    * and their ‖c‖²) is the one [[buildIvfIndex]] computed, or else
    * collected once per frames value, on first use, and reused by every
    * probe, audit and dedup pass over it. A frames value is a snapshot:
    * re-open the index with [[readIvfIndex]] after a rebuild overwrites
    * its root. */
  final case class IvfIndexFrames(centroids: DataFrame, postings: DataFrame,
      quantScale: Int = 10000, twoLevelThreshold: Int = 4096) {
    @volatile private[ops] var builtCellTable
        : (Array[Array[Double]], Array[Double]) = null
    private[ops] lazy val cellTable: (Array[Array[Double]], Array[Double]) =
      Option(builtCellTable).getOrElse(
        collectSeedTable(centroids, "cell", "cvec", quantScale))
  }

  /** Build the index frames for a seed set (e.g. [[hashSeeds]] output or
    * the persisted centers of a prior clustering job): cell index =
    * position of the seed in ascending `seedId` order; every corpus row
    * assigned to its argmax cell over the quantized-integer score
    * 2·q·c − ‖c‖² (ties to the lowest cell — [[ivfTopKSeeded]]'s exact
    * assignment rule, one native [[graft.functions.IvfArgmaxCell]] call
    * per row). Assignment is one map-side pass over the corpus; the only
    * shuffle in the lifecycle is [[writeIvfIndex]]'s single exchange onto
    * the cell key, which buys the one-file-per-cell layout. At or above
    * `twoLevelThreshold` cells the pass routes through the q284
    * two-level coarse quantizer (O(N·∜N·dims), no √N-sized closure
    * tables scanned per row) — at 10⁹ vectors / 31623 cells flat argmax
    * is 30× the per-row flops of the two-level route. */
  def buildIvfIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      seeds: DataFrame, seedId: String, seedVec: String,
      quantScale: Int = 10000,
      twoLevelThreshold: Int = 4096,
      payloadCols: Seq[String] = Nil): IvfIndexFrames = {
    val (centroids, centTab, cnTab) =
      seedCentroids(seeds, seedId, seedVec, quantScale)
    val idx = IvfIndexFrames(centroids,
      if (centTab.isEmpty)
        // empty corpus → empty seed draw → a typed empty index (the
        // 100 TB empty-partition contract: complete, don't throw)
        corpus.limit(0)
          .select(lit(0).cast("int").as("cell") +:
            col(corpusId).cast("long").as("corpus_id") +:
            col(corpusVec).cast("array<float>").as("cvec") +:
            lit(0.0).as("cnorm") +: payloadCols.map(col): _*)
      else assignPostings(corpus, corpusId, corpusVec, centTab, cnTab,
        quantScale, twoLevelThreshold, payloadCols),
      quantScale, twoLevelThreshold)
    idx.builtCellTable = (centTab, cnTab)
    idx
  }

  /** A build's centroids frame (cell = position in ascending `seedId`
    * order, cvec = the float32 seed) and its quantized table, from ONE
    * collect of the (small) seed set, so the two agree by construction.
    * The table quantizes the float32 values the root persists: a double
    * seed source would otherwise round differently than at read-back. */
  private def seedCentroids(seeds: DataFrame, seedId: String,
      seedVec: String, quantScale: Int)
      : (DataFrame, Array[Array[Double]], Array[Double]) = {
    val session = seeds.sparkSession
    import session.implicits._
    val vecs = seeds.select(col(seedId).as("sid"),
        col(seedVec).cast("array<float>").cast("array<double>").as("v"))
      .orderBy(col("sid")).select("v").collect()
      .map(r => vectorOf(r, 0, "collectSeedTable")).toSeq
    val (centTab, cnTab) = quantizeTable(vecs, quantScale)
    (vecs.map(_.map(_.toFloat).toSeq).zipWithIndex.map(_.swap)
      .toDF("cell", "cvec"), centTab, cnTab)
  }

  /** The q284 two-level routing tables derived from a quantized centroid
    * table: super seeds = the ⌈√cells⌉ cell indices with the smallest
    * (md5("ivf2:" + cell), cell); each centroid grouped under its argmax
    * super seed (exact integer scores, ties to the lowest super index).
    * Deterministic from the table ALONE, so [[buildIvfIndex]] and
    * [[appendToIvfIndex]] re-derive identical routing from the persisted
    * centroids — no extra state to store. */
  private[graft] def twoLevelTables(centTab: Array[Array[Double]],
      cnTab: Array[Double])
      : (Array[Array[Double]], Array[Double], Array[Array[Int]]) = {
    val nCells = centTab.length
    val superCount = math.max(1,
      math.ceil(math.sqrt(nCells.toDouble)).toInt)
    val superIdx: IndexedSeq[Int] = (0 until nCells)
      .sortBy(ci => (md5hex15(s"ivf2:$ci"), ci)).take(superCount)
      .toIndexedSeq
    val superCents = superIdx.map(centTab).toArray
    val superCn = superIdx.map(cnTab).toArray
    def superOf(v: Array[Double]): Int =
      (0 until superCount).maxBy { j =>
        val s = superCents(j)
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * s(i); i += 1 }
        (2.0 * d - superCn(j), -j)
      }
    val membersByG = (0 until nCells).groupBy(ci => superOf(centTab(ci)))
    val memberCells: Array[Array[Int]] = Array.tabulate(superCount)(g =>
      membersByG.getOrElse(g, IndexedSeq.empty).sorted.toArray)
    (superCents, superCn, memberCells)
  }

  /** The cell of the quantized vector `qv` under a centroid table — the
    * coarse assignment of both index kinds' build and append: one native
    * [[graft.functions.IvfArgmaxCell]] call per row, flat exact argmax
    * below `twoLevelThreshold` cells and the q284 two-level route
    * ([[twoLevelTables]]) at or above it. */
  private def argmaxCell(qv: Column, centTab: Array[Array[Double]],
      cnTab: Array[Double], twoLevelThreshold: Int): Column =
    if (centTab.length >= twoLevelThreshold) {
      val (sc, scn, members) = twoLevelTables(centTab, cnTab)
      GraftFunctions.ivfArgmaxCell(qv, sc, scn, members, centTab, cnTab)
    } else GraftFunctions.ivfArgmaxCell(qv, centTab, cnTab, null, null, null)

  /** (cell, corpus_id, cvec, cnorm) under a driver-side centroid table —
    * the shared assignment kernel of build and append. At or above
    * `twoLevelThreshold` cells, assignment routes through the q284
    * two-level coarse quantizer (argmax super cell, then argmax over
    * only that super cell's member centroids): O(N·∜N·dims) instead of
    * the flat O(N·√N·dims) — the exact shape r13's directive #3 fixed
    * for the query path. Below it, flat exact argmax (the
    * oracle-replayed form at the verification cell counts). */
  private def assignPostings(corpus: DataFrame, corpusId: String,
      corpusVec: String, centTab: Array[Array[Double]],
      cnTab: Array[Double], quantScale: Int,
      twoLevelThreshold: Int,
      payloadCols: Seq[String] = Nil): DataFrame = {
    val reserved = IvfKind.core + "__qn"
    require(payloadCols.forall(p => !reserved(p)),
      s"assignPostings: payload columns $payloadCols collide with the " +
        s"postings schema names $reserved")
    val pl = payloadCols.map(col)
    widenForCompute(corpus)
      .select(col(corpusId).cast("long").as("corpus_id") +:
        col(corpusVec).cast("array<float>").as("cvec") +: pl: _*)
      .where(col("cvec").isNotNull)
      .select(col("corpus_id") +: col("cvec") +:
        norm(col("cvec")).as("cnorm") +:
        transform(col("cvec"), x => round(x.cast("double") * quantScale))
          .as("__qn") +: pl: _*)
      .select(argmaxCell(col("__qn"), centTab, cnTab, twoLevelThreshold)
        .as("cell") +: col("corpus_id") +: col("cvec") +: col("cnorm") +:
        pl: _*)
  }

  /** Persist the index: `<path>/centroids` (one small file) and
    * `<path>/postings` partitioned by `cell` — one directory per cell, so
    * later probes prune at the file listing. The postings are shuffled
    * onto the cell key before the write: without it a dynamic-partition
    * write fans every input split across every cell (splits × cells
    * small files — 45k for 2M rows at √N cells); with it each cell is
    * ONE task writing one file (parquet row groups keep huge cells
    * splittable for readers). Overwrites any previous index at `path`
    * (the rebuild contract; use [[appendToIvfIndex]] for deltas). */
  def writeIvfIndex(idx: IvfIndexFrames, path: String): Unit =
    writeRoot(IvfKind, idx, path)

  /** The single meta row read DRIVER-SIDE (plain parquet-hadoop, no
    * Spark job): the file is a few hundred bytes and every lifecycle
    * step (read/append/probe) consults it — as Spark jobs those reads
    * added ~0.3 s of pure scheduler overhead each at any scale. None
    * when the directory has no data file (a pre-meta index). EXACTLY
    * one data file is required when any exist: an external copy or
    * partial overwrite that leaves two meta files would otherwise
    * route appends under an arbitrary (possibly stale) row — the same
    * broken-root-fails-loudly posture the postings read takes.
    *
    * META EVOLUTION CONTRACT (r16 directive #7 — every future meta
    * column follows this, no exceptions):
    *  1. A NEW meta column MUST ship with a `defaults` entry at every
    *     read site, and the default MUST equal the behavior indexes
    *     built before the column existed actually ran under —
    *     otherwise reopening a legacy root silently changes its
    *     routing (the corruption class the self-describing meta
    *     exists to prevent). Example: `two_level_threshold` defaults
    *     to 4096, the hard-coded routing switch of pre-meta builds.
    *  2. A field WITHOUT a `defaults` entry is REQUIRED: a meta file
    *     missing it fails loudly here (IllegalStateException), never
    *     silently invents a value. Fields that never had a
    *     pre-history (written since the meta file itself exists, like
    *     `quant_scale`) stay required.
    *  3. Unknown EXTRA columns in the file are ignored — a root
    *     written by a newer version stays readable as long as the
    *     columns this version needs are present (forward-compatible
    *     reads; the newer writer guarantees the shared columns mean
    *     the same thing, by rule 1).
    * MetaEvolutionSpec pins all three rules against hand-written
    * legacy meta dirs. */
  private def readMetaRow(spark: SparkSession,
      dir: String, fields: Seq[String],
      defaults: Map[String, Int] = Map.empty): Option[Seq[Int]] = {
    val dataFiles = parquetDataFiles(spark, new Path(dir))
    if (dataFiles.isEmpty) return None
    require(dataFiles.length == 1,
      s"readMetaRow: ${dataFiles.length} data files in $dir — a meta " +
        "dir must hold exactly one; an external copy or partial " +
        "overwrite left ambiguous metadata and routing appends under " +
        "an arbitrary row would corrupt the index. Repair the root.")
    val g = records(spark, dataFiles.head).headOption.getOrElse(
      throw new IllegalArgumentException(
        s"readMetaRow: empty meta file ${dataFiles.head}"))
    Some(fields.map { n =>
      if (g.getType.containsField(n)) g.getInteger(n, 0)
      else defaults.getOrElse(n, throw new IllegalStateException(
        s"readMetaRow: required field $n missing from meta at $dir"))
    })
  }

  /** The meta-evolution defaults of both kinds (rule 1 above): 4096 is
    * the hard-coded routing switch of builds that predate the column. */
  private val metaDefaults = Map("two_level_threshold" -> 4096)

  /** The meta of the `kind` root at `path`, by field name. A root
    * without a meta row opens under the kind's `preMeta` values or, when
    * the kind has none, fails loudly. `supplied` is a legacy caller's
    * re-supply of some fields: each must equal the persisted value, and
    * on a pre-meta root it stands in for it. */
  private def readMeta(spark: SparkSession,
      kind: IndexKind[_], path: String, op: String,
      supplied: Map[String, Int] = Map.empty): Map[String, Int] =
    readMetaRow(spark, path + "/meta", kind.metaFields, metaDefaults) match {
      case Some(values) =>
        val meta = kind.metaFields.zip(values).toMap
        require(supplied.forall { case (f, v) => meta(f) == v },
          s"$op: supplied $supplied contradict the index's persisted " +
            s"meta $meta at $path — an append under a different " +
            "quantizer would corrupt cell assignment")
        meta
      case None =>
        kind.metaFields.zip(kind.preMeta.getOrElse(
          throw new IllegalStateException(
            s"$op: no meta row at $path — not an ${kind.label} index root")))
          .toMap ++ supplied
    }

  // ===== The two index kinds =====

  /** What tells the two persisted index kinds apart; the lifecycle —
    * write, read, open, append, merge, compaction — is written once and
    * takes a kind. `label` names the kind's public verbs in messages
    * (`appendTo<label>Index`). `dataDir` is the cell-partitioned corpus
    * dir and `coreSchema` its core columns as a partition-discovered
    * read reports them (`coreColumns`, then `cell`; every other column
    * is payload). `tableDirs` are the quantizer's `(dir, key, vector)`
    * tables, centroids first, `metaFields` the meta row's columns and
    * `preMeta` the values a root without `meta/` opens under (None: meta
    * is required). The accessors map the frames type `F` to and from its
    * tables, meta values (in `metaFields` order) and data. */
  private[graft] sealed abstract class IndexKind[F](val label: String,
      val dataDir: String, coreColumns: Seq[(String, DataType)],
      val tableDirs: Seq[(String, String, String)],
      val metaFields: Seq[String], val preMeta: Option[Seq[Int]]) {
    val coreSchema: StructType = StructType((coreColumns :+
      ("cell" -> IntegerType)).map(c => StructField(c._1, c._2)))
    val core: Set[String] = coreSchema.fieldNames.toSet
    /** The directories a rebuild replaces and a consuming merge moves
      * from the first source; a maintenance stream reopens its root when
      * their listing changes. */
    def quantizerDirs: Seq[String] = tableDirs.map(_._1) :+ "meta"
    def emptyQuantizer(root: OpenedRoot): Boolean
    def encode(delta: DataFrame, idCol: String, vecCol: String,
        root: OpenedRoot): DataFrame
    def tables(idx: F): Seq[DataFrame]
    def meta(idx: F): Seq[Int]
    def data(idx: F): DataFrame
    def frames(tables: Seq[DataFrame], data: DataFrame,
        meta: Map[String, Int]): F
    /** `idx` with `root`'s quantizer tables as its driver-side tables. */
    def carrying(idx: F, root: OpenedRoot): F
  }

  /** The raw-vector IVF index: postings carry the float32 vector and its
    * norm; a pre-meta root opens under the historical (10000, 4096). */
  private[graft] object IvfKind extends IndexKind[IvfIndexFrames]("Ivf",
      "postings", Seq("corpus_id" -> LongType,
        "cvec" -> ArrayType(FloatType), "cnorm" -> DoubleType),
      Seq(("centroids", "cell", "cvec")),
      Seq("quant_scale", "two_level_threshold"), Some(Seq(10000, 4096))) {
    def emptyQuantizer(root: OpenedRoot): Boolean = root.centTab.isEmpty
    def encode(delta: DataFrame, idCol: String, vecCol: String,
        root: OpenedRoot): DataFrame =
      assignPostings(delta, idCol, vecCol, root.centTab, root.cnTab,
        root.quantScale, root.twoLevelThreshold, root.payloadCols)
    def tables(idx: IvfIndexFrames): Seq[DataFrame] = Seq(idx.centroids)
    def meta(idx: IvfIndexFrames): Seq[Int] =
      Seq(idx.quantScale, idx.twoLevelThreshold)
    def data(idx: IvfIndexFrames): DataFrame = idx.postings
    def frames(tables: Seq[DataFrame], data: DataFrame,
        meta: Map[String, Int]): IvfIndexFrames =
      IvfIndexFrames(tables.head, data, meta("quant_scale"),
        meta("two_level_threshold"))
    def carrying(idx: IvfIndexFrames, root: OpenedRoot): IvfIndexFrames = {
      idx.builtCellTable = (root.centTab, root.cnTab)
      idx
    }
  }

  /** The IVF-PQ index: codes carry the PQ code array and the two margin
    * columns; the codebook is a second quantizer table, and meta is
    * required. */
  private[graft] object PqKind extends IndexKind[IvfPqIndexFrames]("IvfPq",
      "codes", Seq("corpus_id" -> LongType,
        "codes" -> ArrayType(IntegerType), "e2" -> DoubleType,
        "nb2" -> DoubleType),
      Seq(("centroids", "cell", "cvec"), ("codebook", "ci", "cv")),
      Seq("in_dims", "n_sub", "quant_scale", "two_level_threshold"), None) {
    def emptyQuantizer(root: OpenedRoot): Boolean =
      root.centTab.isEmpty || root.codebook.isEmpty
    def encode(delta: DataFrame, idCol: String, vecCol: String,
        root: OpenedRoot): DataFrame = {
      val (cbBlock, csq) = root.pqKernelTables
      pqEncodeIndexed(coarseAssignQuantized(delta, idCol, vecCol,
          root.centTab, root.cnTab, root.quantScale, root.twoLevelThreshold,
          root.meta("in_dims"), root.payloadCols),
        cbBlock, csq, root.payloadCols)
    }
    def tables(idx: IvfPqIndexFrames): Seq[DataFrame] =
      Seq(idx.centroids, idx.codebook)
    def meta(idx: IvfPqIndexFrames): Seq[Int] =
      Seq(idx.inDims, idx.nSub, idx.quantScale, idx.twoLevelThreshold)
    def data(idx: IvfPqIndexFrames): DataFrame = idx.codes
    def frames(tables: Seq[DataFrame], data: DataFrame,
        meta: Map[String, Int]): IvfPqIndexFrames =
      IvfPqIndexFrames(tables(0), tables(1), data, meta("in_dims"),
        meta("n_sub"), meta("quant_scale"), meta("two_level_threshold"))
    def carrying(idx: IvfPqIndexFrames, root: OpenedRoot): IvfPqIndexFrames = {
      idx.builtCellTable = (root.centTab, root.cnTab)
      idx.builtCodebook = root.codebook
      idx
    }
  }

  // ===== Driver-side open of a persisted root (no Spark job) =====

  /** A persisted root's quantizer as its appends use it: the meta by
    * field name, the quantized centroid table in cell order, the data
    * dir's payload columns and (PQ) the quantized codebook in ci order.
    * Read on the driver with no Spark job by [[openRoot]] and quantized
    * by [[quantizeTable]], as a read-back frames value collects them. */
  private[graft] final case class OpenedRoot(meta: Map[String, Int],
      centTab: Array[Array[Double]], cnTab: Array[Double],
      payloadCols: Seq[String], codebook: Seq[Seq[Long]]) {
    def quantScale: Int = meta("quant_scale")
    def twoLevelThreshold: Int = meta("two_level_threshold")
    lazy val pqKernelTables
        : (Array[Array[Array[Double]]], Array[Array[Double]]) =
      pqTables(codebook, meta("in_dims"), meta("n_sub"))
  }

  /** The open of one root carried across calls — the index-reading
    * streams keep one per root for their lifetime. [[current]] lists
    * the kind's quantizer dirs on the driver (names, sizes, mtimes; no
    * Spark job) and reopens the root only when that listing changed, so
    * a rebuild of the root by another writer is routed under from the
    * next call on. The stamp is taken before the open: a change racing
    * the open shows up as a changed stamp on the next call. [[read]]
    * reads the root's rows as [[readIndex]] does and takes the meta and
    * quantizer tables from the open, so no table is collected through
    * Spark; the table frames are read once per open. */
  private[graft] final class RootView[F](val path: String,
      val kind: IndexKind[F]) {
    private var stamp: Seq[(String, Long, Long)] = null
    private var opened: OpenedRoot = null
    private var tables: Seq[DataFrame] = null
    def current(spark: SparkSession): OpenedRoot = synchronized {
      val now = quantizerStamp(spark)
      if (opened == null || now != stamp) {
        opened = openRoot(spark, kind, path)
        stamp = now
        tables = null
      }
      opened
    }

    def read(spark: SparkSession): F = synchronized {
      val rows = readRows(spark, kind, path)
      val root = current(spark)
      if (tables == null)
        tables = readTables(spark, kind, path)
      kind.carrying(kind.frames(tables, rows, root.meta), root)
    }

    private def quantizerStamp(spark: SparkSession)
        : Seq[(String, Long, Long)] = {
      val fs = fileSystem(spark, new Path(path))
      kind.quantizerDirs.flatMap { d =>
        val dir = new Path(path + "/" + d)
        if (!fs.exists(dir)) Seq((d, -1L, -1L))
        else fs.listStatus(dir).toSeq.map(s =>
          (d + "/" + s.getPath.getName, s.getLen, s.getModificationTime))
          .sorted
      }
    }
  }

  /** Open the `kind` root at `path`: its meta ([[readMeta]], with a
    * legacy caller's `supplied` fields checked against it), its
    * quantizer tables and the payload columns of one data file footer. */
  private[ops] def openRoot(spark: SparkSession,
      kind: IndexKind[_], path: String,
      supplied: Map[String, Int] = Map.empty): OpenedRoot = {
    val meta = readMeta(spark, kind, path, s"appendTo${kind.label}Index",
      supplied)
    val qs = meta("quant_scale")
    val tables = kind.tableDirs.map { case (dir, key, vec) =>
      readVectorTable(spark, s"$path/$dir", key, vec)
    }
    val (centTab, cnTab) = quantizeTable(tables.head, qs)
    OpenedRoot(meta, centTab, cnTab,
      dataSchema(spark, s"$path/${kind.dataDir}")
        .fold(Seq.empty[String])(_.fieldNames.toSeq.filterNot(kind.core)),
      tables.drop(1).flatMap(codebookRows(_, qs)))
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The parquet data files directly under `dir` (none when it is
    * absent), by name. */
  private def parquetDataFiles(spark: SparkSession, dir: Path): Seq[Path] = {
    val fs = fileSystem(spark, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath).filter { p =>
      val n = p.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getName)
  }

  /** The records of the parquet file `f`, read on the driver. */
  private def records(spark: SparkSession, f: Path)
      : Vector[org.apache.parquet.example.data.Group] = {
    val rd = org.apache.parquet.hadoop.ParquetReader.builder(
      new org.apache.parquet.hadoop.example.GroupReadSupport(), f)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try Iterator.continually(rd.read()).takeWhile(_ != null).toVector
    finally rd.close()
  }

  private def withFooter[T](spark: SparkSession, f: Path)(
      body: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f,
        spark.sparkContext.hadoopConfiguration))
    try body(rd) finally rd.close()
  }

  /** The rows of the small `(key, vector)` table at `dir` (centroids or
    * codebook) read on the driver, as double vectors in ascending key
    * order — the order `orderBy(key)` gives; keys and vector elements
    * may be of any integer or floating-point parquet type. A missing or
    * file-less dir, a null vector or a null element fails loudly. */
  private def readVectorTable(spark: SparkSession,
      dir: String, key: String, vec: String): Seq[Array[Double]] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val files = parquetDataFiles(spark, new Path(dir))
    if (files.isEmpty)
      throw new IllegalStateException(
        s"no parquet data file at $dir — not an index root")
    def num(g: Group, field: Int, rep: Int): Double =
      g.getType.getType(field).asPrimitiveType.getPrimitiveTypeName match {
        case FLOAT => g.getFloat(field, rep).toDouble
        case DOUBLE => g.getDouble(field, rep)
        case INT32 => g.getInteger(field, rep).toDouble
        case INT64 => g.getLong(field, rep).toDouble
        case t => throw new IllegalStateException(
          s"$dir: unsupported $vec element type $t")
      }
    def vector(g: Group): Array[Double] = {
      require(g.getFieldRepetitionCount(vec) > 0,
        s"$dir: a quantizer row has a null vector")
      // Spark's LIST layout: a repeated group holding the element
      val list = g.getGroup(vec, 0)
      Array.tabulate(list.getFieldRepetitionCount(0)) { i =>
        val el = list.getGroup(0, i)
        require(el.getFieldRepetitionCount(0) > 0,
          s"$dir: a quantizer vector holds a null element")
        num(el, 0, 0)
      }
    }
    def keyOf(g: Group): Option[Long] =
      if (g.getFieldRepetitionCount(key) == 0) None
      else Some(num(g, g.getType.getFieldIndex(key), 0).toLong)
    files.flatMap(records(spark, _)).map(g => keyOf(g) -> vector(g))
      .sortBy(_._1).map(_._2)
  }

  /** The schema of the cell-partitioned `dir` (postings or codes): one
    * data file's [[footerSchema]] plus the `cell` partition column, or
    * None when the dir holds no data file yet. */
  private def dataSchema(spark: SparkSession,
      dir: String): Option[StructType] =
    cellDirs(spark, dir).iterator.flatMap(parquetDataFiles(spark, _))
      .nextOption().map(footerSchema(spark, _).add("cell", IntegerType))

  /** The parquet `files` (a tombstone set, a quantizer table), read
    * under the [[footerSchema]] of the first; None when there are none. */
  private def readStated(spark: SparkSession,
      files: Seq[Path]): Option[DataFrame] =
    files.headOption.map(f => spark.read.schema(footerSchema(spark, f))
      .parquet(files.map(_.toString): _*))

  /** The Spark schema of the parquet data file `f`, read from its footer
    * on the driver and converted as a schema-inferring read converts it:
    * a read under it runs no inference job. */
  private def footerSchema(spark: SparkSession, f: Path): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(f,
        withFooter(spark, f)(_.getFooter)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The cell partition dirs of the cell-partitioned `dir` (postings or
    * codes), by name; none when it is absent. */
  private def cellDirs(spark: SparkSession, dir: String): Seq[Path] = {
    val d = new Path(dir)
    val fs = fileSystem(spark, d)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.filter(_.isDirectory).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName)
  }

  /** Rows of the parquet data files directly under `dir`, from their
    * footers (0 when there are none). */
  private def footerRowCount(spark: SparkSession, dir: String): Long =
    parquetDataFiles(spark, new Path(dir))
      .map(f => withFooter(spark, f)(_.getRecordCount)).sum

  /** The one cell-partitioned write of the index lifecycle — build,
    * append and compaction, both index kinds: `rows` hashed by `cell`
    * onto min(`cells`, session shuffle width) partitions and written
    * partitioned by `cell` into `dir`. Each cell hashes to one task, so
    * a write leaves one file per touched cell; and AQE cannot coalesce
    * a fixed-count exchange, so the cells are written by that many
    * tasks in parallel rather than by one task opening every cell's
    * writer in turn. */
  private def writeCells(rows: DataFrame, cells: Int, mode: String,
      dir: String): Unit = {
    val width =
      rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    rows.repartition(math.max(1, math.min(cells, width)), col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(dir)
  }

  /** Crash recovery for the compaction swap: a crash between
    * `rename(live → retired)` and `rename(staged → live)` leaves the
    * ONLY full copy of the postings under `postings_retired`. Every
    * entry point that opens or mutates the postings dir runs this
    * first, so that window can never be misread as an empty index (and
    * a subsequent append can never silently rebuild postings holding
    * just its delta). Single-writer contract: build/append/compact must
    * not run concurrently against one index root. True when the root is
    * damaged: its live dir is gone while a staged one survived recovery
    * — reading it as empty, or appending a delta as the whole dir,
    * would silently lose the corpus. */
  private def recoverIvfPostings(
      spark: SparkSession, root: String,
      dirName: String): Boolean = {
    val (live, staged, retired) = swapDirs(root, dirName, "compacting")
    val fs = fileSystem(spark, live)
    if (!fs.exists(live) && fs.exists(retired)) {
      // mid-swap crash: retired IS the pre-compaction corpus — restore
      // it and discard the partial stage (it will be re-compacted)
      require(fs.rename(retired, live),
        s"recoverIvfPostings: could not restore $retired to $live")
      fs.delete(staged, true)
    } else if (fs.exists(live) && fs.exists(retired)) {
      // crash after the swap completed but before the retired cleanup:
      // live is current, retired is the superseded copy
      fs.delete(retired, true)
    }
    !fs.exists(live) && fs.exists(staged)
  }

  /** The failure of `op` on a root [[recoverIvfPostings]] found
    * damaged. */
  private def damagedRoot(op: String, path: String, kind: IndexKind[_],
      refusal: String): IllegalStateException =
    new IllegalStateException(s"$op: $path has no live ${kind.dataDir} " +
      s"but leftover compaction state survived recovery — refusing to " +
      refusal)

  /** The live dir `<root>/<name>` and the staged and retired siblings of
    * its two-rename swap. */
  private def swapDirs(root: String, name: String, staged: String)
      : (Path, Path, Path) =
    (new Path(s"$root/$name"), new Path(s"$root/${name}_$staged"),
      new Path(s"$root/${name}_retired"))

  // ===== Best-effort single-writer lease =====

  /** Conf key enabling the writer lease: when
    * `spark.graft.annIndexWriterLease=true`, every mutating index
    * operation (append, compaction, merge-destination write) takes a
    * best-effort lease on the root — a `_writer` marker holding a
    * random token, created atomically (create-no-overwrite), verified
    * again immediately before the operation's commit point, and
    * released after. Two concurrent writers then fail LOUDLY instead
    * of interleaving file sets. Best-effort by design: the
    * acquire/verify pair shrinks the undetected-race window to the
    * verify-to-commit gap, it does not eliminate it (only an external
    * lock service could). Stale takeover: a marker older than
    * `spark.graft.annIndexWriterLeaseStaleMs` (default 1 h) is
    * presumed to belong to a dead writer and is replaced — a crashed
    * append cannot brick the root. OFF by default: the single-writer
    * contract is the documented operating mode, and serialized
    * pipelines (one maintenance stream per root) need no marker I/O. */
  private val leaseConfKey = "spark.graft.annIndexWriterLease"
  private val leaseStaleKey = "spark.graft.annIndexWriterLeaseStaleMs"

  /** Leases this PROCESS currently holds long-term (via
    * [[acquireWriterLease]]), keyed by the root's qualified URI →
    * token. Per-operation leases re-enter a held root instead of
    * colliding with their own maintenance stream's marker; the lease
    * defends against OTHER processes, while writers inside one process
    * are serialized by the caller (the single-writer contract). */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def qualifiedRoot(fs: FileSystem, root: String): String =
    fs.makeQualified(new Path(root)).toString

  private def readMarker(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Create the `_writer` marker on `root` (throwing if a live one
    * exists, taking over a stale one) and return the held token. */
  private def acquireMarker(spark: SparkSession,
      root: String, op: String): String = {
    val rootPath = new Path(root)
    val marker = new Path(root + "/_writer")
    val fs = fileSystem(spark, marker)
    fs.mkdirs(rootPath)
    val staleMs = spark.conf.get(leaseStaleKey, "3600000").toLong
    val token = java.util.UUID.randomUUID().toString
    if (fs.exists(marker)) {
      val st = fs.getFileStatus(marker)
      val age = System.currentTimeMillis() - st.getModificationTime
      if (age <= staleMs)
        throw new IllegalStateException(
          s"$op: another writer holds the lease on $root " +
            s"(${age / 1000} s old, stale after ${staleMs / 1000} s) — " +
            "serialize writers against one index root, or remove the " +
            "_writer marker if the holder is known dead")
      fs.delete(marker, false) // stale takeover (documented)
    }
    val out =
      try fs.create(marker, false) // atomic: fails if a racer created it
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"$op: lost the lease race on $root — another writer " +
            "created the _writer marker concurrently", e)
      }
    try out.write(token.getBytes("UTF-8")) finally out.close()
    token
  }

  /** Delete the marker only if it still carries `token` (a takeover's
    * marker is not ours to delete). */
  private def releaseMarker(spark: SparkSession,
      root: String, token: String): Unit = {
    val marker = new Path(root + "/_writer")
    val fs = fileSystem(spark, marker)
    try {
      if (fs.exists(marker) && readMarker(fs, marker) == token)
        fs.delete(marker, false)
    } catch { case _: java.io.IOException => () }
    ()
  }

  /** Acquire and HOLD the writer lease on an index root — the
    * long-running-writer form the maintenance streams use
    * (unconditional: no conf gate, because a stream that appends on
    * every micro-batch is precisely the writer the lease exists for).
    * Returns the release thunk; until it runs, any other process's
    * lease-guarded mutation of `root` fails loudly, while THIS
    * process's per-operation leases ([[withWriterLease]] under
    * `spark.graft.annIndexWriterLease=true`) re-enter the held lease
    * instead of colliding with it. Same stale-takeover rule as the
    * per-operation lease, so a crashed holder cannot brick the root. */
  def acquireWriterLease(spark: SparkSession,
      root: String, op: String): () => Unit = {
    val fs = fileSystem(spark, new Path(root))
    val key = qualifiedRoot(fs, root)
    val token = acquireMarker(spark, root, op)
    heldLeases.put(key, token)
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    () =>
      if (released.compareAndSet(false, true)) {
        heldLeases.remove(key, token)
        releaseMarker(spark, root, token)
      }
  }

  /** Run `body` under the (optional) writer lease for `root`. The body
    * receives a verify callback to invoke immediately before its
    * commit point; it throws if another writer took the lease over.
    * When this process already holds the root's lease long-term
    * ([[acquireWriterLease]]), the operation runs re-entrantly under
    * the held token and the lease stays held afterwards. */
  private def withWriterLease[T](
      spark: SparkSession, root: String,
      op: String)(body: (() => Unit) => T): T = {
    if (!spark.conf.get(leaseConfKey, "false").toBoolean)
      return body(() => ())
    val marker = new Path(root + "/_writer")
    val fs = fileSystem(spark, marker)
    val heldToken = heldLeases.get(qualifiedRoot(fs, root))
    def verifyAgainst(token: String): Unit = {
      val held =
        try readMarker(fs, marker)
        catch { case _: java.io.IOException => "<missing>" }
      if (held != token)
        throw new IllegalStateException(
          s"$op: the writer lease on $root was taken over before the " +
            "commit point — aborting with the root untouched")
    }
    if (heldToken != null)
      return body(() => verifyAgainst(heldToken)) // re-entrant, no release
    val token = acquireMarker(spark, root, op)
    try body(() => verifyAgainst(token))
    finally releaseMarker(spark, root, token)
  }

  // ===== Streaming-append batch high-water mark (exactly-once) ======

  /** The streaming batch-id high-water mark of an index root is encoded
    * in a marker FILENAME (`_append_hwm-<batchId>`), never in file
    * content: recording is then ONE atomic create-no-overwrite — no
    * read-modify-write, no partial-content window — and a crash between
    * creating the new marker and deleting the superseded one just
    * leaves two markers, of which reads take the max. The `_` prefix
    * keeps every data reader (postings scans, merges, meta) blind to
    * them. */
  private val appendHwmPrefix = "_append_hwm-"

  /** The highest streaming batch id whose append committed to the index
    * root, or -1 when none is recorded. Driver-side file listing only —
    * no Spark job (the same cheap-read posture as the meta row). */
  def readAppendHwm(spark: SparkSession, path: String): Long =
    hwmMarks(spark, path).map(_._2).foldLeft(-1L)(math.max)

  /** The high-water-mark markers at the root `path` with their batch
    * ids. */
  private def hwmMarks(spark: SparkSession, path: String)
      : Seq[(Path, Long)] = {
    val root = new Path(path)
    val fs = fileSystem(spark, root)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath).flatMap { p =>
      val n = p.getName
      if (!n.startsWith(appendHwmPrefix)) None
      else scala.util.Try(n.stripPrefix(appendHwmPrefix).toLong).toOption
        .map(p -> _)
    }
  }

  /** Record `batchId` as committed: create the new marker (idempotent —
    * a replay that lost the race finds it already there), then drop any
    * superseded markers. */
  private def recordAppendHwm(spark: SparkSession,
      path: String, batchId: Long): Unit = {
    val root = new Path(path)
    val fs = fileSystem(spark, root)
    fs.mkdirs(root)
    try fs.create(new Path(root, appendHwmPrefix + batchId), false).close()
    catch { case _: java.io.IOException => () } // already recorded
    hwmMarks(spark, path).foreach { case (p, b) =>
      if (b < batchId) fs.delete(p, false)
    }
  }

  /** Drop all high-water-mark markers (rebuild path: a rebuilt index
    * starts a new append history — a NEW stream checkpoint restarts
    * batch ids at 0, and a stale mark would silently swallow its first
    * batches). */
  private def clearAppendHwm(spark: SparkSession, path: String): Unit = {
    val fs = fileSystem(spark, new Path(path))
    hwmMarks(spark, path).foreach(m => fs.delete(m._1, false))
  }

  /** [[appendToIvfIndex]] under foreachBatch's at-least-once replay
    * contract, made EXACTLY-ONCE per root via the batch-id high-water
    * mark: the append is skipped (returns false) when `batchId` is
    * already committed at `path`, else it runs and the mark is
    * recorded. This is what the index-appending streams call — a full
    * foreachBatch re-run (restart after a crash that lost the
    * checkpoint commit) no longer lands duplicate postings that would
    * spend top-k and pair-cap slots on duplicate ids. Residual window
    * (documented, not closable without a transactional store): a crash
    * BETWEEN the postings landing and the mark record replays as one
    * duplicate append — the pre-r17 at-least-once floor, now confined
    * to that single boundary. Contract: one stream per root (the
    * single-writer contract the index already carries) — batch ids are
    * only monotone within one stream's checkpoint. */
  def appendToIvfIndexOnce(spark: SparkSession,
      path: String, delta: DataFrame, idCol: String, vecCol: String,
      batchId: Long): Boolean =
    appendOnce(spark, new RootView(path, IvfKind), delta, idCol, vecCol,
      batchId)

  /** [[appendToIvfPqIndex]] under the same exactly-once wrapper as
    * [[appendToIvfIndexOnce]]. In dual-index streaming the two roots
    * carry INDEPENDENT marks, so a crash between the raw and PQ
    * appends of one batch replays into "raw skipped, PQ completed" —
    * closing the transient two-root misalignment window (r16 advice). */
  def appendToIvfPqIndexOnce(spark: SparkSession,
      path: String, delta: DataFrame, idCol: String, vecCol: String,
      batchId: Long): Boolean =
    appendOnce(spark, new RootView(path, PqKind), delta, idCol, vecCol,
      batchId)

  /** The exactly-once append of either kind, routing under `view` — the
    * index-appending streams carry one view per root for their
    * lifetime. */
  private[graft] def appendOnce(spark: SparkSession,
      view: RootView[_], delta: DataFrame, idCol: String, vecCol: String,
      batchId: Long): Boolean = {
    if (readAppendHwm(spark, view.path) >= batchId) return false
    appendIndex(spark, view.kind, view.path, delta, idCol, vecCol,
      () => view.current(spark))
    recordAppendHwm(spark, view.path, batchId)
    true
  }

  // ===== Tombstone deletes (right-to-erasure for persisted indexes) ==

  /** Delete vectors from a persisted index (IVF or IVF-PQ — the
    * tombstone layer is index-kind-agnostic) WITHOUT rewriting the
    * corpus: the ids land as an append-only parquet tombstone set at
    * `<path>/tombstones`, and every read of the index
    * ([[readIvfIndex]]/[[readIvfPqIndex]] — so every probe, dedup,
    * audit, stats and merge built on them) anti-joins it broadcast
    * (tombstones are small by nature: a right-to-erasure list, not a
    * corpus). Physical removal happens at the NEXT compaction
    * ([[compactIvfIndex]]/[[compactIvfPqIndex]]), which folds the
    * tombstones into its rewrite and clears exactly the tombstone
    * files it folded — a delete landing DURING compaction keeps
    * filtering reads and is folded by the next one. Appending a
    * tombstoned id resurrects it: [[appendToIvfIndex]] /
    * [[appendToIvfPqIndex]] clear their delta's ids from the tombstone
    * set before the postings land. A rebuild ([[writeIvfIndex]] /
    * [[writeIvfPqIndex]]) clears all tombstones — the new corpus
    * defines the index. Idempotent: deleting an absent or
    * already-tombstoned id is a no-op. */
  def deleteFromIvfIndex(spark: SparkSession,
      path: String, ids: DataFrame, idCol: String): Unit = {
    recoverTombstones(spark, path)
    ids.select(col(idCol).cast("long").as("corpus_id"))
      .where(col("corpus_id").isNotNull)
      .coalesce(1)
      .write.mode("append").parquet(path + "/tombstones")
  }

  /** [[deleteFromIvfIndex]] under the PQ name, for discoverability —
    * the tombstone layer is shared. */
  def deleteFromIvfPqIndex(spark: SparkSession,
      path: String, ids: DataFrame, idCol: String): Unit =
    deleteFromIvfIndex(spark, path, ids, idCol)

  /** The live tombstone set at an index root, or None when there are
    * no pending tombstones. Runs the staged-rewrite crash recovery
    * first, so a half-swapped resurrection can never serve a stale or
    * missing tombstone set. */
  private def readTombstones(spark: SparkSession,
      path: String): Option[DataFrame] = {
    recoverTombstones(spark, path)
    readStated(spark, parquetDataFiles(spark, new Path(path + "/tombstones")))
  }

  /** Apply the pending tombstones (if any) to a postings/codes frame. */
  private def applyTombstones(spark: SparkSession,
      path: String, rows: DataFrame): DataFrame =
    readTombstones(spark, path).fold(rows)(withoutIds(rows, _))

  /** `rows` without the corpus ids in `ids`' first column (tombstones,
    * a dedup exclude list): a broadcast anti join, map-side only. */
  private def withoutIds(rows: DataFrame, ids: DataFrame): DataFrame =
    rows.join(broadcast(ids.select(
        col(ids.columns.head).cast("long").as("corpus_id"))),
      Seq("corpus_id"), "left_anti")

  /** Crash recovery for the tombstone-rewrite swap (resurrection path):
    * write staged → retire live → promote staged → drop retired. A
    * staged dir is complete iff its _SUCCESS marker exists (the write
    * finished before any rename started). */
  private def recoverTombstones(
      spark: SparkSession, path: String): Unit = {
    val (live, staged, retired) = swapDirs(path, "tombstones", "staged")
    val fs = fileSystem(spark, live)
    if (fs.exists(live)) {
      // the swap either never started or fully completed: leftovers are
      // stale
      fs.delete(staged, true)
      fs.delete(retired, true)
    } else if (fs.exists(retired)) {
      if (fs.exists(staged) &&
          fs.exists(new Path(staged, "_SUCCESS"))) {
        // crash between the two renames: staged is the committed state
        require(fs.rename(staged, live),
          s"recoverTombstones: could not promote $staged to $live")
        fs.delete(retired, true)
      } else {
        // staged incomplete (cannot happen in the documented order, but
        // external damage is conservative-restored): the retired set is
        // the last full copy
        require(fs.rename(retired, live),
          s"recoverTombstones: could not restore $retired to $live")
        fs.delete(staged, true)
      }
    }
    ()
  }

  /** Drop the whole tombstone state at a root (rebuild path). */
  private def clearTombstones(spark: SparkSession, path: String): Unit = {
    val (live, staged, retired) = swapDirs(path, "tombstones", "staged")
    val fs = fileSystem(spark, live)
    Seq(live, staged, retired).foreach(fs.delete(_, true))
  }

  /** Resurrection: remove `deltaIds` from the pending tombstone set
    * (staged rewrite + two-rename swap). Runs BEFORE the postings of an
    * append land, so a crash between the two steps can never leave
    * appended-but-still-tombstoned rows (which would be silently
    * invisible). The trade (documented, r16 ADVICE #3): deletes are
    * logical until compaction, so when a resurrected id still has
    * surviving PHYSICAL posting rows, a crash in that window re-exposes
    * the OLD (erased) rows until the append is retried — the streaming
    * appenders retry automatically (at-least-once foreachBatch), and a
    * caller needing strict erasure-until-commit should compact the
    * root before appending previously-deleted ids. No-op when no
    * tombstone intersects the delta. */
  private def resurrectTombstones(
      spark: SparkSession, path: String,
      deltaIds: DataFrame): Unit = {
    val tomb = readTombstones(spark, path).getOrElse(return)
    val delta = deltaIds.select(
      col(deltaIds.columns.head).cast("long").as("corpus_id"))
    if (tomb.join(broadcast(delta), Seq("corpus_id"), "left_semi")
        .isEmpty) return
    val (live, staged, retired) = swapDirs(path, "tombstones", "staged")
    val fs = fileSystem(spark, live)
    withoutIds(tomb, delta)
      .coalesce(1).write.mode("overwrite").parquet(staged.toString)
    require(fs.rename(live, retired),
      s"resurrectTombstones: could not retire $live")
    require(fs.rename(staged, live),
      s"resurrectTombstones: could not promote $staged")
    fs.delete(retired, true)
    ()
  }

  // ===== The lifecycle, once for both index kinds =====

  /** Write a root of `kind`, overwriting any previous one: tombstones
    * and the append high-water mark are cleared (a rebuild defines the
    * corpus anew), each quantizer table and the meta row become one
    * small file, and the data rows go through [[writeCells]]. */
  private def writeRoot[F](kind: IndexKind[F], idx: F, path: String)
      : Unit = {
    val data = kind.data(idx)
    val session = data.sparkSession
    clearTombstones(session, path)
    clearAppendHwm(session, path)
    kind.tableDirs.zip(kind.tables(idx)).foreach { case ((dir, _, _), t) =>
      t.coalesce(1).write.mode("overwrite").parquet(s"$path/$dir")
    }
    // self-describing index: the quantizer parameters are properties OF
    // the index, not parameters a later append/probe caller has to
    // remember — a mismatched re-supply would silently corrupt cell
    // assignment
    session.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row.fromSeq(kind.meta(idx))),
        StructType(kind.metaFields.map(StructField(_, IntegerType,
          nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    writeCells(data, footerRowCount(session, path + "/centroids").toInt,
      "overwrite", s"$path/${kind.dataDir}")
  }

  /** Re-open a persisted index. The postings read is partition-discovered
    * on `cell`: a probe joining on `cell` dynamically prunes unprobed
    * cell directories instead of scanning the corpus. A fresh or empty
    * index (centroids written, no posting files yet — a cell-partitioned
    * write of zero rows leaves no files) reads back with empty postings. */
  def readIvfIndex(spark: SparkSession, path: String): IvfIndexFrames =
    readIndex(spark, IvfKind, path)

  /** The read of either kind: the compaction-swap recovery, the meta,
    * then the data dir, partition-discovered on `cell` under the schema
    * of one footer ([[dataSchema]]). A damaged root
    * fails loudly instead of silently serving an empty corpus; a fresh
    * one (no data files yet) reads back with empty data. Pending
    * tombstones filter EVERY consumer of the frames (probe, dedup,
    * audits, stats, merge) — a broadcast anti-join on corpus_id,
    * map-side only, until the next compaction removes them physically. */
  private def readIndex[F](spark: SparkSession,
      kind: IndexKind[F], path: String): F = {
    val rows = readRows(spark, kind, path)
    val meta = readMeta(spark, kind, path, s"read${kind.label}Index")
    kind.frames(readTables(spark, kind, path), rows, meta)
  }

  /** `kind`'s quantizer tables at `path`, each read by [[readStated]] (a
    * table dir without a data file fails as an inferring read fails). */
  private def readTables(spark: SparkSession, kind: IndexKind[_],
      path: String): Seq[DataFrame] = kind.tableDirs.map { t =>
    val dir = s"$path/${t._1}"
    readStated(spark, parquetDataFiles(spark, new Path(dir)))
      .getOrElse(spark.read.parquet(dir))
  }

  /** [[readIndex]]'s data rows: recovered, tombstoned, typed-empty if
    * fresh. */
  private def readRows(spark: SparkSession, kind: IndexKind[_],
      path: String): DataFrame = {
    if (recoverIvfPostings(spark, path, kind.dataDir))
      throw damagedRoot(s"read${kind.label}Index", path, kind,
        "serve an empty index")
    val dir = s"$path/${kind.dataDir}"
    val data = dataSchema(spark, dir).fold(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        kind.coreSchema))(spark.read.schema(_).parquet(dir))
    applyTombstones(spark, path, data)
  }

  /** Append a delta of new vectors to a persisted index WITHOUT
    * retraining: the delta is assigned under the frozen centroids (same
    * quantized argmax rule as build) and appended into the existing cell
    * directories, one file per touched cell, the cells written in
    * parallel. O(|delta| · cells · dims) — the existing corpus is never
    * touched, which is the whole point at 100 TB: nightly embedding
    * deltas land in minutes while the index stays probe-consistent (a
    * re-trained index would reshuffle every posting).
    *
    * The root is opened on the driver with no Spark job: `meta/`, the
    * centroid table and one postings file footer (the payload columns
    * the delta must supply) are read with plain parquet-hadoop, and the
    * centroids quantized under the same rule [[readIvfIndex]] frames
    * use. The index is self-describing: quantization scale and routing
    * threshold come from the persisted meta, never from the caller. The
    * only Spark jobs are the delta's assignment and write — plus, when
    * the root has pending tombstones, their resurrection check. The
    * maintenance streams carry one open across batches and reopen it
    * only when a listing of `centroids/` and `meta/` changes
    * ([[graft.streaming.Streams.indexMaintenanceStream]]). */
  def appendToIvfIndex(spark: SparkSession, path: String, delta: DataFrame,
      idCol: String, vecCol: String): Unit =
    appendIndex(spark, IvfKind, path, delta, idCol, vecCol,
      () => openRoot(spark, IvfKind, path))

  /** Legacy explicit-parameter append, kept for pre-meta indexes: when
    * the index HAS a meta file the supplied parameters must match it —
    * a mismatch would silently corrupt cell assignment, so it fails
    * loudly instead. */
  def appendToIvfIndex(spark: SparkSession,
      path: String, delta: DataFrame, idCol: String, vecCol: String,
      quantScale: Int, twoLevelThreshold: Int): Unit =
    appendIndex(spark, IvfKind, path, delta, idCol, vecCol, () =>
      openRoot(spark, IvfKind, path, Map("quant_scale" -> quantScale,
        "two_level_threshold" -> twoLevelThreshold)))

  /** The append of either kind under the root opened by `open`, inside
    * the writer lease and after the compaction-swap recovery. */
  private def appendIndex(spark: SparkSession,
      kind: IndexKind[_], path: String, delta: DataFrame, idCol: String,
      vecCol: String, open: () => OpenedRoot): Unit = {
    val op = s"appendTo${kind.label}Index"
    withWriterLease(spark, path, op) { verifyLease =>
      // never append into a damaged root: the delta would silently
      // become the whole data dir
      if (recoverIvfPostings(spark, path, kind.dataDir))
        throw damagedRoot(op, path, kind,
          s"rebuild the ${kind.dataDir} from a delta")
      val root = open()
      if (kind.emptyQuantizer(root))
        // an empty index (built from an empty corpus) can place nothing:
        // appending an empty delta is a no-op; a non-empty delta is a
        // caller bug and must fail LOUDLY, not drop rows
        require(delta.isEmpty,
          s"$op: empty quantizer at $path but the delta is non-empty — " +
            "rebuild the index from a non-empty corpus first")
      else {
        // appending a tombstoned id RESURRECTS it: the tombstone set is
        // rewritten without the delta's ids BEFORE the rows land (a
        // crash between the steps can never leave appended-but-invisible
        // rows; see resurrectTombstones for the crash contract) — and
        // AFTER the lease verify, so a taken-over lease aborts with the
        // root unmutated. The encode selects the payload columns the
        // existing data carries, so a delta missing one fails loudly,
        // and routes exactly as the base rows did (the routing tables
        // re-derive deterministically from the persisted centroids).
        verifyLease()
        resurrectTombstones(spark, path, delta.select(col(idCol)))
        writeCells(kind.encode(delta, idCol, vecCol, root),
          root.centTab.length, "append", s"$path/${kind.dataDir}")
      }
    }
  }

  /** Probe a (persisted or in-memory) index — also the probe half of
    * [[ivfTopKSeeded]]: each query row routed to its top-`nprobe` cells
    * by one native kernel call over the index's quantizer table (the
    * build's, or collected once per frames value), then an equi-join of
    * postings against the broadcast probe set and a bounded cosine
    * top-`k` per query id. Each
    * row probes its own cells, so an id carried by several rows gets the
    * best `k` over all of its rows' candidates. A query vector of any
    * numeric element type is routed as given and scored as float32, the
    * postings' type. When `idx` came from
    * [[readIvfIndex]] the cell join triggers dynamic partition pruning
    * on the postings scan (the probe side is broadcast, the join key is
    * the disk-partition column), so only the probed cells' files are
    * read — verified by AnnIndexSpec against the physical plan, also for
    * a driver-local query set. Once the table is collected a probe runs
    * at most three Spark jobs: the broadcast, the scan with its partial
    * top-k, and the final top-k. */
  def probeIvfIndex(idx: IvfIndexFrames, queries: DataFrame,
      queryId: String, queryVec: String, k: Int,
      nprobe: Int = 4): DataFrame =
    probePostings(idx, idx.postings, queries, queryId, queryVec, k, nprobe)

  /** [[probeIvfIndex]] over `postings` (the index's own, or a filtered
    * subset of them) under `idx`'s quantizer. */
  private def probePostings(idx: IvfIndexFrames, postings: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      nprobe: Int): DataFrame = {
    val (centTab, cnTab) = idx.cellTable
    // empty index: every probe finds nothing (complete, don't throw)
    if (centTab.isEmpty) return noIvfHits(queries, queryId)
    // scored as float32 against the float32 postings (vector_dot takes
    // one element type), routed from the vector as given
    val qvec = col(queryVec).cast("array<float>")
    val q0 = queries.select(col(queryId).as("query_id"), qvec.as("qvec"),
      norm(qvec).as("qnorm"),
      transform(col(queryVec),
        x => round(x.cast("double") * idx.quantScale)).as("__qn"))
    val probes = routeToCells(q0, col("__qn"), centTab, cnTab, nprobe)
      .drop("__qn")
    val scored = postings.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("corpus_id"),
        cosinePre(dot(col("cvec"), col("qvec")), col("cnorm"), col("qnorm"))
          .as("score"))
    topKReduce(scored, k)
  }

  /** The empty result of an IVF probe: query_id keeps its original type
    * (no cast), so empty frames from either probe path union cleanly. */
  private def noIvfHits(queries: DataFrame, queryId: String): DataFrame =
    queries.limit(0)
      .select(col(queryId).as("query_id"), lit(0L).as("corpus_id"),
        lit(0.0).as("score"), lit(0).cast("int").as("rank"))

  /** ATTRIBUTE-FILTERED probe — "nearest ENGLISH documents", "same
    * source bucket only": [[probeIvfIndex]] with a metadata predicate
    * over the postings' payload columns (caller-declared at
    * build/append via `payloadCols` — plain parquet columns riding the
    * cell-partitioned postings files). The filter applies BEFORE the
    * bounded top-k, so all `k` returned rows satisfy it (a
    * filter-after-top-k would return fewer than k, or none, for
    * selective predicates), and it sits directly above the postings
    * scan, so Catalyst pushes it into the parquet reader alongside the
    * dynamic partition pruning on `cell` — the scan reads only probed
    * cells AND skips row groups the predicate excludes (pinned by
    * AnnIndexSpec against the physical plan). Recall under filtering
    * is measured by [[ivfFilteredRecallAudit]]: selective predicates
    * thin the probed cells, so a fixed nprobe returns k of a SMALLER
    * candidate pool — budget nprobe per selectivity band, not
    * globally. */
  def probeIvfIndexFiltered(idx: IvfIndexFrames, queries: DataFrame,
      queryId: String, queryVec: String, k: Int, predicate: Column,
      nprobe: Int = 4): DataFrame =
    probeFiltered(idx.postings, IvfKind, predicate,
        noIvfHits(queries, queryId)) { postings =>
      probePostings(idx, postings, queries, queryId, queryVec, k, nprobe)
    }

  /** `probe` over `rows` (a kind's data frame) filtered by `predicate`,
    * or `empty` when the predicate cannot resolve against a CORE-ONLY
    * schema. A fresh index (centroids written, zero data files) or one
    * built without payload columns can never resolve a payload
    * predicate: the declared payload columns exist only in the data
    * files, so probing it with one is legitimately empty. Unknown
    * columns over a payload-carrying schema are a caller bug (a typo'd
    * predicate) and keep the loud resolution error. Detection is
    * STRUCTURAL (column set == the kind's core schema), not row
    * emptiness — a fully-tombstoned index also reads back row-empty,
    * and a typo there must stay loud. Analysis is forced eagerly: a
    * Spark 4 Column wraps ColumnNodes, so the referenced names are not
    * introspectable before resolution. */
  private def probeFiltered(rows: DataFrame, kind: IndexKind[_],
      predicate: Column, empty: => DataFrame)(
      probe: DataFrame => DataFrame): DataFrame =
    try {
      val filtered = rows.where(predicate)
      filtered.queryExecution.analyzed // resolve NOW, not at the action
      probe(filtered)
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNRESOLVED_COLUMN") &&
            rows.columns.toSet == kind.core =>
        empty
    }

  /** [[ivfRecallAudit]] under an attribute filter: truth =
    * [[bruteForceTopK]] over the PREDICATE-FILTERED corpus, probe =
    * [[probeIvfIndexFiltered]] — so the reported ppm prices exactly
    * what a filtered serving path returns. The predicate references
    * the payload columns by name (they exist on both the corpus and
    * the postings). Run it once per selectivity band an application
    * serves; an unfiltered-recall number does NOT transfer (the
    * filter thins probed cells, shifting the nprobe-recall curve). */
  def ivfFilteredRecallAudit(idx: IvfIndexFrames, corpus: DataFrame,
      corpusId: String, corpusVec: String, queries: DataFrame,
      queryId: String, queryVec: String, k: Int,
      nprobes: Seq[Int], predicate: Column): DataFrame =
    recallAudit("ivfFilteredRecallAudit", corpus.where(predicate),
        corpusId, corpusVec, queries, queryId, queryVec, k, nprobes)(np =>
      probeIvfIndexFiltered(idx, queries, queryId, queryVec, k,
        predicate, np))

  /** Near-duplicate pairs of a batch of NEW vectors against an index's
    * existing postings — the probe kernel of streaming SemDeDup: each new
    * vector probes its `nprobe` best cells and pairs with every existing
    * posting there whose cosine is ≥ `thresholdPpm`/10⁶. Membership is
    * decided in EXACT integer arithmetic on the quantized vectors
    * (dotq ≥ 0 ∧ dotq²·10¹² ≥ τ²·‖q‖²·‖b‖², decimal(38) — every term an
    * integer-valued double < 2⁵³ before widening), so it is
    * bit-reproducible on any engine: no float cosine anywhere in the
    * decision, unlike a `score >= τ` filter, which flips on 1-ulp
    * rounding differences wherever the corpus density is nonzero.
    * Output is the surviving pairs only (no ranks — the threshold, not a
    * top-k, bounds them). Work ∝ batch × probed-cell postings; the
    * probe set (batch × nprobe rows, each carrying its quantized
    * vector) is BROADCAST, so `newRows` is micro-batch-sized by
    * contract — the indexed corpus side streams through map-side only
    * and is never shuffled. A row whose vector is null or not of the
    * index's length pairs with nothing. */
  def annNearDupPairs(idx: IvfIndexFrames, newRows: DataFrame,
      idCol: String, vecCol: String, thresholdPpm: Long,
      nprobe: Int = 4, maxPairsPerNew: Int = 0,
      excludeIds: DataFrame = null): DataFrame =
    pairsFromScored(nearDupPasses(idx, None, newRows, idCol, vecCol,
      thresholdPpm, nprobe, excludeIds)._1, maxPairsPerNew)

  /** The pair tail of every dedup route over a scored frame: all pairs,
    * or under a `maxPairsPerNew` cap the top partners per new row by
    * quantized-cosine order. Rank key = dotq² div nb2 — exact integer
    * (≤ nq2 < 2⁵³ by Cauchy–Schwarz, so also exact in the aggregate's
    * double score), same id_new ⇒ same nq2, so the key orders like
    * cosine² up to the integer floor; floor ties break to the LOWER
    * id_existing (the aggregate's id-asc rule) — deterministic and
    * engine-replayable. Bounded O(c) partial buffers, map-side
    * combined; account for what the cap drops with
    * [[annNearDupDropReport]] (the q279 no-silent-caps pattern). */
  private[graft] def pairsFromScored(scored: DataFrame,
      maxPairsPerNew: Int): DataFrame =
    if (maxPairsPerNew <= 0) scored.select(col("id_new"), col("id_existing"))
    else scored
      .withColumn("__key", expr(
        "cast((cast(dotq as decimal(19,0)) * cast(dotq as " +
          "decimal(19,0))) div cast(nullif(nb2, 0) as decimal(19,0)) " +
          "as double)"))
      .groupBy(col("id_new"))
      .agg(GraftFunctions.topKByScore(col("__key"), col("id_existing"),
        maxPairsPerNew).as("kept"))
      .select(col("id_new"), explode(col("kept.id")).as("id_existing"))

  /** Pair-cap drop accounting for [[annNearDupPairs]] — the no-silent-caps
    * side output (q279 parity for the ANN path): ONE row of
    * (n_new_rows_paired, n_pairs, n_pairs_kept, n_pairs_dropped,
    * dropped_pair_share_ppm) for a batch under a `maxPairsPerNew` cap.
    * The share is exact floor ppm — integer arithmetic end to end, so
    * the report hash-matches on any engine. A dense indexed cell turning
    * one micro-batch into a multi-million-pair emit is exactly the
    * failure mode this makes measurable instead of invisible
    * (SCALE_r14: τ=0.4 over the clustered sf1 fixture emits ~9M pairs). */
  def annNearDupDropReport(idx: IvfIndexFrames, newRows: DataFrame,
      idCol: String, vecCol: String, thresholdPpm: Long,
      maxPairsPerNew: Int, nprobe: Int = 4,
      excludeIds: DataFrame = null): DataFrame = {
    require(maxPairsPerNew > 0,
      s"maxPairsPerNew must be > 0, got $maxPairsPerNew")
    dropReportFromScored(nearDupPasses(idx, None, newRows, idCol, vecCol,
      thresholdPpm, nprobe, excludeIds)._1, maxPairsPerNew)
  }

  /** The accounting tail of [[annNearDupDropReport]] over a scored
    * frame. */
  private def dropReportFromScored(scored: DataFrame,
      maxPairsPerNew: Int): DataFrame =
    scored
      .groupBy(col("id_new")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_new_rows_paired"),
        coalesce(sum(col("n")), lit(0L)).as("n_pairs"),
        coalesce(sum(least(col("n"), lit(maxPairsPerNew.toLong))),
          lit(0L)).as("n_pairs_kept"),
        coalesce(sum(greatest(col("n") - maxPairsPerNew, lit(0L))),
          lit(0L)).as("n_pairs_dropped"))
      .select(col("n_new_rows_paired"), col("n_pairs"),
        col("n_pairs_kept"), col("n_pairs_dropped"),
        when(col("n_pairs") > 0,
          expr("n_pairs_dropped * 1000000 div n_pairs"))
          .otherwise(lit(0L)).as("dropped_pair_share_ppm"))

  /** [[annNearDupPairs]] AND [[annNearDupDropReport]] from ONE
    * evaluation of the shared probe/threshold kernel — the per-batch
    * shape a maintenance stream wants: the scored frame (probe join +
    * exact quantized cosine filter, the expensive part) is persisted
    * once, both outputs are derived from it inside `emit`, and the
    * cache is released before returning. Computing the two outputs
    * separately would run the kernel twice, roughly doubling per-batch
    * cost at any corpus density. */
  def annNearDupPairsAndDropReport(idx: IvfIndexFrames,
      newRows: DataFrame, idCol: String, vecCol: String,
      thresholdPpm: Long, maxPairsPerNew: Int, nprobe: Int = 4,
      excludeIds: DataFrame = null)(
      emit: (DataFrame, DataFrame) => Unit): Unit =
    emitPairsAndDropReport(nearDupPasses(idx, None, newRows, idCol, vecCol,
      thresholdPpm, nprobe, excludeIds)._1, maxPairsPerNew)(emit)

  /** The persist → emit → unpersist body of both `…AndDropReport` calls
    * and the dedup stream: `scored` is built after the cap is checked,
    * persisted once, and released when `emit` returns or fails. */
  private def emitPairsAndDropReport(scored: => DataFrame,
      maxPairsPerNew: Int)(emit: (DataFrame, DataFrame) => Unit): Unit = {
    require(maxPairsPerNew > 0,
      s"maxPairsPerNew must be > 0, got $maxPairsPerNew")
    val cached =
      scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try emit(pairsFromScored(cached, maxPairsPerNew),
      dropReportFromScored(cached, maxPairsPerNew))
    finally { cached.unpersist(); () }
  }

  /** The near-dup kernel of every dedup entry point. One probe set:
    * the batch quantized once (rows whose vector is null or not of the
    * centroids' length dropped) with ‖q‖² per row, and each id_new's
    * `nprobe` best cells ranked over the id's pooled rows. One scorer:
    * the exact [[ppmRuleFilter]] rule over the raw postings of the
    * probed cells minus `excludeIds` — on the `pq` route only those the
    * ADC pass ([[adcPrefilter]], over the codes minus `excludeIds`)
    * could not refute. Returns the surviving (id_new, id_existing,
    * dotq, nq2, nb2) rows and, on the `pq` route, the ADC (candidates,
    * survivors). The quantized batch rides a lazy plan barrier: the
    * cell ranking, the dot-LUTs, the exact probe join and the DPP
    * subquery Spark clones from it all read it, and a caller lineage
    * would otherwise re-evaluate per reference. `excludeIds` keeps an
    * at-least-once replay that already appended its batch from pairing
    * with (or spending cap slots on) its own postings. */
  private def nearDupPasses(raw: IvfIndexFrames,
      pq: Option[IvfPqIndexFrames], newRows: DataFrame, idCol: String,
      vecCol: String, thresholdPpm: Long, nprobe: Int,
      excludeIds: DataFrame): (DataFrame, Option[(DataFrame, DataFrame)]) = {
    require(thresholdPpm >= 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in [0, 1000000], got $thresholdPpm")
    val (centTab, cnTab) = raw.cellTable
    pq.foreach { p =>
      require(p.codes.columns.contains("e2") &&
        p.codes.columns.contains("nb2"),
        "annNearDupPairsPq: the PQ codes carry no e2/nb2 margin columns " +
          "— the index predates the stored-distortion format; rebuild " +
          "it (buildIvfPqIndex + writeIvfPqIndex) to use the ADC " +
          "prefilter")
      require(p.quantScale == raw.quantScale,
        s"annNearDupPairsPq: the PQ index (quantScale ${p.quantScale}) " +
          s"and the raw index (${raw.quantScale}) were quantized under " +
          "different scales — their cells do not correspond")
      require(sameTable(centTab, p.cellTable._1),
        "annNearDupPairsPq: the PQ and raw indexes carry DIFFERENT " +
          "quantized centroids — their cells do not correspond and the " +
          "survivor semi-join would match wrong postings; build both " +
          "under one shared quantizer")
    }
    if (centTab.isEmpty || pq.exists(_.codebookTable.isEmpty)) {
      // literal frames over the empty input: however Catalyst folds
      // them, the cap key's nullif(nb2, 0) never divides by zero
      val pairs = newRows.limit(0)
        .select(col(idCol).cast("long").as("id_new"),
          lit(0L).as("id_existing"), lit(0).cast("int").as("cell"))
      return (newRows.limit(0)
        .select(col(idCol).cast("long").as("id_new"),
          lit(0L).as("id_existing"), lit(0.0).as("dotq"),
          lit(0.0).as("nq2"), lit(0.0).as("nb2")),
        pq.map(_ => (pairs, pairs)))
    }
    val quant = (v: Column) =>
      transform(v, x => round(x.cast("double") * raw.quantScale))
    val q0 = newRows.select(col(idCol).cast("long").as("id_new"),
        quant(col(vecCol)).as("__qn"))
      .where(col("__qn").isNotNull &&
        size(col("__qn")) === centTab.head.length)
      .withColumn("nq2", dot(col("__qn"), col("__qn")))
      .truncateLineage(eager = false)
    val cells = q0
      .withColumn("scores", scorerFromTable(centTab, cnTab)(col("__qn")))
      .select(col("id_new"), posexplode(col("scores")))
      .groupBy(col("id_new"))
      .agg(GraftFunctions.topKByScore(col("col"), col("pos").cast("long"),
        nprobe).as("cells"))
      .select(col("id_new"), explode(col("cells.id")).as("cell"))
      .select(col("id_new"), col("cell").cast("int").as("cell"))
    def excluded(rows: DataFrame): DataFrame =
      if (excludeIds == null) rows else withoutIds(rows, excludeIds)
    val tSq = thresholdPpm * thresholdPpm // ≤ 10¹², exact in Long
    val adc = pq.map(p => adcPrefilter(p, q0, cells, excluded(p.codes), tSq))
    // survivor IDS are near-duplicate-scale, not cell-scale: broadcast
    val postings = adc.fold(excluded(raw.postings)) { case (_, surv) =>
      raw.postings.join(broadcast(surv.select(col("cell"),
          col("id_existing").as("corpus_id")).distinct()),
        Seq("cell", "corpus_id"), "left_semi")
    }
    // norms bound per ROW on each side before the join — the pair loop
    // does ONE dot product per pair, not three
    val scored = postings
      .select(col("cell"), col("corpus_id").as("id_existing"),
        quant(col("cvec")).as("__bn"))
      .withColumn("nb2", dot(col("__bn"), col("__bn")))
      .join(broadcast(cells.join(q0, Seq("id_new"))), Seq("cell"))
      .select(col("id_new"), col("id_existing"),
        dot(col("__qn"), col("__bn")).as("dotq"), col("nq2"), col("nb2"))
      .transform(ppmRuleFilter(_, "dotq", tSq))
    (scored, adc)
  }

  /** The exact ppm-threshold membership rule of every dedup route (the
    * ADC prefilter in front of it applies its own conservative
    * pure-double bound): keep rows where dot ≥ 0 ∧ nq2 > 0 ∧
    * nb2 > 0 ∧ dot²·10¹² ≥ tSq·nq2·nb2, evaluated in an overflow-free
    * split — ‖b‖² = bh·10⁶ + bl, then (dot²·10⁶ − tSq·‖q‖²·bh)·10⁶ ≥
    * tSq·‖q‖²·bl with an early sign/magnitude branch — so every
    * intermediate fits decimal(38,0) across the whole documented <2⁵³
    * exact-double domain (a dot ≥ ~10¹³ would overflow the naive
    * dot²·10¹² form and silently drop true pairs). Zero-norm vectors
    * have cosine 0 by convention (cosinePre): the nq2/nb2 > 0 guards
    * keep them out — without them 0 ≥ 0 would pair a zero vector with
    * everything in its probed cells. `dotName`/`nq2`/`nb2` must hold
    * integer-valued numerics; helper columns are dropped. */
  private def ppmRuleFilter(df: DataFrame, dotName: String,
      tSq: Long): DataFrame =
    df.where(col(dotName) >= 0 && col("nq2") > 0 && col("nb2") > 0)
      // DOUBLE FAST BAND first, decimal only for the boundary sliver:
      // dot²·10¹² and tSq·nq2·nb2 in double carry ≤ 2-mult relative
      // error ~4·10⁻¹⁶, so a 10⁻⁹ guard band decides all but the rows
      // within one part per billion of the threshold EXACTLY as the
      // integer rule would — the decimal(38) evaluation (≈10 s per
      // 2.7·10⁷ candidates, measured) runs only inside the ELSE
      // branch, which project-collapsing inlines so it is evaluated
      // lazily per row. Results are bit-identical to the all-decimal
      // form: the band is conservative on both sides.
      .withColumn("__lhsd",
        col(dotName).cast("double") * col(dotName).cast("double") *
          lit(1.0e12))
      .withColumn("__rhsd",
        lit(tSq.toDouble) * col("nq2").cast("double") *
          col("nb2").cast("double"))
      .withColumn("__bh", expr("cast(nb2 as bigint) div 1000000"))
      .withColumn("__bl", expr("cast(nb2 as bigint) % 1000000"))
      .withColumn("__c", expr(
        s"cast($tSq as decimal(13,0)) * cast(nq2 as decimal(19,0))"))
      .withColumn("__x", expr(
        s"cast($dotName as decimal(19,0)) * cast($dotName as " +
          "decimal(19,0)) * cast(1000000 as decimal(7,0)) " +
          "- __c * cast(__bh as decimal(19,0))"))
      .where(expr(
        "CASE WHEN __lhsd > __rhsd * 1.000000001D THEN true " +
          "WHEN __lhsd < __rhsd * 0.999999999D THEN false " +
          "WHEN __x < 0 THEN false " +
          "WHEN __x >= cast(10000000000000000000000000000 as " +
          "decimal(38,0)) THEN true " +
          "ELSE __x * cast(1000000 as decimal(7,0)) >= " +
          "__c * cast(__bl as decimal(7,0)) END"))
      .drop("__lhsd", "__rhsd", "__bh", "__bl", "__c", "__x")

  /** [[annNearDupPairs]] routed through the COMPRESSED index — the
    * bounded-candidate-work dedup path: identical output to the raw
    * kernel (same exact membership rule, same cap key and tie rule),
    * but the exact inDims-dim dot product runs only for postings an
    * ADC prefilter could not refute, so fixed-batch cost tracks the
    * NEAR-DUPLICATE density of the probed cells instead of their raw
    * posting count (SCALE_r15's unbounded-work path: every posting in
    * a probed cell paid the exact dot before the cap).
    *
    * Two passes, both map-side over the corpus:
    *   1. ADC: the PQ codes of the probed cells (nSub ints per row,
    *      DPP-pruned) are scored with a per-query subspace dot-LUT —
    *      nSub lookups per candidate — and a pair is kept only when
    *      the PROVABLE upper bound ub = ⟨q,x̂⟩ + margin can still pass
    *      the membership rule, margin ≥ ‖q‖·‖x−x̂‖ by Cauchy–Schwarz
    *      (per-posting distortion `e2` is stored at encode time;
    *      margin = (⌊√nq2⌋+2)·(⌊√e2⌋+2) — the +2 absorbs the
    *      ≤0.5-ulp IEEE sqrt rounding, so ub ≥ ⟨q,x⟩ ALWAYS and the
    *      prefilter can only drop provably-failing pairs: lossless by
    *      construction).
    *   2. Exact: the raw postings semi-joined to the distinct
    *      surviving (cell, corpus_id) set (broadcast — survivor IDS
    *      are near-duplicate-scale, not cell-scale), then the same
    *      exact quantized-integer rule and cap as the raw route, over
    *      the same probe set. Identity with [[annNearDupPairs]]
    *      follows because the exact rule re-tests every surviving pair.
    *
    * `pq` and `raw` must be the SAME corpus under the SAME frozen
    * quantizer (bit-identical quantized centroids, same quantScale) —
    * the parallel-build pattern already maintains exactly this pair of
    * artifacts (vectors for rerank/dedup, codes for cheap probes).
    * The PQ codes must carry the `e2`/`nb2` margin columns
    * ([[buildIvfPqIndex]]/[[appendToIvfPqIndex]] of this version;
    * rebuild a pre-margin index to use this path). */
  def annNearDupPairsPq(pq: IvfPqIndexFrames, raw: IvfIndexFrames,
      newRows: DataFrame, idCol: String, vecCol: String,
      thresholdPpm: Long, nprobe: Int = 4, maxPairsPerNew: Int = 0,
      excludeIds: DataFrame = null): DataFrame =
    pairsFromScored(nearDupPasses(raw, Some(pq), newRows, idCol, vecCol,
      thresholdPpm, nprobe, excludeIds)._1, maxPairsPerNew)

  /** [[annNearDupPairsAndDropReport]] through the COMPRESSED path: one
    * evaluation of the prefiltered exact kernel feeds both the capped
    * pairs and the cap's drop accounting (the report row is identical
    * in meaning to the raw kernel's — the prefilter is lossless, so
    * the admitted-pair universe is the same). */
  def annNearDupPairsPqAndDropReport(pq: IvfPqIndexFrames,
      raw: IvfIndexFrames, newRows: DataFrame, idCol: String,
      vecCol: String, thresholdPpm: Long, maxPairsPerNew: Int,
      nprobe: Int = 4, excludeIds: DataFrame = null)(
      emit: (DataFrame, DataFrame) => Unit): Unit =
    emitPairsAndDropReport(nearDupPasses(raw, Some(pq), newRows, idCol,
      vecCol, thresholdPpm, nprobe, excludeIds)._1, maxPairsPerNew)(emit)

  /** Work accounting for [[annNearDupPairsPq]]'s prefilter — ONE exact
    * row of (n_candidates, n_prefilter_kept, n_pairs,
    * pruned_candidate_share_ppm): how many candidate pairs the probed
    * cells held, how many survived the ADC upper-bound test (the only
    * ones that paid an exact dot product), and how many passed the
    * exact rule. The q279 no-silent-work-bounds pattern applied to the
    * candidate stage: the gap between n_candidates and
    * n_prefilter_kept IS the measured saving, and n_prefilter_kept ≥
    * n_pairs always (the prefilter is lossless). Every count is
    * integer arithmetic over the same quantized domain, so the row is
    * engine-replayable end to end — including the margin bound. The
    * three counts come from one ADC pass. */
  def annNearDupAdcPrefilterReport(pq: IvfPqIndexFrames,
      raw: IvfIndexFrames, newRows: DataFrame, idCol: String,
      vecCol: String, thresholdPpm: Long, nprobe: Int = 4,
      excludeIds: DataFrame = null): DataFrame = {
    val (scored, Some((cand, surv))) = nearDupPasses(raw, Some(pq),
      newRows, idCol, vecCol, thresholdPpm, nprobe, excludeIds)
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(broadcast(surv.agg(count(lit(1)).as("n_prefilter_kept"))))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_pairs"))))
      .select(col("n_candidates"), col("n_prefilter_kept"),
        col("n_pairs"),
        when(col("n_candidates") > 0,
          expr("(n_candidates - n_prefilter_kept) * 1000000 div " +
            "n_candidates")).otherwise(lit(0L))
          .as("pruned_candidate_share_ppm"))
  }

  /** Routing threshold between the raw and ADC-prefiltered dedup
    * kernels, in MEAN POSTINGS PER CELL — the density statistic that
    * actually prices the candidate stage (work per batch row ∝ nprobe
    * × postings-per-probed-cell). Measured on the clustered-corpus
    * probe (SCALE_r16; `ProbeJobs <outDir> <tag> dedup-prefilter`'s
    * routing fields — postings_per_cell, auto_routes_to_pq,
    * route_agrees_with_walls — re-record it any round):
    * the raw kernel wins at ≈224 postings/cell
    * (50k rows, √N cells — prefilter 7.68 s vs raw 6.27 s), the
    * prefiltered path wins at ≥500/cell (250k rows) and is 27% faster
    * at 1000/cell (1M rows), sublinear beyond. 350 sits in the
    * measured crossover band; the exact value is uncritical because
    * both paths emit IDENTICAL pairs (the prefilter is lossless) —
    * routing only moves wall time, never output. */
  val adcPrefilterRouteMinPostingsPerCell: Double = 350.0

  /** True when dedup against the index at `rawIndexPath` should route
    * through the PQ codes ([[annNearDupPairsPq]]): mean postings per
    * cell ≥ [[adcPrefilterRouteMinPostingsPerCell]]. Driver-side
    * estimate from parquet metadata counts (footer row counts — no
    * corpus scan; the pending-tombstone overcount is noise at routing
    * granularity; no Spark job); a fresh index (no posting files)
    * routes raw. */
  def annNearDupRoutesToPq(spark: SparkSession,
      rawIndexPath: String): Boolean = {
    val n = cellDirs(spark, rawIndexPath + "/postings")
      .map(d => footerRowCount(spark, d.toString)).sum
    val cells = footerRowCount(spark, rawIndexPath + "/centroids")
    cells > 0 &&
      n.toDouble / cells >= adcPrefilterRouteMinPostingsPerCell
  }

  /** The self-routing dedup convenience: picks [[annNearDupPairsPq]]
    * (when a PQ root is supplied AND the index is dense enough for the
    * prefilter to pay — [[annNearDupRoutesToPq]]) or the raw
    * [[annNearDupPairs]], logging the choice. Output is identical on
    * either route (the prefilter is lossless), so callers need no
    * awareness of which ran — the routing rule the r16 verdict asked
    * the caller to stop having to know. The roots are opened on the
    * driver ([[RootView]]): no quantizer table is collected. */
  def annNearDupPairsAuto(spark: SparkSession,
      rawIndexPath: String, pqIndexPath: String, newRows: DataFrame,
      idCol: String, vecCol: String, thresholdPpm: Long,
      nprobe: Int = 4, maxPairsPerNew: Int = 0,
      excludeIds: DataFrame = null): DataFrame =
    pairsFromScored(routedScored(spark, new RootView(rawIndexPath, IvfKind),
      Option(pqIndexPath).map(new RootView(_, PqKind)), newRows, idCol,
      vecCol, thresholdPpm, nprobe, excludeIds, "annNearDupPairsAuto"),
      maxPairsPerNew)

  /** One batch of [[graft.streaming.Streams.incrementalAnnDedupStream]]:
    * its pairs minus its own ids, with the cap's drop report from the
    * same evaluation when `report` is set, handed to `emit`. */
  private[graft] def annNearDupBatch(spark: SparkSession,
      raw: RootView[IvfIndexFrames], pq: Option[RootView[IvfPqIndexFrames]],
      batch: DataFrame, idCol: String, vecCol: String, thresholdPpm: Long,
      nprobe: Int, maxPairsPerNew: Int, report: Boolean, op: String)(
      emit: (DataFrame, Option[DataFrame]) => Unit): Unit = {
    def scored = routedScored(spark, raw, pq, batch, idCol, vecCol,
      thresholdPpm, nprobe, batch.select(col(idCol).cast("long")), op)
    if (report)
      emitPairsAndDropReport(scored, maxPairsPerNew)((p, d) => emit(p, Some(d)))
    else emit(pairsFromScored(scored, maxPairsPerNew), None)
  }

  /** The raw-or-PQ route of auto and the stream: the batch scored
    * against `raw`'s root, through `pq`'s codes when one is given and
    * the raw root is dense enough ([[annNearDupRoutesToPq]]), the choice
    * logged under `op`. */
  private def routedScored(spark: SparkSession,
      raw: RootView[IvfIndexFrames], pq: Option[RootView[IvfPqIndexFrames]],
      newRows: DataFrame, idCol: String, vecCol: String, thresholdPpm: Long,
      nprobe: Int, excludeIds: DataFrame, op: String): DataFrame = {
    val rawIdx = raw.read(spark)
    val viaPq = pq.filter(_ => annNearDupRoutesToPq(spark, raw.path))
    org.slf4j.LoggerFactory.getLogger("graft.ops.Similarity").info(
      s"$op: routing ${if (viaPq.isDefined) "PQ-prefiltered" else "raw"} " +
        s"for ${raw.path}")
    nearDupPasses(rawIdx, viaPq.map(_.read(spark)), newRows, idCol,
      vecCol, thresholdPpm, nprobe, excludeIds)._1
  }

  /** The ADC pass of the PQ route over the probe set (`q0`: id_new,
    * __qn, nq2; `cells`: id_new, cell): (candidates, survivors) where
    * candidates = the (id_new, id_existing, cell) pairs of `codes` in
    * probed cells and survivors = the subset whose upper-bounded
    * quantized dot can still pass the membership rule. */
  private def adcPrefilter(pq: IvfPqIndexFrames, q0: DataFrame,
      cells: DataFrame, codes: DataFrame, tSq: Long)
      : (DataFrame, DataFrame) = {
    val (cbBlock, _) = pq.pqKernelTables
    // probe set kept NARROW (id_new, cell) for the broadcast cell join
    // — the per-query dot-LUT (nSub×nCodes doubles, ~16 KB at a
    // 256-code book) is attached ONCE PER QUERY by a second broadcast
    // join on id_new AFTER the cell join. Riding the lut on the probe
    // rows instead multiplies it by nprobe in the broadcast (measured
    // 640 MB at a 10k batch — the whole pass went memory-bound)
    val qlut = q0.select(col("id_new"), col("nq2"),
      GraftFunctions.pqQueryDotLut(col("__qn"), cbBlock).as("dlut"))
    // ONE native call per candidate (nSub primitive reads) — the
    // nested element_at form cost 3·nSub expression nodes + nSub array
    // wrappers per candidate, which at 10⁷ candidates exceeded the
    // exact dots the prefilter avoids
    val adot = GraftFunctions.pqAdcDotFlat(col("dlut"), col("codes"),
      pq.codebookTable.length)
    val cand = codes
      .select(col("cell"), col("corpus_id").as("id_existing"),
        col("codes"), col("e2"), col("nb2"))
      .join(broadcast(cells), Seq("cell"))
      .join(broadcast(qlut), Seq("id_new"))
    // PURE-DOUBLE conservative prefilter — the exactness budget belongs
    // to the exact pass (which re-decides every survivor); the
    // prefilter only has to never refute a true pair, so every
    // rounding is absorbed on the KEEP side instead of paid in decimal
    // arithmetic per candidate (a decimal ub rule cost as much per row
    // as the exact dots it avoids):
    //   ub = ⟨q,x̂⟩ + (⌊√nq2⌋+2)(⌊√e2⌋+2) + 8   ≥ ⟨q,x⟩ always
    //     (+2 per factor absorbs IEEE sqrt rounding, +8 absorbs the
    //      ≤2-ulp-at-2⁵⁴ product/sum rounding)
    //   keep iff ub ≥ 0 ∧ ub²·(1+10⁻⁹)·10¹² ≥ tSq·nq2·nb2
    //     (the 10⁻⁹ inflation swamps the ≤4-op double relative error
    //      ~10⁻¹⁵; all inputs are integer-valued doubles < 2⁵³, so the
    //      rule is IEEE-deterministic and engine-replayable)
    val surv = cand
      .withColumn("__adot", adot)
      .withColumn("__ub", col("__adot") +
        (floor(sqrt(col("nq2"))).cast("double") + lit(2.0)) *
          (floor(sqrt(col("e2"))).cast("double") + lit(2.0)) + lit(8.0))
      .where(col("nq2") > 0 && col("nb2") > 0 && col("__ub") >= 0 &&
        col("__ub") * col("__ub") * lit(1.000000001e12) >=
          lit(tSq.toDouble) * (col("nq2") * col("nb2")))
    (cand.select(col("id_new"), col("id_existing"), col("cell")),
      surv.select(col("id_new"), col("id_existing"), col("cell")))
  }

  /** Exact cosine re-rank of an APPROXIMATE candidate set — the serving
    * tail of every PQ deployment: the compressed index (ADC distances,
    * [[ivfPqTopKScaled]]) nominates a wide top-C cheaply, then the true
    * vectors of just those C rows are scored exactly and the final
    * top-`k` returned. Generic over the candidate source (PQ, LSH,
    * banding — anything emitting (query_id, corpus_id)). Plan shape:
    * candidates ⋈ queries is candidate-scale; the corpus is scored
    * map-side against the BROADCAST candidate set (queries × C rows,
    * small by contract) and reduced with the bounded top-k aggregate —
    * the corpus is never shuffled. */
  def rerankExactTopK(corpus: DataFrame, corpusId: String,
      corpusVec: String, queries: DataFrame, queryId: String,
      queryVec: String, candidates: DataFrame, k: Int): DataFrame = {
    val withQ = candidates
      .select(col("query_id").cast("long").as("query_id"),
        col("corpus_id").cast("long").as("corpus_id"))
      .join(queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).as("qvec"), norm(col(queryVec)).as("qnorm")),
        Seq("query_id"))
    val scored = widenForCompute(corpus)
      .select(col(corpusId).cast("long").as("corpus_id"),
        col(corpusVec).as("cvec"), norm(col(corpusVec)).as("cnorm"))
      .join(broadcast(withQ), Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosinePre(dot(col("cvec"), col("qvec")), col("cnorm"),
          col("qnorm")).as("score"))
    topKReduce(scored, k)
  }

  // ===== Persisted IVF-PQ index (codes at rest, not vectors) =====

  /** A PQ-compressed persisted index: `centroids` (cell, cvec) and
    * `codebook` (ci, cv) are driver-literal-small; `codes` is the
    * corpus at rest as (cell, corpus_id, codes nSub×int) — nSub ints
    * per vector instead of inDims floats (32× smaller at 64-dim/8-sub),
    * THE at-rest layout when raw vectors don't fit the budget. Probes
    * score candidates by ADC lookup tables against the codes only;
    * exact re-ranking (if wanted) joins the survivors back to a raw
    * vector table via [[rerankExactTopK]].
    *
    * As for [[IvfIndexFrames]], the driver-side quantizer tables — the
    * centroid table, the quantized codebook and its PQ kernel tables —
    * are the ones [[buildIvfPqIndex]] computed, or else collected once
    * per frames value, on first use. */
  final case class IvfPqIndexFrames(centroids: DataFrame,
      codebook: DataFrame, codes: DataFrame, inDims: Int, nSub: Int,
      quantScale: Int, twoLevelThreshold: Int = 4096) {
    @volatile private[ops] var builtCellTable
        : (Array[Array[Double]], Array[Double]) = null
    @volatile private[ops] var builtCodebook: Seq[Seq[Long]] = null
    private[ops] lazy val cellTable: (Array[Array[Double]], Array[Double]) =
      Option(builtCellTable).getOrElse(
        collectSeedTable(centroids, "cell", "cvec", quantScale))
    private[ops] lazy val codebookTable: Seq[Seq[Long]] =
      Option(builtCodebook).getOrElse(
        collectCodebookFrame(codebook, quantScale))
    private[ops] lazy val pqKernelTables
        : (Array[Array[Array[Double]]], Array[Array[Double]]) =
      pqTables(codebookTable, inDims, nSub)
  }

  /** (cell INT, corpus_id, qv) coarse assignment keeping the QUANTIZED
    * vector (the PQ-encode input), two-level-routed at high cell
    * counts like [[assignPostings]]. The corpus vector is cast to
    * `array<float>` BEFORE quantizing — the same one-float32-rounding
    * rule [[assignPostings]] applies: quantizing a double-typed corpus
    * directly can round a component differently than its float32 cast
    * (0.00005·10⁴ = 0.5 → 1 from double, ≈0.49999998 → 0 from float32),
    * which would route the same row to DIFFERENT cells in the PQ and
    * raw indexes and silently break the dual-index survivor semi-join
    * of [[annNearDupPairsPq]]. */
  private def coarseAssignQuantized(corpus: DataFrame, corpusId: String,
      corpusVec: String, centTab: Array[Array[Double]],
      cnTab: Array[Double], quantScale: Int, twoLevelThreshold: Int,
      inDims: Int, payloadCols: Seq[String] = Nil): DataFrame = {
    val reserved = PqKind.core + "qv"
    require(payloadCols.forall(p => !reserved(p)),
      s"coarseAssignQuantized: payload columns $payloadCols collide " +
        s"with the codes schema names $reserved")
    val pl = payloadCols.map(col)
    widenForCompute(corpus)
      .select(col(corpusId).cast("long").as("corpus_id") +:
        transform(col(corpusVec).cast("array<float>"),
          x => round(x.cast("double") * quantScale)).as("qv") +: pl: _*)
      .where(col("qv").isNotNull && size(col("qv")) === inDims)
      .select(col("corpus_id") +: col("qv") +:
        argmaxCell(col("qv"), centTab, cnTab, twoLevelThreshold).as("cell")
        +: pl: _*)
  }

  /** Build the PQ index: hash/k-means seed rows become the coarse
    * quantizer, `codebookIds` corpus rows the PQ codebook (ci =
    * ascending-id position — the persisted per-subspace centers at
    * scale), every valid corpus row coarse-assigned and PQ-encoded in
    * one pass. Raw vectors appear nowhere in the result. The codes
    * frame rides the encode's lazy checkpoint barrier and OWNS those
    * blocks ([[graft.Lineage]] ownership contract): a caller that
    * persists the index via [[writeIvfPqIndex]] should then release
    * them with `Lineage.retireDependents(idx.codes)` — the files are
    * the recompute source from that point. */
  def buildIvfPqIndex(corpus: DataFrame, corpusId: String,
      corpusVec: String, seeds: DataFrame, seedId: String,
      seedVec: String, codebookIds: Seq[Long], inDims: Int, nSub: Int,
      quantScale: Int = 10000,
      twoLevelThreshold: Int = 4096,
      payloadCols: Seq[String] = Nil): IvfPqIndexFrames = {
    require(nSub >= 1 && inDims % nSub == 0,
      s"inDims $inDims must divide into nSub $nSub")
    val session = corpus.sparkSession
    import session.implicits._
    val (centroids, centTab, cnTab) =
      seedCentroids(seeds, seedId, seedVec, quantScale)
    val cbRows: Seq[(Int, Seq[Float])] = corpus
      .select(col(corpusId).cast("long").as("id"),
        col(corpusVec).cast("array<float>").as("cv"))
      .where(col("id").isin(codebookIds: _*) &&
        col("cv").isNotNull && size(col("cv")) === inDims)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), ci) => (ci, v) }.toSeq
    if (centTab.isEmpty || cbRows.isEmpty) {
      // empty corpus (or codebook filtered away): typed empty index
      return IvfPqIndexFrames(
        Seq.empty[(Int, Seq[Float])].toDF("cell", "cvec"),
        Seq.empty[(Int, Seq[Float])].toDF("ci", "cv"),
        corpus.limit(0)
          .select(lit(0).cast("int").as("cell") +:
            col(corpusId).cast("long").as("corpus_id") +:
            array().cast("array<int>").as("codes") +:
            lit(0.0).as("e2") +: lit(0.0).as("nb2") +:
            payloadCols.map(col): _*),
        inDims, nSub, quantScale, twoLevelThreshold)
    }
    val codebook = codebookRows(
      cbRows.map(_._2.map(_.toDouble).toArray), quantScale)
    val (cbBlock, csq) = pqTables(codebook, inDims, nSub)
    val base = coarseAssignQuantized(corpus, corpusId, corpusVec,
      centTab, cnTab, quantScale, twoLevelThreshold, inDims,
      payloadCols)
    val idx = IvfPqIndexFrames(centroids, cbRows.toDF("ci", "cv"),
      pqEncodeIndexed(base, cbBlock, csq, payloadCols),
      inDims, nSub, quantScale, twoLevelThreshold)
    idx.builtCellTable = (centTab, cnTab)
    idx.builtCodebook = codebook
    idx
  }

  /** Persist the PQ index: tiny `centroids`/`codebook`/`meta` files plus
    * `codes` partitioned by cell (one file per cell — the same shuffled
    * layout as [[writeIvfIndex]], through the same root writer). */
  def writeIvfPqIndex(idx: IvfPqIndexFrames, path: String): Unit =
    writeRoot(PqKind, idx, path)

  /** Re-open a persisted PQ index (self-describing via its meta row,
    * which a PQ root must have; fresh indexes read back with empty
    * codes) — the same read as [[readIvfIndex]]. */
  def readIvfPqIndex(spark: SparkSession, path: String): IvfPqIndexFrames =
    readIndex(spark, PqKind, path)

  /** Append a delta to a persisted PQ index without retraining: the
    * delta coarse-assigned and PQ-encoded under the frozen centroids AND
    * codebook, one file per touched cell, the cells written in parallel.
    * The index is self-describing: ALL quantizer parameters — including
    * the assignment-affecting `two_level_threshold` routing switch —
    * come from the persisted meta, never from the caller. It is the
    * append of [[appendToIvfIndex]], with `codebook/` in the driver-side
    * open. Appends into a pre-margin-column root (codes without e2/nb2)
    * would leave mixed file schemas behind — compact or rebuild such a
    * root first. */
  def appendToIvfPqIndex(spark: SparkSession, path: String,
      delta: DataFrame, idCol: String, vecCol: String): Unit =
    appendIndex(spark, PqKind, path, delta, idCol, vecCol,
      () => openRoot(spark, PqKind, path))

  /** Legacy explicit-threshold append: the supplied value must match
    * the index's persisted meta — a mismatched re-supply would
    * coarse-route the delta under different geometry (the silent-cell-
    * corruption class the self-describing meta exists to prevent), so
    * it fails loudly instead. */
  def appendToIvfPqIndex(spark: SparkSession,
      path: String, delta: DataFrame, idCol: String, vecCol: String,
      twoLevelThreshold: Int): Unit =
    appendIndex(spark, PqKind, path, delta, idCol, vecCol, () =>
      openRoot(spark, PqKind, path,
        Map("two_level_threshold" -> twoLevelThreshold)))

  /** The codebook frame as quantized driver-side rows in ci order. */
  private[ops] def collectCodebookFrame(codebook: DataFrame,
      quantScale: Int): Seq[Seq[Long]] =
    codebookRows(codebook.select(col("ci"),
        col("cv").cast("array<double>"))
      .collect().map(r => r.getInt(0) ->
        vectorOf(r, 1, "collectCodebookFrame"))
      .sortBy(_._1).map(_._2).toSeq, quantScale)

  /** Codebook vectors (in ci order) quantized by [[quantizeTable]]'s
    * rule, as the longs Spark's `cast("long")` of the rounded values
    * gives — which fails on a non-finite or out-of-range value. */
  private def codebookRows(vecs: Seq[Array[Double]],
      quantScale: Int): Seq[Seq[Long]] =
    quantizeTable(vecs, quantScale)._1.map(_.map { d =>
      if (d.isNaN || d.isInfinite || d < -9.223372036854775808E18 ||
          d >= 9.223372036854775808E18)
        throw new ArithmeticException(
          s"quantized codebook value $d does not fit a long")
      d.toLong
    }.toSeq).toSeq

  /** Probe a PQ index: probe cells exactly like [[probeIvfIndex]] (per
    * query row, one native routing call over the quantizer table
    * collected once per frames value), then ADC-score ONLY the probed
    * cells' codes (dynamic partition pruning on the codes scan when the
    * index came from [[readIvfPqIndex]]) — per-candidate cost is nSub
    * LUT lookups, and the scan reads nSub ints per row instead of inDims
    * floats. Each query row carries its own LUT to its own cells; an id
    * carried by several rows gets the best `k` over all of them. Returns
    * (query_id, corpus_id, approx_d2, rank). */
  def probeIvfPqIndex(idx: IvfPqIndexFrames, queries: DataFrame,
      queryId: String, queryVec: String, k: Int,
      nprobe: Int = 4): DataFrame =
    probePqCodes(idx, idx.codes, queries, queryId, queryVec, k, nprobe)

  /** [[probeIvfPqIndex]] over `codes` (the index's own, or a filtered
    * subset of them) under `idx`'s quantizer. */
  private def probePqCodes(idx: IvfPqIndexFrames, codes: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      nprobe: Int): DataFrame = {
    val (centTab, cnTab) = idx.cellTable
    if (centTab.isEmpty || idx.codebookTable.isEmpty)
      return noPqHits(queries, queryId)
    val (cbBlock, csq) = idx.pqKernelTables
    val probes = routeToCells(
      queries.select(col(queryId).cast("long").as("query_id"),
          transform(col(queryVec),
            x => round(x.cast("double") * idx.quantScale)).as("qv"))
        .where(col("qv").isNotNull && size(col("qv")) === idx.inDims)
        .withColumn("lut",
          GraftFunctions.pqQueryLut(col("qv"), cbBlock, csq)),
      col("qv"), centTab, cnTab, nprobe).drop("qv")
    // ADC scoring: nSub LUT probes per candidate; negated distance so
    // the bounded top-k aggregate's (max score, ties id asc) semantics
    // realize (min distance, ties corpus_id asc)
    val approxD2 = cbBlock.indices.map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("corpus_id"), (-approxD2).as("score"))
    // the result plan references the codes' lazy checkpoint when they
    // come from a build, so its blocks live exactly as long as the
    // caller's frame — reaped by the ContextCleaner once the result is
    // dropped (or deterministically by Lineage.scoped/retireDependents)
    topKReduce(scored, k)
      .select(col("query_id"), col("corpus_id"),
        (-col("score")).cast("long").as("approx_d2"),
        col("rank").cast("long").as("rank"))
  }

  /** The empty result of a PQ probe. */
  private def noPqHits(queries: DataFrame, queryId: String): DataFrame =
    queries.limit(0)
      .select(col(queryId).cast("long").as("query_id"),
        lit(0L).as("corpus_id"), lit(0L).as("approx_d2"),
        lit(0L).as("rank"))

  /** [[probeIvfPqIndex]] with a metadata predicate over the codes'
    * payload columns — the COMPRESSED twin of [[probeIvfIndexFiltered]]
    * ("nearest English documents" served from codes-at-rest): declare
    * payload columns at PQ build/append, and the predicate applies
    * BEFORE the bounded top-k (all k ADC survivors satisfy it), pushed
    * into the codes scan alongside DPP. Serving pairs compose
    * unchanged: [[rerankExactTopK]] over the filtered candidates needs
    * no filter of its own (candidates are already a subset). A payload
    * predicate over a CORE-ONLY codes schema (a fresh index, or one
    * built without payload columns — structural detection, same rule
    * as [[probeIvfIndexFiltered]]) is legitimately empty; over a
    * payload-carrying schema an unknown column stays a loud
    * resolution error even when every row is tombstoned away. */
  def probeIvfPqIndexFiltered(idx: IvfPqIndexFrames, queries: DataFrame,
      queryId: String, queryVec: String, k: Int, predicate: Column,
      nprobe: Int = 4): DataFrame =
    probeFiltered(idx.codes, PqKind, predicate,
        noPqHits(queries, queryId)) { codes =>
      probePqCodes(idx, codes, queries, queryId, queryVec, k, nprobe)
    }

  /** Per-cell posting statistics — the skew report read before trusting
    * an index's probe latency: a cell holding 30% of the corpus makes
    * every probe that touches it a scan. One groupBy(cell) with map-side
    * partial aggregation plus a broadcast single-row total; share_ppm is
    * exact integer arithmetic (oracle-portable). */
  def ivfIndexStats(idx: IvfIndexFrames): DataFrame =
    cellShareStats(idx.postings)

  /** [[ivfIndexStats]] for a PQ index — per-cell CODE counts + exact ppm
    * share (coarse assignment is what skews; the PQ codes just ride it). */
  def ivfPqIndexStats(idx: IvfPqIndexFrames): DataFrame =
    cellShareStats(idx.codes)

  private def cellShareStats(rows: DataFrame): DataFrame = {
    val per = rows.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_postings"))
    val tot = per.agg(sum(col("n_postings")).as("n_total"))
    per.crossJoin(broadcast(tot))
      .select(col("cell").cast("int").as("cell"), col("n_postings"),
        expr("n_postings * 1000000 div n_total").as("share_ppm"))
  }

  /** Merge persisted IVF indexes built under the SAME frozen quantizer
    * into one new root — the fan-in of the parallel-build pattern: at
    * 100 TB, per-region/per-day corpus slices are indexed by independent
    * jobs against shared centroids, and the merge is centroid
    * verification plus ONE cell-partitioned union write (one shuffle,
    * one file per cell at `destPath`) — never a retrain, and the merged
    * index probes exactly like a single build over the union (cell
    * assignment depends only on the shared centroids). Sources must
    * agree EXACTLY: same meta, bit-identical quantized centroid tables
    * and the same payload columns in the same order — a mismatch means
    * the postings were routed under different geometry, or would land
    * under the wrong column names, and must fail loudly, not interleave.
    * Sources are read through the usual crash recovery; `destPath` must
    * be a new root. */
  def mergeIvfIndexes(spark: SparkSession,
      srcPaths: Seq[String], destPath: String): Unit =
    mergeIndexes(spark, IvfKind, srcPaths, destPath, consumeSources = false)

  /** [[mergeIvfIndexes]] with the CONSUMING fast path: when
    * `consumeSources` is true the merge is pure filesystem renames —
    * the first source's centroids/meta move to `destPath`, every
    * source's cell directories (and pending tombstone files, which
    * keep filtering the union) move under the destination's postings,
    * and the drained source roots are deleted. O(cells) driver
    * operations, NO Spark job over the corpus — merging two 50 TB
    * indexes costs directory renames instead of a full-corpus
    * exchange + parquet rewrite. The trade: sources are gone
    * afterwards (the parallel-build fan-in deletes them anyway), the
    * destination's file count is the sum of the sources' (compact it
    * if probes warrant), and a crash mid-move leaves a restartable
    * half-state — re-running the SAME merge (same sources, same
    * destination) detects the `_merge_intent` marker written before
    * the first move, skips the now-impossible geometry re-verification
    * (sources may be partially drained), and completes the remaining
    * moves; the destination must not be read before the merge
    * returns. With
    * `consumeSources = false` (default) the sources are left intact
    * and the merge is the one cell-partitioned union rewrite. Both
    * paths verify geometry identically first. */
  def mergeIvfIndexes(spark: SparkSession,
      srcPaths: Seq[String], destPath: String,
      consumeSources: Boolean): Unit =
    mergeIndexes(spark, IvfKind, srcPaths, destPath, consumeSources)

  /** The merge of either kind. Unless this is the resume of a crashed
    * consuming merge, every source runs a read's crash recovery and is
    * opened on the driver, and each must equal the first in meta,
    * quantized centroids, (PQ) quantized codebook and payload columns,
    * names and order. Then, under the destination's lease, either the
    * cell files move or the union of the sources is rewritten. */
  private def mergeIndexes[F](spark: SparkSession,
      kind: IndexKind[F], srcPaths: Seq[String], destPath: String,
      consumeSources: Boolean): Unit = {
    val op = s"merge${kind.label}Indexes"
    require(srcPaths.nonEmpty, s"$op: no source indexes")
    require(!srcPaths.contains(destPath),
      s"$op: destPath $destPath must not be a source " +
        "(the overwrite would race its own input)")
    // a matching intent marker at dest means THIS merge already started
    // and crashed mid-move: the sources were verified by the original
    // invocation before any file moved, and partially-drained sources
    // can no longer be re-read for verification — resume the moves
    val resuming = consumeSources &&
      checkMergeIntent(spark, destPath, srcPaths, op)
    val sources =
      if (resuming) Nil
      else srcPaths.map(p =>
        (p, readIndex(spark, kind, p), openRoot(spark, kind, p)))
    sources.drop(1).foreach { case (p, _, o) =>
      val (p0, _, o0) = sources.head
      require(o.meta == o0.meta,
        s"$op: $p meta ${o.meta} contradicts $p0 ${o0.meta}")
      require(sameTable(o.centTab, o0.centTab),
        s"$op: $p was built under DIFFERENT centroids than $p0 — rows " +
          "routed under different geometry cannot be merged; rebuild one " +
          "side under the shared quantizer")
      require(o.codebook == o0.codebook,
        s"$op: $p was encoded under a DIFFERENT codebook than $p0 — its " +
          "codes index other reconstruction points and cannot be merged; " +
          "re-encode one side under the shared codebook")
      // the rewrite unions the sources by position and the consuming
      // merge moves their files as they are: different payload columns
      // would land one source's values under the other's names
      require(o.payloadCols == o0.payloadCols,
        s"$op: $p carries payload columns ${o.payloadCols} but $p0 " +
          s"carries ${o0.payloadCols} — sources must carry the same " +
          "payload columns in the same order")
    }
    withWriterLease(spark, destPath, op) { verifyLease =>
      verifyLease()
      if (consumeSources)
        moveMergeRoots(spark, srcPaths, destPath, kind.dataDir,
          kind.quantizerDirs, op, resuming)
      else
        writeRoot(kind, kind.frames(kind.tables(sources.head._2),
          sources.map(s => kind.data(s._2)).reduce(_ unionAll _),
          sources.head._3.meta), destPath)
    }
  }

  /** True iff `destPath` carries a `_merge_intent` marker recording
    * EXACTLY this source list (a prior invocation of the same consuming
    * merge crashed mid-move); loud failure when the marker records a
    * DIFFERENT merge — resuming someone else's half-move would
    * interleave unrelated file sets. */
  private def checkMergeIntent(spark: SparkSession,
      destPath: String, srcPaths: Seq[String], op: String): Boolean = {
    val intent = new Path(destPath + "/_merge_intent")
    val fs = fileSystem(spark, intent)
    if (!fs.exists(intent)) return false
    val recorded = readMarker(fs, intent)
    require(recorded == srcPaths.mkString("\n"),
      s"$op: $destPath holds a _merge_intent marker from a DIFFERENT " +
        s"interrupted merge (sources ${recorded.linesIterator.toSeq}); " +
        "complete or clean up that merge first (remove the marker only " +
        "if its sources are known fully drained)")
    true
  }

  /** The consuming merge's file mechanics, shared by the raw and PQ
    * fan-ins: record the merge intent (`_merge_intent`, the source
    * list — the resume token), rename `smallDirs` (quantizer
    * artifacts) from the first source into a FRESH `destPath`, then
    * move every source's cell directories under `destPath/dataDir`
    * (whole-dir rename when the destination cell is new — the common
    * disjoint-slice case — else per-file renames; name collisions get
    * a per-source prefix), move pending tombstone files along (the
    * union of tombstone sets filters the union of postings), delete
    * the drained roots, and clear the intent marker LAST.
    * Restartable for real (r16 ADVICE #1): every file moves exactly
    * once and every step tolerates its own prior completion — a
    * re-run after a crash anywhere in the sequence detects the
    * matching intent marker, skips geometry verification (the sources
    * may be partially drained and unreadable — the original
    * invocation verified them before the first move), skips
    * already-moved dirs/files, ignores already-deleted sources, and
    * completes the merge. */
  private def moveMergeRoots(spark: SparkSession,
      srcPaths: Seq[String], destPath: String, dataDir: String,
      smallDirs: Seq[String], op: String, resuming: Boolean): Unit = {
    val dest = new Path(destPath)
    val fs = fileSystem(spark, dest)
    if (!resuming)
      require(!fs.exists(new Path(destPath + "/" + dataDir)),
        s"$op: consuming merge needs a fresh destination root — " +
          s"$destPath already holds a $dataDir dir")
    fs.mkdirs(dest)
    val intent = new Path(destPath + "/_merge_intent")
    if (!resuming) {
      // the resume token goes down BEFORE any file moves: a crash at
      // any later point re-runs as a resume, never as a fresh merge
      // against a half-populated destination
      val out = fs.create(intent, false)
      try out.write(srcPaths.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    smallDirs.foreach { d =>
      val t = new Path(destPath + "/" + d)
      if (!fs.exists(t)) {
        val sp = new Path(srcPaths.head + "/" + d)
        require(fs.exists(sp),
          s"$op: neither $t nor $sp exists — the destination's $d " +
            "artifact is unrecoverable; repair the root by hand")
        require(fs.rename(sp, t),
          s"$op: could not move ${srcPaths.head}/$d to $t")
      }
    }
    val destData = new Path(destPath + "/" + dataDir)
    fs.mkdirs(destData)
    // the data files of `from` moved into `to`, a name already taken
    // there prefixed with the source's position
    def moveFiles(from: Path, to: Path, si: Int): Unit = {
      fs.mkdirs(to)
      fs.listStatus(from).map(_.getPath).filterNot(p =>
        p.getName.startsWith("_") || p.getName.startsWith(".")).foreach { f =>
        val t0 = new Path(to, f.getName)
        val t =
          if (fs.exists(t0)) new Path(to, s"src$si-${f.getName}") else t0
        require(fs.rename(f, t), s"$op: could not move $f to $t")
      }
    }
    srcPaths.zipWithIndex.foreach { case (src, si) =>
      val srcData = new Path(src + "/" + dataDir)
      if (fs.exists(srcData))
        fs.listStatus(srcData).filter(_.isDirectory).map(_.getPath)
          .foreach { cellDir =>
            val target = new Path(destData, cellDir.getName)
            if (fs.exists(target)) moveFiles(cellDir, target, si)
            else require(fs.rename(cellDir, target),
              s"$op: could not move $cellDir to $target")
          }
      val srcTomb = new Path(src + "/tombstones")
      if (fs.exists(srcTomb))
        moveFiles(srcTomb, new Path(destPath + "/tombstones"), si)
      fs.delete(new Path(src), true)
    }
    // intent cleared LAST: anything before this point re-runs as a
    // resume of the same merge
    fs.delete(intent, false)
    ()
  }

  /** [[mergeIvfIndexes]] for persisted PQ indexes: sources must carry
    * bit-identical quantized centroid tables, bit-identical quantized
    * codebooks, identical meta (inDims/nSub/quantScale/
    * twoLevelThreshold) and the same payload columns — the codes are
    * meaningless under any other geometry — then the merge is one
    * cell-partitioned union write of the codes plus a copy of the
    * shared centroids/codebook/meta. Same no-retrain fan-in contract. */
  def mergeIvfPqIndexes(spark: SparkSession,
      srcPaths: Seq[String], destPath: String): Unit =
    mergeIndexes(spark, PqKind, srcPaths, destPath, consumeSources = false)

  /** [[mergeIvfPqIndexes]] with the consuming file-move fast path —
    * same contract as the raw-index overload ([[mergeIvfIndexes]]):
    * `consumeSources = true` turns the merge into O(cells) renames
    * (centroids/codebook/meta from the first source, every source's
    * code cell dirs and tombstones moved, drained roots deleted). */
  def mergeIvfPqIndexes(spark: SparkSession,
      srcPaths: Seq[String], destPath: String,
      consumeSources: Boolean): Unit =
    mergeIndexes(spark, PqKind, srcPaths, destPath, consumeSources)

  /** End-to-end recall audit of a PERSISTED index — the measurement read
    * alongside [[ivfIndexStats]] before trusting a probe budget: for each
    * candidate `nprobe`, [[probeIvfIndex]]'s top-`k` over a (deterministic,
    * caller-sampled) query set is compared against [[bruteForceTopK]]
    * ground truth on the raw corpus, and the hit share reported as exact
    * floor ppm. One row per nprobe: (nprobe, n_truth, n_probe_rows,
    * n_hits, recall_ppm) — so an operator can pick the smallest probe
    * budget that clears the recall bar instead of guessing. Both sides
    * use the same deterministic tie rule (score desc, corpus_id asc), so
    * the audit is engine-replayable. Plan shape: ONE brute-force pass
    * (corpus scored map-side against the broadcast query sample, never
    * shuffled) plus one DPP-pruned probe per nprobe; the per-nprobe
    * overlap joins are sample×k-sized and broadcast. */
  def ivfRecallAudit(idx: IvfIndexFrames, corpus: DataFrame,
      corpusId: String, corpusVec: String, queries: DataFrame,
      queryId: String, queryVec: String, k: Int,
      nprobes: Seq[Int]): DataFrame =
    recallAudit("ivfRecallAudit", corpus, corpusId, corpusVec, queries,
        queryId, queryVec, k, nprobes)(np =>
      probeIvfIndex(idx, queries, queryId, queryVec, k, np))

  /** The recall audit for the PQ SERVING PAIR — measures what operators
    * actually deploy against the compressed index: per candidate
    * `nprobe`, the ADC probe nominates a wide top-`rerankK`
    * ([[probeIvfPqIndex]]), the exact rerank keeps the true top-`k`
    * ([[rerankExactTopK]]), and the result is compared against
    * [[bruteForceTopK]] truth — so the reported ppm prices the WHOLE
    * pipeline (coarse routing + PQ distortion + rerank window), not one
    * stage. Same output shape as [[ivfRecallAudit]]. */
  def ivfPqRecallAudit(idx: IvfPqIndexFrames, corpus: DataFrame,
      corpusId: String, corpusVec: String, queries: DataFrame,
      queryId: String, queryVec: String, k: Int, rerankK: Int,
      nprobes: Seq[Int]): DataFrame = {
    require(rerankK >= k,
      s"ivfPqRecallAudit: rerankK $rerankK must be >= k $k (the rerank " +
        "window can only narrow the candidate set)")
    recallAudit("ivfPqRecallAudit", corpus, corpusId, corpusVec, queries,
        queryId, queryVec, k, nprobes) { np =>
      val cand = probeIvfPqIndex(idx, queries, queryId, queryVec,
        rerankK, np).select(col("query_id"), col("corpus_id"))
      rerankExactTopK(corpus, corpusId, corpusVec, queries, queryId,
        queryVec, cand, k)
    }
  }

  /** The shared body of the three recall audits: truth =
    * [[bruteForceTopK]] over `corpus`, and per distinct `nprobe` the
    * overlap of `probe(nprobe)`'s (query_id, corpus_id) rows with it, as
    * exact floor-ppm recall. Broadcast joins only — probe rows are
    * sample×k-sized. */
  private def recallAudit(op: String, corpus: DataFrame,
      corpusId: String, corpusVec: String, queries: DataFrame,
      queryId: String, queryVec: String, k: Int, nprobes: Seq[Int])(
      probe: Int => DataFrame): DataFrame = {
    require(nprobes.nonEmpty, s"$op: nprobes must be non-empty")
    require(nprobes.forall(_ >= 1),
      s"$op: every nprobe must be >= 1, got $nprobes")
    val truth = bruteForceTopK(corpus, corpusId, corpusVec, queries,
        queryId, queryVec, k)
      .select(col("query_id").cast("long").as("query_id"),
        col("corpus_id").cast("long").as("corpus_id"),
        lit(1L).as("__t"))
    nprobes.distinct.sorted.map { np =>
      probe(np).select(lit(np).cast("int").as("nprobe"),
        col("query_id").cast("long").as("query_id"),
        col("corpus_id").cast("long").as("corpus_id"))
    }.reduce(_ unionAll _)
      .join(broadcast(truth), Seq("query_id", "corpus_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_probe_rows"),
        coalesce(sum(col("__t")), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("nprobe"), col("n_truth"), col("n_probe_rows"),
        col("n_hits"),
        when(col("n_truth") > 0,
          expr("n_hits * 1000000 div n_truth"))
          .otherwise(lit(0L)).as("recall_ppm"))
  }

  /** Compact a persisted index's postings to ONE file per cell.
    * [[appendToIvfIndex]] adds a file set per delta, and probe cost at
    * scale tracks files opened, not just bytes — nightly appends without
    * compaction turn every probed cell into a many-small-files read.
    * One shuffle on `cell` (each cell lands whole in one task, so the
    * partitioned write emits exactly one file per cell), staged into a
    * sibling directory and swapped in with two FS renames — readers that
    * opened the old file set keep their snapshot; a crash before the
    * swap leaves the live postings untouched. */
  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    compactIndex(spark, IvfKind, path)

  /** [[compactIvfIndex]] for a persisted PQ index's `codes`: the same
    * compaction, swap, crash recovery and single-writer contract. */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit =
    compactIndex(spark, PqKind, path)

  /** Compaction of either kind's data dir (the maintenance streams call
    * this). */
  private[graft] def compactIndex(spark: SparkSession,
      kind: IndexKind[_], path: String): Unit =
    compactCellDirHooked(spark, path, kind.dataDir, () => ())

  /** The compaction kernel with a test seam: `afterStage` runs after the
    * staged rewrite completes, just before the defensive live-set
    * re-check — the window a concurrent append would land in. */
  private[ops] def compactCellDirHooked(
      spark: SparkSession,
      path: String, dirName: String, afterStage: () => Unit): Unit =
    withWriterLease(spark, path, "compactCellDir") { verifyLease =>
    // restore a half-swapped root FIRST — the blind delete of a leftover
    // `<dir>_retired` would otherwise destroy the only full copy
    // after a mid-swap crash
    recoverIvfPostings(spark, path, dirName)
    val (live, staged, retired) = swapDirs(path, dirName, "compacting")
    val fs = fileSystem(spark, live)
    fs.delete(staged, true)
    fs.delete(retired, true)
    // read under one footer's schema (no inference job); a fresh/empty
    // index has no posting files to compact
    val input = dataSchema(spark, live.toString)
      .fold(return)(spark.read.schema(_).parquet(live.toString))
    // file sets are compared RELATIVE to their root dir, so the same
    // set can be re-checked after the retire rename moves it wholesale
    def relativize(root: Path, p: Path): String = {
      val rootPath = root.toUri.getPath.stripSuffix("/") + "/"
      p.toUri.getPath.stripPrefix(rootPath)
    }
    def listDataFiles(dir: Path): Set[String] = {
      val out = scala.collection.mutable.Set[String]()
      val it = fs.listFiles(dir, true)
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          out += relativize(dir, f.getPath)
      }
      out.toSet
    }
    // the exact file set this compaction will fold in — compared against
    // a fresh listing immediately before the retire-rename, so an append
    // landing DURING the compaction (a single-writer-contract violation)
    // aborts the swap with the live set intact instead of silently
    // deleting the concurrent append's postings with the retired dir
    val inputFiles = input.inputFiles
      .map(f => relativize(live, new Path(f))).toSet
    // fold pending tombstones into the rewrite — this is where deleted
    // vectors are PHYSICALLY removed. The tombstone files being folded
    // are listed NOW and exactly those are cleared after the swap: a
    // delete landing mid-compaction keeps filtering reads (its file is
    // not in this list) and is folded by the next compaction.
    recoverTombstones(spark, path)
    val tombFiles = parquetDataFiles(spark, new Path(path + "/tombstones"))
    val folded = readStated(spark, tombFiles).fold(input)(withoutIds(input, _))
    writeCells(folded, footerRowCount(spark, path + "/centroids").toInt,
      "overwrite", staged.toString)
    afterStage()
    val liveNow = listDataFiles(live)
    if (liveNow != inputFiles) {
      fs.delete(staged, true)
      throw new IllegalStateException(
        s"compactCellDir: the live file set at $live changed while " +
          s"compacting (${inputFiles.size} files read, ${liveNow.size} " +
          "now present) — a concurrent append violated the single-writer " +
          "contract; the swap was aborted with the live postings intact. " +
          "Serialize appends and compaction against one index root.")
    }
    verifyLease() // last check before the commit rename
    require(fs.rename(live, retired),
      s"compactCellDir: could not retire $live")
    // the pre-rename check leaves a TOCTOU window (an append landing
    // between the listing and the retire rename rides into `retired`);
    // the retire rename is atomic, so re-listing what actually moved
    // closes it: on mismatch the retired dir is renamed straight back —
    // the live set is restored intact and the late append survives
    val retiredNow = listDataFiles(retired)
    if (retiredNow != inputFiles) {
      val restored = fs.rename(retired, live)
      fs.delete(staged, true)
      if (!restored)
        throw new IllegalStateException(
          s"compactCellDir: an append landed at $live during the swap " +
            s"AND recreated the live dir before restore — $retired " +
            "holds the full pre-compaction corpus plus the late append; " +
            "repair by moving its cell files back under the live dir. " +
            "Serialize appends and compaction against one index root.")
      throw new IllegalStateException(
        s"compactCellDir: the live file set at $live changed between " +
          s"the pre-swap check and the retire rename (${inputFiles.size}" +
          s" files read, ${retiredNow.size} retired) — a concurrent " +
          "append violated the single-writer contract; the swap was " +
          "rolled back with the live postings (and the late append) " +
          "intact. Serialize appends and compaction against one root.")
    }
    require(fs.rename(staged, live),
      s"compactCellDir: could not activate $staged")
    fs.delete(retired, true)
    // clear exactly the folded tombstone files — AFTER the swap, so a
    // crash anywhere above leaves them pending (re-folding an already-
    // removed id is a no-op anti-join, never data loss)
    tombFiles.foreach(f => fs.delete(f, false))
    ()
  }
}
