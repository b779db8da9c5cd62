package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Lineage._
import graft.functions.GraftFunctions

/** Lexical (BM25) and hybrid lexical+vector retrieval over a document
  * corpus — the query-serving counterpart of the dedup/similarity
  * family: candidate recall for RAG-style training-data mining, nearest
  * lexical neighbors for decontamination checks, and rank fusion of the
  * two modalities.
  *
  * Scale shape (both operators): the corpus is tokenized and aggregated
  * with map-side-combined shuffles exactly like the TF-IDF family
  * ([[TextAnalysis.topTerms]]); the query set — small by contract, like
  * every serving batch in [[Similarity]] — is broadcast, so corpus
  * posting rows are never shuffled by query. Per-query results are
  * reduced with the bounded [[graft.functions.TopKByScore]] aggregate
  * (O(k) partial buffers), never a row_number window over all scored
  * rows.
  *
  * Determinism/oracle contract: per-(query,term,doc) BM25 weights are
  * rounded to 6dp and summed in DECIMAL — the per-document score is an
  * order-independent exact decimal sum, so ranking (score desc, doc_id
  * asc) is reproducible by any engine; only the per-term ln() lives in
  * IEEE doubles (the q42 precedent). Fusion ranks use exact integer
  * floor-ppm RRF contributions — no doubles at all.
  */
object Retrieval {

  /** Whitespace tokens of `text`, lowercased, empties dropped —
    * identical to the TF-IDF family's rule so lexical operators share
    * one vocabulary. */
  private def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** BM25 top-k retrieval: for each query row, the `topK` highest-BM25
    * documents. Okapi BM25 with the non-negative idf variant
    * `ln(1 + (N - df + 0.5) / (df + 0.5))` and the standard length
    * normalization `tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`,
    * summed over the query's DISTINCT terms.
    *
    * Plan: tokenize → per-(doc,term) tf and per-doc length (two
    * map-side-combined shuffles over the corpus, the TF-IDF plan
    * family); document frequencies are semi-joined down to the query
    * vocabulary and broadcast BACK with the query terms, so scoring is
    * a map-side hash join against the tf table — the corpus never
    * shuffles on a query key. One one-row (N, total token count) stats
    * frame rides a broadcast cross join.
    *
    * Returns (query_id, doc_id, bm25, rank) — bm25 is the exact
    * decimal sum of 6dp-rounded per-term weights cast to double, rank
    * is 1-based per query (score desc, doc_id asc). */
  def bm25Retrieve(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      topK: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, 0 <= b <= 1")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // one row: corpus size and total token count (avgdl = total / n;
    // docs with zero tokens count toward N, exactly like the oracle)
    val stats = docs.select(count(lit(1)).as("n"))
      .crossJoin(toks.select(count(lit(1)).as("total")))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(tokens(col(queryTextCol))).as("term")).distinct()
    // document frequency only for the query vocabulary: the corpus-wide
    // df table is cut down by a broadcast semi-join BEFORE it travels
    val qdf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
    val qside = qterms.join(qdf, Seq("term"))
    scoreBm25(tf, dl, qside, stats, topK, k1, b)
  }

  /** The shared BM25 scoring tail ([[bm25Retrieve]] computes the input
    * frames from the corpus; [[probeBm25Index]] reads them from a
    * persisted index with term-bucket pruning — sharing this tail makes
    * the two paths identical-by-construction). `tf` is corpus-sized
    * (doc_id, term, tf); `dl` (doc_id, dl); `qside` is small by
    * contract (query_id, term, df) and broadcasts; `stats` one row
    * (n, total). */
  private def scoreBm25(tf: DataFrame, dl: DataFrame, qside: DataFrame,
      stats: DataFrame, topK: Int, k1: Double, b: Double): DataFrame = {
    // map-side scoring joins: tf (corpus-keyed) gains (query_id, df)
    // from the broadcast query side, dl by doc_id, stats by cross
    val scored = tf
      .join(broadcast(qside.select(col("query_id"), col("term"),
        col("df"))), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
    val nD = col("n").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val avgdl = col("total").cast("double") / nD
    val idf = log(lit(1.0) + (nD - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val w = idf * (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / avgdl))
    // 6dp-round each per-term weight, then sum EXACTLY in decimal:
    // the document score is independent of addition order, so ranking
    // is engine-reproducible (ln ulp noise cannot reorder a sum)
    val perTerm = scored.select(col("query_id"), col("doc_id"),
      round(w, 6).cast(DecimalType(18, 6)).as("wd"))
    val bm = perTerm.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("wd")).as("bm_dec"))
    bm.groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("bm_dec").cast("double"),
        col("doc_id"), topK).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("bm25"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical list
    * and the exact cosine vector list, per query. Each list contributes
    * `1000000 div (kConst + rank)` ppm — exact integer arithmetic, so
    * the fused ordering is engine-reproducible given the two input
    * rankings (ties broken by doc_id asc).
    *
    * Scale: both lists are bounded (|queries| × perListK rows), so
    * everything after the two retrieval kernels runs on tiny frames;
    * the corpus is scanned by each kernel exactly as documented on
    * [[bm25Retrieve]] and [[Similarity.bruteForceTopK]].
    *
    * Returns (query_id, doc_id, fused_rank, rrf_ppm, n_lists,
    * best_rank) for the per-query top `topN`. */
  def hybridRrfRetrieve(docs: DataFrame, idCol: String, textCol: String,
      vecCol: String, queries: DataFrame, queryIdCol: String,
      queryTextCol: String, queryVecCol: String, perListK: Int,
      topN: Int, kConst: Int = 60): DataFrame = {
    require(perListK >= 1 && topN >= 1 && kConst >= 1,
      s"need perListK/topN/kConst >= 1, got $perListK/$topN/$kConst")
    val lex = bm25Retrieve(docs, idCol, textCol, queries, queryIdCol,
      queryTextCol, perListK)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank"))
    val vec = Similarity.bruteForceTopK(docs, idCol, vecCol, queries,
      queryIdCol, queryVecCol, perListK)
      .select(col("query_id"), col("corpus_id").as("doc_id"),
        col("rank").cast("long").as("rank"))
    val contrib = lex.unionByName(vec)
    // fused is referenced twice (top-N aggregate + detail join-back);
    // without a lineage barrier BOTH retrieval kernels would re-scan
    // the corpus for each reference (the near-dup kernel's lesson). The
    // frame is bounded (|queries| × 2·perListK rows), so the barrier
    // is O(results), not O(corpus).
    val fused = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_lists"),
        min(col("rank")).as("best_rank"),
        sum(expr(s"1000000L div ($kConst + rank)")).as("rrf_ppm"))
      .truncateLineage(eager = false)
    fused.groupBy(col("query_id"))
      .agg(GraftFunctions.topKByScore(col("rrf_ppm").cast("double"),
        col("doc_id"), topN).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("fused_rank"))
      .join(fused, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("doc_id"), col("fused_rank"),
        col("rrf_ppm"), col("n_lists"), col("best_rank"))
  }

  // ---------------------------------------------------------------
  // Persisted BM25 inverted index — the lexical twin of the IVF index
  // family: tokenizing and aggregating the corpus once, serving many
  // query batches from disk with term-bucket partition pruning. At
  // 100 TB a probe touches only the partitions holding the query
  // vocabulary's buckets, never the full posting table.
  // ---------------------------------------------------------------

  /** In-memory frames + scalars of a built BM25 index (write with
    * [[writeBm25Index]]). `postings` (bucket, term, doc_id, tf);
    * `terms` (bucket, term, df); `doclens` (doc_id, dl); the scalars
    * are the corpus-level statistics BM25 needs (docs with zero tokens
    * count toward nDocs). */
  final case class Bm25IndexFrames(postings: DataFrame, terms: DataFrame,
      doclens: DataFrame, nDocs: Long, totalTokens: Long,
      numBuckets: Int)

  /** Term → partition bucket. Internal routing only (never crosses an
    * engine boundary), so the non-portable hash is fine — what matters
    * is that build and probe share it. */
  private def bucketOf(term: Column, numBuckets: Int): Column =
    pmod(xxhash64(term), lit(numBuckets.toLong)).cast("int")

  /** Build the inverted index frames: one tokenize pass feeding the
    * same map-side-combined aggregations as [[bm25Retrieve]], plus the
    * per-term bucket for partition layout. The two corpus statistics
    * are materialized here (two count actions) because they are meta
    * scalars, not frames — build is an explicitly materializing
    * operation, like the IVF build. */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 64): Bm25IndexFrames = {
    require(numBuckets >= 1, s"need numBuckets >= 1, got $numBuckets")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
      .truncateLineage(eager = false)
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketOf(col("term"), numBuckets))
    val terms = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("bucket", bucketOf(col("term"), numBuckets))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val nDocs = docs.select(col(idCol)).count()
    val totalTokens = toks.count()
    Bm25IndexFrames(tf.select("bucket", "term", "doc_id", "tf"),
      terms.select("bucket", "term", "df"), dl, nDocs, totalTokens,
      numBuckets)
  }

  /** Persist the index: postings and the term table partitioned by
    * bucket (the probe's pruning key), doc lengths doc-keyed, and a
    * one-row self-describing meta (the statistics and the bucket count
    * are properties OF the index — a probe must never have to remember
    * them; same posture as the IVF meta, including its evolution
    * contract: new columns ship with defaults matching historical
    * behavior, missing required columns fail loudly). */
  def writeBm25Index(idx: Bm25IndexFrames, path: String): Unit = {
    val session = idx.postings.sparkSession
    import session.implicits._
    Seq((idx.nDocs, idx.totalTokens, idx.numBuckets))
      .toDF("n_docs", "total_tokens", "num_buckets")
      .coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    if (idx.totalTokens == 0L) {
      // token-less corpus: every frame is empty, and a partitionBy write
      // of an empty frame produces NO data files — the read-back then
      // cannot infer a schema (the q136 lesson). A plain coalesce(1)
      // write keeps one zero-row schema-bearing file per frame; `bucket`
      // becomes a physical column, which the probe's bucket filter and
      // scoring tail (both select by name) treat identically.
      idx.postings.coalesce(1).write.mode("overwrite")
        .parquet(path + "/postings")
      idx.terms.coalesce(1).write.mode("overwrite")
        .parquet(path + "/terms")
    } else {
      idx.postings.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(path + "/postings")
      idx.terms.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(path + "/terms")
    }
    idx.doclens.write.mode("overwrite").parquet(path + "/doclens")
  }

  /** Read the one-row meta, loudly: exactly one row with the three
    * required columns or an IllegalStateException — never an invented
    * default for statistics that change scoring. */
  private def readBm25Meta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Long, Int) = {
    val rows = spark.read.parquet(path + "/meta").collect()
    if (rows.length != 1)
      throw new IllegalStateException(
        s"$path/meta: expected exactly one meta row, got ${rows.length}")
    val r = rows.head
    def need(f: String): Int =
      try r.fieldIndex(f)
      catch {
        case _: IllegalArgumentException => throw new IllegalStateException(
          s"$path/meta: required column '$f' missing")
      }
    (r.getLong(need("n_docs")), r.getLong(need("total_tokens")),
      r.getInt(need("num_buckets")))
  }

  /** Reopen a persisted index (frames stay lazy; only meta is read
    * driver-side). */
  def readBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String): Bm25IndexFrames = {
    val (n, total, buckets) = readBm25Meta(spark, path)
    Bm25IndexFrames(spark.read.parquet(path + "/postings"),
      spark.read.parquet(path + "/terms"),
      spark.read.parquet(path + "/doclens"), n, total, buckets)
  }

  /** BM25 top-k over a PERSISTED index — identical output to
    * [[bm25Retrieve]] on the same corpus (same scoring tail, same
    * statistics, pinned by the q313 oracle), but the corpus-side work
    * is a pruned read: the query vocabulary's bucket list (bounded by
    * the query term count — queries are small by contract, like every
    * serving batch) is collected driver-side and pushed as a partition
    * filter, so only the touched buckets' posting files are scanned.
    * `.explain` shows the bucket IN (...) under PartitionFilters. */
  def probeBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, queryIdCol: String,
      queryTextCol: String, topK: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    val (nDocs, totalTokens, numBuckets) = readBm25Meta(spark, path)
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(tokens(col(queryTextCol))).as("term")).distinct()
      .withColumn("bucket", bucketOf(col("term"), numBuckets))
      .truncateLineage(eager = false)
    // bounded driver collect: ≤ min(|query terms|, numBuckets) ints
    val buckets = qterms.select(col("bucket")).distinct()
      .collect().map(_.getInt(0))
    // token-less queries keep the NORMAL plan under an always-false
    // pruning filter: the empty result's schema is derived exactly like
    // the non-empty one's, never invented (the r16 ADVICE #4 lesson)
    val bucketFilter =
      if (buckets.isEmpty) lit(false)
      else col("bucket").isin(buckets.map(Int.box): _*)
    val postings = spark.read.parquet(path + "/postings")
      .where(bucketFilter)
    val termsF = spark.read.parquet(path + "/terms").where(bucketFilter)
    // df for the query vocabulary from the pruned term table; the join
    // output is |query terms| rows, broadcast into scoring
    val qside = qterms.join(termsF, Seq("bucket", "term"))
      .select(col("query_id"), col("term"), col("df"))
    val dl = spark.read.parquet(path + "/doclens")
    import spark.implicits._
    val stats = Seq((nDocs, totalTokens)).toDF("n", "total")
    scoreBm25(postings.select(col("term"), col("doc_id"), col("tf")),
      dl, qside, stats, topK, k1, b)
  }
}
