package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Lineage._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.closure.TransitiveClosure
import graft.ops.{Dedup, Layout, Mixing, Multimodal, Packing, Profiling, Retrieval, Sessions, Similarity, Splits, TextAnalysis}
import graft.terminology._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator family from SURVEY §2 (the
  * bunsen operator inventory) or one of the beyond-parity training-pipeline
  * operators, expressed against the driver's TPC-H-ish testdata so the
  * DuckDB oracle can verify it. FHIR-specific semantics are verified two
  * ways: ScalaTest (src/test/scala/graft) for the object surface, and —
  * since q82/q83/q84 — under the DuckDB oracle by constructing synthetic
  * FHIR documents FROM the relational tables inside the query, running
  * them through the real ingestion path (fromJson/fromXml → compiled
  * schema → extractEntry → toJson round trip), and flattening back to
  * scalars the oracle recomputes directly from the parquet.
  *
  * Numeric discipline for oracle hash-parity: every aggregate over doubles
  * is computed in DECIMAL(18,4) (exact, associative, order-independent) and
  * cast back to double at the end, so Spark's and DuckDB's different
  * reduction orders cannot change the result bits.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    // events.ts has shipped in three physical encodings across driver
    // rounds (nanos-long, TIMESTAMP_NTZ, TIMESTAMP); EventTime is the one
    // shared normalizer (and loud range guard) for batch AND streaming.
    graft.sources.EventTime.normalize(
      spark.read.parquet(s"$dir/$name.parquet"))

  private def dec(c: Column): Column = c.cast("decimal(18,4)")

  /** Shared graph-prep cache (r13 directive #1): the co-purchase and
    * customer–supplier edge graphs are rebuilt identically by several
    * queries (q142/q152/q161/q167 and q117/q201/q233/q243/q277) — and
    * their distinct-join prep DOMINATES each one's wall time. At 100 TB
    * a pipeline materializes the interaction graph ONCE and runs every
    * graph operator against the artifact (see
    * [[graft.ops.Graphs.coPurchaseEdges]]'s shared-prep note); this is
    * that wiring: one lazily-checkpointed frame per (application, kind,
    * sfDir). The FIRST consuming query pays the prep — its bench slot
    * honestly includes the build — and later queries read the blocks.
    * Bench's per-query RDD hygiene exempts these ids
    * ([[sharedPrepRddIds]]); an application that wants them gone calls
    * [[graft.Lineage.retireDependents]] on the cached frame. */
  private val sharedPrep =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[graft] def sharedGraphPrep(s: SparkSession, dir: String,
      kind: String): DataFrame =
    sharedPrep.computeIfAbsent(
      s.sparkContext.applicationId + "|" + kind + "|" + dir, _ => {
        val raw = kind match {
          case "co_purchase" =>
            graft.ops.Graphs.coPurchaseEdges(t(s, dir, "lineitem"))
          case "customer_supplier" =>
            graft.ops.Graphs.customerSupplierEdges(
              t(s, dir, "orders"), t(s, dir, "lineitem"))
          case other =>
            throw new IllegalArgumentException(s"unknown prep kind $other")
        }
        raw.truncateLineage(eager = false)
      })

  /** RDD ids owned by the shared-prep cache — [[Bench]]'s per-query RDD
    * cleanup must not evict them (cross-query reuse is the point; a
    * lazily-checkpointed RDD cannot recompute once its blocks drop). */
  def sharedPrepRddIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    sharedPrep.values.asScala.flatMap { df =>
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd.id)
        case _ => None
      }
    }.toSet
  }

  /** First 60 bits of md5(s) as a non-negative long — the same portable
    * hash family as GraftHashImpl.portableHash60, as a plain Column so
    * oracle-checkable queries can construct signature tables DuckDB
    * rebuilds verbatim via `CAST(('0x' || substr(md5(s),1,15)) AS
    * BIGINT)`. */
  private def portable60(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Deterministic 64-bit "perceptual signature" table over documents:
    * every id gets a pseudo-random base signature, and every
    * `dupEvery`-th id instead takes the PREVIOUS id's base XOR a mask of
    * `k = (id div dupEvery) % 14` low bits shifted by `maskShift` — a
    * planted near-duplicate at EXACTLY Hamming distance k, so pairs with
    * k <= maxHamming must surface and k > maxHamming must not. Pure
    * projection (the planted signature is recomputed from id-1, never
    * joined), reproduced bit-for-bit by the DuckDB oracle. */
  private def mediaSigs(docs: DataFrame, salt: String, dupEvery: Int,
      maskShift: Int): DataFrame = {
    def base(id: Column) = portable60(concat(lit(salt), id.cast("string")))
    val dup = pmod(col("doc_id"), lit(dupEvery)) === 0 && col("doc_id") > 0
    // k-bit mask → planted pair at EXACT Hamming k (functions.shiftleft
    // only takes a literal bit count, so the variable shift is SQL text)
    val mask = expr(s"shiftleft(shiftleft(1L, cast((doc_id div $dupEvery)" +
      s" % 14 as int)) - 1L, $maskShift)")
    docs.select(col("doc_id").as("id"),
      when(dup, base(col("doc_id") - 1).bitwiseXOR(mask))
        .otherwise(base(col("doc_id"))).as("sig"))
  }

  /** Stable scratch directory for queries that must materialize files
    * (q90/q91 bundle fixtures): keyed by (tag, input dir) so repeated
    * bench/verify invocations overwrite ONE directory instead of
    * accumulating fresh `createTempDirectory` trees, and deleted on JVM
    * exit. Concurrent runs over different SF dirs get distinct paths. */
  private val scratchRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Recursive delete of a scratch path: query bodies clear the inputs,
    * outputs and checkpoints a previous run left (a consuming merge
    * also needs a fresh destination), and [[scratchDir]] its whole tree
    * at JVM exit. */
  private def rmScratch(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  private def scratchDir(tag: String, dir: String): String = {
    val key = java.lang.Integer.toHexString(dir.hashCode)
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_${tag}_$key")
    if (scratchRegistered.add(p.toString))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        rmScratch(p.toString)))
    p.toString
  }

  /** Flagship query on /root/testdata/sf0.001: the reference's documented
    * end-to-end flow (SURVEY §7 minimum slice) — ingest FHIR bundles,
    * extract Observations, push a valueset, filter with in_valueset.
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val bundleJson = Seq(
      """{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Patient","id":"p1","gender":"female","birthDate":"1980-04-01"}},
        {"resource":{"resourceType":"Observation","id":"o1","status":"final",
          "code":{"coding":[{"system":"http://loinc.org","code":"8867-4","display":"Heart rate"}]},
          "subject":{"reference":"Patient/p1"},"valueQuantity":{"value":74.0,"unit":"beats/min"}}},
        {"resource":{"resourceType":"Observation","id":"o2","status":"final",
          "code":{"coding":[{"system":"http://loinc.org","code":"8480-6","display":"Systolic BP"}]},
          "subject":{"reference":"Patient/p1"},"valueQuantity":{"value":120.0,"unit":"mmHg"}}}]}""",
      """{"resourceType":"Bundle","type":"collection","entry":[
        {"resource":{"resourceType":"Patient","id":"p2","gender":"male"}},
        {"resource":{"resourceType":"Observation","id":"o3","status":"final",
          "code":{"coding":[{"system":"http://loinc.org","code":"8867-4"}]},
          "subject":{"reference":"Patient/p2"},"valueQuantity":{"value":61.0,"unit":"beats/min"}}}]}"""
    ).toDF("bundle_json")
    val observations = graft.fhir.Bundles.extractEntry(spark,
      graft.fhir.Bundles.fromJson(bundleJson, "bundle_json"), "Observation")
    observations.createOrReplaceTempView("observations")
    val valueSets = ValueSets.getEmpty(spark)
      .withValueSet("urn:graft:valueset:heart_rate", "1",
        Seq(("http://loinc.org", "8867-4")))
    val broadcastable = BroadcastableValueSets.newBuilder()
      .addReference("heart_rate", "urn:graft:valueset:heart_rate")
      .build(spark, valueSets, Hierarchies.getEmpty(spark))
    ValueSetUdfs.pushUdf(spark, broadcastable)
    spark.sql("""
      SELECT subject.patientId AS patient_id, valueQuantity.value AS heart_rate
      FROM observations WHERE in_valueset(code, 'heart_rate')""")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1-S4/P7: parquet scan with filter + nested-free projection; verifies
    // pushdown-friendly scan shape (PushedFilters reach the reader).
    "q01_scan_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          col("l_shipdate").cast("date").as("ship_date"))
    }),

    // P1: point lookup (AbstractConceptMaps.getConceptMap analog)
    "q02_point_lookup" -> ((s, dir) => {
      t(s, dir, "orders")
        .where(col("o_orderkey") === 42)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
    }),

    // P2: two-key pruned filter (getValues(uri, version) analog)
    "q03_two_key_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .where(col("source") === "src3" && col("lang") === "en")
        .select(col("doc_id"), col("n_chars"))
    }),

    // P5/E-isin: equivalence whitelist filter (ConceptMaps.broadcast analog)
    "q04_isin_whitelist" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_returnflag").isin("A", "R"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    // P3: version-map filter as broadcast semi-join against a literal dim
    "q05_version_map_semi" -> ((s, dir) => {
      import s.implicits._
      val wanted = Seq(("src1", "fr"), ("src2", "de"), ("src5", "zh"))
        .toDF("source", "lang")
      t(s, dir, "documents")
        .join(broadcast(wanted), Seq("source", "lang"), "left_semi")
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // A1: latest-version-per-url (string-compare max) analog
    "q06_latest_version" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderpriority")).as("latest_priority"),
          count(lit(1)).as("n_orders"))
    }),

    // J1/E4: disjoint-import anti-join (customers with no orders)
    "q07_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // J5: semi-join (in_valueset's relational shape)
    "q08_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").where(col("l_quantity") > 49)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // J2: equi-join chain + aggregation (revenue per nation)
    "q09_join_agg" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    }),

    // J3: multi-column equi-join (descendant-expansion join shape)
    "q10_multikey_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val dim = l.where(col("l_discount") > 0.09)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      l.join(dim, Seq("l_partkey", "l_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    // E2/J4: intersect (duplicate-membership check shape)
    "q11_intersect" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").select(col("l_orderkey").as("okey"))
      val b = t(s, dir, "orders").where(col("o_totalprice") > 200000)
        .select(col("o_orderkey").as("okey"))
      a.intersect(b)
    }),

    // E1/E3: union + distinct
    "q12_union_distinct" -> ((s, dir) => {
      val a = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      val b = t(s, dir, "customer").where(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey"))
      a.union(b).distinct()
    }),

    // O1-O4: total-order sort + limit (deterministic tiebreak)
    "q13_sort_limit" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
    }),

    // A-full: TPC-H Q1-style grouped aggregation (decimal-exact)
    "q14_group_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate").cast("date") <= lit("1998-09-02").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
          // the product sum carries scale 8; round to scale 4 (exact — the
          // inputs have only 2+2 decimal digits) BEFORE the double cast so
          // the unscaled value stays < 2^53 and decimal→double conversion
          // is bit-identical across engines at any SF
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("decimal(38,4)").cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // Window: per-group top-k (beyond-reference relational surface)
    "q15_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rk").cast("long").as("rk"))
    }),

    // G1: transitive closure (an executor-side ancestor walk over a
    // broadcast edge table; 8 slices of code ids)
    "q16_closure" -> ((s, dir) => {
      val edges = t(s, dir, "customer")
        .where(col("c_custkey") >= 1)
        .select((col("c_custkey") / 2).cast("long").as("parent"),
          col("c_custkey").cast("long").as("child"))
      TransitiveClosure.closureLong(s, edges, shufflePartitions = Some(8))
    }),

    // U1/U2: broadcast valueset membership via the in_valueset UDF surface
    "q17_in_valueset" -> ((s, dir) => {
      val valueSets = ValueSets.getEmpty(s)
        .withValueSet("urn:graft:valueset:latin_docs", "1", Seq(
          ("src0", "fr"), ("src1", "es"), ("src2", "fr"), ("src3", "es")))
      val b = BroadcastableValueSets.newBuilder()
        .addReference("latin_docs", "urn:graft:valueset:latin_docs")
        .build(s, valueSets, Hierarchies.getEmpty(s))
      ValueSetUdfs.pushUdf(s, b)
      t(s, dir, "documents").createOrReplaceTempView("documents_vs")
      s.sql("""SELECT doc_id, source, lang FROM documents_vs
               WHERE in_valueset_code(source, lang, 'latin_docs')""")
    }),

    // J5 via the Catalyst-VISIBLE membership form (q17's semantics, zero
    // UDF): the valueset lands in the plan as a literal map and the check
    // is exists()+array_contains — the optimizer can see through it, so
    // this is the 100×-scale default; hash-matches q17's oracle exactly.
    "q98_in_valueset_column" -> ((s, dir) => {
      val valueSets = ValueSets.getEmpty(s)
        .withValueSet("urn:graft:valueset:latin_docs", "1", Seq(
          ("src0", "fr"), ("src1", "es"), ("src2", "fr"), ("src3", "es")))
      val b = BroadcastableValueSets.newBuilder()
        .addReference("latin_docs", "urn:graft:valueset:latin_docs")
        .build(s, valueSets, Hierarchies.getEmpty(s))
      val codeable = struct(array(struct(
        col("source").as("system"), col("lang").as("code"))).as("coding"))
      t(s, dir, "documents")
        .where(ValueSetUdfs.inValueSetColumn(codeable, "latin_docs", b))
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // U3/P5: concept-map translation with equivalence whitelist
    "q18_translate" -> ((s, dir) => {
      val cm = BroadcastableConceptMap("urn:graft:map:event_categories", Seq(
        Mapping("urn:graft:map:event_categories", "1", null, null,
          "events", "click", "categories", "engagement", "equivalent"),
        Mapping("urn:graft:map:event_categories", "1", null, null,
          "events", "view", "categories", "engagement", "equivalent"),
        Mapping("urn:graft:map:event_categories", "1", null, null,
          "events", "purchase", "categories", "conversion", "equivalent"),
        Mapping("urn:graft:map:event_categories", "1", null, null,
          "events", "signup", "categories", "conversion", "equivalent"),
        // filtered out by the equivalence whitelist (P5): stays unmapped
        Mapping("urn:graft:map:event_categories", "1", null, null,
          "events", "error", "categories", "noise", "narrower")))
      ValueSetUdfs.registerTranslate(s, "translate_event", cm)
      t(s, dir, "events").createOrReplaceTempView("events_tr")
      s.sql("""
        SELECT category, count(*) AS n FROM (
          SELECT try_element_at(translate_event('events', event_type), 1).value
            AS category FROM events_tr)
        GROUP BY category""")
    }),

    // Streaming-shape batch analog: event-time bucketed aggregation
    "q19_event_buckets" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
    }),

    // Dedup (exact): content-hash groups (md5 matches DuckDB's md5)
    "q20_exact_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_dups"))
    }),

    // Text analysis: token/char/subword counts (whitespace + BPE-ish regex)
    "q21_text_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_txt"),
          TextAnalysis.subwordCount(col("text")).cast("long")
            .as("n_subwords"))
    }),

    // Text quality: stopword ratio (expression-only, oracle-checkable)
    "q22_stopword_ratio" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.stopwordRatio(col("text"),
            Seq("the", "a", "data", "value")).as("stop_ratio"))
    }),

    // Dedup (MinHash+LSH near-dup): the native banded-minhash pipeline in
    // portable-hash mode (md5-derived 60-bit minima — GraftHashImpl
    // portable mode), so DuckDB reproduces the signatures and the bucket
    // partition end-to-end and the driver gets a full rows+schema+hash
    // check; the xxhash64 production hash shares the same kernel structure
    // and is pinned by KernelDifferentialSpec
    "q23_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashCandidatePairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 8, portable = true)
    }),

    // Dedup (SimHash): 64-bit majority-vote signatures over portable
    // shingle hashes — same vote kernel as production, oracle-reproducible
    "q24_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Dedup.simhash64(col("text"), shingleSize = 2, portable = true)
            .as("sig"))
    }),

    // Dedup (n-gram Jaccard): EXACT prefix-filtered similarity join —
    // 100% recall by the PPJoin prefix lemma, so the all-pairs DuckDB
    // Jaccard oracle verifies it hash-exactly
    // 3-token shingles + t=0.5: unrelated docs share almost no 3-grams, so
    // the candidate set stays near the true-pair count even at scale
    "q25_jaccard_dups" -> ((s, dir) => {
      Dedup.jaccardNearDupsExact(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
    }),

    // Similarity: brute-force cosine top-k (queries = first 5 vectors);
    // oracle-checked — ranking matches DuckDB list_cosine_similarity
    "q26_ann_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // Similarity: LSH-bucketed ANN (scale path) in portable-signature mode
    // (quantized projections, md5-derived plane signs) — DuckDB rebuilds
    // the same buckets and re-ranks with exact cosine, full hash check
    "q27_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, k = 10, numPlanes = 6, portable = true)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // Similarity: IVF ANN (second scale path) — seeded-centroid variant:
    // cells anchored at the first 16 corpus vectors, integer-quantized
    // assignment, nprobe=4 probing, exact-cosine re-rank. The oracle
    // rebuilds the identical cell partition and probe sets, so the pruned
    // (not brute-force) result is verified hash-exactly; the k-means
    // variant shares this plan and has its recall pinned in OpsSpec
    "q38_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopKSeeded(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        e.where(col("vec_id") < 16), "vec_id", "embedding",
        k = 10, nprobe = 4)
        .select(col("query_id"), col("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // Multimodal plumbing: synthetic assets → batched feature extraction;
    // the id/kind/byte-count plumbing is oracle-checked (deterministic),
    // the fake decode feature vector is covered by OpsSpec
    "q28_multimodal_features" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(s,
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.extractFeatures(s, assets)
        .select(col("asset_id"), col("kind"), col("n_bytes"))
    }),

    // Perceptual image dedup, the ORACLE-VISIBLE split: the decode
    // kernel (BMP → luma → DCT → median pHash) is pinned by
    // MediaCodecsSpec (planted-pair recall, container independence,
    // brightness invariance — no SQL engine can DCT-decode a BMP), and
    // THIS query runs the full production relational tail
    // (nearDupsFromSignatures: two-cover 16-bit chunk-LSH banding →
    // capped bucket pair expansion → exact Hamming verify) over a
    // signature table DuckDB reconstructs bit-for-bit — planted
    // near-dups at exact Hamming k, so recall AND the k>maxHamming
    // rejections are hash-checked.
    "q107_image_phash_dedup" -> ((s, dir) => {
      val sigs = mediaSigs(t(s, dir, "documents").select(col("doc_id")),
        "img:", dupEvery = 10, maskShift = 0)
      Multimodal.nearDupsFromSignatures(sigs, maxHamming = 10)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
    }),

    // Perceptual audio dedup, same oracle-visible split as q107: the
    // WAV/fingerprint kernel is MediaCodecsSpec's (gain invariance,
    // planted re-recordings); this query drives the SAME shared
    // relational tail over a distinct signature family (different salt,
    // planting period 7, mask in bits 20+ — exercising non-low-chunk
    // band rescue) with full hash verification.
    "q108_audio_fingerprint_dedup" -> ((s, dir) => {
      val sigs = mediaSigs(t(s, dir, "documents").select(col("doc_id")),
        "aud:", dupEvery = 7, maskShift = 20)
      Multimodal.nearDupsFromSignatures(sigs, maxHamming = 8)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
    }),

    // Video scene-change detection, oracle-visible split: the PPM
    // stream-split + per-frame DCT pHash kernel is MediaCodecsSpec's
    // (exact planted cut positions); this query runs the production
    // tail (sceneChangesFromFrameHashes: per-asset window lag +
    // codegen'd bit_count, one shuffle by asset id) over a frame-hash
    // table built relationally — two id-seeded scenes per asset with
    // small per-frame jitter, cut planted at mid-clip.
    "q109_video_scene_detect" -> ((s, dir) => {
      val frames = t(s, dir, "documents").select(col("doc_id"))
        .select(col("doc_id").as("asset_id"),
          explode(sequence(lit(0), lit(7))).as("frame_idx"))
        .withColumn("scene", when(col("frame_idx") < 4, 0).otherwise(1))
        .withColumn("phash",
          portable60(concat(lit("scene:"), col("asset_id").cast("string"),
            lit(":"), col("scene").cast("string")))
            .bitwiseXOR(expr(
              "shiftleft(1L, cast(frame_idx % 3 as int)) - 1L")))
        .select("asset_id", "frame_idx", "phash")
      Multimodal.sceneChangesFromFrameHashes(frames, minHamming = 16)
        .select(col("asset_id"), col("frame_idx"),
          col("hamming").cast("int").as("hamming"))
    }),

    // Near-duplicate videos by temporal frame matching, oracle-visible
    // split: the decode kernel is MediaCodecsSpec's; this query runs
    // the production tail (videoNearDupsFromFrameHashes: banding KEYED
    // BY FRAME SLOT so only same-position frames collide, capped
    // buckets, exact per-slot Hamming verify, matched-frame threshold)
    // over relational frame hashes with planted whole-clip near-dups at
    // exact per-frame Hamming k.
    "q110_video_frame_dedup" -> ((s, dir) => {
      val dup = pmod(col("asset_id"), lit(10)) === 0 && col("asset_id") > 0
      val eff = when(dup, col("asset_id") - 1).otherwise(col("asset_id"))
      val mask = when(dup, expr("shiftleft(1L, " +
        "cast((asset_id div 10) % 14 as int)) - 1L")).otherwise(lit(0L))
      val frames = t(s, dir, "documents")
        .select(col("doc_id").as("asset_id"))
        .select(col("asset_id"),
          explode(sequence(lit(0), lit(7))).as("frame_idx"))
        .withColumn("phash",
          portable60(concat(lit("vidf:"), eff.cast("string"),
            lit(":"), col("frame_idx").cast("string"))).bitwiseXOR(mask))
        .select("asset_id", "frame_idx", "phash")
      Multimodal.videoNearDupsFromFrameHashes(frames,
        maxHamming = 10, minMatchedFrames = 6)
    }),

    // U6 under the oracle: the XML EXPORT path end-to-end. Synthetic
    // Patients ingest via JSON bundles (the "?" gender scrubs to null),
    // re-serialize per-resource with resourceToXml (JSON→spec-shaped
    // FHIR XML: value= attributes, element-per-field, arrays as
    // repeated elements), re-wrap into an XML bundle, and re-ingest
    // through the schema-guided StAX path. A defect in EITHER direction
    // of the XML converter breaks the relational oracle.
    "q114_fhir_xml_export_roundtrip" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val resource = to_json(struct(
        lit("Patient").as("resourceType"),
        concat(lit("p"), col("c_custkey")).as("id"),
        expr("CASE c_custkey % 3 WHEN 0 THEN 'male' " +
          "WHEN 1 THEN 'female' ELSE '?' END").as("gender"),
        concat((lit(1950) + col("c_custkey") % 50).cast("string"),
          lit("-06-15")).as("birthDate"),
        array(struct(col("c_name").as("family"),
          array(col("c_mktsegment")).as("given"))).as("name")),
        Map("ignoreNullFields" -> "true"))
      val bundles = c.select(resource.as("r"),
          expr("c_custkey div 20").as("bundle_key"))
        .groupBy(col("bundle_key"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("bundle_json"))
      val patients = graft.fhir.Bundles.extractEntry(s,
        graft.fhir.Bundles.fromJson(bundles, "bundle_json"), "Patient")
      val xml = graft.fhir.Bundles.resourceToXml(patients, "Patient")
        .select(concat(
          lit("""<Bundle xmlns="http://hl7.org/fhir">""" +
            """<type value="collection"/><entry><resource>"""),
          col("xml"),
          lit("</resource></entry></Bundle>")).as("bundle_xml"))
      graft.fhir.Bundles.extractEntry(s,
          graft.fhir.Bundles.fromXml(xml, "bundle_xml",
            graft.fhir.FhirSchemas.defaultRegistry, Seq("Patient")),
          "Patient")
        .select(col("id").as("patient_id"), col("gender"),
          col("birthDate").as("birth_date"),
          try_element_at(col("name"), lit(1)).getField("family")
            .as("family_name"),
          try_element_at(
            try_element_at(col("name"), lit(1)).getField("given"), lit(1))
            .as("given_name"))
    }),

    // The Avro backend under the oracle: decoded Patients write as Avro
    // container files (generic records against the compiled Avro schema,
    // one file per partition, executor-side) and read back through the
    // same codec into the compiled Spark schema; the relational oracle
    // breaks if the Avro schema compiler, the row→record→row codec, or
    // the container framing drops or mangles a field.
    "q115_fhir_avro_roundtrip" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val resource = to_json(struct(
        lit("Patient").as("resourceType"),
        concat(lit("p"), col("c_custkey")).as("id"),
        expr("CASE c_custkey % 3 WHEN 0 THEN 'male' " +
          "WHEN 1 THEN 'female' ELSE '?' END").as("gender"),
        concat((lit(1950) + col("c_custkey") % 50).cast("string"),
          lit("-06-15")).as("birthDate"),
        array(struct(col("c_name").as("family"),
          array(col("c_mktsegment")).as("given"))).as("name")),
        Map("ignoreNullFields" -> "true"))
      val bundles = c.select(resource.as("r"),
          expr("c_custkey div 20").as("bundle_key"))
        .groupBy(col("bundle_key"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("bundle_json"))
      val patients = graft.fhir.Bundles.extractEntry(s,
        graft.fhir.Bundles.fromJson(bundles, "bundle_json"), "Patient")
      val tmp = scratchDir("q115_avro", dir)
      val d = new java.io.File(tmp)
      d.mkdirs()
      Option(d.listFiles()).foreach(_.foreach(f => f.delete()))
      graft.fhir.FhirAvro.writeAvroFiles(patients, "Patient", tmp)
      graft.fhir.FhirAvro.readAvroFiles(s, "Patient", tmp)
        .select(col("id").as("patient_id"), col("gender"),
          col("birthDate").as("birth_date"),
          try_element_at(col("name"), lit(1)).getField("family")
            .as("family_name"),
          try_element_at(
            try_element_at(col("name"), lit(1)).getField("given"), lit(1))
            .as("given_name"))
    }),

    // Streaming incremental signature dedup against a persisted band
    // index, oracle-visible split: the pHash decode kernel is pinned by
    // MediaCodecsSpec/StreamsSpec (incrementalMediaDedupStream runs the
    // SAME foreachBatch core over real BMP payloads); this query streams
    // the q107 signature table in two micro-batches (even ids first,
    // then odd), each batch probing the persisted index on the bucket
    // key only — so exactly the cross-batch (even, odd) near-dup pairs
    // appear, which DuckDB recomputes as the parity-split band join.
    "q113_stream_media_dedup" -> ((s, dir) => {
      val sigs = mediaSigs(t(s, dir, "documents").select(col("doc_id")),
        "img:", dupEvery = 10, maskShift = 0)
      val root = scratchDir("q113_media", dir)
      val (in, idx, pairs, chk) = (s"$root/in", s"$root/index",
        s"$root/pairs", s"$root/chk")
      Seq(in, idx, pairs, chk).foreach(rmScratch)
      sigs.where(pmod(col("id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(in)
      sigs.where(pmod(col("id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(in)
      val stream = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("sig",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.incrementalSignatureDedupStream(
        stream, idx, pairs, chk, maxHamming = 10).awaitTermination()
      s.read.parquet(pairs)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("hamming"))
    }),

    // Domain-level corpus curation (C4/RefinedWeb-style): synthesize a
    // deterministic URL per document (the varying label sits at the
    // registrable position, with www. prefixes, ports, and co.uk-style
    // two-level suffixes so the parse is real), extract eTLD+1 with the
    // codegen'd regexp operators, drop documents whose domain appears in
    // a blocklist (broadcast LEFT ANTI — the 100 TB side never
    // shuffles), then aggregate the per-domain corpus report.
    "q111_domain_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("https://www."), col("source"), lit("x"),
          pmod(col("doc_id"), lit(97)),
          when(pmod(col("doc_id"), lit(4)) === 0, lit(".co.uk"))
            .otherwise(lit(".com")),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(":8080"))
            .otherwise(lit("")),
          lit("/p/"), col("doc_id")))
      val blocked = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(TextAnalysis.registrableDomain(
          TextAnalysis.urlHost(col("url"))).as("domain"))
      TextAnalysis.domainStats(
        TextAnalysis.blocklistFilter(docs, "url", blocked), "url")
    }),

    // Margin-based pair mining (CCMatrix/LASER family): even vec_ids are
    // the "source language", odd the "target"; forward top-4 candidates,
    // ratio margin over both sides' neighborhood means, threshold 1.2
    // (sits in a wide empty gap of the margin distribution at both gate
    // scales, so cross-engine float rounding cannot flip membership).
    // Margin values are floats, so only the mined (src, tgt) pairs are
    // emitted for the oracle hash.
    "q112_margin_mining" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.marginMining(
        e.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        e.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
        k = 4, threshold = 1.2)
        .select(col("src_id"), col("tgt_id"))
    }),

    // Structured Streaming: watermarked tumbling-window agg over the event
    // stream; on a static directory the complete-mode result equals the
    // batch bucketing, so the same oracle verifies the streaming path.
    "q29_stream_window" -> ((s, dir) => {
      s.catalog.dropTempView("q29_stream_out")
      val stream = graft.streaming.Streams.windowedEventAgg(
        graft.streaming.Streams.eventStream(s, dir))
      // state partitions sized to the window-key count (a few thousand) —
      // spill-aware sizing per the 100 TB design notes, not the session's
      // generic shuffle parallelism
      graft.streaming.Streams.runToMemory(s, stream, "q29_stream_out",
        outputMode = "complete", statePartitions = Some(8))
    }),

    // Rollup (hierarchical subtotals — free from Spark SQL, verified)
    "q30_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
    }),

    // Exact distinct aggregation
    "q31_count_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
    }),

    // Text quality metrics: punctuation/upper ratios + mean token length
    "q32_text_metrics" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.upperRatio(col("text")).as("upper_ratio"),
          TextAnalysis.meanTokenLength(col("text")).as("mean_token_len"))
    }),

    // Language ID: per-language stopword scores, argmax
    "q33_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.languageId(col("text")).as("lang_id"))
    }),

    // Embedding-cosine near-dup pairs via the BANDED LSH SCALE PATH
    // (multi-table hyperplane buckets, capped-bucket pair expansion, no
    // all-pairs product), verified candidate-by-candidate with the
    // quantized integer threshold test — bit-reproducible, so the
    // all-pairs DuckDB oracle checks it hash-exactly (precision is exact
    // by construction; recall = 1.0 at these table/bit settings, pinned
    // by OpsSpec against the exact kernel). The id cap only bounds the
    // ORACLE's all-pairs SQL — the Spark plan itself has no quadratic
    // stage.
    "q34_cosine_neardups" -> ((s, dir) => {
      // threshold 0.3: the synthetic embeddings are near-orthogonal (max
      // pairwise cosine ~0.47), so 0.8 would assert an empty result
      Similarity.cosineNearDupsBanded(
        t(s, dir, "embeddings").where(col("vec_id") < 300),
        "vec_id", "embedding", threshold = 0.3)
    }),

    // Dedup keeper selection: connected components over the q34 pairs via
    // distributed min-label propagation (cluster_id = component min id)
    "q35_neardup_clusters" -> ((s, dir) => {
      Dedup.nearDupClusters(Similarity.cosineNearDupsBanded(
        t(s, dir, "embeddings").where(col("vec_id") < 300),
        "vec_id", "embedding", threshold = 0.3),
        shufflePartitions = Some(8))
    }),

    // Gap-based sessionization: per-user session assignment (30-min gap)
    // rolled up to session stats — one user-keyed shuffle, window lag +
    // running sum
    "q37_sessionize" -> ((s, dir) => {
      graft.ops.Sessions.sessionStats(t(s, dir, "events"),
        "user_id", "ts", "event_id", gapSeconds = 1800)
        .select(col("user_id"), col("session_id"), col("n_events"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
            .as("start_s"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
            .as("end_s"))
    }),

    // Corpus scrubbing: email/URL redaction + redactable-span counts.
    // The fixture text contains no natural emails/urls, so deterministic
    // PII is appended per row — otherwise the oracle would only ever
    // verify the no-op path, not the replacements themselves.
    "q36_pii_redaction" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("seeded", concat(col("text"),
          lit(" reach user"), col("doc_id"),
          lit("@example.org via https://example.org/d/"), col("doc_id")))
        .select(col("doc_id"),
          TextAnalysis.piiCount(col("seeded")).cast("long").as("n_pii"),
          md5(TextAnalysis.redactPii(col("seeded"))).as("redacted_hash"))
    }),

    // Deterministic train/val/test split: salted portable hash of the row
    // id — stable under retries/re-partitioning/engines, no rand(), pure
    // map-side projection (zero shuffles)
    "q39_split" -> ((s, dir) => {
      Splits.assignSplit(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("split"))
    }),

    // Sequence packing (concat-and-chunk): two-phase distributed prefix
    // sum over token counts — no global-order single-reducer window — then
    // capacity-512 context-window assignment
    "q40_pack" -> ((s, dir) => {
      Packing.packChunks(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), capacity = 512, buckets = 16)
        .withColumnRenamed("id", "doc_id")
    }),

    // Incremental dedup: the steady-state 100 TB ingestion shape — a new
    // batch (doc_id >= 250) LSH-hashed and joined against the persisted
    // corpus band index (doc_id < 250); the corpus is never re-shingled.
    // Portable hash mode so the oracle rebuilds both sides bit-for-bit.
    "q41_incremental_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def buckets(d: DataFrame) = Dedup.minhashBandBuckets(d, "doc_id",
        "text", shingleSize = 2, numHashes = 16, bands = 8, portable = true)
      Dedup.incrementalMinhashCandidates(
        buckets(docs.where(col("doc_id") < 250)),
        buckets(docs.where(col("doc_id") >= 250)))
    }),

    // TF-IDF top terms per document: two map-side-combined shuffles plus
    // the bounded top-k aggregate; weights rounded to 4dp on BOTH sides so
    // last-ulp ln() differences between engines cannot surface
    "q42_tfidf" -> ((s, dir) => {
      TextAnalysis.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .select(col("doc_id"), col("term"),
          round(col("weight"), 4).as("weight"),
          col("rank").cast("long").as("rank"))
    }),

    // Streaming dedup: watermark-bounded first-occurrence state
    // (dropDuplicatesWithinWatermark); on the static directory the emitted
    // keys equal batch DISTINCT, which is the oracle
    "q43_stream_dedup" -> ((s, dir) => {
      s.catalog.dropTempView("q43_stream_out")
      val st = graft.streaming.Streams.dedupStream(
        graft.streaming.Streams.eventStream(s, dir),
        Seq("user_id", "event_type"), watermark = "30 days")
        .select(col("user_id"), col("event_type"))
      graft.streaming.Streams.runToMemory(s, st, "q43_stream_out",
        outputMode = "append", statePartitions = Some(8))
    }),

    // Quality-gate filter at an exact quantile threshold: distributed
    // percentile aggregate (the quality score takes few discrete values,
    // so the exact percentile's value-count buffer stays tiny; a
    // continuous metric would use approx_percentile at scale), threshold
    // broadcast back — no driver-side action in the plan
    "q44_quality_quantile" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val thr = docs.agg(expr("percentile(quality, 0.5)").as("thr"))
      // report at 4dp: Spark sums the weight terms in doubles, DuckDB's
      // numeric literals are DECIMAL (exact) — same ranking and row set,
      // last-ulp different repr (0.9000000000000001 vs 0.9)
      docs.crossJoin(broadcast(thr)).where(col("quality") >= col("thr"))
        .select(col("doc_id"), round(col("quality"), 4).as("quality"))
    }),

    // Benchmark decontamination: corpus docs sharing any 3-gram with the
    // (broadcast) benchmark set — docs 0-4 stand in for an eval set
    "q46_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramOverlap(docs.where(col("doc_id") >= 5), "doc_id", "text",
        docs.where(col("doc_id") < 5), "doc_id", "text", n = 3)
    }),

    // Full dedup pipeline composition: LSH candidates → connected-component
    // clusters → QUALITY-based keeper per cluster (max_by on
    // (quality, -id): best quality wins, ties keep the lowest id) — the
    // end-to-end shape a training pipeline actually runs; keeper selection
    // is a map-side-combinable aggregate, not a window over all members
    "q47_dedup_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 8, portable = true)
      val clusters = Dedup.nearDupClusters(pairs,
        shufflePartitions = Some(8))
      clusters
        .join(docs.select(col("doc_id").as("id"),
          TextAnalysis.qualityScore(col("text")).as("quality")), Seq("id"))
        .groupBy(col("cluster_id"))
        .agg(max_by(col("id"), struct(col("quality"), -col("id")))
          .as("keeper_id"),
          count(lit(1)).as("n_members"))
    }),

    // Repetition filters (Gopher-style): duplicate-token and top token /
    // bigram shares via map-side-combined explode+count aggregations — no
    // per-row O(tokens × distinct) interpreted lambda scans
    "q45_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("dup_token_ratio"), 4).as("dup_token_ratio"),
          round(col("top_token_ratio"), 4).as("top_token_ratio"),
          round(col("top_bigram_ratio"), 4).as("top_bigram_ratio"))
    }),

    // Mixture planning: per-source stats + capped sampling rates toward a
    // token budget under a uniform target mixture — one groupBy(source)
    // shuffle (one surviving row per source), totals attached via a
    // broadcast cross join of the already-tiny stats frame
    "q48_mixing_plan" -> ((s, dir) => {
      Mixing.samplingRates(t(s, dir, "documents"), "source",
        col("n_chars"), targetTokens = 2000000L, maxRate = 4.0)
    }),

    // SemDeDup-style semantic pruning over the full embeddings table:
    // seeded-cell assignment (quantized-integer argmax, same quantizer as
    // q38) confines the pair join to cells, then the exact integer
    // threshold test marks smaller-id-dominated rows as drops
    "q49_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semanticDedup(e, "vec_id", "embedding",
        e.where(col("vec_id") < 16), "vec_id", "embedding",
        threshold = 0.3)
    }),

    // Temperature-based target mixture (p^alpha multilingual sampling):
    // power/normalize math over the one-row-per-source stats frame; the
    // documents are scanned once
    "q50_temperature_mixing" -> ((s, dir) => {
      Mixing.temperatureRates(t(s, dir, "documents"), "source",
        col("n_chars"), targetTokens = 2000000L, alpha = 0.7)
    }),

    // Applying a mixture plan: rate >= 1 repeats documents as extra
    // epochs, the fractional part keeps a salted-hash subset — fully
    // deterministic (no rand()), broadcast rates, map-side epoch fan-out
    "q51_apply_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rates = Mixing.samplingRates(docs, "source", col("n_chars"),
        targetTokens = 2000000L, maxRate = 4.0)
      Mixing.applyMixture(
        docs.select(col("doc_id"), col("source")), "doc_id", "source",
        rates)
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // Leakage-safe split: near-dup clusters (portable minhash pairs →
    // connected components) hash as ONE unit, so no near-duplicate ever
    // straddles train/test
    "q52_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 8, portable = true)
      val clusters = Dedup.nearDupClusters(pairs,
        shufflePartitions = Some(8))
      Splits.leakageSafeSplit(docs.select(col("doc_id")), "doc_id",
        clusters)
    }),

    // Deterministic per-source quota (20 docs/source by hash order) via
    // the bounded top-k aggregate — no row_number window, no rand()
    "q53_quota_sample" -> ((s, dir) => {
      Splits.quotaSample(t(s, dir, "documents"), "doc_id", "source", n = 20)
    }),

    // Span-level repeated-substring coverage (exact-substring dedup
    // family): sliding 8-token windows fingerprinted with the portable
    // hash, corpus-repeated ones counted back per document
    "q54_repeated_spans" -> ((s, dir) => {
      Dedup.repeatedSpanCoverage(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 8, minDf = 2)
    }),

    // Prototypicality (SSL-prototypes pruning): cosine to the assigned
    // seeded-cell centroid, map-side only — integer quantized assignment
    // + fixed IEEE op sequence makes the rounded score engine-exact
    "q55_prototypicality" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.prototypicality(e, "vec_id", "embedding",
        e.where(col("vec_id") < 16), "vec_id", "embedding")
    }),

    // Per-source dataset-card report: volume, language spread, PII
    // incidence, DECIMAL-summed mean quality — one groupBy(source) pass
    "q56_corpus_report" -> ((s, dir) => {
      TextAnalysis.corpusReport(t(s, dir, "documents"), "text", "source",
        "lang")
    }),

    // As-of join: each click aligned to the user's most recent purchase
    // at-or-before it — single-sort merge shape, one shuffle on user,
    // verified against DuckDB's native ASOF JOIN
    "q57_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.ops.AsOf.asOfJoin(clicks, "user_id", "ts",
        purchases, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"),
          coalesce(date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("none")).as("asof_s"))
    }),

    // Range join via interval binning: clicks joined to the one-hour
    // window after every purchase (no key) — equi-join on bin + residual
    // BETWEEN, never a broadcast-nested-loop over the range predicate
    "q58_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hourUs = 3600L * 1000000L
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          unix_micros(col("ts")).as("pt"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("window_id"),
          unix_micros(col("ts")).as("ws"),
          (unix_micros(col("ts")) + hourUs).as("we"))
      // bin width chosen from the data (counts/span/mean length — the
      // q176 estimator family), not fixed: the width tracks the TRUE
      // mean interval length (widening when points are sparse), so
      // false candidates stay within ~1x of the join's real output at
      // any scale — a fixed width can be 60x off when interval lengths
      // differ from the guess. The result set is identical at any
      // width (exact residual filter).
      val w = graft.ops.RangeJoin.autoBinWidth(clicks, "pt",
        windows, "ws", "we", fallback = hourUs)
      graft.ops.RangeJoin.pointInInterval(clicks, "click_id", "pt",
        windows, "window_id", "ws", "we", binWidth = w)
        .select(col("point_id").as("click_id"),
          col("interval_id").as("window_id"))
    }),

    // Interval-overlap join: one-hour windows after purchases vs errors —
    // bin equi-join, each overlapping pair claimed by exactly one
    // responsibility bin (no dedupe shuffle)
    "q59_interval_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val hourUs = 3600L * 1000000L
      def win(kind: String, idAs: String) =
        ev.where(col("event_type") === kind)
          .select(col("event_id").as(idAs),
            unix_micros(col("ts")).as(s"${idAs}_s"),
            (unix_micros(col("ts")) + hourUs).as(s"${idAs}_e"))
      val w = graft.ops.RangeJoin.autoBinWidthIntervals(
        win("purchase", "pid"), "pid_s", "pid_e",
        win("error", "eid"), "eid_s", "eid_e", fallback = hourUs)
      graft.ops.RangeJoin.intervalOverlap(
        win("purchase", "pid"), "pid", "pid_s", "pid_e",
        win("error", "eid"), "eid", "eid_s", "eid_e",
        binWidth = w)
        .select(col("left_id").as("purchase_id"),
          col("right_id").as("error_id"))
    }),

    // The same range join as q58, but written as a RAW BETWEEN join and
    // planned by the RangeJoinRewrite optimizer rule (installed with the
    // session's GraftExtensions) — proving the injected Catalyst rule
    // produces the hash plan (and the same rows) for users who never
    // call the explicit operator
    "q60_range_join_rewrite" -> ((s, dir) => {
      import graft.plans.RangeJoinRewrite
      val hourUs = 3600L * 1000000L
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          unix_micros(col("ts")).as("pt"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("window_id"),
          unix_micros(col("ts")).as("ws"),
          (unix_micros(col("ts")) + hourUs).as("we"))
      // the rule's width conf is fed by the same data-driven chooser the
      // explicit operator uses (the rule itself must stay job-free: an
      // optimizer rule cannot run an estimation job mid-planning)
      s.conf.set(RangeJoinRewrite.BinWidthKey,
        graft.ops.RangeJoin.autoBinWidth(clicks, "pt", windows, "ws",
          "we", fallback = hourUs).toString)
      clicks.join(windows, col("pt") >= col("ws") && col("pt") <= col("we"))
        .select(col("click_id"), col("window_id"))
    }),

    // RAG-style sliding-window chunking (8-token windows, stride 4 →
    // 4-token overlap): pure map-side generate, zero shuffles
    "q61_chunk_text" -> ((s, dir) => {
      TextAnalysis.chunkText(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 8, strideTokens = 4)
    }),

    // Line-level boilerplate removal (CCNet/RefinedWeb): the synthetic
    // docs are single-line, so the query appends the footer lines a web
    // crawl would carry ("source: X", "lang: Y", an unsubscribe line) —
    // each repeated across many docs — and the operator strips exactly
    // those while the unique body lines survive
    "q62_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val multi = docs.select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat(lit("source: "), col("source")),
          concat(lit("lang: "), col("lang")),
          lit("unsubscribe from this newsletter")).as("text"))
      TextAnalysis.removeDuplicateLines(multi, "doc_id", "text",
        minCount = 5)
    }),

    // Corpus heavy hitters: top-20 word trigrams with occurrence and
    // document counts via the bounded top-k aggregate (O(k) partial
    // buffers), NOT a global sort-limit over the gram table
    "q63_frequent_ngrams" -> ((s, dir) => {
      TextAnalysis.frequentNgrams(t(s, dir, "documents"), "doc_id",
        "text", n = 3, k = 20)
    }),

    // Deterministic global shuffle: salted portable key + dense global
    // position via the two-phase distributed prefix count — no
    // single-reducer row_number window
    "q64_global_shuffle" -> ((s, dir) => {
      Splits.deterministicShuffle(t(s, dir, "documents"), "doc_id")
    }),

    // Z-order layout key: Morton code of (user_id, event time) quantized
    // to 8 bits each against their global ranges (one-row stats aggregate
    // attached by broadcast cross join) — the sort key behind
    // OPTIMIZE ZORDER BY, giving file-level min/max pruning on BOTH
    // columns after a range-partitioned write
    "q65_zorder_key" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tsu"))
      Layout.withZValue(ev, Seq("user_id", "tsu"), bits = 8)
        .select(col("event_id"), col("zval"))
    }),

    // Join-skew diagnosis: top-15 heaviest user_ids with share and
    // over-representation ratio — the table you read before deciding to
    // salt a 100 TB shuffle; bounded top-k aggregate, no global sort
    "q66_key_skew" -> ((s, dir) => {
      Profiling.keySkew(t(s, dir, "events"), "user_id", k = 15)
    }),

    // Stream-static enrichment: the event stream left-joins the customer
    // dimension (explicitly broadcast → stateless map-side hash join per
    // micro-batch, no state store); verified against the batch left join
    "q68_stream_enrich" -> ((s, dir) => {
      s.catalog.dropTempView("q68_stream_out")
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      val st = graft.streaming.Streams.enrichStream(
        graft.streaming.Streams.eventStream(s, dir), dim, Seq("user_id"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("segment"), lit("unknown")).as("segment"))
      graft.streaming.Streams.runToMemory(s, st, "q68_stream_out",
        outputMode = "append", statePartitions = Some(8))
    }),

    // Per-user inter-event gap stats (dwell-time cadence): exact-micros
    // gaps via one user-keyed lag window, exact interpolated percentiles
    "q81_event_gaps" -> ((s, dir) => {
      Sessions.interEventGaps(t(s, dir, "events"), "user_id", "ts",
        "event_id")
    }),

    // Per-source percentile rank of document length — the scale-free
    // group-relative feature (skew-robust alternative to q77's z-score);
    // one group-partitioned window
    "q80_group_percentile" -> ((s, dir) => {
      Profiling.groupPercentile(t(s, dir, "documents"), "source",
        "doc_id", "n_chars")
    }),

    // First-order Markov transition matrix of user event streams: lag
    // window per user (deterministic tie-break on event id), then a
    // tiny (from, to) count aggregation
    "q78_transition_matrix" -> ((s, dir) => {
      Sessions.transitionMatrix(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type")
    }),

    // Hashing-trick bag-of-words features (no fitted vocabulary): tokens
    // hash into 64 buckets via the portable hash; sparse (doc, bucket,
    // count) rows
    "q79_hashed_features" -> ((s, dir) => {
      TextAnalysis.hashedFeatures(t(s, dir, "documents"), "doc_id",
        "text", dims = 64)
    }),

    // Deterministic importance sampling: keep probability proportional
    // to the document's quality-ish weight (n_chars scaled), decided by
    // the salted portable hash — map-side, no rand(), no shuffle
    "q76_weighted_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Splits.weightedSample(docs, "doc_id",
        col("n_chars").cast("double") / 1000.0, scale = 0.5)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Per-source z-score of document length: exact two-moment sums →
    // engine-reproducible normalized feature; stats broadcast back
    "q77_group_zscore" -> ((s, dir) => {
      Profiling.groupZScore(t(s, dir, "documents"), "source", "doc_id",
        "n_chars")
    }),

    // Rolling trailing-hour mean of each user's event values (leakage-
    // free feature engineering): a user-partitioned RANGE frame over
    // exact micros, decimal-summed for engine-reproducible rounding
    "q75_rolling_mean" -> ((s, dir) => {
      Sessions.rollingUserMean(t(s, dir, "events"), "user_id", "ts",
        "event_id", "value", windowSeconds = 3600)
        .select(col("event_id"), col("user_id"), col("n_window"),
          col("rolling_mean"))
    }),

    // Period-over-period trend report keyed on a JSON property (the
    // codegen'd get_json_object path): one conditional-counter groupBy,
    // no per-period scans or joins
    "q74_trend_report" -> ((s, dir) => {
      Profiling.trendReport(t(s, dir, "events"),
        get_json_object(col("props"), "$.k").cast("int"),
        col("ts"), to_timestamp(lit("2024-01-24 00:00:00")))
    }),

    // Watermarked stream-stream interval join: per-user click→purchase
    // attribution within 1 hour; the relative time bound lets Spark
    // evict both join buffers at the watermark, so state is
    // window-bounded — verified against the batch interval join
    "q73_stream_interval_join" -> ((s, dir) => {
      s.catalog.dropTempView("q73_stream_out")
      val ev = graft.streaming.Streams.eventStream(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts"))
      val st = graft.streaming.Streams.intervalJoinStream(
        clicks, purchases, "user_id", windowSeconds = 3600,
        watermark = "365 days")
        .select(col("click_id"), col("purchase_id"))
      // 4 state stores: measured flat vs 8 at 10x data (state is
      // user-keyed and shallow); each store costs init+commit per batch
      graft.streaming.Streams.runToMemory(s, st, "q73_stream_out",
        outputMode = "append", statePartitions = Some(4))
    }),

    // Corpus snapshot diff: previous = ids <400, current = ids >=100
    // with every 50th document's text mutated — per-id added / removed /
    // changed / unchanged over one full-outer join carrying only md5s
    "q72_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prev = docs.where(col("doc_id") < 400)
      val cur = docs.where(col("doc_id") >= 100)
        .withColumn("text", when(col("doc_id") % 50 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Profiling.corpusDiff(prev, cur, "doc_id", "text")
    }),

    // Weekly cohort retention anchored on signup: cohort = period of the
    // user's first signup, activity = any event; the final aggregation
    // runs over (cohort, offset) pairs — cohorts x horizon rows, tiny
    "q71_cohort_retention" -> ((s, dir) => {
      Sessions.cohortRetention(t(s, dir, "events"), "user_id", "ts",
        "event_type", anchorType = "signup",
        periodSeconds = 7L * 24 * 3600)
    }),

    // Ordered conversion funnel view→click→purchase within 30 days:
    // greedy-earliest stage anchoring, every shuffle keyed on user_id so
    // the partitioning is reused down the whole stage chain
    "q70_funnel" -> ((s, dir) => {
      Sessions.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"),
        withinSeconds = Some(30L * 24 * 3600))
    }),

    // Per-document n-gram novelty: fraction of a doc's distinct trigrams
    // appearing in no other document — the inverse boilerplate signal;
    // two map-side-combined shuffles, text never crosses the wire twice
    "q69_ngram_novelty" -> ((s, dir) => {
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text",
        n = 3)
    }),

    // Incremental exact dedup: the first half of the corpus is the
    // persisted fingerprint index, the second half the new ingestion
    // batch — each batch row classified index_dup / batch_dup / new with
    // one join on content_hash + one batch-only window
    "q67_incremental_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val index = Dedup.exactFingerprints(
        docs.where(col("doc_id") < 250), "doc_id", "text")
      val batch = Dedup.exactFingerprints(
        docs.where(col("doc_id") >= 250), "doc_id", "text")
      Dedup.incrementalExactDedup(index, batch)
    }),

    // S1 (bundle DIRECTORY scan, per-file = per-bundle wholetext
    // semantics) under the oracle: bundles are materialized one-per-file
    // via a partitioned text write, then ingested through the real
    // directory path — loadFromDirectory's wholetext read + extractEntry.
    // One bundle per 100 customers keeps the file count SF-proportional
    // but small (150 files at sf0.1)
    "q90_fhir_dir_scan" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val resource = to_json(struct(
        lit("Patient").as("resourceType"),
        concat(lit("p"), col("c_custkey")).as("id"),
        expr("CASE c_custkey % 3 WHEN 0 THEN 'male' " +
          "WHEN 1 THEN 'female' ELSE '?' END").as("gender")))
      val bundles = c.select(resource.as("r"),
          expr("c_custkey div 100").as("bk"))
        .groupBy(col("bk"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("value"), col("bk"))
      val tmp = scratchDir("q90_bundles", dir)
      bundles.write.partitionBy("bk").mode("overwrite").text(tmp)
      graft.fhir.Bundles.extractEntry(s,
          graft.fhir.Bundles.fromJson(
            graft.fhir.Bundles.loadFromDirectory(s, s"$tmp/*")
              .drop("source_file"),
            "bundle_json", graft.fhir.FhirSchemas.defaultRegistry,
            Seq("Patient")), "Patient")
        .select(col("id").as("patient_id"), col("gender"))
    }),

    // Power-of-two length histogram: integer bit-length buckets (no
    // floating log), <=64 groups, one map-side-combined pass
    "q95_length_histogram" -> ((s, dir) => {
      Profiling.powerOfTwoHistogram(t(s, dir, "documents"), "n_chars")
    }),

    // Profile-COMPILED extraction (not the hand DSL): MedicationRequest
    // bundles built from orders, ingested through the us-core-
    // medicationrequest StructureDefinition compiled from the shipped
    // HL7 JSON pack (registryFor pins the profile by canonical url), and
    // flattened through the Dosage/Timing datatype chain — choice fields
    // (medicationCodeableConcept, asNeededBoolean), nested doseQuantity
    // decimal, subject patientId synthesis. The raw bundle frame goes to
    // extractEntry directly so the restricted one-resource envelope is
    // used (never fromJson first — q83 lesson).
    "q96_fhir_profile_medreq" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val resource = to_json(struct(
        lit("MedicationRequest").as("resourceType"),
        concat(lit("mr"), col("o_orderkey")).as("id"),
        expr("CASE o_orderstatus WHEN 'O' THEN 'active' " +
          "WHEN 'F' THEN 'completed' ELSE 'stopped' END").as("status"),
        lit("order").as("intent"),
        struct(concat(lit("Patient/p"), col("o_custkey")).as("reference"))
          .as("subject"),
        col("o_orderdate").cast("string").as("authoredOn"),
        struct(array(struct(
          lit("http://example.org/meds").as("system"),
          concat(lit("med-"), col("o_orderkey") % 97).as("code")))
          .as("coding")).as("medicationCodeableConcept"),
        array(struct(
          struct((col("o_orderkey") % 500).cast("decimal(12,4)")
            .as("value"), lit("mg").as("unit")).as("doseQuantity"),
          struct(struct((col("o_orderkey") % 4 + 1).cast("int")
            .as("frequency")).as("repeat")).as("timing"),
          (col("o_orderkey") % 2 === 0).as("asNeededBoolean")))
          .as("dosageInstruction")))
      val bundles = o.select(resource.as("r"),
          expr("o_orderkey div 100").as("bk"))
        .groupBy(col("bk"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("bundle_json"))
      val reg = graft.fhir.StructureDefinitions.shipped.registryFor(
        "http://hl7.org/fhir/us/core/StructureDefinition/us-core-medicationrequest")
      graft.fhir.Bundles.extractEntry(s, bundles, "MedicationRequest",
          Nil, reg)
        .select(col("id").as("med_id"), col("status"),
          col("authoredOn").as("authored_on"),
          col("subject.patientId").as("patient_id"),
          try_element_at(col("medicationCodeableConcept.coding"), lit(1))
            .getField("code").as("med_code"),
          try_element_at(col("dosageInstruction"), lit(1))
            .getField("doseQuantity").getField("value").cast("double")
            .as("dose_value"),
          try_element_at(col("dosageInstruction"), lit(1))
            .getField("timing").getField("repeat").getField("frequency")
            .as("freq"),
          try_element_at(col("dosageInstruction"), lit(1))
            .getField("asNeededBoolean").as("as_needed"))
    }),

    // Hierarchy persistence under the oracle: elements → the distributed
    // closure inside withHierarchyElements → partitioned `ancestors`
    // table write → getFromDatabase → flatten. DuckDB recomputes the
    // same transitive closure with a recursive CTE (q16's tree), so the
    // row only matches if the closure AND the table round trip are
    // value-preserving.
    "q106_hierarchy_tables" -> ((s, dir) => {
      import s.implicits._
      s.sql(s"DROP TABLE IF EXISTS graft_q106.${Hierarchies.AncestorsTable}")
      graft.terminology.CollectionKind.reclaimOrphanLocation(
        s, "graft_q106", Hierarchies.AncestorsTable)
      val elements = t(s, dir, "customer")
        .where(col("c_custkey") >= 1)
        .select(lit("urn:graft:tree").as("ancestorSystem"),
          expr("CAST(c_custkey div 2 AS STRING)").as("ancestorValue"),
          lit("urn:graft:tree").as("descendantSystem"),
          col("c_custkey").cast("string").as("descendantValue"))
        .as[HierarchicalElement]
      Hierarchies.getEmpty(s)
        .withHierarchyElements("urn:graft:hier:custtree", "1", elements)
        .writeToDatabase("graft_q106")
      Hierarchies.getFromDatabase(s, "graft_q106")
        .getAncestors("urn:graft:hier:custtree", "1").toDF()
        .select(col("ancestorValue").cast("long").as("ancestor"),
          col("descendantValue").cast("long").as("descendant"))
    }),

    // G2 under the oracle: the concept-map DELEGATION chain end-to-end —
    // map A translates click/view and declares group.unmapped
    // mode=other-map → map B (purchase/signup); the directory loader
    // discovers the dependency, topo-sorts, builds the chained broadcast
    // lookup, and the translate UDF falls through A to B. The oracle is
    // the flattened two-level CASE.
    "q104_translate_delegation" -> ((s, dir) => {
      val tmp = scratchDir("q104_cm", dir)
      new java.io.File(tmp).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "map_a.json"),
        """{"resourceType":"ConceptMap","url":"urn:graft:map:events_a",
          |"version":"1","status":"active",
          |"group":[{"source":"events","target":"categories",
          |"unmapped":{"mode":"other-map","url":"urn:graft:map:events_b"},
          |"element":[
          |{"code":"click","target":[{"code":"engagement","equivalence":"equivalent"}]},
          |{"code":"view","target":[{"code":"engagement","equivalence":"equivalent"}]}]}]}"""
          .stripMargin)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "map_b.json"),
        """{"resourceType":"ConceptMap","url":"urn:graft:map:events_b",
          |"version":"1","status":"active",
          |"group":[{"source":"events","target":"categories",
          |"element":[
          |{"code":"purchase","target":[{"code":"conversion","equivalence":"equivalent"}]},
          |{"code":"signup","target":[{"code":"conversion","equivalence":"equivalent"}]}]}]}"""
          .stripMargin)
      val cm = graft.fhir.TerminologyResources
        .broadcastConceptMapFromDirectory(s, tmp, "urn:graft:map:events_a")
      ValueSetUdfs.registerTranslate(s, "translate_q104", cm)
      t(s, dir, "events").createOrReplaceTempView("events_q104")
      s.sql("""SELECT try_element_at(translate_q104('events', event_type),
                 1).value AS category,
               count(*) AS n
               FROM events_q104 GROUP BY 1""")
    }),

    // S7 under the oracle: ValueSet DIRECTORY import, JSON and XML mixed
    // in one directory (regions 0-2 as JSON documents, 3-4 as XML through
    // the executor-side StAX XML→JSON path) — the reference's by-extension
    // dual-format reader (AbstractValueSets.java:427-448). Terminology
    // resources are dimension-scale by contract, so authoring the files
    // driver-side mirrors real usage; the IMPORT is the operator.
    "q103_terminology_dir_import" -> ((s, dir) => {
      val byRegion = t(s, dir, "nation")
        .select(col("n_regionkey"), col("n_nationkey"), col("n_name"))
        .collect()
        .groupBy(_.getInt(0))
        .view.mapValues(_.sortBy(_.getInt(1)).map(_.getString(2)).toSeq)
        .toMap
      val tmp = scratchDir("q103_vs", dir)
      new java.io.File(tmp).mkdirs()
      byRegion.foreach { case (r, names) =>
        val uri = s"urn:graft:vs:dir:r$r"
        if (r <= 2) {
          val concepts = names.map(n => s"""{"code":"$n"}""").mkString(",")
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(tmp, s"vs_r$r.json"),
            s"""{"resourceType":"ValueSet","url":"$uri","version":"1",
               |"name":"Region$r","status":"active","compose":{"include":[
               |{"system":"urn:graft:nations","version":"2024",
               |"concept":[$concepts]}]}}""".stripMargin)
        } else {
          val concepts = names.map(n =>
            s"""<concept><code value="$n"/></concept>""").mkString
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(tmp, s"vs_r$r.xml"),
            s"""<ValueSet xmlns="http://hl7.org/fhir">
               |<url value="$uri"/><version value="1"/>
               |<name value="Region$r"/><status value="active"/>
               |<compose><include>
               |<system value="urn:graft:nations"/><version value="2024"/>
               |$concepts
               |</include></compose></ValueSet>""".stripMargin)
        }
      }
      val vs = graft.fhir.TerminologyResources
        .withValueSetsFromDirectory(s, ValueSets.getEmpty(s), tmp)
      vs.getValues.toDF()
        .join(vs.valueSets.select(col("url").as("valueSetUri"),
          col("name")), Seq("valueSetUri"))
        .select(col("valueSetUri").as("value_set_uri"),
          col("system"), col("version").as("system_version"),
          col("value").as("code"), col("name").as("set_name"))
    }),

    // O1/O2 + the XML export under the oracle: canonical resource
    // EXPORT → re-import round trip. A ValueSets collection built from
    // nation is rebuilt into nested resource documents (regions 0-2 as
    // canonical JSON via valueSetAsJson, 3-4 as XML via valueSetAsXml),
    // the documents re-imported through the directory reader, and the
    // values flattened — the hash only matches if the canonical renest,
    // the XML serializer, and both import paths are value-preserving.
    "q105_terminology_export_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val meta = t(s, dir, "region").select(
        concat(lit("urn:graft:vs:exp:r"), col("r_regionkey")).as("url"),
        lit("1").as("version"),
        col("r_name").as("name"), lit("active").as("status"),
        lit(false).as("experimental"), lit("graft").as("publisher"),
        lit("2024-01-01").as("date"))
      val values = t(s, dir, "nation").select(
        concat(lit("urn:graft:vs:exp:r"), col("n_regionkey"))
          .as("valueSetUri"),
        lit("1").as("valueSetVersion"),
        lit("urn:graft:nations").as("system"),
        lit("2024").as("version"),
        col("n_name").as("value")).as[Value]
      val vs = ValueSets.getEmpty(s).withValueSets(meta, values)
      val tmp = scratchDir("q105_vs", dir)
      val tmpDir = new java.io.File(tmp)
      tmpDir.mkdirs()
      Option(tmpDir.listFiles()).foreach(_.foreach(f => f.delete()))
      (0 to 4).foreach { r =>
        val uri = s"urn:graft:vs:exp:r$r"
        // absent (uri, version) → None (empty-input run): nothing to write
        val doc =
          if (r <= 2)
            graft.fhir.TerminologyResources.valueSetAsJson(vs, uri, "1")
          else graft.fhir.TerminologyResources.valueSetAsXml(vs, uri, "1")
        doc.foreach(d => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(tmp,
            s"vs_r$r." + (if (r <= 2) "json" else "xml")), d))
      }
      val back = graft.fhir.TerminologyResources
        .withValueSetsFromDirectory(s, ValueSets.getEmpty(s), tmp)
      back.getValues.toDF()
        .select(col("valueSetUri").as("value_set_uri"), col("system"),
          col("version").as("system_version"), col("value").as("code"))
    }),

    // S10/S11/S12 under the oracle: the terminology PERSISTENCE round
    // trip — a ValueSets collection built from nation/region, written
    // through the partitioned table sink (values partitioned by
    // (uri, version), timestamp-stamped metadata), loaded back through
    // getFromDatabase, and the values JOINED to the reloaded metadata.
    // Append-only semantics refuse same-(url,version) re-writes, so the
    // scratch database resets first (orphan locations reclaimed).
    "q102_terminology_tables" -> ((s, dir) => {
      import s.implicits._
      Seq(ValueSets.ValuesTable, ValueSets.ValueSetsTable).foreach { tb =>
        s.sql(s"DROP TABLE IF EXISTS graft_q102.$tb")
        graft.terminology.CollectionKind.reclaimOrphanLocation(
          s, "graft_q102", tb)
      }
      val meta = t(s, dir, "region").select(
        concat(lit("urn:graft:vs:region"), col("r_regionkey")).as("url"),
        lit("1").as("version"),
        col("r_name").as("name"), lit("active").as("status"),
        lit(false).as("experimental"), lit("graft").as("publisher"),
        lit("2024-01-01").as("date"))
      val values = t(s, dir, "nation").select(
        concat(lit("urn:graft:vs:region"), col("n_regionkey"))
          .as("valueSetUri"),
        lit("1").as("valueSetVersion"),
        lit("urn:graft:nations").as("system"),
        lit("2024").as("version"),
        col("n_name").as("value")).as[Value]
      ValueSets.getEmpty(s).withValueSets(meta, values)
        .writeToDatabase("graft_q102")
      val loaded = ValueSets.getFromDatabase(s, "graft_q102")
      loaded.getValues.toDF()
        .join(loaded.valueSets.select(col("url").as("valueSetUri"),
          col("version").as("valueSetVersion"), col("name"),
          col("status")), Seq("valueSetUri", "valueSetVersion"))
        .select(col("valueSetUri").as("value_set_uri"),
          col("system"), col("value").as("code"),
          col("name").as("set_name"), col("status"))
    }),

    // S6 under the oracle: the save-bundles-as-database sink — bundles →
    // saveAsDatabase (one managed parquet table per resource type) → read
    // the TABLE back through the catalog and flatten. The oracle
    // recomputes the scalars relationally, so the row must survive the
    // extract → table write → catalog read round trip byte-for-byte.
    "q99_fhir_save_database" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val resource = to_json(struct(
        lit("Patient").as("resourceType"),
        concat(lit("p"), col("c_custkey")).as("id"),
        expr("CASE c_custkey % 3 WHEN 0 THEN 'male' " +
          "WHEN 1 THEN 'female' ELSE '?' END").as("gender"),
        (col("c_custkey") % 2 === 0).as("active")))
      val bundles = c.select(resource.as("r"),
          expr("c_custkey div 50").as("bk"))
        .groupBy(col("bk"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("bundle_json"))
      graft.fhir.Bundles.saveAsDatabase(s, bundles, "graft_q99",
        Seq("Patient"))
      s.table("graft_q99.patient")
        .select(col("id").as("patient_id"), col("gender"), col("active"))
    }),

    // S8 under the oracle: LOINC multiaxial hierarchy CSV reader — a
    // synthetic multiaxial file written FROM the part table (roots get an
    // empty IMMEDIATE_PARENT, which the reader must drop), read back
    // through the real header-CSV path.
    "q100_loinc_csv_reader" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val csv = p.select(
        when(col("p_partkey") < 10, lit(""))
          .otherwise(concat(lit("LP"), expr("p_partkey div 10")))
          .as("IMMEDIATE_PARENT"),
        concat(lit("LP"), col("p_partkey")).as("CODE"))
      val tmp = scratchDir("q100_loinc", dir)
      csv.coalesce(2).write.mode("overwrite").option("header", "true")
        .csv(tmp)
      Loinc.readMultiaxialHierarchyFile(s, tmp).toDF()
        .select(col("ancestorSystem").as("ancestor_system"),
          col("ancestorValue").as("ancestor_value"),
          col("descendantSystem").as("descendant_system"),
          col("descendantValue").as("descendant_value"))
    }),

    // S9 under the oracle: SNOMED RF2 relationship reader — a synthetic
    // tab-delimited relationship file from part (non-is-a typeIds and
    // inactive rows must be filtered out), read through the real path.
    "q101_snomed_rf2_reader" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val tsv = p.select(
        col("p_partkey").cast("string").as("sourceId"),
        expr("p_partkey div 7").cast("string").as("destinationId"),
        when(col("p_partkey") % 3 === 0, lit("116680003"))
          .otherwise(lit("363698007")).as("typeId"),
        when(col("p_partkey") % 2 === 0, lit("1")).otherwise(lit("0"))
          .as("active"))
      val tmp = scratchDir("q101_snomed", dir)
      tsv.coalesce(2).write.mode("overwrite").option("header", "true")
        .option("delimiter", "\t").csv(tmp)
      Snomed.readRelationshipFile(s, tmp).toDF()
        .select(col("ancestorSystem").as("ancestor_system"),
          col("ancestorValue").as("ancestor_value"),
          col("descendantSystem").as("descendant_system"),
          col("descendantValue").as("descendant_value"))
    }),

    // Contained resources under the oracle (S5 + the toJson contained
    // fixup, reference BundlesTest.java:81-278): MedicationRequest
    // bundles carrying a contained Medication, extracted with
    // containedTypes, serialized BACK to spec-shaped JSON (the one-field-
    // per-type contained structs reshape to inline resourceType form via
    // fixupContained), re-ingested, and flattened — the hash only
    // matches if both ingest AND decode preserve the contained chain.
    "q97_fhir_contained_roundtrip" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val resource = to_json(struct(
        lit("MedicationRequest").as("resourceType"),
        concat(lit("mr"), col("o_orderkey")).as("id"),
        expr("CASE o_orderstatus WHEN 'O' THEN 'active' " +
          "WHEN 'F' THEN 'completed' ELSE 'stopped' END").as("status"),
        lit("order").as("intent"),
        struct(concat(lit("Patient/p"), col("o_custkey")).as("reference"))
          .as("subject"),
        array(struct(
          lit("Medication").as("resourceType"),
          concat(lit("m"), col("o_orderkey") % 97).as("id"),
          struct(array(struct(
            lit("http://example.org/meds").as("system"),
            concat(lit("med-"), col("o_orderkey") % 97).as("code")))
            .as("coding")).as("code"),
          lit("active").as("status"))).as("contained"),
        struct(concat(lit("#m"), col("o_orderkey") % 97).as("reference"))
          .as("medicationReference")))
      val bundles = o.select(resource.as("r"),
          expr("o_orderkey div 100").as("bk"))
        .groupBy(col("bk"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("bundle_json"))
      val extracted = graft.fhir.Bundles.extractEntry(s, bundles,
        "MedicationRequest", Seq("Medication"))
      // decode (contained structs → inline resourceType form) → re-ingest
      val reBundled = graft.fhir.Bundles
        .toJson(extracted, "MedicationRequest")
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":[{"resource":"""),
          col("json"), lit("}]}")).as("bundle_json"))
      graft.fhir.Bundles.extractEntry(s, reBundled,
          "MedicationRequest", Seq("Medication"))
        .select(col("id").as("med_id"), col("status"),
          col("subject.patientId").as("patient_id"),
          col("medicationReference.reference").as("med_ref"),
          try_element_at(col("contained"), lit(1))
            .getField("medication").getField("id").as("con_id"),
          try_element_at(try_element_at(col("contained"), lit(1))
            .getField("medication").getField("code").getField("coding"),
            lit(1)).getField("code").as("con_code"),
          try_element_at(col("contained"), lit(1))
            .getField("medication").getField("status").as("con_status"))
    }),

    // Held-out LM scoring (the actual CCNet shape): train the bigram
    // model on the first half of the corpus, score the second half —
    // bigrams/contexts the model never saw hit the smoothed floor via
    // left joins, so unseen text scores low instead of dropping
    "q94_heldout_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = TextAnalysis.trainBigramLm(
        docs.where(col("doc_id") < 250), "text")
      TextAnalysis.scoreWithBigramLm(model,
        docs.where(col("doc_id") >= 250), "doc_id", "text")
    }),

    // Curriculum ordering: sorted across exact-quantile quality bands,
    // hash-shuffled within each band; global position via the two-phase
    // prefix count blocked on (band, key-block) — no global window
    "q93_curriculum_order" -> ((s, dir) => {
      Splits.curriculumOrder(t(s, dir, "documents"), "doc_id", "n_chars",
        bands = 4)
    }),

    // Bloom-prefiltered selective join: urgent orders keep ~20% of keys,
    // the fact scan discards non-matching lineitems BEFORE the join
    // shuffle via a literal Bloom membership test; false positives die in
    // the exact join, so the oracle is the plain SQL join
    "q92_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.bloomPrefilteredJoin(li, "l_orderkey", urgent, "o_orderkey",
          expectedItems = 100000L)
        .select(col("l_orderkey"), col("o_custkey"),
          col("l_quantity").cast("double").as("quantity"))
    }),

    // Streaming FHIR ingestion under the oracle: the same synthetic
    // bundles written as text lines, read back through the STREAMING
    // bundle path (readStream.text → restricted-envelope from_json →
    // extractEntry → memory sink) — append-mode stateless, so the
    // materialized stream equals the batch extraction the oracle
    // recomputes relationally
    "q91_stream_fhir_ingest" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val resource = to_json(struct(
        lit("Patient").as("resourceType"),
        concat(lit("p"), col("c_custkey")).as("id"),
        expr("CASE c_custkey % 3 WHEN 0 THEN 'male' " +
          "WHEN 1 THEN 'female' ELSE '?' END").as("gender")))
      val bundles = c.select(resource.as("r"),
          expr("c_custkey div 100").as("bk"))
        .groupBy(col("bk"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("value"))
      val tmp = scratchDir("q91_bundles", dir)
      bundles.coalesce(4).write.mode("overwrite").text(tmp)
      s.catalog.dropTempView("q91_stream_out")
      val stream = graft.streaming.Streams.bundleStream(s, tmp, "Patient")
        .select(col("id").as("patient_id"), col("gender"))
      graft.streaming.Streams.runToMemory(s, stream, "q91_stream_out")
    }),

    // Small-file compaction planner: documents stand in for a file
    // listing (doc_id = listing ordinal, n_chars = file bytes); group
    // assignment is the q40 distributed prefix-sum kernel — this row
    // gives the planner its own hard-correctness signal vs a window
    // cumsum oracle
    "q89_compaction_plan" -> ((s, dir) => {
      Layout.compactionGroups(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), targetBytes = 64 * 1024)
    }),

    // Cross-source n-gram overlap matrix: gram-keyed self-join whose
    // fan-out is bounded by source count; jaccard emitted as the raw
    // IEEE quotient of exact counts (no rounding step to diverge on)
    "q87_source_overlap" -> ((s, dir) => {
      TextAnalysis.sourceOverlap(t(s, dir, "documents"), "source", "text",
        n = 3)
    }),

    // Per-group winsorization: exact interpolated percentiles in one
    // groupBy, bounds broadcast back; no window, no self-join
    "q88_winsorize" -> ((s, dir) => {
      Profiling.winsorize(t(s, dir, "documents"), "source", "doc_id",
        "n_chars", lo = 0.05, hi = 0.95)
    }),

    // Half-life-decayed user activity: one map-side-combined
    // groupBy(user) with bucketed power-of-two decay — every arithmetic
    // step exact/correctly-rounded, so external engines agree bit-for-bit
    "q86_decayed_activity" -> ((s, dir) => {
      Sessions.decayedUserActivity(t(s, dir, "events"), "user_id", "ts",
        "value", asOf = "2024-03-01 00:00:00",
        halfLifeSeconds = 7L * 24 * 3600)
    }),

    // Self-trained bigram-LM quality scoring (CCNet/perplexity-filter
    // family): corpus bigram + context counts as shuffle-keyed tables
    // (vocabulary never broadcast, never collected), per-document mean
    // smoothed log-prob with order-independent decimal term summation
    "q85_bigram_lm_quality" -> ((s, dir) => {
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
    }),

    // FHIR ingestion under the DuckDB oracle (S2→S4, U7, extension
    // hoisting): customers become synthetic Patient resources, batched
    // 10-per-bundle, ingested through the REAL path — to_json →
    // Bundles.fromJson (compiled envelope schema) → extractEntry — then
    // flattened back to scalars the oracle recomputes directly from the
    // parquet. Any converter defect (schema drift, lost "?"-scrub,
    // missed extension hoist, array mangling) breaks the hash match.
    // Scale shape: one map-side-combined groupBy on the bundle key;
    // parse + extract are pure codegen'd projections.
    "q82_fhir_patient_bundles" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val resource = to_json(struct(
        lit("Patient").as("resourceType"),
        concat(lit("p"), col("c_custkey")).as("id"),
        expr("CASE c_custkey % 3 WHEN 0 THEN 'male' " +
          "WHEN 1 THEN 'female' ELSE '?' END").as("gender"),
        concat((lit(1950) + col("c_custkey") % 50).cast("string"),
          lit("-06-15")).as("birthDate"),
        (col("c_custkey") % 2 === 0).as("active"),
        array(struct(col("c_name").as("family"),
          array(col("c_mktsegment")).as("given"))).as("name"),
        array(struct(
          lit(graft.fhir.FhirSchemas.BirthSexExtensionUrl).as("url"),
          expr("CASE c_custkey % 3 WHEN 0 THEN 'M' " +
            "WHEN 1 THEN 'F' ELSE '?' END").as("valueCode")))
          .as("extension")))
      val bundles = c.select(resource.as("r"),
          expr("c_custkey div 10").as("bundle_key"))
        .groupBy(col("bundle_key"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("bundle_json"))
      graft.fhir.Bundles.extractEntry(s, bundles, "Patient")
        .select(col("id").as("patient_id"),
          col("gender"),
          col("birthDate").as("birth_date"),
          col("active"),
          try_element_at(col("name"), lit(1)).getField("family")
            .as("family_name"),
          try_element_at(
            try_element_at(col("name"), lit(1)).getField("given"), lit(1))
            .as("given_name"),
          col("birthSex").as("birth_sex"))
    }),

    // FHIR decode/re-ingest round trip under the oracle (S4 + U5 + the
    // synthetic reference ids): orders → Observation bundles → extract →
    // toJson (spec-shaped decode) → re-wrap → extract AGAIN → flat
    // scalars. Exercises the decimal(12,4) Quantity path, the value[x]
    // choice flattening, and subject.patientId synthesis; the oracle
    // never sees FHIR — it recomputes the scalars from orders.parquet.
    "q83_fhir_obs_roundtrip" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val resource = to_json(struct(
        lit("Observation").as("resourceType"),
        concat(lit("o"), col("o_orderkey")).as("id"),
        expr("CASE o_orderstatus WHEN 'F' THEN 'final' " +
          "WHEN 'O' THEN 'preliminary' ELSE 'amended' END").as("status"),
        struct(concat(lit("Patient/p"), col("o_custkey")).as("reference"))
          .as("subject"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss")
          .as("effectiveDateTime"),
        struct(col("o_totalprice").cast("decimal(12,4)").as("value"),
          lit("USD").as("unit")).as("valueQuantity")),
        Map("ignoreNullFields" -> "true"))
      val bundles = o.select(resource.as("r"),
          expr("o_orderkey div 20").as("bundle_key"))
        .groupBy(col("bundle_key"))
        .agg(collect_list(col("r")).as("rs"))
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":["""),
          array_join(transform(col("rs"),
            r => concat(lit("""{"resource":"""), r, lit("}"))), ","),
          lit("]}")).as("bundle_json"))
      val first = graft.fhir.Bundles.extractEntry(s, bundles, "Observation")
      val rewrapped = graft.fhir.Bundles.toJson(first, "Observation")
        .select(concat(
          lit("""{"resourceType":"Bundle","type":"collection","entry":[{"resource":"""),
          col("json"), lit("}]}")).as("bundle_json"))
      graft.fhir.Bundles.extractEntry(s, rewrapped, "Observation")
        .select(col("id").as("obs_id"),
          col("subject").getField("patientId").as("patient_id"),
          col("subject").getField("reference").as("subject_ref"),
          col("status"),
          // the decimal(12,4) Quantity path is exercised internally
          // (parse → decimal → serialize → reparse); the compare column
          // is double per the repo's oracle-portability convention
          col("valueQuantity").getField("value").cast("double")
            .as("value_qty"),
          col("effectiveDateTime").as("effective_ts"))
    }),

    // FHIR XML ingestion under the oracle (S3): the same synthetic
    // Patients serialized as spec-shaped FHIR XML (`value=` attributes,
    // element-per-field), converted executor-side by the schema-guided
    // StAX path (FhirXml), then the identical from_json pipeline. The
    // oracle recomputes the scalars relationally, so a conversion defect
    // anywhere in XML→JSON→struct breaks the hash.
    "q84_fhir_xml_ingest" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val xml = concat(
        lit("""<Bundle xmlns="http://hl7.org/fhir"><type value="collection"/>"""),
        lit("<entry><resource><Patient>"),
        lit("""<id value="p"""), col("c_custkey"), lit("\"/>"),
        lit("""<gender value=""""),
        expr("CASE c_custkey % 3 WHEN 0 THEN 'male' " +
          "WHEN 1 THEN 'female' ELSE '?' END"), lit("\"/>"),
        lit("""<birthDate value=""""),
        (lit(1950) + col("c_custkey") % 50).cast("string"),
        lit("-06-15\"/>"),
        lit("""<name><family value=""""), col("c_name"),
        lit("\"/><given value=\""), col("c_mktsegment"),
        lit("\"/></name>"),
        lit("</Patient></resource></entry></Bundle>"))
      graft.fhir.Bundles.extractEntry(s,
          graft.fhir.Bundles.fromXml(c.select(xml.as("bundle_xml")),
            "bundle_xml", graft.fhir.FhirSchemas.defaultRegistry,
            Seq("Patient")), "Patient")
        .select(col("id").as("patient_id"),
          col("gender"),
          col("birthDate").as("birth_date"),
          try_element_at(col("name"), lit(1)).getField("family")
            .as("family_name"),
          try_element_at(
            try_element_at(col("name"), lit(1)).getField("given"), lit(1))
            .as("given_name"))
    }),

    // Topological layering: longest-path depth per node over the
    // customer hierarchy DAG — max-propagation fixpoint, one keyed join
    // + groupBy-max per round, lineage truncated per round; the oracle
    // recomputes via recursive path enumeration
    "q156_dag_depth" -> ((s, dir) => {
      val edges = t(s, dir, "customer")
        .where(col("c_custkey") >= 2)
        .select((col("c_custkey") / 2).cast("long").as("parent"),
          col("c_custkey").cast("long").as("child"))
      graft.ops.Graphs.dagDepth(s, edges)
    }),

    // Hapax-legomena profile per source: vocabulary size, tokens seen
    // exactly once, and the hapax share of the vocabulary in exact ppm
    // — the corpus-health stat beside q146's Zipf slope (synthetic or
    // template text collapses the hapax tail long before the slope
    // moves); two map-side-combined groupBys, all integers
    "q169_hapax_profile" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("source"), explode(Dedup.tokens(col("text")))
          .as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("source"))
        .agg(count(lit(1)).as("n_vocab"), sum(col("tf")).as("n_tokens"),
          sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_vocab"), col("n_tokens"),
          col("n_hapax"),
          expr("(n_hapax * 1000000L) div n_vocab").as("hapax_ppm"))
    }),

    // Burstiness (Fano factor) of hourly event arrivals per type:
    // variance-to-mean of per-hour counts over the type's observed
    // hours, exact integer arithmetic scaled 1e6 — the overdispersion
    // detector (1e6 = Poisson-like, >> bursty, << metronomic)
    "q170_burstiness" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("c"))
      hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("n_events"),
          sum(col("c") * col("c")).as("sc2"))
        .select(col("event_type"), col("n_hours"), col("n_events"),
          expr("((n_hours * sc2 - n_events * n_events) * 1000000L) " +
            "div (n_hours * n_events)").as("fano_e6"))
    }),

    // Weighted (multiset) Jaccard verify over a deterministic probe
    // pair set: repetition-aware similarity in exact ppm — the verify
    // kernel that plugs behind any candidate generator (LSH/SNM/edit)
    "q168_weighted_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val probes = d.where(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
        .join(d.select(col("doc_id").as("id_b")), Seq("id_b"),
          "left_semi")
      Dedup.weightedJaccardPairs(d, "doc_id", "text", probes)
    }),

    // Inclusion-dependency discovery (FK mining): candidate value
    // containments across the schema at the distinct level, including
    // ones that should FAIL — the dependency-mining sibling of q163
    "q166_ind_discovery" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      Profiling.inclusionDependency(li, "l_orderkey", ord, "o_orderkey",
          "lineitem.l_orderkey<=orders.o_orderkey")
        .unionAll(Profiling.inclusionDependency(ord, "o_custkey",
          t(s, dir, "customer"), "c_custkey",
          "orders.o_custkey<=customer.c_custkey"))
        .unionAll(Profiling.inclusionDependency(li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey",
          "lineitem.l_suppkey<=supplier.s_suppkey"))
        .unionAll(Profiling.inclusionDependency(
          t(s, dir, "customer"), "c_custkey", ord, "o_custkey",
          "customer.c_custkey<=orders.o_custkey"))
        .unionAll(Profiling.inclusionDependency(li, "l_partkey",
          t(s, dir, "supplier"), "s_suppkey",
          "lineitem.l_partkey<=supplier.s_suppkey"))
    }),

    // Degree assortativity of the co-purchase graph: Pearson r of
    // endpoint degrees, all five sums exact bigints->decimal in one
    // aggregate, fixed IEEE tail — the one-scalar graph-shape probe
    "q167_degree_assortativity" -> ((s, dir) => {
      graft.ops.Graphs.degreeAssortativity(
        sharedGraphPrep(s, dir, "co_purchase"))
    }),

    // Quantile transform: every document's length mapped to its exact
    // within-source percentile rank (ppm) — vocab-sized window over
    // DISTINCT values per group + one join back; never a row window
    "q164_quantile_transform" -> ((s, dir) => {
      Profiling.quantileTransform(t(s, dir, "documents"), "source",
        "doc_id", "n_chars")
    }),

    // Leave-one-out target encoding of event_type by value: integral
    // 1e-4-unit arithmetic end to end (no float accumulation order);
    // single-row categories encode NULL
    "q165_target_encoding" -> ((s, dir) => {
      Profiling.targetEncodeLoo(t(s, dir, "events"), "event_type",
        "event_id", "value")
    }),

    // Functional-dependency discovery (contract mining): which columns
    // determine which, over the order-line star join — one shared
    // unpivot scan, two map-side-combined groupBys; the dependency-
    // mining sibling of q132's declared-FK audit
    "q163_fd_discovery" -> ((s, dir) => {
      val j = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
      Profiling.functionalDependencies(j, Seq(
        ("l_orderkey", "o_custkey"), ("o_orderkey", "o_orderstatus"),
        ("l_orderkey", "l_linenumber"), ("l_partkey", "l_returnflag"),
        ("o_custkey", "o_orderpriority")))
    }),

    // Streaming AS-OF dimension lookup: purchases enriched with the
    // account status (signup/error SCD2 intervals) valid at each
    // event's time — a STATELESS stream-static interval join (broadcast
    // dim, no state store); q57's as-of semantics, live
    "q162_stream_scd2_enrich" -> ((s, dir) => {
      s.catalog.dropTempView("q162_stream_out")
      val dim = Sessions.scd2(
        t(s, dir, "events")
          .where(col("event_type").isin("signup", "error")),
        "user_id", "ts", "event_id", "event_type")
        .select(col("user_id").as("k"), col("attr").as("state"),
          col("valid_from_us"), col("valid_to_us"))
      val st = graft.streaming.Streams
        .eventStream(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val joined = graft.streaming.Streams.scd2EnrichStream(st, dim)
        .select(col("event_id"), col("user_id"), col("state"),
          col("value"))
      graft.streaming.Streams.runToMemory(s, joined, "q162_stream_out",
        outputMode = "append")
    }),

    // 2-hop reach estimation (HyperANF at r=2): per-part count of parts
    // within two co-purchase hops, from propagated KMV sketches — O(k)
    // longs per node per round; the exact 2-hop pair set (sum of deg^2)
    // is never materialized; oracle rebuilds the identical sketch from
    // the exactly-enumerated 2-hop set at its small scale
    "q161_two_hop_reach" -> ((s, dir) => {
      graft.ops.Graphs.twoHopReach(
        sharedGraphPrep(s, dir, "co_purchase"), k = 32)
    }),

    // Linear multi-touch attribution: each purchase splits one unit of
    // credit (exact integer ppm) over the user's clicks in the 7-day
    // lookback; per-channel rollup — hash join on user, window residual
    "q159_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Sessions.linearAttribution(ev, "user_id", "ts", "event_id",
        touchFilter = col("event_type") === "click",
        convFilter = col("event_type") === "purchase",
        channel = concat(lit("ch"),
          pmod(col("event_id"), lit(4)).cast("string")),
        lookbackSeconds = 7L * 24 * 3600)
    }),

    // Deterministic negative sampling (contrastive/recommender prep):
    // per customer, 4 parts never bought, drawn by salted hash from the
    // part domain — candidates explode map-side, domain semi-join,
    // positives anti-join, first-draw dedup, rank window per user
    "q160_negative_sampling" -> ((s, dir) => {
      val pos = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      Splits.negativeSample(pos, "o_custkey", "l_partkey",
        t(s, dir, "part"), "p_partkey", k = 4)
    }),

    // Snapshot stats drift (the data-contract diff): ANALYZE-style
    // column stats (q124's one-pass unpivot + KMV ndv) on the reference
    // and current halves, joined into a per-column drift verdict —
    // exact integer ratio tests, no floats
    "q158_stats_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val split = lit("2024-01-16").cast("timestamp")
      val cols = Seq("user_id", "event_type", "props")
      def side(d: org.apache.spark.sql.DataFrame, p: String) =
        Profiling.columnStats(d, cols, k = 64)
          .select(col("colname"), col("n_rows").as(s"${p}_n"),
            col("n_nulls").as(s"${p}_nulls"),
            col("min_s").as(s"${p}_min"), col("max_s").as(s"${p}_max"),
            col("ndv_est").as(s"${p}_ndv"))
      val ref = side(ev.where(col("ts") < split), "ref")
      val cur = side(ev.where(col("ts") >= split), "cur")
      val flags = concat_ws(",",
        when(col("ref_min") =!= col("cur_min") ||
          col("ref_max") =!= col("cur_max"), lit("range")),
        when(abs(col("cur_ndv") - col("ref_ndv")) * 5 > col("ref_ndv"),
          lit("ndv")),
        when(abs(col("cur_nulls") * col("ref_n") -
            col("ref_nulls") * col("cur_n")) * 5 >
          col("ref_nulls") * col("cur_n"), lit("nulls")))
      ref.join(cur, Seq("colname"))
        .select(col("colname"), col("ref_n"), col("cur_n"),
          col("ref_nulls"), col("cur_nulls"), col("ref_ndv"),
          col("cur_ndv"), col("ref_min"), col("cur_min"),
          col("ref_max"), col("cur_max"),
          coalesce(nullif(flags, lit("")), lit("ok")).as("drift_flags"))
    }),

    // The q144 join written the way an analyst would write it — a raw
    // `levenshtein(a,b) <= 1` join condition — planned through the
    // EditDistanceJoinRewrite optimizer rule (installed with the
    // session's GraftExtensions) into the same blocked equi-join
    // (PlanSpec pins no nested loop); the oracle proves the rewrite is
    // row-exact including the canonical-witness dedup
    "q157_edit_join_rewrite" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.select(col("c_custkey").as("custkey_a"),
        col("c_name").as("name_a"))
      val b = c.select(col("c_custkey").as("custkey_b"),
        col("c_name").as("name_b"))
      a.join(b, levenshtein(col("name_a"), col("name_b")) <= 1 &&
          col("custkey_a") < col("custkey_b"))
        .select(col("custkey_a"), col("custkey_b"), col("name_a"),
          col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
    }),

    // Robust outlier gate per source: median/MAD with the doubled-
    // median trick (sum of two middle order statistics — no division,
    // all-decimal exact), outliers = |dev| beyond cutoff*1.4826*MAD;
    // three winsorize-shaped histogram aggregations, no probe joins
    "q155_mad_outliers" -> ((s, dir) => {
      Profiling.madOutliers(t(s, dir, "documents"), "source", "n_chars")
    }),

    // Item-item top-k from the co-purchase graph (collaborative
    // filtering neighbor lists): bounded topk_by_score per node — hub
    // neighbor lists never serialize through one reducer
    "q152_item_item_topk" -> ((s, dir) => {
      graft.ops.Graphs.itemItemTopK(
        sharedGraphPrep(s, dir, "co_purchase"), k = 5)
    }),

    // Peak concurrent sessions per hour: +1/-1 boundary sweep with the
    // running sum partitioned per hour + driver-cumulated carry (one
    // long per hour) — never a global single-reducer ordered window
    "q153_peak_concurrency" -> ((s, dir) => {
      Sessions.peakConcurrency(t(s, dir, "events"), "ts",
        sessionSeconds = 600L)
    }),

    // Collocation mining by exact integer lift (phrase detection):
    // unigram/bigram counts, lift in exact ppm (no log()), bounded
    // global top-k, winners re-joined for evidence counts
    "q154_phrase_lift" -> ((s, dir) => {
      TextAnalysis.phraseLift(t(s, dir, "documents"), "text", k = 50,
        minCount = 5L)
    }),

    // Bounded-state quantile estimation: per-source quantiles from the
    // deterministic 64-row hash sample (quota-sample aggregate, O(k)
    // state) — the scale path beside q139's exact equi-depth histogram;
    // integer-fraction rank indices, values untouched by arithmetic
    "q151_sampled_quantiles" -> ((s, dir) => {
      graft.ops.Sketches.sampledQuantiles(t(s, dir, "documents"),
        "source", "doc_id", "n_chars", k = 64,
        ps = Seq((1, 4), (1, 2), (3, 4), (9, 10)))
    }),

    // Streaming histogram monitor: per (hour-window, value-bin) counts
    // maintained in the state store (nBins longs per window), plus a
    // batch tail on the sink computing exact per-hour ppm shares — the
    // live feed of the q145 drift monitor
    "q149_stream_histogram" -> ((s, dir) => {
      s.catalog.dropTempView("q149_stream_out")
      val st = graft.streaming.Streams.windowedHistogram(
        graft.streaming.Streams.eventStream(s, dir), "value",
        binWidth = 50.0, nBins = 10)
      val sink = graft.streaming.Streams.runToMemory(s, st,
        "q149_stream_out", outputMode = "complete",
        statePartitions = Some(8))
      val byHour = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hour"))
      sink.withColumn("nh", sum(col("n")).over(byHour))
        .select(col("hour"), col("bin"), col("n"),
          expr("(n * 1000000L) div nh").as("share_ppm"))
    }),

    // Distribution-drift report (data-contract monitor): per
    // (event_type, value-bin) counts for the reference vs current halves
    // of the month, Laplace-smoothed shares in exact ppm, chi-square
    // contribution per bin; scanned once, never summed across bins
    "q145_drift_report" -> ((s, dir) => {
      Profiling.driftReport(t(s, dir, "events"), "event_type", "value",
        col("ts") < lit("2024-01-16").cast("timestamp"),
        binWidth = 50.0, nBins = 10)
    }),

    // Sorted-neighborhood entity resolution (merge/purge): banded
    // order-preserving global rank (two-phase prefix count, no global
    // window), rank-block equi-join for the w-neighborhood, then the
    // match predicate; complements LSH for prefix-adjacent near-matches
    "q150_sorted_neighborhood" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val pairs = Dedup.sortedNeighborhoodPairs(c, "c_custkey", "c_name",
        w = 3, bands = 16)
      val attrs = c.select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal"))
      pairs
        .join(attrs.select(col("c_custkey").as("id_a"),
          col("c_nationkey").as("na"), col("c_acctbal").as("ba")),
          Seq("id_a"))
        .join(attrs.select(col("c_custkey").as("id_b"),
          col("c_nationkey").as("nb"), col("c_acctbal").as("bb")),
          Seq("id_b"))
        .where(col("na") === col("nb"))
        .select(col("id_a").as("custkey_a"), col("id_b").as("custkey_b"),
          col("rank_dist"), abs(col("bb") - col("ba")).as("bal_diff"))
    }),

    // 2-D Pareto frontier of customers (total spend x account balance):
    // banded percentile sweep — per-band running-max windows in
    // parallel + a suffix-max of per-band y maxima for cross-band
    // domination; never the all-pairs NOT EXISTS the oracle runs
    "q143_pareto_frontier" -> ((s, dir) => {
      val spend = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).as("spend"))
      val pts = t(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("spend"), lit(0).cast("decimal(18,4)")).as("spend"),
          col("c_acctbal"))
      Profiling.paretoFrontier2D(pts, "c_custkey", "spend", "c_acctbal",
          bands = 16)
        .select(col("id").as("c_custkey"),
          col("x").cast("double").as("spend"), col("y").as("acctbal"))
    }),

    // Zipf-law slope per source: OLS of ilog2(freq) on ilog2(rank) over
    // each source's vocabulary — integer bit-length logs make all four
    // OLS sums exact bigints; the slope is one IEEE division
    "q146_zipf_slope" -> ((s, dir) => {
      TextAnalysis.zipfSlope(t(s, dir, "documents"), "source", "text")
    }),

    // CDC MERGE: collapse the change log to per-key latest (window over
    // the log only, never the base), then one outer join — upserts
    // overwrite, deletes drop, untouched base keys pass through
    "q147_cdc_merge" -> ((s, dir) => {
      val log = t(s, dir, "events").select(
        pmod(col("event_id") * 7 + col("user_id"), lit(2000)).as("k"),
        when(pmod(col("event_id"), lit(10)) === 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("value").as("v"), col("ts"), col("event_id"))
      graft.ops.Cdc.applyLog(t(s, dir, "customer"), "c_custkey",
        "c_acctbal", log, "k", "op", "v", "ts", "event_id")
    }),

    // Degree-ordered triangle census over the part co-purchase graph:
    // the node-iterator orientation bounds wedge fan-out by O(sqrt(m))
    // per node regardless of hub degree; counts are exact integers the
    // oracle recounts with a plain a<b<c triple join
    "q142_triangle_count" -> ((s, dir) => {
      graft.ops.Graphs.triangleStats(
        sharedGraphPrep(s, dir, "co_purchase"))
    }),

    // Edit-distance-1 entity-resolution join via deletion-neighborhood
    // blocking: candidates from an equi-join on single-deletion variants
    // (provable superset), verified with exact levenshtein — the output
    // IS the all-pairs result, computed without the all-pairs
    "q144_edit_distance_join" -> ((s, dir) => {
      Dedup.editOneJoin(t(s, dir, "customer"), "c_custkey", "c_name")
        .select(col("id_a").as("custkey_a"), col("id_b").as("custkey_b"),
          col("s_a").as("name_a"), col("s_b").as("name_b"), col("dist"))
    }),

    // Exact heavy hitters (cnt*k > N) over whitespace tokens via
    // two-phase Misra-Gries: bounded O(k) per-partition state emits a
    // guaranteed candidate superset; only candidates are exact-counted,
    // so no shuffle ever carries the full distinct-token key space
    "q148_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("tok"))
      graft.ops.Sketches.heavyHitters(toks, col("tok"), k = 40)
        .select(col("value").as("token"), col("cnt"), col("n_total"))
    }),

    // Streaming conversion funnel: per-user state carries the
    // greedy-earliest chain (steps longs); the conversion row emits
    // append-only the moment the final stage first completes —
    // real-time attribution, batch q70 restricted to completions
    "q141_stream_funnel" -> ((s, dir) => {
      s.catalog.dropTempView("q141_stream_out")
      val st = graft.streaming.Streams.funnelStream(
        graft.streaming.Streams.eventStream(s, dir), "event_type",
        Seq("view", "click", "purchase"),
        withinSeconds = Some(30L * 24 * 3600))
      graft.streaming.Streams.runToMemory(s,
        st.select(col("user_id"),
          element_at(col("ts_steps"), 1).as("t1"),
          element_at(col("ts_steps"), 2).as("t2"),
          element_at(col("ts_steps"), 3).as("t3")),
        "q141_stream_out", outputMode = "append",
        statePartitions = Some(8))
    }),

    // Incremental transitive-closure maintenance: close 90% of the
    // hierarchy, then apply the held-out 10% of edges as a delta WITHOUT
    // re-closing from scratch (semi-naive: delta pre/post-extended
    // through the old closure, prefix-doubled) — the code-system-update
    // path; oracle recomputes the full closure recursively
    "q140_incremental_closure" -> ((s, dir) => {
      val edges = t(s, dir, "customer")
        .where(col("c_custkey") >= 1)
        .select((col("c_custkey") / 2).cast("long").as("parent"),
          col("c_custkey").cast("long").as("child"))
      val delta = edges.where(pmod(col("child"), lit(7)) === 3)
      val base = edges.where(pmod(col("child"), lit(7)) =!= 3)
      val closed = TransitiveClosure.closureLong(s, base,
        shufflePartitions = Some(8))
      TransitiveClosure.addEdges(s, closed, delta,
        shufflePartitions = Some(8))
    }),

    // Equi-depth histogram per source (the range-selectivity catalog
    // stat, completing the ndv/MCV/histogram trio): rank-ranged buckets
    // via pure integer division over the distinct-value running count
    "q139_equidepth_histogram" -> ((s, dir) => {
      Profiling.equiDepthHistogram(t(s, dir, "documents"), "source",
        "n_chars", buckets = 8)
    }),

    // Streaming distinct users per hour via the KMV sketch INSIDE the
    // state store — streaming count(DISTINCT) is unsupported/unbounded;
    // the mergeable sketch keeps k longs per window and the portable
    // hash lets the oracle rebuild the identical estimate from batch
    "q138_stream_kmv_distinct" -> ((s, dir) => {
      s.catalog.dropTempView("q138_stream_out")
      val st = graft.streaming.Streams.windowedKmvDistinct(
        graft.streaming.Streams.eventStream(s, dir), "user_id")
      graft.streaming.Streams.runToMemory(s, st, "q138_stream_out",
        outputMode = "complete", statePartitions = Some(8))
    }),

    // Semi-supervised kNN label propagation: every 5th embedding's label
    // is held out and re-derived as the majority label of its 5 nearest
    // labeled neighbors by exact integer inner product — weak
    // supervision with a built-in accuracy report (true label carried);
    // queries broadcast, corpus never shuffles
    "q137_knn_label_prop" -> ((s, dir) => {
      Similarity.knnLabelPropagation(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", holdoutMod = 5, k = 5)
    }),

    // Streaming SCD2 maintenance: per-user state holds only the OPEN run;
    // the next change closes and emits it append-only — data-driven
    // closure, no timeout clock; emitted rows are exactly the batch
    // operator's closed intervals
    "q134_stream_scd2" -> ((s, dir) => {
      s.catalog.dropTempView("q134_stream_out")
      val st = graft.streaming.Streams.scd2Stream(
        graft.streaming.Streams.eventStream(s, dir), "event_type")
      graft.streaming.Streams.runToMemory(s, st.toDF(), "q134_stream_out",
        outputMode = "append", statePartitions = Some(8))
    }),

    // q134's SCD2 stream under the ROCKSDB state-store provider (r13
    // directive #4): keyed streaming state bounded by distinct keys
    // moves from executor heap to spilling local disk; the provider is
    // a pure storage swap, so the oracle (and result hash) is q134's
    // verbatim
    "q285_stream_scd2_rocksdb" -> ((s, dir) => {
      s.catalog.dropTempView("q285_stream_out")
      graft.streaming.Streams.withRocksDbState(s) {
        val st = graft.streaming.Streams.scd2Stream(
          graft.streaming.Streams.eventStream(s, dir), "event_type")
        graft.streaming.Streams.runToMemory(s, st.toDF(),
          "q285_stream_out", outputMode = "append",
          statePartitions = Some(8))
      }
    }),

    // Bucket-pruned point lookup: the q121 layout's OTHER payoff — an
    // equality filter on the bucket key scans 1 of 16 buckets
    // (SelectedBucketsCount pinned in PlanSpec); at 100 TB that is a
    // 16x scan cut before any row is read
    "q135_bucket_pruning" -> ((s, dir) => {
      val key = java.lang.Integer.toHexString(dir.hashCode)
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"))
      val tbl = graft.ops.Bucketing.writeBucketed(s, ev, "graft_bkt",
        s"events_pt_$key", "user_id", buckets = 16)
      graft.ops.Bucketing.prunedPointRead(s, tbl, "user_id", 7L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
    }),

    // Partition-pruned scan: events re-laid-out partitioned by day; a
    // day-equality read plans PartitionCount: 1 — directory-level
    // pruning, the first lever of any 100 TB table layout
    "q136_partition_pruning" -> ((s, dir) => {
      val out = scratchDir("ptn", dir) + "/events_by_day"
      val src = t(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      src.write.mode("overwrite").partitionBy("day").parquet(out)
      // explicit schema: an all-empty input writes a file-less layout
      // that schema inference cannot read back
      s.read.schema(src.schema).parquet(out)
        .where(col("day") === "2024-01-05")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
    }),

    // Most-common-values catalog statistic: per-column top-8 values with
    // counts and shares (the CBO's literal-predicate selectivity input,
    // next to q124's ndv); bounded top-k per column, no per-column sort
    "q131_mcv_stats" -> ((s, dir) => {
      Profiling.mostCommonValues(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_linenumber", "l_suppkey"),
        k = 8)
    }),

    // Referential-integrity audit: orphan foreign keys per relationship
    // (data-contract validation); one left join + conditional counts per
    // relationship, dimension keys broadcast
    "q132_fk_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Profiling.orphanAudit(li, "l_orderkey", t(s, dir, "orders"),
          "o_orderkey", "lineitem.l_orderkey->orders")
        .unionAll(Profiling.orphanAudit(li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey",
          "lineitem.l_suppkey->supplier"))
        .unionAll(Profiling.orphanAudit(t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey", "orders.o_custkey->customer"))
    }),

    // Ingestion-completeness gaps: hours with zero events for each
    // (day, event_type) that is otherwise active — the silent-outage
    // monitor; literal hour-grid explode + one left-anti join
    "q133_completeness_gaps" -> ((s, dir) => {
      Sessions.completenessGaps(t(s, dir, "events"), "ts", "event_type")
    }),

    // Time-in-state rollup over the SCD2 intervals: micros and lifetime
    // share each user spent per event_type state — dwell-time
    // composition; exact bigint interval arithmetic, NULL share on
    // zero-span (single-observation) users
    "q129_time_in_state" -> ((s, dir) => {
      Sessions.timeInState(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type")
    }),

    // Gaps-and-islands interval merge: each event opens a 10-minute
    // activity interval; overlaps merge into islands via one running-max
    // window (no self-join) — per-user coverage count and total micros
    "q130_interval_islands" -> ((s, dir) => {
      Sessions.intervalIslands(t(s, dir, "events"), "user_id", "ts",
        "event_id", durationUs = 600000000L)
    }),

    // Hot-key salted join: keys above the hot threshold split into 8
    // sub-keys on the fact side, dim rows replicated only for those keys
    // — the manual skew cure for when AQE can't see it (stateful ops,
    // post-join aggregation skew); the oracle runs the PLAIN join, so
    // salting provably does not change the answer
    "q127_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      val hot = graft.ops.Skew.hotKeys(ev, "user_id", hotThreshold = 20L)
      graft.ops.Skew.saltedJoin(ev, dim, "user_id", "event_id", hot,
          salts = 8)
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"))
    }),

    // Pivot report: one row per day, one column pair per event type —
    // the reshape between long event logs and wide metric tables; a
    // single groupBy(day) with conditional aggregates, no joins
    "q128_pivot_report" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
    }),

    // Vocabulary coverage curve: top-512 tokens with cumulative share of
    // running text — the tokenizer-design table (OOV rate = 1-cum_share);
    // bounded top-k aggregate + in-array prefix sums, no global window
    "q126_vocab_coverage" -> ((s, dir) => {
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text", v = 512)
    }),

    // k-anonymity audit: quasi-identifier combinations matched by fewer
    // than 5 distinct users — what a release must suppress/generalize;
    // the governance sibling of q36's direct-identifier redaction
    "q125_k_anonymity" -> ((s, dir) => {
      Profiling.kAnonymityAudit(t(s, dir, "events"),
        Seq(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          get_json_object(col("props"), "$.k").as("profile")),
        "user_id", k = 5)
    }),

    // ANALYZE-style catalog statistics in one pass: per-column row/null
    // counts, lexicographic + numeric min/max, KMV ndv estimate — the
    // CBO's food; single scan, partial-aggregated to |cols| rows per task
    "q124_column_stats" -> ((s, dir) => {
      Profiling.columnStats(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"), k = 64)
    }),

    // Cross-corpus overlap estimation from KMV sketches alone: pairwise
    // union/intersection/Jaccard estimates between sources without ever
    // comparing the corpora — the contamination estimator; one sketching
    // pass, then arithmetic on G tiny sketch rows
    "q123_sketch_overlap" -> ((s, dir) => {
      graft.ops.Sketches.kmvOverlap(t(s, dir, "documents"), "source",
        Dedup.tokens(col("text")), k = 64)
    }),

    // Point-in-time-correct (leakage-free) enrichment via LOCF: each
    // purchase carries the user's most recent props.k observation AT OR
    // BEFORE the purchase, with staleness — the feature-store join that
    // never reads the future; pure window, no join, one keyed shuffle
    "q122_locf_enrich" -> ((s, dir) => {
      Sessions.locfEnrich(t(s, dir, "events"), "user_id", "ts",
          "event_id", get_json_object(col("props"), "$.k"))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tsu"),
          col("attr_locf").as("profile"), col("staleness_us"))
    }),

    // Bucketed co-located join: both sides written bucketBy(16, user_id)
    // once (the shuffle-you-pay-once layout), after which the equi-join
    // plans as a SortMergeJoin over co-located bucketed scans with ZERO
    // shuffle exchanges — the biggest lever for a repeatedly-joined
    // fact/dimension pair at 100 TB; PlanSpec pins the shuffle-free shape
    "q121_bucketed_join" -> ((s, dir) => {
      val key = java.lang.Integer.toHexString(dir.hashCode)
      val ev = t(s, dir, "events").select(col("user_id"), col("value"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      val lt = graft.ops.Bucketing.writeBucketed(s, ev, "graft_bkt",
        s"events_$key", "user_id", buckets = 16)
      val rt = graft.ops.Bucketing.writeBucketed(s, cust, "graft_bkt",
        s"cust_$key", "user_id", buckets = 16)
      graft.ops.Bucketing.colocatedJoin(s, lt, rt, "user_id")
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
    }),

    // Hopping-window streaming aggregation: 1-hour windows sliding every
    // 30 minutes — every event feeds 2 overlapping windows; state is one
    // row per (window, event_type) with 2 windows open per key, bounded
    // by the watermark
    "q120_stream_hopping_window" -> ((s, dir) => {
      s.catalog.dropTempView("q120_stream_out")
      val stream = graft.streaming.Streams.hoppingWindowAgg(
        graft.streaming.Streams.eventStream(s, dir))
      graft.streaming.Streams.runToMemory(s, stream, "q120_stream_out",
        outputMode = "complete", statePartitions = Some(8))
    }),

    // SCD Type-2 snapshot: each user's event_type history compressed to
    // change points with half-open validity intervals, version numbers
    // and an is_current flag — the incremental-corpus entity snapshot;
    // one user-keyed shuffle, windows over locally-sorted runs
    "q119_scd2_intervals" -> ((s, dir) => {
      Sessions.scd2(t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type")
    }),

    // Asymmetric containment near-dups (quote/subset detection): pairs
    // where >= 80% of A's rare shingles appear in B — the relation
    // symmetric Jaccard cannot see; df-capped inverted-index join, never
    // all-pairs; portable hashes the oracle rebuilds
    "q118_containment_dups" -> ((s, dir) => {
      Dedup.containmentNearDups(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.8, maxShingleDf = 100,
        portable = true)
    }),

    // Fixed-point PageRank over the customer-supplier trading graph:
    // authority weighting as a curation prior. Bigint ranks (scale 1e12,
    // integral div) make the power iteration bit-reproducible across
    // engines and partitionings; edges shuffle once, each round moves
    // only the O(N) rank frame
    "q117_pagerank_authority" -> ((s, dir) => {
      val edges = sharedGraphPrep(s, dir, "customer_supplier")
      graft.ops.Graphs.pageRankFixedPoint(s, edges, iterations = 3)
        .select(
          when(pmod(col("node"), lit(2)) === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("node_key"),
          col("deg"), col("rank").as("rank_fp"))
    }),

    // Exact global order statistics with NO global sort: p1/p25/p50/
    // p75/p99 of lineitem prices in cents via distinct-value counts +
    // the blocked prefix sum + rank-containment lookup — the p99
    // primitive that never serializes through one reducer
    "q184_exact_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      graft.ops.Sketches.exactQuantiles(li, "cents",
        Seq((1, 100), (1, 4), (1, 2), (3, 4), (99, 100)))
    }),

    // Process-mining conformance: the directly-follows matrix of user
    // event transitions against a declared legal-transition model —
    // every observed (prev, next) pair with exact counts, an allowed
    // flag, and its share of all transitions; the violations are the
    // process-conformance findings
    "q228_conformance_audit" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val allowed = Seq("signup>view", "signup>error", "view>view",
        "view>click", "view>error", "click>view", "click>purchase",
        "click>error", "purchase>view", "error>view")
      val pairs = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("nxt"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .where(col("prev").isNotNull)
        .groupBy(col("prev"), col("nxt")).agg(count(lit(1)).as("n"))
        .truncateLineage(eager = false)
      val tot = broadcast(pairs.groupBy(lit(1).as("__o"))
        .agg(sum(col("n")).as("n_total")))
      pairs.crossJoin(tot)
        .select(col("prev"), col("nxt"), col("n"),
          concat(col("prev"), lit(">"), col("nxt")).isin(allowed: _*)
            .as("allowed"),
          expr("n * 1000000 div n_total").as("share_ppm"))
    }),

    // Growth accounting: every week's actives decomposed into new /
    // retained / resurrected, plus churn measured against the prior
    // week — the standard DAU/WAU decomposition, exact counts from one
    // per-user week-sequence pass
    "q229_growth_accounting" -> ((s, dir) => {
      val uw = t(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").as("u"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
        .distinct()
        .truncateLineage(eager = false)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("u")).orderBy(col("wk"))
      val classed = uw
        .withColumn("first_wk", min(col("wk")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
        .withColumn("prev_wk", lag(col("wk"), 1).over(w))
        .select(col("wk"),
          when(col("wk") === col("first_wk"), "new")
            .when(col("prev_wk") === col("wk") - 1, "retained")
            .otherwise("resurrected").as("cls"))
      val weekly = classed.groupBy(col("wk"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cls") === "retained", 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"))
        .truncateLineage(eager = false)
      // churn(w) = actives(w-1) - retained(w): week-domain self-join
      weekly.join(weekly.select((col("wk") + 1).as("wk"),
          col("n_active").as("prev_active")), Seq("wk"), "left")
        .select(col("wk").as("week"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"),
          when(col("prev_active").isNotNull,
            col("prev_active") - col("n_retained"))
            .as("n_churned_from_prev"))
    }),

    // One-pass pairwise Pearson correlation matrix over lineitem's
    // exact-integer grid (quantity, price cents, discount/tax points):
    // all k(k+3)/2 moment sums in a SINGLE scan + one 1-row shuffle,
    // correlations from exact decimal terms — bit-reproducible
    "q230_corr_matrix" -> ((s, dir) => {
      Profiling.correlationMatrix(t(s, dir, "lineitem"), Seq(
        "l_quantity" -> col("l_quantity").cast("long"),
        "l_extendedprice" ->
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long"),
        "l_discount" ->
          (col("l_discount").cast("decimal(18,2)") * 100).cast("long"),
        "l_tax" ->
          (col("l_tax").cast("decimal(18,2)") * 100).cast("long")))
    }),

    // Governance: DP-style noisy count release over (event_type, day)
    // with DETERMINISTIC md5-seeded Gaussian noise (Irwin-Hall 12) and
    // small-cell suppression — the reproducible privacy release; cost =
    // one keyed aggregation, noise is a projection
    "q231_dp_counts" -> ((s, dir) => {
      Profiling.dpNoisyCounts(
        t(s, dir, "events")
          .where(col("ts").isNotNull && col("event_type").isNotNull)
          .select(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day")),
        Seq("event_type", "day"), sigma = 8.0, suppressBelow = 10L,
        salt = "graft-dp-v1")
    }),

    // Tokenizer training step 1: weighted adjacent char-pair counts
    // over the AGGREGATED vocabulary (the BPE trainer trick — pairs
    // explode over |vocab|, not the corpus), top-64 merge candidates
    "q232_bpe_pairs" -> ((s, dir) => {
      TextAnalysis.bpePairStats(t(s, dir, "documents"), "text",
        topK = 64)
    }),

    // Personalized (seeded-teleport) PageRank: authority relative to a
    // vetted customer seed set — same bigint fixed-point rounds as
    // q117, teleport mass confined to customers 1-5
    "q233_personalized_pagerank" -> ((s, dir) => {
      val edges = sharedGraphPrep(s, dir, "customer_supplier")
      graft.ops.Graphs.personalizedPageRank(s, edges,
        seeds = Seq(2L, 4L, 6L, 8L, 10L), iterations = 3)
        .select(
          when(pmod(col("node"), lit(2)) === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("node_key"),
          col("deg"), col("rank").as("rank_fp"))
    }),

    // Streaming LEFT OUTER interval join: purchases with their
    // preceding click within 1h, plus explicit null rows once the
    // watermark proves no click can still arrive — the unattributed-
    // conversion stream the inner join (q73) cannot express
    "q234_stream_outer_interval_join" -> ((s, dir) => {
      s.catalog.dropTempView("q234_stream_out")
      val ev = graft.streaming.Streams.eventStream(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts"))
      val st = graft.streaming.Streams.leftOuterIntervalJoinStream(
        purchases, clicks, "user_id", windowSeconds = 3600,
        watermark = "600 seconds")
        .select(col("purchase_id"), col("click_id"))
      graft.streaming.Streams.runToMemory(s, st, "q234_stream_out",
        outputMode = "append", statePartitions = Some(4))
    }),

    // HLL register-sketch distinct users per event_type: 64 registers,
    // md5-60 portable hash, EXACT integer harmonic term (no float-sum
    // order sensitivity) — mergeable O(m) state; exact companion column
    // doubles as the accuracy audit
    "q235_hll_distinct" -> ((s, dir) => {
      graft.ops.Sketches.hllDistinct(
        t(s, dir, "events").where(col("event_type").isNotNull),
        "event_type", col("user_id"))
    }),

    // Reliability-diagram (calibration) table: embedding[0] rescaled to
    // a micro-unit confidence score vs the parity label — per-bin
    // support, positives, total confidence, |acc-conf| gap, all exact
    // integers (the ECE inputs)
    "q236_ece_calibration" -> ((s, dir) => {
      val su = least(lit(1000000L), greatest(lit(0L),
        floor(((element_at(col("embedding"), 1).cast("double") +
          lit(3.0)) / lit(6.0)) * lit(1000000.0)).cast("long")))
      Profiling.calibrationReport(
        t(s, dir, "embeddings").select(su.as("su"),
          pmod(col("label"), lit(2)).cast("long").as("y")),
        col("su"), col("y"))
    }),

    // Gopher-style quality-rule audit per source: five integer-exact
    // hygiene rules (word count, mean word length, symbol ratio,
    // stopword floor, numeric-word ratio) with per-rule violation
    // counts and the pass-all tally — the source go/no-go table
    "q237_gopher_rules" -> ((s, dir) => {
      TextAnalysis.qualityRulesAudit(t(s, dir, "documents"), "text",
        "source")
    }),

    // HLL snapshot union: per event_type, sketch the even-week and
    // odd-week halves of the corpus SEPARATELY, merge by registerwise
    // max, and prove the merged estimate is bit-identical to the
    // single-pass sketch — the persisted-artifact property (union a
    // month from 30 daily sketches without re-reading the corpus)
    "q238_hll_snapshot_union" -> ((s, dir) => {
      import graft.ops.Sketches
      val base = t(s, dir, "events")
        .where(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_type").as("g"),
          col("user_id").cast("string").as("v"),
          expr("pmod(unix_micros(ts) div 604800000000, 2)").as("par"))
      val regsA = Sketches.hllRegisters(base.where(col("par") === 0))
      val regsB = Sketches.hllRegisters(base.where(col("par") === 1))
      val merged = Sketches.hllEstimate(
        Sketches.hllMergeRegisters(regsA, regsB))
      val single = Sketches.hllEstimate(Sketches.hllRegisters(base))
        .select(col("g"), col("s_total").as("s_single"))
      val exact = base.groupBy(col("g"))
        .agg(count_distinct(col("v")).as("n_exact"))
      merged.join(single, Seq("g")).join(exact, Seq("g"))
        .select(col("g").as("event_type"), col("n_used"), col("s_total"),
          col("hll_est"),
          (col("s_total") === col("s_single")).as("matches_single"),
          col("n_exact"))
    }),

    // Count-min sketch frequency audit: 4x256 cell table built with
    // map-side combine (shuffle is O(partitions*d*w), never O(rows)),
    // then point estimates for a deterministic key sample probed by
    // broadcast against the 1024-row sketch, with the exact count and
    // the collision overcount as the accuracy columns
    "q239_cms_freq" -> ((s, dir) => {
      import graft.ops.Sketches
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
      val cells = Sketches.cmsCells(ev, col("user_id"))
      val keys = ev.where(pmod(col("user_id"), lit(29L)) === 0)
        .select(col("user_id").cast("string").as("v")).distinct()
      val exact = ev.where(pmod(col("user_id"), lit(29L)) === 0)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      Sketches.cmsPointEstimates(cells, keys)
        .join(exact, col("v") === col("user_id").cast("string"))
        .select(col("user_id"), col("cms_est"), col("n_exact"),
          (col("cms_est") - col("n_exact")).as("over_count"))
    }),

    // Survival life table over user lifetimes (days from first to last
    // activity; final-day actives censored): n_risk / churn events /
    // censored / exact-ppm discrete hazard per duration — the
    // Kaplan-Meier inputs for retention analysis
    "q240_life_table" -> ((s, dir) => {
      graft.ops.Sessions.lifeTable(
        t(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull),
        "user_id", expr("unix_micros(ts) div 86400000000"))
    }),

    // Readability inputs per source: exact integer word / sentence /
    // vowel-run-syllable / complex-word sums (the Flesch-Kincaid and
    // Gunning-fog numerators) from one scan
    "q241_readability" -> ((s, dir) => {
      TextAnalysis.readabilityReport(t(s, dir, "documents"), "text",
        "source")
    }),

    // Johnson-Lindenstrauss projection distortion audit: 64-dim
    // embeddings quantized to exact integers, projected to 8 dims with
    // a deterministic md5-parity +-1 matrix, and per adjacent-id pair
    // the exact squared distances before/after plus the distortion in
    // ppm of the expected 8x inflation
    "q242_jl_distortion" -> ((s, dir) => {
      Similarity.jlProjectDistortion(t(s, dir, "embeddings"), "vec_id",
        "embedding", inDims = 64)
    }),

    // 40-core of the customer-supplier co-purchase graph by iterative
    // peeling to fixpoint (shrink-only survivor set, count-equality
    // convergence, O(1) live round states) — the cohesion filter run
    // before any ranking
    "q243_kcore" -> ((s, dir) => {
      val edges = sharedGraphPrep(s, dir, "customer_supplier")
      graft.ops.Graphs.kCore(s, edges, k = 40)
        .select(
          when(pmod(col("node"), lit(2)) === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("node_key"), col("core_deg"))
    }),

    // SimHash signature-fidelity report: pairs within Hamming<=3 of the
    // 60-bit portable signatures (banded path, pigeonhole-complete at
    // h<=3) vs the exact bigram-Jaccard>=0.5 truth — how well the
    // 8-byte signature predicts real similarity, the q217 sibling for
    // the signature (not the banding)
    "q245_simhash_fidelity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.pairFidelity(
        Dedup.jaccardNearDupsExact(docs, "doc_id", "text",
          shingleSize = 3, threshold = 0.5).select("id_a", "id_b"),
        Dedup.simhashNearDups(docs, "doc_id", "text",
          maxHamming = 3, shingleSize = 3, portable = true)
          .select("id_a", "id_b"))
    }),

    // Exact Gini concentration of document length per source: the
    // rank-formula coefficient in floor ppm from one decimal fraction —
    // how evenly each source's character mass spreads across documents
    "q278_gini_concentration" -> ((s, dir) => {
      Profiling.giniConcentration(t(s, dir, "documents"), "source",
        "n_chars")
    }),

    // No-silent-caps accounting over the q23 LSH index at cap 8: ONE
    // row of exact drop mass (rows/buckets dropped, floor-ppm share) —
    // the side output that makes the banding family's quadratic guard
    // observable instead of a silent recall hole
    "q279_banding_drop_report" -> ((s, dir) => {
      Dedup.bucketDropReport(
        Dedup.minhashBandBuckets(t(s, dir, "documents"), "doc_id",
          "text", shingleSize = 2, numHashes = 16, bands = 8,
          portable = true),
        maxBucketSize = 8)
    }),

    // Recall-safe banding: q23's candidate pairs at cap 8 with ONE
    // recursive band-refinement round — an over-cap bucket re-bands on
    // a fresh token-salted minhash family scoped inside the parent
    // bucket (Jaccard exactly preserved, hashes re-rolled) instead of
    // being dropped; only buckets still hot under the fresh family drop
    "q280_minhash_pairs_refined" -> ((s, dir) => {
      Dedup.minhashCandidatePairsRefined(t(s, dir, "documents"),
        "doc_id", "text", shingleSize = 2, numHashes = 16, bands = 8,
        portable = true, maxBucketSize = 8, refineRounds = 1)
    }),

    // Deterministic negative sampling over the customer-supplier graph:
    // 5 hash-drawn candidates per source from the destination universe's
    // md5 shuffle positions, true edges and self-loops anti-joined away
    // — reproducible link-prediction training pairs, no rand()
    "q277_negative_samples" -> ((s, dir) => {
      val edges = sharedGraphPrep(s, dir, "customer_supplier")
      graft.ops.Graphs.negativeSamples(edges, k = 5)
    }),

    // Poisson-bootstrap CI for the per-source mean document length: 40
    // deterministic hash-weighted replicas in ONE explode+groupBy pass,
    // exact e4 replica means, type-1 (1/20,19/20) interval — the
    // uncertainty every corpus-stat dashboard should carry
    "q274_bootstrap_ci" -> ((s, dir) => {
      Profiling.bootstrapMeanCi(t(s, dir, "documents"), "source",
        "doc_id", "n_chars", b = 40)
    }),

    // Referential-integrity audit: the healthy lineitem->orders edge
    // next to a deliberately degraded orders->customer edge (every
    // custkey ending in 3 removed from the parent) — match/orphan/null
    // splits and exact orphan ppm
    "q275_fk_integrity" -> ((s, dir) => {
      Profiling.fkIntegrityAudit(t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey", "lineitem_orders")
        .unionAll(Profiling.fkIntegrityAudit(t(s, dir, "orders"),
          "o_custkey",
          t(s, dir, "customer").where(pmod(col("c_custkey"),
            lit(10)) =!= 3),
          "c_custkey", "orders_customer_degraded"))
    }),

    // Dup-cluster density QA over the q47 pipeline's clusters: pairs
    // per cluster vs the clique maximum in exact ppm — near-cliques are
    // trustworthy dup groups, sparse chains are LSH transitivity glue
    "q276_cluster_density" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 8, portable = true)
      val clusters = Dedup.nearDupClusters(pairs,
        shufflePartitions = Some(8))
      Dedup.clusterDensityReport(clusters, pairs)
    }),

    // Fellegi-Sunter agreement-pattern profile over blocked customer
    // pairs: cents-exact acctbal-derived comparison fields, capped
    // blocks, per-pattern lift vs the independence expectation in
    // exact floor ppm (decimal div) — the record-linkage threshold table
    "q270_linkage_patterns" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("cents", expr(
          "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)" +
            " + 1000000"))
        .select(col("c_custkey").as("id"),
          col("c_nationkey").as("b1"), col("c_mktsegment").as("b2"),
          expr("cents div 200000").as("b3"),
          pmod(col("cents"), lit(10)).as("f1"),
          pmod(expr("cents div 100"), lit(10)).as("f2"),
          expr("cents div 100000").as("f3"))
      Profiling.linkageAgreementPatterns(c, "id",
        Seq("b1", "b2", "b3"), Seq("f1", "f2", "f3"),
        maxBlockSize = 64)
    }),

    // Winsorization report: per-source exact p5/p95 cuts (blocked-rank
    // kernel), clip counts and the exact mass the clip would move
    "q271_winsorize_report" -> ((s, dir) => {
      Profiling.winsorizeReport(t(s, dir, "documents"), "source",
        "n_chars")
    }),

    // Largest-remainder (Hamilton) quota allocation of a 9973-sample
    // budget across (source, lang) cells: integer quotas that sum
    // exactly to the budget, remainder ties pinned by cell asc
    "q272_quota_allocation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .where(col("source").isNotNull && col("lang").isNotNull)
        .select(concat_ws("|", col("source"), col("lang")).as("cell"))
      Splits.quotaAllocation(docs, "cell", budget = 9973L)
    }),

    // Order-invariant corpus checksum over three tables: commutative
    // (count, decimal sum, bit-xor, min, max) reductions of md5-portable
    // row hashes — the "did the migration keep exactly these rows"
    // verifier that needs no sort on either side
    "q273_corpus_checksum" -> ((s, dir) => {
      Profiling.corpusChecksum(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus"), "orders")
        .unionAll(Profiling.corpusChecksum(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber", "l_suppkey"), "lineitem"))
        .unionAll(Profiling.corpusChecksum(t(s, dir, "documents"),
          Seq("doc_id", "source", "lang"), "documents"))
    }),

    // Extended PII audit with Luhn validation: deterministic card/ip/
    // phone material seeded into each document (q36's seeding pattern),
    // candidates counted by regex and card candidates VALIDATED by the
    // mod-10 checksum, IPv4s by octet range — the false-positive split
    // a real scrubber needs; all exact integers the oracle recomputes
    "q266_pii_luhn_audit" -> ((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"), concat(
        col("text"),
        lit(" card "),
        lpad(pmod(col("doc_id") * 7919, lit(10000000000000000L))
          .cast("string"), 16, "0"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" visa 4111111111111111")).otherwise(lit("")),
        lit(" ip 999.1.2.3 host 10."), pmod(col("doc_id"), lit(256)),
        lit(".0.7"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" call +1-555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-0199"))).otherwise(lit(""))).as("text"))
      TextAnalysis.piiAuditExtended(seeded, "doc_id", "text")
    }),

    // Hashing-trick linear classifier inference (fastText-style corpus
    // quality/domain gate): md5-portable token buckets mod 512, a 2x512
    // integer weight matrix folded into the plan as literals (synthesized
    // here deterministically from the same md5 the oracle replays), exact
    // integer scores, argmax with pinned ties and a runner-up margin
    "q267_hash_classifier" -> ((s, dir) => {
      val dim = 512
      val weights = (0 until 2).map(c => (0 until dim).map(j =>
        graft.functions.GraftHashImpl.portableHash60(s"w:$c:$j")
          % 2001 - 1000).toSeq)
      TextAnalysis.hashingTrickClassifier(t(s, dir, "documents"),
        "doc_id", "text", weights)
    }),

    // Robust anomaly flags: per event_type hourly counts vs the key's
    // exact type-1 median and MAD (blocked-rank kernel, no per-key
    // sort); outlier test cross-multiplied so everything stays integer
    "q268_mad_outliers" -> ((s, dir) => {
      Profiling.madHourlyOutliers(t(s, dir, "events"), "event_type",
        "ts", k = 3)
    }),

    // Streaming benchmark decontamination: the corpus arrives as a file
    // stream (two triggers), benchmark 3-grams ride as a driver literal,
    // contamination is a pure per-row projection (no state store) — the
    // batch recount is the oracle
    "q269_stream_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val benchGrams = docs.where(col("doc_id") < 5)
        .select(explode(array_distinct(
          graft.ops.Dedup.wordShingles(col("text"), 3))).as("g"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      val root = scratchDir("q269", dir)
      val in = s"$root/in"
      rmScratch(in)
      val corpus = docs.where(col("doc_id") >= 5)
        .select(col("doc_id"), col("text"))
      corpus.where(pmod(col("doc_id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(in)
      corpus.where(pmod(col("doc_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(in)
      val stream = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      s.catalog.dropTempView("q269_stream_out")
      val flagged = graft.streaming.Streams.decontaminateStream(
        stream, "doc_id", "text", benchGrams, n = 3)
      graft.streaming.Streams.runToMemory(s, flagged, "q269_stream_out",
        outputMode = "append", statePartitions = Some(8))
    }),

    // Incremental near-dup cluster maintenance (r11 directive #5): docs
    // hashing to the "new batch" (doc_id % 7 == 2) arrive after the
    // base corpus was clustered; addToClusters merges only the delta
    // pairs through root contraction — the result must be bit-identical
    // to a full recompute over the union, which is exactly what the
    // oracle computes (q140's incremental == full proof shape)
    "q265_incremental_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 16, bands = 8, portable = true)
      val isNew = (c: org.apache.spark.sql.Column) =>
        pmod(c, lit(7)) === 2
      val base = pairs.where(!isNew(col("id_a")) && !isNew(col("id_b")))
      val delta = pairs.where(isNew(col("id_a")) || isNew(col("id_b")))
      val existing = Dedup.nearDupClusters(base,
        shufflePartitions = Some(8))
      Dedup.addToClusters(existing, delta, shufflePartitions = Some(8))
    }),

    // Sample-scale fidelity (r11 directive #4): truth evaluated on a
    // deterministic 50% doc-hash sample, candidates from FULL-corpus
    // banding restricted to sampled endpoints — the variant that stays
    // runnable at corpus scale (truth cost × truthSample²) with an
    // unbiased recall/precision estimate; q245 keeps the full truth
    "q264_simhash_fidelity_sampled" -> ((s, dir) => {
      Dedup.simhashFidelitySampled(t(s, dir, "documents"), "doc_id",
        "text", maxHamming = 3, shingleSize = 3, threshold = 0.5,
        truthSample = 0.5)
    }),

    // Zone-map skipping effectiveness: the same three date predicates
    // against the natural (orderkey-insertion) layout and a
    // date-aligned (quarterly) layout — min/max zones per bucket,
    // pruned buckets/rows, and exact-ppm scan efficiency; the report
    // that justifies a re-layout before anyone pays for it
    "q246_zonemap_report" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .where(col("o_orderkey").isNotNull && col("o_orderdate").isNotNull)
        .select(col("o_orderkey"),
          expr("unix_micros(cast(o_orderdate as timestamp)) " +
            "div 86400000000").as("d"))
      val preds = Seq(("y1996", 9496L, 9861L),
        ("m1998_06", 10378L, 10407L), ("tail_2000on", 10957L, 11535L))
      graft.ops.Layout.zoneMapReport(ord, "natural_orderkey",
          expr("o_orderkey div 1024"), col("d"), preds)
        .unionByName(graft.ops.Layout.zoneMapReport(ord, "date_quarter",
          expr("d div 90"), col("d"), preds))
    }),

    // Rendezvous-hashing reshard audit: per shard, keys held at n=8 and
    // n=9 and keys gained by the grow — pinning consistent hashing's
    // contract (only ~1/9 of keys move, all to the new shard)
    "q247_rendezvous_reshard" -> ((s, dir) => {
      graft.ops.Bucketing.rendezvousReshardAudit(
        t(s, dir, "events").where(col("user_id").isNotNull),
        col("user_id"), shards = 8)
    }),

    // Product-quantization assignment + distortion: 64 dims in 4
    // subspaces, codebook = seed rows 0..7 per subspace, exact integer
    // L2 argmin (ties to lowest code) — per (subspace, code) population
    // and summed squared error, the PQ-index sizing table
    "q248_pq_assignment" -> ((s, dir) => {
      Similarity.pqAssignmentReport(t(s, dir, "embeddings"), "vec_id",
        "embedding", inDims = 64, nSub = 4, seedIds = 0L to 7L)
    }),

    // Heaps'-law vocabulary growth: exact vocab and token occurrences
    // seen in the first 1,2,4,...,4096 documents — the
    // diminishing-returns curve for tokenizer/corpus sizing
    "q249_vocab_growth" -> ((s, dir) => {
      TextAnalysis.vocabGrowthCurve(t(s, dir, "documents"), "doc_id",
        "text", boundaries = (0 to 12).map(1L << _))
    }),

    // URL canonicalization dedup (the C4 dedup key): four synthesized
    // variants per group (plain, uppercase-host + :443, utm-tracking,
    // kept-param + fragment) — the first three MUST collapse to one
    // canonical URL and the fourth stay distinct; per source, raw vs
    // canonical counts
    "q250_url_canonical_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("source"))
      val host = concat(col("source"), lit("x"),
        pmod(col("doc_id"), lit(97)))
      val urls = array(
        concat(lit("https://www."), host, lit(".com/p/"), col("doc_id")),
        concat(lit("HTTPS://WWW."), upper(host), lit(".COM:443/p/"),
          col("doc_id")),
        concat(lit("https://www."), host, lit(".com/p/"), col("doc_id"),
          lit("?utm_source=feed&utm_campaign=x")),
        concat(lit("https://www."), host, lit(".com/p/"), col("doc_id"),
          lit("?q=1#frag")))
      docs.select(col("source"), explode(urls).as("url"))
        .withColumn("canon", TextAnalysis.canonicalizeUrl(col("url")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_urls"),
          count_distinct(col("canon")).as("n_canonical"),
          (count(lit(1)) - count_distinct(col("canon")))
            .as("n_collapsed"))
    }),

    // DAU/WAU stickiness: exact trailing-24h and trailing-168h distinct
    // users at every observed hour (two passes of the exact
    // sliding-distinct kernel — no per-hour rescans) and their exact
    // ppm ratio, the engagement metric product teams track daily
    // IVF-PQ ANN (r11 directive #3): seeded-IVF cells (q38's exact cell
    // partition + probes) over a PQ-coded corpus — each vector carried
    // as 8 code indices, scored by per-query ADC lookup tables; the
    // oracle rebuilds cells, codes, LUTs and the final ranking from the
    // same quantized integers, so the memory-bounded path is verified
    // hash-exactly (recall vs the exact kernel is pinned in OpsSpec)
    "q263_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        e.where(col("vec_id") < 16), "vec_id", "embedding",
        codebookIds = 16L to 23L, inDims = 64, nSub = 8, k = 10,
        nProbe = 4)
    }),

    // IVF-PQ with N-SCALED cells (r12 directive #2): cell count derives
    // from the corpus (ceil(sqrt(N)) hash-seeded cells, round(sqrt(cells))
    // probes) instead of q263's fixed 16-seed fixture, so per-probe
    // candidate work keeps the sqrt(N) IVF shape as the corpus grows;
    // the hash-seeded trainer is the oracle-replayable twin of the
    // kmeans trainer (recall spec-pinned in OpsSpec)
    "q281_ann_ivfpq_scaled" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopKScaled(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        codebookIds = 16L to 23L, inDims = 64, nSub = 8, k = 10,
        trainer = "hash")
    }),

    // IVF-PQ with a TWO-LEVEL coarse quantizer (r13 directive #3):
    // corpus rows assign through ceil(sqrt(cells)) hash-drawn
    // super-cells (the only plan literal, ∜N) then score just their
    // super-cell's centroids from a broadcast (g, members) table —
    // O(N·∜N·dims) assignment vs q281's flat O(N·√N·dims); probes and
    // the ADC tail are q281's exactly
    "q284_ann_ivfpq_two_level" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopKTwoLevel(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        codebookIds = 16L to 23L, inDims = 64, nSub = 8, k = 10)
    }),

    // Persisted IVF index LIFECYCLE: build on the base corpus (hash-
    // seeded 32-cell coarse quantizer) → write partitioned by cell →
    // append the delta slice under the FROZEN read-back centroids (no
    // retrain, existing postings untouched) → re-open → probe. The
    // probe's cell join dynamically prunes unprobed cell directories
    // (AnnIndexSpec pins the pruning in the physical plan); the oracle
    // re-derives the seed draw, both assignment passes, and the cosine
    // top-k from the raw table — so a retrain-on-append (different
    // seed set) or a stale-centroid bug hash-mismatches.
    "q286_ann_index_lifecycle" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val base = e.where(pmod(col("vec_id"), lit(7)) =!= 0)
      val delta = e.where(pmod(col("vec_id"), lit(7)) === 0)
      val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 32)
      val path = scratchDir("ivfidx", dir)
      val idx = Similarity.buildIvfIndex(base, "vec_id", "embedding",
        seeds, "sid", "svec")
      Similarity.writeIvfIndex(idx, path)
      Similarity.appendToIvfIndex(s, path, delta, "vec_id", "embedding")
      val reread = Similarity.readIvfIndex(s, path)
      Similarity.probeIvfIndex(reread, e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, nprobe = 6)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // STREAMING probe of the persisted index (the online serving half
    // of q286): the full corpus is indexed once (hash-seeded 32 cells),
    // then the query set arrives as two parity micro-batches, each
    // probed against the frozen index — per-batch work is batch-sized ×
    // probed cells, the corpus is never rescanned. The union of the
    // micro-batch outputs must equal one batch probe over all queries
    // (index frozen ⇒ batch-composition-invariant), which is exactly
    // what the oracle recomputes.
    "q287_stream_ann_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val root = scratchDir("annstream", dir)
      val (in, idxp, outp, chk) = (s"$root/in", s"$root/index",
        s"$root/out", s"$root/chk")
      Seq(in, outp, chk).foreach(rmScratch)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(e, "vec_id",
        "embedding", seeds, "sid", "svec"), idxp)
      val qset = e.where(col("vec_id") < 8)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      qset.where(pmod(col("vec_id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(in)
      qset.where(pmod(col("vec_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(in)
      val stream = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.annProbeStream(stream, "vec_id",
        "embedding", idxp, outp, chk, k = 10, nprobe = 4)
        .awaitTermination()
      s.read.parquet(outp)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // PERSISTED PQ INDEX lifecycle: the at-rest layout when raw vectors
    // don't fit the budget — codes (8 ints/vector), codebook, and
    // centroids persisted; the delta slice appended under the FROZEN
    // quantizer AND codebook (ids 16-24 minus multiples of 7, so the
    // codebook is drawn from the base slice only); probes ADC-score
    // just the probed cells' codes. The oracle replays seeds, both
    // assignment+encode passes, probe cells, and the exact-integer ADC
    // distances from the raw table.
    "q291_ann_pq_index_lifecycle" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val base = e.where(pmod(col("vec_id"), lit(7)) =!= 0)
      val delta = e.where(pmod(col("vec_id"), lit(7)) === 0)
      val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 32)
      val path = scratchDir("ivfpqidx", dir)
      val idx = Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
        seeds, "sid", "svec",
        codebookIds = Seq(16L, 17L, 18L, 19L, 20L, 22L, 23L, 24L),
        inDims = 64, nSub = 8)
      Similarity.writeIvfPqIndex(idx, path)
      // ownership contract: the built codes frame rides a lazy encode
      // barrier; once persisted, the files are the recompute source and
      // the in-memory blocks are released deterministically
      graft.Lineage.retireDependents(idx.codes)
      Similarity.appendToIvfPqIndex(s, path, delta, "vec_id", "embedding")
      val reread = Similarity.readIvfPqIndex(s, path)
      Similarity.probeIvfPqIndex(reread, e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, nprobe = 4)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("approx_d2").cast("long").as("approx_d2"),
          col("rank").cast("long").as("rank"))
    }),

    // ADC + EXACT RERANK, the standard PQ serving pair: the compressed
    // index nominates a wide top-30 by approximate ADC distance (q281's
    // exact pipeline), then just those candidates' true vectors are
    // scored and the final top-10 returned — recall of the wide ADC
    // pass at a fraction of exact-scan cost, corpus never shuffled in
    // either stage.
    "q290_ann_pq_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cand = Similarity.ivfPqTopKScaled(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        codebookIds = 16L to 23L, inDims = 64, nSub = 8, k = 30,
        trainer = "hash")
      Similarity.rerankExactTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding", cand, k = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // STREAMING SEMANTIC DEDUP against the persisted index: the
    // quantizer is pre-trained (hash-seeded 32 cells over the corpus)
    // and written with EMPTY postings; the corpus then arrives as two
    // parity micro-batches — each probes the index's current postings
    // for near-dups BEFORE appending itself, so pairs are cross-batch
    // only (even batch probes empty, odd batch probes the even
    // postings). Pair membership is the exact quantized-integer cosine
    // rule (dotq²·10¹² ≥ τ²·‖q‖²·‖b‖², τ = 0.4), so there is no float
    // boundary anywhere for the oracle to straddle.
    "q289_stream_ann_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val root = scratchDir("anndedup", dir)
      val (in, idxp, pairs, chk) = (s"$root/in", s"$root/index",
        s"$root/pairs", s"$root/chk")
      Seq(in, pairs, chk).foreach(rmScratch)
      // centroids only — writeIvfIndex(overwrite) also clears any
      // postings a previous run appended
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        e.where(lit(false)), "vec_id", "embedding", seeds, "sid", "svec"),
        idxp)
      val qset = e
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      qset.where(pmod(col("vec_id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(in)
      qset.where(pmod(col("vec_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(in)
      val stream = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.incrementalAnnDedupStream(stream, "vec_id",
        "embedding", idxp, pairs, chk, thresholdPpm = 400000L, nprobe = 4)
        .awaitTermination()
      s.read.parquet(pairs)
        .select(col("id_new").cast("long").as("id_new"),
          col("id_existing").cast("long").as("id_existing"))
    }),

    // DUAL-INDEX STREAMING DEDUP — q289's exact fixture and output
    // through the COMPRESSED kernel: the stream carries a PQ index
    // root alongside the raw one (both pre-trained from ONE seed
    // frame; the PQ quantizer+codebook built via the shared-codebook
    // pattern with its bootstrap codes dropped), each micro-batch
    // probes via the lossless ADC prefilter and is appended to BOTH
    // indexes. The oracle is q289's replay VERBATIM: identical pair
    // output is the dual-index mode's contract.
    "q308_stream_pq_dedup" -> ((s, dir) => {
      // a 4096-row slice: the dual-index contract (identical pairs) is
      // scale-free, and the full table's batch sizes make BOTH kernels
      // run their 10⁷-candidate regime twice per run — q289 already
      // prices that shape; this row prices the dual-root plumbing
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64
          && col("vec_id") < 4096)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val root = scratchDir("pqdedupstream", dir)
      val (in, idxp, pqp, pairs, chk) = (s"$root/in", s"$root/index",
        s"$root/pqindex", s"$root/pairs", s"$root/chk")
      Seq(in, pairs, chk).foreach(rmScratch)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        e.where(lit(false)), "vec_id", "embedding", seeds, "sid", "svec"),
        idxp)
      // PQ quantizer+codebook pre-trained, codes EMPTY: the codebook
      // rows bootstrap the build and are dropped before the write
      val pq0 = Similarity.buildIvfPqIndex(
        e.where(col("vec_id") >= 16 && col("vec_id") <= 23), "vec_id",
        "embedding", seeds, "sid", "svec", codebookIds = 16L to 23L,
        inDims = 64, nSub = 8)
      Similarity.writeIvfPqIndex(
        pq0.copy(codes = pq0.codes.where(lit(false))), pqp)
      val qset = e
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      qset.where(pmod(col("vec_id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(in)
      qset.where(pmod(col("vec_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(in)
      val stream = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.incrementalAnnDedupStream(stream, "vec_id",
        "embedding", idxp, pairs, chk, thresholdPpm = 400000L,
        nprobe = 4, pqIndexPath = pqp)
        .awaitTermination()
      s.read.parquet(pairs)
        .select(col("id_new").cast("long").as("id_new"),
          col("id_existing").cast("long").as("id_existing"))
    }),

    // Index maintenance pass: build on the base slice, append the
    // delta (leaves a second file set in every touched cell), COMPACT
    // to one file per cell (two-rename staged swap), then report
    // per-cell posting counts + exact ppm share — the skew report read
    // before trusting probe latency. The oracle recomputes the per-cell
    // counts from the raw table, so compaction losing or duplicating a
    // single posting row hash-mismatches; AnnIndexSpec pins the
    // one-file-per-cell layout and probe invariance.
    "q288_ann_index_compact_stats" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val base = e.where(pmod(col("vec_id"), lit(7)) =!= 0)
      val delta = e.where(pmod(col("vec_id"), lit(7)) === 0)
      val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 32)
      val path = scratchDir("ivfcompact", dir)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
        "embedding", seeds, "sid", "svec"), path)
      Similarity.appendToIvfIndex(s, path, delta, "vec_id", "embedding")
      Similarity.compactIvfIndex(s, path)
      Similarity.ivfIndexStats(Similarity.readIvfIndex(s, path))
    }),

    // PQ-index maintenance pass (the q288 sibling for the codes-at-rest
    // layout): build on the base slice, append the delta (a second file
    // set per touched cell), COMPACT the codes to one file per cell
    // (same staged two-rename swap + crash recovery + concurrent-append
    // defense as the postings compactor), then report per-cell code
    // counts + exact ppm share. The oracle recomputes the counts from a
    // from-scratch coarse assignment of ALL valid rows under the
    // base-drawn seeds, so a code row lost or duplicated by the swap
    // hash-mismatches.
    "q296_ann_pq_compact_stats" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val base = e.where(pmod(col("vec_id"), lit(7)) =!= 0)
      val delta = e.where(pmod(col("vec_id"), lit(7)) === 0)
      val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 32)
      val path = scratchDir("ivfpqcompact", dir)
      val idx = Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
        seeds, "sid", "svec",
        codebookIds = Seq(16L, 17L, 18L, 19L, 20L, 22L, 23L, 24L),
        inDims = 64, nSub = 8)
      Similarity.writeIvfPqIndex(idx, path)
      graft.Lineage.retireDependents(idx.codes)
      Similarity.appendToIvfPqIndex(s, path, delta, "vec_id", "embedding")
      Similarity.compactIvfPqIndex(s, path)
      Similarity.ivfPqIndexStats(Similarity.readIvfPqIndex(s, path))
    }),

    // INDEX MERGE — the fan-in of the parallel-build pattern: the even
    // and odd corpus halves are indexed INDEPENDENTLY under the same
    // full-corpus seeds (two jobs at 100 TB), merged into a new root
    // (centroid/meta verification + one cell-partitioned union write),
    // and the merged index is probed. The oracle replays one probe over
    // a SINGLE build of the whole corpus — the merge is correct iff the
    // split is invisible to every probe.
    "q299_ann_index_merge" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val root = scratchDir("annmerge", dir)
      val (pa, pb, pm) = (s"$root/even", s"$root/odd", s"$root/merged")
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        e.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id", "embedding",
        seeds, "sid", "svec"), pa)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        e.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
        seeds, "sid", "svec"), pb)
      // the CONSUMING fast path: O(cells) renames, no corpus job; a
      // prior run's dest must go first (fresh-root contract)
      rmScratch(pm)
      Similarity.mergeIvfIndexes(s, Seq(pa, pb), pm,
        consumeSources = true)
      Similarity.probeIvfIndex(Similarity.readIvfIndex(s, pm),
        e.where(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nprobe = 4)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // PQ-INDEX MERGE (q299's codes-at-rest twin): even and odd halves
    // PQ-indexed independently under the SAME seeds and codebook, merged
    // (centroid + codebook + meta verification, one cell-partitioned
    // union write of the codes), then ADC-probed — the oracle replays
    // one ADC probe over a single whole-corpus encode, so the split is
    // correct iff it is invisible to every approximate distance.
    "q300_ann_pq_index_merge" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val root = scratchDir("pqmerge", dir)
      val (pa, pb, pm) = (s"$root/even", s"$root/odd", s"$root/merged")
      def half(m: Int, path: String): Unit = {
        // codebook ids 16-23 are drawn from the FULL table inside each
        // half-build via the shared-codebook contract: both halves must
        // encode under identical reconstruction points, so the codebook
        // rows ride a separate full-corpus frame
        val idx = Similarity.buildIvfPqIndex(
          e.where(pmod(col("vec_id"), lit(2)) === m ||
            (col("vec_id") >= 16 && col("vec_id") <= 23)),
          "vec_id", "embedding", seeds, "sid", "svec",
          codebookIds = 16L to 23L, inDims = 64, nSub = 8)
        // drop the codebook-only rows the filter smuggled in for the
        // OTHER parity so the halves partition the corpus exactly
        val own = idx.codes.where(pmod(col("corpus_id"), lit(2)) === m)
        Similarity.writeIvfPqIndex(Similarity.IvfPqIndexFrames(idx.centroids,
          idx.codebook, own, idx.inDims, idx.nSub, idx.quantScale), path)
        graft.Lineage.retireDependents(idx.codes)
      }
      half(0, pa); half(1, pb)
      // the consuming fast path (q299's twin): codebook + centroids +
      // meta verified, then O(cells) renames
      rmScratch(pm)
      Similarity.mergeIvfPqIndexes(s, Seq(pa, pb), pm,
        consumeSources = true)
      Similarity.probeIvfPqIndex(Similarity.readIvfPqIndex(s, pm),
        e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nprobe = 4)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("approx_d2").cast("long").as("approx_d2"),
          col("rank").cast("long").as("rank"))
    }),

    // STREAMING PQ-INDEX MAINTENANCE (the q295 sibling for the
    // codes-at-rest layout): PQ index built on the base slice, the
    // delta slice arriving as two micro-batches — each PQ-encoded and
    // appended under the FROZEN quantizer and codebook, codes compacted
    // after every batch. Output = final per-cell code stats; the oracle
    // recomputes them from a from-scratch coarse assignment of ALL
    // valid rows under the base-drawn seeds, so an encode or compaction
    // losing/duplicating a code row hash-mismatches.
    "q297_stream_pq_maintenance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val base = e.where(pmod(col("vec_id"), lit(7)) =!= 0)
      val delta = e.where(pmod(col("vec_id"), lit(7)) === 0)
      val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 32)
      val root = scratchDir("pqmaint", dir)
      val (in, idxp, chk) = (s"$root/in", s"$root/index", s"$root/chk")
      Seq(in, chk).foreach(rmScratch)
      val idx = Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
        seeds, "sid", "svec",
        codebookIds = Seq(16L, 17L, 18L, 19L, 20L, 22L, 23L, 24L),
        inDims = 64, nSub = 8)
      Similarity.writeIvfPqIndex(idx, root + "/index")
      graft.Lineage.retireDependents(idx.codes)
      val dset = delta
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      (0 until 2).foreach { m =>
        dset.where(pmod(expr("vec_id div 7"), lit(2)) === m)
          .coalesce(1).write.mode("append").parquet(in)
      }
      val stream = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.pqIndexMaintenanceStream(stream, "vec_id",
        "embedding", idxp, chk, compactEvery = 1)
        .awaitTermination()
      Similarity.ivfPqIndexStats(Similarity.readIvfPqIndex(s, idxp))
    }),

    // Serving-pair recall audit for the COMPRESSED index (the q294
    // sibling the PQ deployment actually needs): per probe budget, the
    // ADC probe nominates a wide top-30 from the persisted codes, the
    // exact rerank keeps the true top-10, and the result is scored
    // against brute-force truth — so the ppm prices coarse routing + PQ
    // distortion + the rerank window together. nprobe=32 isolates pure
    // PQ/rerank loss (no routing loss).
    "q298_ann_pq_recall_audit" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val path = scratchDir("pqrecall", dir)
      val idx = Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
        seeds, "sid", "svec", codebookIds = 16L to 23L,
        inDims = 64, nSub = 8)
      Similarity.writeIvfPqIndex(idx, path)
      graft.Lineage.retireDependents(idx.codes)
      Similarity.ivfPqRecallAudit(Similarity.readIvfPqIndex(s, path),
        e, "vec_id", "embedding", e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, rerankK = 30,
        nprobes = Seq(2, 32))
        .select(col("nprobe").cast("int").as("nprobe"),
          col("n_truth").cast("long").as("n_truth"),
          col("n_probe_rows").cast("long").as("n_probe_rows"),
          col("n_hits").cast("long").as("n_hits"),
          col("recall_ppm").cast("long").as("recall_ppm"))
    }),

    // Capped ANN dedup — the q279 no-silent-caps parity for the ANN
    // path: q289's pair universe shape (evens indexed, odds the new
    // batch, 4 probe cells) at τ=0.2 — dense enough that the cap
    // actually drops pairs at the gate scales — with each new row
    // keeping at most its top-2 partners by the exact integer cosine
    // key dotq² div ‖b‖² (same id_new ⇒ same ‖q‖², so the key orders
    // like cosine² up to the floor; ties → lower id_existing). The
    // oracle replays the cap with HUGEINT floor-division + row_number,
    // so a wrong key, tie rule, or cap boundary hash-mismatches.
    "q292_ann_dedup_capped" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val evens = e.where(pmod(col("vec_id"), lit(2)) === 0)
      val odds = e.where(pmod(col("vec_id"), lit(2)) === 1)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val idx = Similarity.buildIvfIndex(evens, "vec_id", "embedding",
        seeds, "sid", "svec")
      Similarity.annNearDupPairs(idx, odds, "vec_id", "embedding",
        thresholdPpm = 200000L, nprobe = 4, maxPairsPerNew = 2)
        .select(col("id_new").cast("long").as("id_new"),
          col("id_existing").cast("long").as("id_existing"))
    }),

    // The cap's exact accounting row (annNearDupDropReport): how many
    // pairs the τ=0.2 threshold admitted, how many the top-2 cap kept,
    // how many it dropped, and the exact floor-ppm drop share — the
    // side output that makes a dense-cell emit measurable instead of
    // invisible. Integer arithmetic end to end; the oracle recomputes
    // every count from the raw table.
    "q293_ann_dedup_drop_report" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val evens = e.where(pmod(col("vec_id"), lit(2)) === 0)
      val odds = e.where(pmod(col("vec_id"), lit(2)) === 1)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val idx = Similarity.buildIvfIndex(evens, "vec_id", "embedding",
        seeds, "sid", "svec")
      Similarity.annNearDupDropReport(idx, odds, "vec_id", "embedding",
        thresholdPpm = 200000L, maxPairsPerNew = 2, nprobe = 4)
        .select(col("n_new_rows_paired").cast("long")
            .as("n_new_rows_paired"),
          col("n_pairs").cast("long").as("n_pairs"),
          col("n_pairs_kept").cast("long").as("n_pairs_kept"),
          col("n_pairs_dropped").cast("long").as("n_pairs_dropped"),
          col("dropped_pair_share_ppm").cast("long")
            .as("dropped_pair_share_ppm"))
    }),

    // ADC-PREFILTERED capped ANN dedup — q292's exact fixture and
    // output routed through the compressed index: the PQ codes of the
    // probed cells are scored with a per-query subspace dot-LUT and a
    // pair pays the exact 64-dim dot ONLY when its provable upper
    // bound ⟨q,x̂⟩ + (⌊√‖q‖²⌋+2)(⌊√e2⌋+2) can still pass the membership
    // rule — lossless by Cauchy–Schwarz, so the oracle is q292's
    // replay VERBATIM: a hash match proves the prefilter dropped no
    // true pair on real data. The candidate-work bound this buys is
    // measured by q302.
    "q301_ann_dedup_adc_prefilter" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val evens = e.where(pmod(col("vec_id"), lit(2)) === 0)
      val odds = e.where(pmod(col("vec_id"), lit(2)) === 1)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val raw = Similarity.buildIvfIndex(evens, "vec_id", "embedding",
        seeds, "sid", "svec")
      val pq = Similarity.buildIvfPqIndex(evens, "vec_id", "embedding",
        seeds, "sid", "svec", codebookIds = (16L to 46L by 2).toSeq,
        inDims = 64, nSub = 8)
      Similarity.annNearDupPairsPq(pq, raw, odds, "vec_id", "embedding",
        thresholdPpm = 200000L, nprobe = 4, maxPairsPerNew = 2)
        .select(col("id_new").cast("long").as("id_new"),
          col("id_existing").cast("long").as("id_existing"))
    }),

    // The prefilter's work accounting (the q279/q293 no-silent-bounds
    // pattern applied to the CANDIDATE stage): one exact row — how many
    // candidate pairs the probed cells held, how many survived the ADC
    // upper-bound test (the only ones that paid an exact dot), how many
    // passed the exact rule, and the pruned share in floor ppm. The
    // oracle replays the ENTIRE chain — coarse assignment, PQ encode
    // with per-row distortion, subspace dot-LUT, the √-margin bound —
    // in DuckDB list SQL, so a wrong margin constant or LUT index
    // hash-mismatches, not just a wrong final pair set.
    "q302_ann_adc_prefilter_report" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val evens = e.where(pmod(col("vec_id"), lit(2)) === 0)
      val odds = e.where(pmod(col("vec_id"), lit(2)) === 1)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val raw = Similarity.buildIvfIndex(evens, "vec_id", "embedding",
        seeds, "sid", "svec")
      val pq = Similarity.buildIvfPqIndex(evens, "vec_id", "embedding",
        seeds, "sid", "svec", codebookIds = (16L to 46L by 2).toSeq,
        inDims = 64, nSub = 8)
      Similarity.annNearDupAdcPrefilterReport(pq, raw, odds, "vec_id",
        "embedding", thresholdPpm = 200000L, nprobe = 4)
        .select(col("n_candidates").cast("long").as("n_candidates"),
          col("n_prefilter_kept").cast("long").as("n_prefilter_kept"),
          col("n_pairs").cast("long").as("n_pairs"),
          col("pruned_candidate_share_ppm").cast("long")
            .as("pruned_candidate_share_ppm"))
    }),

    // EXACTLY-ONCE APPEND UNDER REPLAY (r16 directive #1 as an oracle
    // row): the index records a per-root streaming batch-id high-water
    // mark, so a replayed foreachBatch append (same batchId) is SKIPPED
    // instead of landing duplicate postings. The query builds on the
    // mod-4=0 slice, appends the mod-4=1 slice as batch 0 TWICE (the
    // crash-replay shape), the mod-4=2 slice as batch 1, then replays
    // batch 0 a third time with different data (a stale re-delivery) —
    // exactly 2 of the 4 appends must land. The oracle is the
    // duplicate-free aggregate over the three slices: a replay that
    // slipped through doubles n_rows and id_sum and hash-mismatches.
    "q309_ann_exactly_once_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val path = scratchDir("ivfonce", dir)
      // the append history (and its high-water mark) must start fresh
      // on every run of this query
      rmScratch(path)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        e.where(pmod(col("vec_id"), lit(4)) === 0), "vec_id",
        "embedding", seeds, "sid", "svec"), path)
      val b0 = e.where(pmod(col("vec_id"), lit(4)) === 1)
      val b1 = e.where(pmod(col("vec_id"), lit(4)) === 2)
      val applied = Seq(
        Similarity.appendToIvfIndexOnce(s, path, b0, "vec_id",
          "embedding", batchId = 0L), // lands
        Similarity.appendToIvfIndexOnce(s, path, b0, "vec_id",
          "embedding", batchId = 0L), // replay of batch 0: skipped
        Similarity.appendToIvfIndexOnce(s, path, b1, "vec_id",
          "embedding", batchId = 1L), // lands
        Similarity.appendToIvfIndexOnce(s, path, b1, "vec_id",
          "embedding", batchId = 0L)  // stale re-delivery: skipped
      ).count(identity)
      Similarity.readIvfIndex(s, path).postings
        .agg(count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col("corpus_id")).cast("long").as("n_ids"),
          sum(col("corpus_id")).cast("long").as("id_sum"))
        .withColumn("n_appends_applied", lit(applied).cast("long"))
        .select("n_rows", "n_ids", "id_sum", "n_appends_applied")
    }),

    // AUTO-ROUTED ANN DEDUP (r16 directive #3 as an oracle row): the
    // caller supplies BOTH persisted roots and annNearDupPairsAuto
    // picks the raw or ADC-prefiltered kernel from the index's measured
    // density (mean postings per cell vs the SCALE-measured crossover).
    // Output must be IDENTICAL on either route (the prefilter is
    // lossless), so the oracle is q301's independent exact-kernel
    // replay — plus the routing decision itself, recomputed in SQL from
    // the same density statistic (250 evens / 32 cells ≈ 7.8 < 350 ⇒
    // raw at this scale), so a threshold or stats regression in the
    // router hash-mismatches.
    "q310_ann_auto_route_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val evens = e.where(pmod(col("vec_id"), lit(2)) === 0)
      val odds = e.where(pmod(col("vec_id"), lit(2)) === 1)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val root = scratchDir("autoroute", dir)
      val (pr, pp) = (s"$root/raw", s"$root/pq")
      rmScratch(root)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(evens, "vec_id",
        "embedding", seeds, "sid", "svec"), pr)
      val pq = Similarity.buildIvfPqIndex(evens, "vec_id", "embedding",
        seeds, "sid", "svec", codebookIds = (16L to 46L by 2).toSeq,
        inDims = 64, nSub = 8)
      Similarity.writeIvfPqIndex(pq, pp)
      graft.Lineage.retireDependents(pq.codes)
      Similarity.annNearDupPairsAuto(s, pr, pp, odds, "vec_id",
        "embedding", thresholdPpm = 200000L, nprobe = 4,
        maxPairsPerNew = 2)
        .select(col("id_new").cast("long").as("id_new"),
          col("id_existing").cast("long").as("id_existing"))
        .withColumn("pq_routed",
          lit(if (Similarity.annNearDupRoutesToPq(s, pr)) 1L else 0L))
    }),

    // BM25 LEXICAL RETRIEVAL (serving counterpart of the dedup family):
    // Okapi BM25 with the non-negative idf over whitespace tokens, five
    // 8-token queries drawn from the corpus itself. Determinism: each
    // per-term weight is rounded to 6dp and summed in DECIMAL, so the
    // document score is an order-independent exact sum and the ranking
    // (score desc, doc_id asc) replays in any engine — only the
    // per-term ln() is IEEE (the q42 precedent). Corpus never shuffles
    // on a query key: df is semi-joined down to the query vocabulary
    // and broadcast back.
    "q311_bm25_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          array_join(slice(filter(split(lower(trim(col("text"))),
            "\\s+"), tk => length(tk) > 0), 1, 8), " ").as("qtext"))
      Retrieval.bm25Retrieve(docs, "doc_id", "text", queries, "qid",
        "qtext", topK = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("doc_id").cast("long").as("doc_id"), col("bm25"),
          col("rank").cast("long").as("rank"))
    }),

    // HYBRID LEXICAL+VECTOR RETRIEVAL: reciprocal-rank fusion of the
    // BM25 list (q311's kernel) and the exact cosine list (q26's
    // kernel) — integer floor-ppm RRF contributions, so the fused
    // ordering is exact given the two input rankings. The corpus is
    // documents ⋈ embeddings on id (1:1 by construction of the test
    // tables); queries are the same five 8-token prefixes plus their
    // embedding.
    "q312_hybrid_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull &&
          size(col("embedding")) === 64)
      val corpus = docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      val queries = corpus.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          array_join(slice(filter(split(lower(trim(col("text"))),
            "\\s+"), tk => length(tk) > 0), 1, 8), " ").as("qtext"),
          col("embedding").as("qvec"))
      Retrieval.hybridRrfRetrieve(corpus, "doc_id", "text", "embedding",
        queries, "qid", "qtext", "qvec", perListK = 10, topN = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("doc_id").cast("long").as("doc_id"),
          col("fused_rank").cast("long").as("fused_rank"),
          col("rrf_ppm").cast("long").as("rrf_ppm"),
          col("n_lists").cast("long").as("n_lists"),
          col("best_rank").cast("long").as("best_rank"))
    }),

    // PERSISTED BM25 INDEX PROBE (the lexical twin of the IVF index
    // lifecycle): build → write (postings/terms partitioned by term
    // bucket, one-row self-describing meta) → probe with the query
    // vocabulary's buckets pushed as a partition filter. The oracle is
    // q311's full BM25 replay VERBATIM — the index must be invisible
    // in the results; only the corpus-side work changes (pruned reads
    // instead of a tokenize pass).
    "q313_bm25_index_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = scratchDir("bm25idx", dir)
      rmScratch(path)
      Retrieval.writeBm25Index(
        Retrieval.buildBm25Index(docs, "doc_id", "text",
          numBuckets = 16), path)
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          array_join(slice(filter(split(lower(trim(col("text"))),
            "\\s+"), tk => length(tk) > 0), 1, 8), " ").as("qtext"))
      Retrieval.probeBm25Index(s, path, queries, "qid", "qtext",
        topK = 10)
        .select(col("query_id").cast("long").as("query_id"),
          col("doc_id").cast("long").as("doc_id"), col("bm25"),
          col("rank").cast("long").as("rank"))
    }),

    // End-to-end recall audit of the PERSISTED index (the q217/q182
    // QA parity for the index lifecycle): probeIvfIndex's top-10 over
    // the first 8 queries, per probe budget nprobe ∈ {1,2,4,32},
    // against bruteForceTopK ground truth — exact floor-ppm recall so
    // an operator can pick the smallest nprobe that clears the bar.
    // nprobe=32 probes every cell, so its row must recover truth
    // exactly (recall_ppm = 10⁶) — a built-in self-check the oracle
    // also replays.
    "q294_ann_index_recall_audit" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val path = scratchDir("ivfrecall", dir)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(e, "vec_id",
        "embedding", seeds, "sid", "svec"), path)
      Similarity.ivfRecallAudit(Similarity.readIvfIndex(s, path),
        e, "vec_id", "embedding", e.where(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, nprobes = Seq(1, 2, 4, 32))
        .select(col("nprobe").cast("int").as("nprobe"),
          col("n_truth").cast("long").as("n_truth"),
          col("n_probe_rows").cast("long").as("n_probe_rows"),
          col("n_hits").cast("long").as("n_hits"),
          col("recall_ppm").cast("long").as("recall_ppm"))
    }),

    // ATTRIBUTE-FILTERED ANN PROBE — "nearest label-1 vectors only":
    // the index is built with `label` as a payload column (a plain
    // parquet column of the cell-partitioned postings), and the probe
    // filters on it BEFORE the top-k, so all k survivors satisfy the
    // predicate and the filter is pushed into the postings scan
    // alongside DPP. The oracle replays the probe with the candidate
    // side restricted to label = 1.
    "q305_ann_filtered_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val path = scratchDir("ivffiltered", dir)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(e, "vec_id",
        "embedding", seeds, "sid", "svec",
        payloadCols = Seq("label")), path)
      Similarity.probeIvfIndexFiltered(Similarity.readIvfIndex(s, path),
        e.where(col("vec_id") < 8), "vec_id", "embedding", k = 10,
        predicate = col("label") === 1, nprobe = 4)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // ATTRIBUTE-FILTERED PQ PROBE — the compressed twin of q305: the
    // PQ index carries `label` as a payload column on the codes, and
    // the ADC probe filters on it before the top-k. The oracle replays
    // the whole-corpus encode + ADC probe (q300's replay) with the
    // candidate side restricted to label = 1.
    "q307_ann_pq_filtered_probe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val path = scratchDir("pqfiltered", dir)
      Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(e, "vec_id",
        "embedding", seeds, "sid", "svec", codebookIds = 16L to 23L,
        inDims = 64, nSub = 8, payloadCols = Seq("label")), path)
      Similarity.probeIvfPqIndexFiltered(
        Similarity.readIvfPqIndex(s, path), e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, predicate = col("label") === 1,
        nprobe = 4)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("approx_d2").cast("long").as("approx_d2"),
          col("rank").cast("long").as("rank"))
    }),

    // PER-SELECTIVITY filtered recall audit: recall under an attribute
    // filter does NOT transfer from the unfiltered audit (the filter
    // thins probed cells, shifting the nprobe-recall curve), so each
    // selectivity band gets its own rows — here label = 1 (~10%) and
    // label >= 5 (~50%) at nprobe ∈ {2, 32}. Truth is brute force over
    // the FILTERED corpus; nprobe = 32 probes every cell, so its rows
    // must recover filtered truth exactly (recall_ppm = 10⁶) — the
    // built-in self-check the oracle replays.
    "q306_ann_filtered_recall_audit" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val path = scratchDir("ivffilteraudit", dir)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(e, "vec_id",
        "embedding", seeds, "sid", "svec",
        payloadCols = Seq("label")), path)
      val idx = Similarity.readIvfIndex(s, path)
      def band(pred: org.apache.spark.sql.Column, tag: Int) =
        Similarity.ivfFilteredRecallAudit(idx, e, "vec_id", "embedding",
          e.where(col("vec_id") < 8), "vec_id", "embedding", k = 10,
          nprobes = Seq(2, 32), predicate = pred)
          .select(lit(tag).cast("int").as("sel"),
            col("nprobe").cast("int").as("nprobe"),
            col("n_truth").cast("long").as("n_truth"),
            col("n_probe_rows").cast("long").as("n_probe_rows"),
            col("n_hits").cast("long").as("n_hits"),
            col("recall_ppm").cast("long").as("recall_ppm"))
      band(col("label") === 1, 1)
        .unionAll(band(col("label") >= 5, 2))
    }),

    // TOMBSTONE DELETE (right-to-erasure for the persisted index):
    // every 10th vector deleted AFTER the index was built — probing
    // must behave exactly as if the index had been rebuilt without
    // them (the tombstones anti-join every read, physically folded at
    // the next compaction). The oracle replays the probe over the
    // corpus minus the deleted ids.
    "q303_ann_index_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val path = scratchDir("ivfdelete", dir)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(e, "vec_id",
        "embedding", seeds, "sid", "svec"), path)
      Similarity.deleteFromIvfIndex(s, path,
        e.where(pmod(col("vec_id"), lit(10)) === 0).select(col("vec_id")),
        "vec_id")
      Similarity.probeIvfIndex(Similarity.readIvfIndex(s, path),
        e.where(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, nprobe = 4)
        .select(col("query_id").cast("long").as("query_id"),
          col("corpus_id").cast("long").as("corpus_id"),
          col("rank").cast("long").as("rank"))
    }),

    // The delete's PHYSICAL fold: after delete + compaction the RAW
    // postings directory (read directly, not through the tombstone-
    // filtering readIvfIndex) must hold exactly the corpus minus the
    // deleted rows — per-cell counts + exact ppm share replayed by the
    // oracle from a from-scratch assignment of the surviving rows. A
    // compaction that forgot to fold (or folded the wrong ids) changes
    // a count and hash-mismatches.
    "q304_ann_delete_compact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val path = scratchDir("ivfdelcompact", dir)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(e, "vec_id",
        "embedding", seeds, "sid", "svec"), path)
      Similarity.deleteFromIvfIndex(s, path,
        e.where(pmod(col("vec_id"), lit(10)) === 0).select(col("vec_id")),
        "vec_id")
      Similarity.compactIvfIndex(s, path)
      // an empty corpus leaves zero posting files (the partitioned
      // write of an empty frame) — the empty-input contract still
      // completes with zero stats rows
      val rawP =
        try s.read.parquet(path + "/postings")
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("cell",
                  org.apache.spark.sql.types.IntegerType))))
        }
      val per = rawP.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_postings"))
      val tot = per.agg(sum(col("n_postings")).as("n_total"))
      per.crossJoin(broadcast(tot))
        .select(col("cell").cast("int").as("cell"),
          col("n_postings").cast("long").as("n_postings"),
          expr("n_postings * 1000000 div n_total").cast("long")
            .as("share_ppm"))
    }),

    // STREAMING INDEX MAINTENANCE — the "index the firehose"
    // composition in one call: a pre-trained empty index (full-corpus
    // hash seeds), the corpus arriving as four micro-batches
    // (vec_id mod 4), each appended under the frozen centroids and the
    // postings compacted every second batch. The output is the final
    // per-cell posting stats: the oracle recomputes them from a
    // from-scratch assignment of ALL valid rows, so a posting lost or
    // duplicated anywhere in the append+compact cadence — including a
    // compaction swap racing the next batch — hash-mismatches.
    "q295_stream_index_maintenance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val seeds = Similarity.hashSeeds(e, "vec_id", "embedding", 32)
      val root = scratchDir("annmaint", dir)
      val (in, idxp, chk) = (s"$root/in", s"$root/index", s"$root/chk")
      Seq(in, chk).foreach(rmScratch)
      // centroids only — writeIvfIndex(overwrite) also clears any
      // postings a previous run appended
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        e.where(lit(false)), "vec_id", "embedding", seeds, "sid", "svec"),
        idxp)
      val qset = e
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      (0 until 4).foreach { m =>
        qset.where(pmod(col("vec_id"), lit(4)) === m)
          .coalesce(1).write.mode("append").parquet(in)
      }
      val stream = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.indexMaintenanceStream(stream, "vec_id",
        "embedding", idxp, chk, compactEvery = 2)
        .awaitTermination()
      Similarity.ivfIndexStats(Similarity.readIvfIndex(s, idxp))
    }),

    "q262_stickiness" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val day = graft.ops.Sessions.slidingDistinct(ev, "ts", "user_id",
          windowHours = 24)
        .select(col("hour"), col("rolling_users").as("dau24"))
      val week = graft.ops.Sessions.slidingDistinct(ev, "ts", "user_id",
          windowHours = 168)
        .select(col("hour"), col("rolling_users").as("wau168"))
      day.join(week, Seq("hour"))
        .select(col("hour"), col("dau24"), col("wau168"),
          expr("dau24 * 1000000 div wau168").as("stickiness_ppm"))
    }),

    // Embedding-corpus health gate: every vector classified into
    // exactly one state (null/wrong-dims/nonfinite/zero/ok) with exact
    // integer norm-squared extremes for the ok mass — the hygiene table
    // read before any ANN pipeline trusts the column
    "q260_embedding_health" -> ((s, dir) => {
      Similarity.embeddingHealthReport(t(s, dir, "embeddings"),
        "vec_id", "embedding", expectedDims = 64)
    }),

    // Split balance audit: the q36 deterministic 80/10/10 split crossed
    // with labels — observed vs expected cell mass and the exact-ppm
    // deviation (the "did the hash split skew a class" check)
    "q261_split_balance" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("vec_id").isNotNull && col("label").isNotNull)
      val cell = Splits.assignSplit(e, "vec_id")
        .groupBy(col("split"), col("label"))
        .agg(count(lit(1)).as("n_cell"))
      val bySplit = cell.groupBy(col("split"))
        .agg(sum(col("n_cell")).as("n_split"))
      val byLabel = cell.groupBy(col("label"))
        .agg(sum(col("n_cell")).as("n_label"))
      val total = cell.agg(sum(col("n_cell")).as("n_total"))
      cell.join(bySplit, Seq("split")).join(byLabel, Seq("label"))
        .crossJoin(broadcast(total))
        .select(col("split"), col("label"), col("n_cell"),
          col("n_split"), col("n_label"), col("n_total"),
          expr("""abs(n_cell * n_total - n_split * n_label) * 1000000
            div (n_split * n_label)""").as("dev_ppm"))
    }),

    // Streaming HLL register maintenance: two micro-batches append
    // their per-group register tables; the registerwise-max merge over
    // the log must equal the batch single-pass sketch (idempotent under
    // at-least-once replay) — the oracle replays q235's registers
    "q258_stream_hll" -> ((s, dir) => {
      import graft.ops.Sketches
      val ev = t(s, dir, "events")
        .where(col("event_type").isNotNull && col("user_id").isNotNull)
      val root = scratchDir("q258_hll", dir)
      val (in, regs, chk) = (s"$root/in", s"$root/regs", s"$root/chk")
      Seq(in, regs, chk).foreach(rmScratch)
      val vals = ev.select(col("event_type"), col("user_id"))
      vals.where(pmod(col("user_id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(in)
      vals.where(pmod(col("user_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(in)
      val st = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.hllMaintainStream(st, "event_type",
        "user_id", regs, chk).awaitTermination()
      val merged = Sketches.hllMergeRegisters(
        s.read.parquet(regs).select(col("g"), col("bucket"),
          col("m_j")))
      val exact = ev.groupBy(col("event_type").as("g"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
      Sketches.hllEstimate(merged).join(exact, Seq("g"))
        .select(col("g").as("event_type"), col("n_used"),
          col("s_total"), col("hll_est"), col("n_exact"))
    }),

    // Missingness co-occurrence matrix: per column pair of events, the
    // exact NULL-pattern contingency (n, each present, both present,
    // neither) from ONE aggregate row — columns that vanish together
    // mark a structural upstream cause
    "q259_missingness" -> ((s, dir) => {
      Profiling.missingnessMatrix(t(s, dir, "events"),
        Seq("user_id", "event_type", "value", "props"))
    }),

    // Cross-group quantile matching: every priority class's price
    // distribution mapped onto 1-URGENT's at the same exact min-rank
    // percentile — the calibration table that makes per-source scores
    // comparable; rank containment runs as the binned range equi-join
    "q255_quantile_match" -> ((s, dir) => {
      Profiling.quantileMatch(t(s, dir, "orders"), "o_orderpriority",
        "o_totalprice", refGroup = "1-URGENT")
    }),

    // Watermarked stream-stream FULL OUTER interval join: matched
    // purchase-click pairs plus watermark-proven unmatched rows from
    // BOTH sides (left null-emission contract proven by q234; this adds
    // the right side's window-shifted eviction)
    "q256_stream_full_outer_join" -> ((s, dir) => {
      s.catalog.dropTempView("q256_stream_out")
      val ev = graft.streaming.Streams.eventStream(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts"))
      val st = graft.streaming.Streams.fullOuterIntervalJoinStream(
        purchases, clicks, "user_id", windowSeconds = 3600,
        watermark = "600 seconds")
        .select(col("purchase_id"), col("click_id"))
      graft.streaming.Streams.runToMemory(s, st, "q256_stream_out",
        outputMode = "append", statePartitions = Some(4))
    }),

    // Machine-cadence (bot) audit: per user, exact inter-event gap
    // regularity — gaps, distinct gaps, and the modal gap's ppm share
    // (a cron job reads ~1e6, a human reads low) — the pre-filter
    // before any engagement metric trusts the traffic
    "q257_cadence_audit" -> ((s, dir) => {
      graft.ops.Sessions.cadenceAudit(t(s, dir, "events"), "user_id",
        "ts", "event_id")
    }),

    // RLE layout audit: exact value-run counts for event_type and
    // user_id under the event-time physical order (hour-blocked — no
    // global sort), with the distinct-value floor a value-clustered
    // layout would reach — the sort-on-ingest justification table
    "q253_rle_audit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("ts").isNotNull && col("event_id").isNotNull)
      graft.ops.Layout.rleRunsReport(ev,
        expr("unix_micros(ts) div 3600000000"),
        col("ts"), col("event_id"),
        Seq("event_type" -> col("event_type"),
          "user_id" -> col("user_id")))
    }),

    // CUBE over (event_type, engine-independent day-of-week) with
    // grouping_id: all four grouping sets from ONE Expand pass — the
    // grouping-sets surface parity row (ROLLUP already covered by q128)
    "q254_cube_report" -> ((s, dir) => {
      t(s, dir, "events").where(col("ts").isNotNull)
        .select(col("event_type"),
          expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"))
        .cube(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
    }),

    // word2vec frequent-word subsampling audit: per source, exact
    // occurrences vs occurrences kept under u < sqrt(tN/f) — the sqrt
    // never executes (u30^2*f*tDen < N*tNum*2^60 in DECIMAL(38,0)),
    // so the thinning preview is bit-identical on any engine
    "q251_word_subsample" -> ((s, dir) => {
      graft.ops.Mixing.wordSubsampleAudit(t(s, dir, "documents"),
        "doc_id", "source", "text")
    }),

    // Bloom-filter false-positive audit: 1024-bit 4-hash filter over
    // the member users, probed by a disjoint user set — exact FP count,
    // exact bit load (saturation reads straight off the report)
    "q252_bloom_fpr" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
      graft.ops.Sketches.bloomFprAudit(
        ev.where(pmod(col("user_id"), lit(3)) === 0), col("user_id"),
        ev.where(pmod(col("user_id"), lit(3)) === 1), col("user_id"))
    }),

    // Streaming count-min maintenance: two micro-batches (user parity)
    // each append their 4x256 cell DELTA; the final sum-merged sketch
    // probes the q239 key sample and must equal the batch sketch
    // exactly (cellwise-sum mergeability) — the oracle IS q239's
    "q244_stream_cms" -> ((s, dir) => {
      import graft.ops.Sketches
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
      val root = scratchDir("q244_cms", dir)
      val (in, cells, chk) = (s"$root/in", s"$root/cells", s"$root/chk")
      Seq(in, cells, chk).foreach(rmScratch)
      val vals = ev.select(col("user_id"))
      vals.where(pmod(col("user_id"), lit(2)) === 0)
        .coalesce(1).write.mode("overwrite").parquet(in)
      vals.where(pmod(col("user_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(in)
      val st = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.cmsMaintainStream(st, "user_id", cells, chk)
        .awaitTermination()
      val cellTab = s.read.parquet(cells)
        .groupBy(col("row"), col("col")).agg(sum(col("cnt")).as("cnt"))
      val keys = ev.where(pmod(col("user_id"), lit(29L)) === 0)
        .select(col("user_id").cast("string").as("v")).distinct()
      val exact = ev.where(pmod(col("user_id"), lit(29L)) === 0)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      Sketches.cmsPointEstimates(cellTab, keys)
        .join(exact, col("v") === col("user_id").cast("string"))
        .select(col("user_id"), col("cms_est"), col("n_exact"),
          (col("cms_est") - col("n_exact")).as("over_count"))
    }),

    // Session depth distribution: how many sessions reach k events,
    // with exact cumulative reach share in ppm — the engagement-depth
    // curve product teams read before any funnel is hypothesized
    "q224_session_depth" -> ((s, dir) => {
      val sess = graft.ops.Sessions.sessionize(
        t(s, dir, "events").where(col("user_id").isNotNull &&
          col("ts").isNotNull), "user_id", "ts", "event_id",
        gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("depth"))
      val hist = sess.groupBy(col("depth"))
        .agg(count(lit(1)).as("n_sessions"))
        .withColumn("block",
          (length(bin(col("depth"))) - 1).cast("int"))
        .truncateLineage(eager = false)
      // descending cumulative via the blocked pattern (suffix offsets
      // from higher bit-length blocks) — no single-partition window
      graft.ops.RunningSums(hist, Nil, -col("block"),
          Seq(col("depth").desc), Seq("n_reaching" -> col("n_sessions"))
        ) match {
        case None => hist.select(col("depth"), col("n_sessions"),
          col("n_sessions").as("n_reaching"),
          col("n_sessions").as("reach_ppm")).limit(0)
        case Some(sums) => sums.rows
          .select(col("depth"), col("n_sessions"), col("n_reaching"),
            expr(s"n_reaching * 1000000 div ${sums.total("n_reaching")}L")
              .as("reach_ppm"))
      }
    }),

    // Inter-purchase intervals: exact p25/p50/p75 of the minutes
    // between consecutive purchases of the same user — repeat-latency,
    // the replenishment-cycle metric; per-user lag + blocked quantiles
    "q225_repurchase_intervals" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val gaps = t(s, dir, "events")
        .where(col("event_type") === "purchase" &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(expr("(unix_micros(ts) - unix_micros(prev))" +
          " div 60000000").as("gap_min"))
      graft.ops.Sketches.exactQuantiles(gaps, "gap_min",
        Seq((1, 4), (1, 2), (3, 4)))
    }),

    // Discount effectiveness: per discount percent, exact mean
    // quantity (1e-4 units) and revenue share; plus the qty~discount
    // OLS slope over ALL lineitems as exact moment sums — "do
    // discounts move volume" without a single float accumulation
    "q226_discount_effect" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_discount").isNotNull &&
          col("l_quantity").isNotNull)
        .select((col("l_discount").cast("decimal(4,2)") * 100)
          .cast("long").as("disc_pct"),
          (col("l_quantity").cast("decimal(18,4)") * 10000)
            .cast("long").as("q4"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .truncateLineage(eager = false)
      val per = li.groupBy(col("disc_pct"))
        .agg(count(lit(1)).as("n"), sum(col("q4")).as("sum_q4"),
          sum(col("cents")).as("sum_cents"))
        .select(col("disc_pct"), col("n"),
          expr("sum_q4 div n").as("mean_qty_e4"), col("sum_cents"),
          lit(null).cast("double").as("slope_e4_per_pct"))
      def d38(c: Column) = c.cast("decimal(38,0)")
      val slope = li.groupBy(lit(-1L).as("disc_pct"))
        .agg(count(lit(1)).as("n"),
          sum(d38(col("disc_pct"))).as("sx"),
          sum(d38(col("q4"))).as("sy"),
          sum(d38(col("disc_pct")) * col("q4")).as("sxy"),
          sum(d38(col("disc_pct")) * col("disc_pct")).as("sxx"))
        .select(col("disc_pct"), col("n"),
          lit(null).cast("long").as("mean_qty_e4"),
          lit(null).cast("long").as("sum_cents"),
          expr("""case when cast(n as decimal(38,0)) * sxx - sx * sx
              <> 0 then
              cast(cast(n as decimal(38,0)) * sxy - sx * sy as double)
              / cast(cast(n as decimal(38,0)) * sxx - sx * sx
                as double) end""").as("slope_e4_per_pct"))
      per.unionAll(slope)
    }),

    // Declarative data-quality suite: five rules (nulls, domain,
    // range, referential, uniqueness) evaluated in ONE pass per table
    // — the Great-Expectations-style gate as a plain query, exact
    // violation counts
    "q227_dq_suite" -> ((s, dir) => {
      // groupBy(lit(rule)) mirrors the oracle's GROUP BY 1: BOTH engines
      // emit zero rows per rule on an empty table (a global aggregate
      // would emit a count-0 row and desync) — r10-advice-verified parity
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val r1 = ord.groupBy(lit("orders.custkey_not_null").as("rule"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("n_violations"))
      val r2 = ord.groupBy(lit("orders.status_domain").as("rule"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("n_violations"))
      val r3 = li.groupBy(lit("lineitem.qty_range_1_50").as("rule"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("n_violations"))
      val r4 = li.join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .groupBy(lit("lineitem.orderkey_fk").as("rule"))
        .agg(count(lit(1)).as("n_rows"),
          count(lit(1)).as("n_violations"))
      val r5 = ord.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c"))
        .groupBy(lit("orders.orderkey_unique").as("rule"))
        .agg(sum(col("c")).as("n_rows"),
          sum(col("c") - 1).as("n_violations"))
      Seq(r1, r2, r3, r4, r5).reduce(_ unionAll _)
    }),

    // Weighted exact quantiles: quantity-weighted p25/p50/p75 of the
    // unit price — "the median dollar", not the median row; rank
    // containment on the cumulative WEIGHT axis, no global sort
    "q222_weighted_quantiles" -> ((s, dir) => {
      graft.ops.Sketches.weightedQuantiles(
        t(s, dir, "lineitem").select(
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty")),
        "cents", "qty", Seq((1, 4), (1, 2), (3, 4)))
    }),

    // Binary-conversion A/B: hash arms, exposure = first view,
    // conversion = purchase at/after it (leakage-honest), exact counts
    // with Wilson 95% bounds — the conversion-dashboard readout
    "q223_conversion_ab" -> ((s, dir) => {
      Profiling.conversionAb(t(s, dir, "events"), "user_id", "ts",
        "event_type", triggerType = "view", goalType = "purchase")
    }),

    // Leaderboard movers: every part's exact revenue rank pre- vs
    // post-1998 (blocked count prefixes, RANGE tie frames, no global
    // sort), top-20 by absolute rank change
    "q219_rank_movers" -> ((s, dir) => {
      Profiling.rankMovers(t(s, dir, "lineitem"), "l_partkey",
        col("l_shipdate").cast("timestamp") <
          lit("1998-01-01 00:00:00").cast("timestamp"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"), topK = 20)
    }),

    // Cohort LTV curves: first-purchase-week cohorts, cumulative exact
    // cents by age week, per-customer average — the revenue companion
    // to q71's retention matrix
    "q220_cohort_ltv" -> ((s, dir) => {
      graft.ops.Sessions.cohortLtv(t(s, dir, "orders"), "o_custkey",
        "o_orderdate", "o_totalprice")
    }),

    // Nearest as-of with tolerance (pandas merge_asof direction=
    // 'nearest'): every purchase matched to the closest click of the
    // same user within 1h, both directions, backward-preferring ties —
    // one shuffle, one per-key sort, two carries
    "q221_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase" &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"))
      // right side unique per (key, ts) by contract: min click id wins
      val clicks = ev.where(col("event_type") === "click" &&
          col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"), col("ts"))
        .agg(min(col("event_id")).as("click_id"))
      graft.ops.AsOf.asOfNearest(purchases, "user_id", "ts", clicks,
          "user_id", "ts", Seq("click_id"),
          toleranceMicros = 3600000000L)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_micros"), col("asof_dir"),
          col("asof_dist_micros"), col("asof_click_id"))
    }),

    // ABC / Pareto inventory classification of parts by revenue: the
    // 80/15/5 split with exact integer boundary tests and full tie
    // determinism — no global ORDER BY
    "q216_abc_classification" -> ((s, dir) => {
      Profiling.abcClassification(t(s, dir, "lineitem"), "l_partkey",
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long"))
    }),

    // LSH tuning report: banded-minhash candidates vs the exact
    // Jaccard>=0.5 truth on the SAME trigram shingles — recall,
    // precision, and the verification workload the bands propose;
    // the report every LSH parameter choice should be justified by
    "q217_lsh_tuning_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.pairFidelity(
        Dedup.jaccardNearDupsExact(docs, "doc_id", "text",
          shingleSize = 3, threshold = 0.5).select("id_a", "id_b"),
        Dedup.minhashCandidatePairs(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 16, bands = 8, portable = true)
          .select("id_a", "id_b"))
    }),

    // q217's SAMPLE-SCALE twin (r12 directive #3): banding candidates
    // from the full corpus restricted to sampled-endpoint pairs, exact
    // PPJoin truth on the 50% md5-bucket sample — the quadratic truth
    // side falls by sample², ppm ratios stay unbiased
    "q282_lsh_tuning_sampled" -> ((s, dir) => {
      Dedup.minhashFidelitySampled(t(s, dir, "documents"), "doc_id",
        "text", shingleSize = 3, numHashes = 16, bands = 8,
        threshold = 0.5, truthSample = 0.5)
    }),

    // q25's exact PPJoin join with the truthSample fraction threaded
    // through (the form the fidelity reports consume at scale): same
    // operator, deterministic 50% md5-bucket sub-corpus
    "q283_jaccard_dups_sampled" -> ((s, dir) => {
      Dedup.jaccardNearDupsExact(t(s, dir, "documents"), "doc_id",
        "text", shingleSize = 3, threshold = 0.5, truthSample = 0.5)
    }),

    // Rolling 7-day OLS trend of each type's hourly rate as of every
    // hour — RANGE frames over the hour axis (gaps count as time),
    // exact DECIMAL moment windows, IEEE slope tail
    "q218_rolling_trend" -> ((s, dir) => {
      graft.ops.Sessions.rollingTrend(t(s, dir, "events"),
        "event_type", "ts", windowHours = 168)
    }),

    // JSON-lines ingestion round trip: documents serialized to JSONL,
    // re-read with an explicit schema (no sampling inference job), and
    // the flattened aggregate must equal the parquet truth — the
    // "land raw JSONL, read it with a contract" path
    "q213_jsonl_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = scratchDir("q213_jsonl", dir)
      val out = s"$root/jsonl"
      rmScratch(out)
      docs.select(to_json(struct(col("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      s.read.schema(schema).json(out)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_text_len"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),

    // Corrupt-tolerant ingestion audit: every 13th JSONL line is
    // deterministically mangled; the PERMISSIVE read quarantines them
    // into _corrupt_record instead of failing the job, and the audit
    // reports exact parsed/corrupt splits — the schema-on-read rescue
    // path every raw landing zone needs
    "q214_corrupt_record_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = scratchDir("q214_corrupt", dir)
      val out = s"$root/jsonl"
      rmScratch(out)
      val good = to_json(struct(col("doc_id"), col("lang"),
        col("source"), col("n_chars")))
      docs.select(when(pmod(col("doc_id"), lit(13)) === 0,
          concat(lit("{corrupt!"), col("source")))
        .otherwise(good).as("value"))
        .write.mode("overwrite").text(out)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .groupBy(lit(1).as("__g"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
            .as("n_parsed"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull, col("n_chars")))
            .as("sum_chars_parsed"))
        .drop("__g")
    }),

    // CSV round trip with the hard cases on purpose — a synthetic
    // column carrying commas, quotes AND a literal newline — written
    // quoted, read back with multiLine+escape, aggregate must equal
    // the parquet truth: the "excel-grade CSV actually round-trips"
    // proof
    "q215_csv_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = scratchDir("q215_csv", dir)
      val out = s"$root/csv"
      rmScratch(out)
      val tricky = concat(col("lang"), lit(",\""), col("source"),
        lit("\n"), col("doc_id").cast("string"))
      docs.select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), tricky.as("tricky"))
        .write.mode("overwrite").option("header", "true")
        .option("quoteAll", "true").option("escape", "\"").csv(out)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tricky",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema).option("header", "true")
        .option("multiLine", "true").option("escape", "\"").csv(out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("tricky"))).as("sum_tricky_len"),
          sum(when(col("tricky").contains("\n"), 1L).otherwise(0L))
            .as("n_with_newline"))
    }),

    // Retractable rollup: a CDC log where every 10th customer's orders
    // are later DELETED maintains the per-priority rollup by signed
    // deltas (+1/-1, +cents/-cents) — one aggregation, no base rescan;
    // == the recompute over surviving orders. (Min/max are NOT
    // retraction-safe and are deliberately absent — the algebraic vs
    // holistic aggregate distinction IVM systems live by.)
    "q210_retractable_rollup" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val inserts = ord.select(col("o_orderpriority").as("prio"),
        lit(1L).as("sign"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      val deletes = ord.where(pmod(col("o_custkey"), lit(10)) === 0)
        .select(col("o_orderpriority").as("prio"), lit(-1L).as("sign"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
      inserts.unionAll(deletes)
        .groupBy(col("prio").as("o_orderpriority"))
        .agg(sum(col("sign")).as("n"),
          sum(col("sign") * col("cents")).as("sum_cents"))
        // a fully-retracted group (sum(sign) = 0) has no surviving
        // orders: drop it so the maintained rollup equals the oracle's
        // recompute over survivors (which never sees the group at all)
        .where(col("n") =!= 0)
    }),

    // Embedding-distribution drift: centroid cosine between the two
    // vec_id-parity cohorts from exact per-dimension integer sums —
    // one aggregation pass, vectors never pairwise compared
    "q211_embedding_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.embeddingDrift(e, "vec_id", "embedding",
        pmod(col("vec_id"), lit(2)) === 0)
    }),

    // Rate alerting with hysteresis: arm after 2 consecutive hours at
    // >= 150% of the type's mean rate, disarm below 50% — the
    // monitoring state machine as one LOCF carry, integer thresholds
    "q212_rate_alerts" -> ((s, dir) => {
      graft.ops.Sessions.rateAlerts(t(s, dir, "events"), "event_type",
        "ts")
    }),

    // NATIVE session_window streaming aggregation — Spark's built-in
    // session windows (merging state, watermark closure) must equal
    // the batch gap-sessionization the oracle recomputes; append mode
    // emits each closed session exactly once, trailing sessions
    // held past the final watermark are modeled by the oracle
    "q207_stream_session_window" -> ((s, dir) => {
      s.catalog.dropTempView("q207_stream_out")
      val stream = graft.streaming.Streams.eventStream(s, dir)
        .where(col("user_id").isNotNull)
      val st = stream.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_micros"),
          unix_micros(col("w.end")).as("end_micros"), col("n_events"))
      graft.streaming.Streams.runToMemory(s, st, "q207_stream_out",
        outputMode = "append", statePartitions = Some(8))
    }),

    // Incremental rollup maintenance (IVM): the base half-month's
    // daily rollup persists to parquet; the delta half merges in by
    // re-aggregating MERGEABLE partials (sum/count/min/max) — never
    // rescanning the base events; result == the full recompute
    "q208_incremental_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      def rollup(df: DataFrame): DataFrame = df
        .where(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(date_format(date_trunc("day", col("ts")),
          "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(18,4)") * 10000)
            .cast("long")).as("sum_e4"),
          min(col("value").cast("decimal(18,4)")).as("vmin"),
          max(col("value").cast("decimal(18,4)")).as("vmax"))
      val root = scratchDir("q208_ivm", dir)
      val base = s"$root/base"
      rmScratch(base)
      rollup(ev.where(col("ts") < cut)).write.mode("overwrite")
        .parquet(base)
      val merged = s.read.parquet(base)
        .unionAll(rollup(ev.where(col("ts") >= cut)))
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sum_e4")).as("sum_e4"),
          min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
      merged.select(col("day"), col("event_type"), col("n"),
        col("sum_e4"), col("vmin").cast("double").as("vmin"),
        col("vmax").cast("double").as("vmax"))
    }),

    // Delete-propagation (right-to-erasure) audit: for a deletion
    // cohort of customers, the exact surviving reference counts per
    // table including the two-hop lineitem cascade — broadcast
    // semi-joins, the big tables never shuffle
    "q209_delete_audit" -> ((s, dir) => {
      val doomed = broadcast(t(s, dir, "customer")
        .where(pmod(col("c_custkey"), lit(97)) === 0)
        .select(col("c_custkey").as("k")))
      val ord = t(s, dir, "orders")
      val doomedOrders = ord.join(doomed,
        col("o_custkey") === col("k"))
      val rows = Seq(
        ("customer", doomed.select(col("k"))),
        ("orders", doomedOrders.select(col("o_orderkey").as("k"))),
        ("lineitem", t(s, dir, "lineitem").join(
          broadcast(doomedOrders.select(col("o_orderkey"))),
          col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey").as("k"))))
      rows.map { case (tbl, df) =>
        df.groupBy(lit(tbl).as("table_name"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("k")).as("n_keys"))
      }.reduce(_ unionAll _)
    }),

    // Chi-square independence audit: event type x day-of-week
    // contingency grid with exact expected counts and per-cell
    // contributions (absent cells included) — integer dow avoids
    // engine weekday-convention mismatches
    "q204_chi_square" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000) % 7").as("dow"))
      Profiling.chiSquareIndependence(ev, "event_type", "dow")
    }),

    // Markov next-event accuracy with an honest temporal split: the
    // first half-month trains the per-state argmax successor, the
    // second half scores it — per-state + overall exact ppm
    "q205_markov_accuracy" -> ((s, dir) => {
      graft.ops.Sessions.markovAccuracy(t(s, dir, "events"), "user_id",
        "ts", "event_id", "event_type", "2024-01-16 00:00:00")
    }),

    // CUPED-adjusted A/B readout: deterministic hash arms, pre-period
    // covariate, theta from pooled exact moment sums, fixed IEEE tail
    "q206_cuped_ab" -> ((s, dir) => {
      Profiling.cupedAdjust(t(s, dir, "events"), "user_id", "ts",
        "value", "2024-01-16 00:00:00")
    }),

    // STREAMING exact heavy hitters: Misra-Gries candidate state kept
    // ACROSS micro-batches (mapGroupsWithState, O(buckets*k) state,
    // update mode), batch exact recount + threshold — bit-identical to
    // the q148 batch answer under any batch split or arrival order
    "q200_stream_heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("text"))
      val root = scratchDir("q200_shh", dir)
      val in = s"$root/in"
      rmScratch(in)
      docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .coalesce(1).write.mode("append").parquet(in)
      docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(in)
      s.catalog.dropTempView("q200_stream_out")
      val stream = s.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      val toks = stream.select(explode(Dedup.tokens(col("text")))
        .as("tok"))
      val cand = graft.streaming.Streams
        .streamingHeavyHitterCandidates(toks, "tok", buckets = 16,
          k = 64)
      val sink = graft.streaming.Streams.runToMemory(s, cand,
        "q200_stream_out", outputMode = "update",
        statePartitions = Some(8))
      // final summary per bucket = max-seen emission; then the exact
      // recount over candidates only (broadcast semi-join)
      val fin = sink.groupBy(col("bucket"))
        .agg(max(struct(col("seen_n"), col("candidates"))).as("m"))
        .select(explode(col("m.candidates")).as("token"))
      val toksB = docs.select(explode(Dedup.tokens(col("text")))
        .as("tok"))
      val tot = broadcast(toksB.groupBy(lit(1).as("__o"))
        .agg(count(lit(1)).as("n_total")))
      toksB.join(broadcast(fin), col("tok") === col("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .crossJoin(tot)
        .where(col("cnt") * 40 > col("n_total"))
        .select(col("token"), col("cnt"), col("n_total"))
    }),

    // Exact multi-source BFS reach profile over the customer-supplier
    // graph: frontier-at-a-time (never path-enumerating), 3 rounds,
    // first-visit counts per depth — the exact ground truth beside
    // q161's sketched 2-hop estimate
    "q201_multi_source_bfs" -> ((s, dir) => {
      val edges = sharedGraphPrep(s, dir, "customer_supplier")
      graft.ops.Graphs.multiSourceBfs(s, edges,
        seeds = Seq(2L, 4L, 6L, 8L), maxDepth = 3)
    }),

    // Revenue concentration: exact Gini + top-1%/10% Lorenz shares of
    // order totals in ppm — blocked rank+mass prefixes, tie-exact,
    // no global sort
    "q202_concentration" -> ((s, dir) => {
      Profiling.concentrationReport(t(s, dir, "orders"),
        "o_totalprice")
    }),

    // Burst dedup: collapse event chains closer than 10 minutes per
    // (user, type) to their first event with exact suppressed counts —
    // the repeat-fire cleaner (chained, not fixed-window)
    "q203_burst_dedup" -> ((s, dir) => {
      graft.ops.Sessions.burstDedup(t(s, dir, "events"), "user_id",
        "event_type", "ts", "event_id", gapSeconds = 600)
    }),

    // Neyman-allocation stratified sample: 1000 rows across the
    // priority strata proportional to N_h*S_h — integer weights from
    // one exact sqrt per stratum, largest-remainder allocation, sample
    // by blocked (hash, id) rank; checksum pins exact membership
    "q197_neyman_sample" -> ((s, dir) => {
      graft.ops.Splits.neymanSample(t(s, dir, "orders"),
        "o_orderpriority", "o_orderkey", "o_totalprice", totalN = 1000)
    }),

    // Privacy release gate: per nation group, k (size), l (distinct
    // segments), and categorical t-closeness = exact-ppm total
    // variation distance vs the global segment mix
    "q198_t_closeness" -> ((s, dir) => {
      Profiling.tCloseness(t(s, dir, "customer"), "c_nationkey",
        "c_mktsegment")
    }),

    // Seasonal anomaly detection: hour-of-week median/MAD baseline per
    // event type (doubled-median exact integers), flags hours beyond
    // 3 x 1.4826 x MAD — "Tuesday 2pm collapsed", not "3am is quiet"
    "q199_seasonal_anomalies" -> ((s, dir) => {
      graft.ops.Sessions.seasonalAnomalies(t(s, dir, "events"),
        "event_type", "ts")
    }),

    // Per-group exact quantiles (p50/p90/p99 of the event value metric
    // per type): blocked (group, bit-length) prefix ranks — the "p99
    // per service" SLA report with no per-group row_number shuffle
    "q194_group_quantiles" -> ((s, dir) => {
      graft.ops.Sketches.exactQuantilesByGroup(
        t(s, dir, "events").select(col("event_type"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long")
            .as("v4")),
        "event_type", "v4", Seq((1, 2), (9, 10), (99, 100)))
    }),

    // Hourly-grid linear interpolation of each type's value series:
    // events touched once (per-hour boundary obs), prev/next from
    // hour-axis carries, DECIMAL(38,0)-exact interpolation — the
    // resampling step before any time-series join/forecast
    "q195_interpolate_hourly" -> ((s, dir) => {
      graft.ops.Sessions.interpolateHourly(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value")
    }),

    // Streaming watermark/late-data audit: the events replayed as two
    // deterministic micro-batches (even ids, then odd ids — batch 2
    // carries rows older than batch 1's watermark); the append-mode
    // windowed agg drops them, and the query quantifies exactly what
    // the 1-hour watermark cost per window vs the batch ground truth
    "q196_stream_late_audit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val root = scratchDir("q196_late", dir)
      val (in, out, chk) = (s"$root/in", s"$root/out", s"$root/chk")
      Seq(in, out, chk).foreach(rmScratch)
      val cols = Seq(col("event_id"), col("ts"), col("event_type"))
      // Two SEQUENTIAL runs against one checkpoint (the production
      // file-sink path): run 1 ingests the even-id rows and its
      // watermark persists; run 2 discovers the odd-id file, whose
      // rows in already-closed windows (end <= wm1) are dropped — a
      // single AvailableNow run would fold both files into one batch
      // and never exercise the late path (measured).
      def ingest(): Unit = {
        val stream = s.readStream.schema(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType))))
          .parquet(in)
        val st = stream.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("hour"), col("event_type"), col("n"))
        val q = graft.ConfScope.withShuffleWidth(s, Some(8)) {
          graft.streaming.Streams.runToParquet(st, out, chk)
        }
        try q.processAllAvailable() finally q.stop()
      }
      ev.where(pmod(col("event_id"), lit(2)) === 0).select(cols: _*)
        .coalesce(1).write.mode("append").parquet(in)
      ingest()
      ev.where(pmod(col("event_id"), lit(2)) === 1).select(cols: _*)
        .coalesce(1).write.mode("append").parquet(in)
      ingest()
      val truth = ev.groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("batch_n"))
      // empty input → the file sink commits no files and the read
      // cannot infer a schema; an empty (hour, type, n) frame is the
      // correct sink value then
      val sink =
        try s.read.parquet(out)
        catch { case _: org.apache.spark.sql.AnalysisException =>
          truth.select(col("hour"), col("event_type"),
            lit(0L).as("n")).limit(0)
        }
      truth.join(sink.withColumnsRenamed(Map("n" -> "streamed_n")),
          Seq("hour", "event_type"), "left")
        .select(col("hour"), col("event_type"), col("batch_n"),
          coalesce(col("streamed_n"), lit(0L)).as("streamed_n"),
          (col("batch_n") - coalesce(col("streamed_n"), lit(0L)))
            .as("missing_n"))
    }),

    // MMR diversified re-ranking: greedy lambda*rel - (1-lambda)*maxSim
    // selection over per-query top-12 candidates — integer dots, the
    // greedy recurrence unrolled as candidate-bounded relational steps;
    // corpus work is one broadcast scoring pass, never reshuffled
    "q190_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.mmrRerank(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3), "vec_id", "embedding",
        candidateK = 12, selectK = 5)
    }),

    // Hilbert-curve layout audit: the continuous space-filling key
    // (tighter per-file coordinate ranges than q65's Z-order — no
    // quadrant-boundary jumps), unrolled integer walk, per-block
    // row/cell counts and coordinate spans as the pruning evidence
    "q191_hilbert_layout" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(256L)).as("hx"),
        pmod(col("l_suppkey"), lit(256L)).as("hy"))
      graft.ops.Layout.withHilbertValue(li, "hx", "hy", 8)
        .groupBy(expr("hval div 256").as("block"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("hx"), col("hy")).as("n_cells"),
          min(col("hval")).as("h_min"), max(col("hval")).as("h_max"),
          (max(col("hx")) - min(col("hx"))).as("x_span"),
          (max(col("hy")) - min(col("hy"))).as("y_span"))
    }),

    // CUSUM mean-shift changepoint per event type: argmax |m*prefix_j
    // - j*total| over the hourly series — all integer, the hourly
    // frame is time-domain-sized, groups scan in parallel
    "q192_cusum_changepoint" -> ((s, dir) => {
      graft.ops.Sessions.cusumChangepoint(t(s, dir, "events"),
        "event_type", "ts")
    }),

    // Business-day (Mon-Fri) order->ship lag histogram per priority:
    // closed-form weekday counting — one codegen'd expression, no
    // calendar dimension, no join beyond the natural orderkey join
    "q193_business_day_lag" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        expr("unix_micros(cast(l_shipdate as timestamp))" +
          " div 86400000000").as("sd"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        expr("unix_micros(cast(o_orderdate as timestamp))" +
          " div 86400000000").as("od"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          Profiling.businessDaysBetween(col("od"), col("sd"))
            .as("bd_lag"))
        .groupBy(col("o_orderpriority"), col("bd_lag"))
        .agg(count(lit(1)).as("n_lineitems"))
    }),

    // RFM segmentation: every customer scored 1-5 on recency /
    // frequency / monetary by EXACT min-rank quintiles (blocked prefix
    // sum, no ntile, no single-reducer window), segment grid with
    // exact cent totals
    "q185_rfm_segments" -> ((s, dir) => {
      Profiling.rfmSegments(t(s, dir, "orders"), "o_custkey",
        "o_orderdate", "o_totalprice", buckets = 5)
    }),

    // Top-20 session paths: ordered event-type sequences of 30-minute
    // gap sessions (first 8 steps), counted and ranked — discovers the
    // journeys the funnel only hypothesizes; bounded collect per
    // session, TakeOrdered final
    "q186_top_paths" -> ((s, dir) => {
      graft.ops.Sessions.topPaths(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", gapSeconds = 1800, maxLen = 8,
        topK = 20)
    }),

    // Exact trailing-24h distinct active users at every observed hour
    // WITHOUT per-hour window rescans: per-user coverage islands ->
    // +1/-1 boundary deltas -> one blocked prefix sweep; the exact
    // "rolling DAU" the HLL version only approximates
    "q187_sliding_distinct" -> ((s, dir) => {
      graft.ops.Sessions.slidingDistinct(t(s, dir, "events"), "ts",
        "user_id", windowHours = 24)
    }),

    // Market-basket association rules over order baskets: apriori
    // item prune, within-basket pairs only (never item-domain
    // quadratic), exact ppm confidence/lift, both directions, top-25
    "q188_association_rules" -> ((s, dir) => {
      Profiling.associationRules(t(s, dir, "lineitem"), "l_orderkey",
        "l_partkey", minPairCount = 2, topK = 25)
    }),

    // Golden-record survivorship: the CRM master (precedence 0, epoch
    // ts), the order-header feed (precedence 1, orderdate ts) and a
    // corrections feed (precedence 2, finalized orders only) merged
    // into one profile per customer — precedence first, then recency,
    // then order-key tie; one max-struct aggregate, no rescans
    "q189_golden_record" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val epoch0 = lit("1970-01-01 00:00:00").cast("timestamp")
      val master = cust.select(col("c_custkey").as("k"),
          lit("segment").as("a"), col("c_mktsegment").as("v"),
          lit(0).as("p"), epoch0.as("uts"),
          col("c_custkey").cast("long").as("tie"))
        .unionAll(cust.select(col("c_custkey").as("k"),
          lit("name").as("a"), col("c_name").as("v"), lit(0).as("p"),
          epoch0.as("uts"), col("c_custkey").cast("long").as("tie")))
      val feed = ord.select(col("o_custkey").as("k"),
          lit("status").as("a"), col("o_orderstatus").as("v"),
          lit(1).as("p"), col("o_orderdate").as("uts"),
          col("o_orderkey").as("tie"))
        .unionAll(ord.select(col("o_custkey").as("k"),
          lit("priority").as("a"), col("o_orderpriority").as("v"),
          lit(1).as("p"), col("o_orderdate").as("uts"),
          col("o_orderkey").as("tie")))
      val corrections = ord.where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"), lit("status").as("a"),
          lit("FINAL").as("v"), lit(2).as("p"),
          col("o_orderdate").as("uts"), col("o_orderkey").as("tie"))
      Profiling.goldenRecord(
        master.unionAll(feed).unionAll(corrections),
        "k", "a", "v", "p", "uts", "tie")
    }),

    // Operating-point selection: lowest length threshold whose kept
    // set is >= 44%/46% English — turning a score into a keep/drop
    // gate at promised purity; descending blocked prefix sweep, exact
    // ppm, min-struct winner per target
    "q183_precision_threshold" -> ((s, dir) => {
      Profiling.precisionThreshold(t(s, dir, "documents"), "n_chars",
        col("lang") === "en", Seq(440000L, 460000L))
    }),

    // Quantization recall ablation: per-query top-10 under int8-range
    // (x16) vs reference (x1e4) integer quantization, exact recall@10
    // in ppm — the "can I ship int8 embeddings" measurement; both
    // precisions scored in ONE corpus pass
    "q182_quantization_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.quantizationRecall(e, "vec_id", "embedding",
        e.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    }),

    // Partition-agreement QA: exact pair-counting Rand index + purity
    // between the source and lang labelings of the corpus (the
    // dedup-cluster / relabel-run alignment check), all combinatorics
    // on the tiny contingency table
    "q181_partition_agreement" -> ((s, dir) => {
      Profiling.partitionAgreement(t(s, dir, "documents"), "source",
        "lang")
    }),

    // Bitemporal as-of: each user's value as the store KNEW it on
    // Jan 21 about state on Jan 20 — corrections (tx = ts + id%48h)
    // landing after the tx cutoff are invisible, later valid times
    // excluded; the reproducible-training-snapshot audit query
    "q180_bitemporal_asof" -> ((s, dir) => {
      val ch = t(s, dir, "events").select(col("user_id"),
        col("ts").as("valid_from"),
        expr("timestampadd(HOUR, cast(event_id % 48 AS int), ts)")
          .as("tx_time"),
        col("event_id"), col("value"))
      graft.ops.Sessions.bitemporalAsOf(ch, "user_id", "valid_from",
        "tx_time", "event_id", "value",
        validAt = "2024-01-20 00:00:00", txAt = "2024-01-21 00:00:00")
    }),

    // Hierarchical subtree rollup: total account balance under every
    // node of the deep customer tree (self + all transitive
    // descendants) — the org/BOM/category report a one-level groupBy
    // can't answer; closure by the ancestor walk, DECIMAL-exact sums
    "q179_subtree_rollup" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val edges = cust.where(col("c_custkey") >= 1)
        .select((col("c_custkey") / 2).cast("long").as("parent"),
          col("c_custkey").cast("long").as("child"))
      graft.ops.Graphs.subtreeRollup(s, edges, cust, "c_custkey",
        "c_acctbal", shufflePartitions = Some(8))
    }),

    // Per-type OLS drift rate of the event value metric: slope over the
    // epoch-hour axis from five exact integer moment sums in ONE
    // aggregate — num/den reported exactly, slope is one fixed IEEE
    // multiply+divide
    "q178_ols_trend" -> ((s, dir) => {
      Profiling.groupOlsTrend(t(s, dir, "events"), "event_type", "ts",
        "value")
    }),

    // Exact two-sample KS distance between en and zh document-length
    // distributions: the unbinned sup-CDF-gap drift gate (integer
    // products in DECIMAL(38,0), exact ppm, argmax value reported);
    // running CDF via the two-phase blocked prefix sum — never a
    // single-reducer window
    "q177_ks_distance" -> ((s, dir) => {
      Profiling.ksDistance(t(s, dir, "documents"), "lang", "n_chars",
        "en", "zh")
    }),

    // Pre-shuffle join-size estimation: exact hot-key pair mass (incl.
    // worst single key — the salting decision) + uniform-tail estimate
    // from bounded HH/KMV passes over each side ALONE — the "should I
    // run/broadcast/salt this join" stat, never running the join; one
    // uniform FK rel, one mid-cardinality rel, one pathological
    // status x status rel where the hot path carries everything
    "q176_join_size_estimate" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      Profiling.joinSizeEstimate(ord, "o_orderkey", li, "l_orderkey",
          "orders.o_orderkey~lineitem.l_orderkey")
        .unionAll(Profiling.joinSizeEstimate(t(s, dir, "customer"),
          "c_custkey", ord, "o_custkey",
          "customer.c_custkey~orders.o_custkey"))
        .unionAll(Profiling.joinSizeEstimate(ord, "o_orderstatus", li,
          "l_linestatus", "orders.o_orderstatus~lineitem.l_linestatus"))
    }),

    // Reciprocal-rank fusion: three query reformulations' integer-dot
    // top-20 lists fused into one consensus top-10 (weight = 1e6 div
    // (60+rank), ties by id) — the standard hybrid/multi-query
    // retrieval combiner, engine-exact end to end
    "q175_rrf_fusion" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.reciprocalRankFusion(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3), "vec_id", "embedding",
        perListK = 20, topN = 10)
    }),

    // Benford first-digit audit of order totals: observed vs expected
    // first-significant-digit shares in exact ppm — the fabricated-data
    // / unit-mixing detector; no floating log anywhere (the Benford
    // expectations are a shared literal table)
    "q172_benford_audit" -> ((s, dir) => {
      Profiling.benfordAudit(t(s, dir, "orders"), col("o_totalprice"))
    }),

    // Per-user behavioral diversity: Gini-Simpson index of the user's
    // event-type mix in exact ppm (1 - sum p_i^2) — bots/scripts sit
    // near 0, organic users spread; the engine-exact stand-in for
    // entropy (no log per group)
    "q173_mix_diversity" -> ((s, dir) => {
      Profiling.mixDiversity(t(s, dir, "events")
          .where(col("user_id").isNotNull), "user_id",
        col("event_type"))
    }),

    // Lag-k autocorrelation of the hourly arrival series (k=1,2,24):
    // the seasonality/trend probe beside q170's burstiness — exact
    // Pearson sums, fixed IEEE tail, pairs only over observed hours
    "q174_count_autocorr" -> ((s, dir) => {
      graft.ops.Sessions.countAutocorrelation(t(s, dir, "events"), "ts",
        Seq(1, 2, 24))
    }),

    // Sketch cube: distinct users for every level of the day x type
    // hierarchy from ONE scan — per-cell KMV sketches merged upward
    // (array merges over |cells| rows, never a rescan), est == the
    // directly-sketched level by the lossless-merge property
    "q171_kmv_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).cast("string").as("day"),
          col("event_type"), col("user_id").cast("string").as("uid"))
      graft.ops.Sketches.kmvRollup(ev, "day", "event_type", col("uid"),
        k = 128)
    }),

    // K-minimum-values distinct-cardinality sketch per source: the
    // mergeable bounded-buffer answer to count(DISTINCT token) — map-side
    // k-long buffers, one O(k)-rows-per-group shuffle, estimate
    // (k-1)·2^60/h_(k) over the portable hash the oracle rebuilds exactly
    "q116_kmv_distinct" -> ((s, dir) => {
      graft.ops.Sketches.kmvDistinct(t(s, dir, "documents"), "source",
        Dedup.tokens(col("text")), k = 64)
    }),
  )

  /** The q190 MMR oracle: greedy selection is inherently sequential, so
    * the SQL unrolls `selectK−1` steps (anti-join remaining → max pair
    * dot vs selected → row_number pick) over the same quantized-dot
    * candidate lists the engine uses — generated here so engine and
    * oracle share one step count and tie policy. */
  private def mmrOracleSql(candidateK: Int, selectK: Int): String = {
    def pairDot(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, len($a.qv) + 1), " +
        s"k -> $a.qv[k] * $b.qv[k])) AS BIGINT)"
    val steps = (2 to selectK).map { i =>
      val prev = i - 1
      s"""rem$i AS (SELECT c.query_id, c.corpus_id, c.qv, c.rel
         FROM cand c LEFT JOIN selall$prev s
           ON s.query_id = c.query_id AND s.corpus_id = c.corpus_id
         WHERE s.corpus_id IS NULL),
       ms$i AS (SELECT r.query_id, r.corpus_id,
           max(${pairDot("r", "s")}) AS ms
         FROM rem$i r JOIN selall$prev s ON r.query_id = s.query_id
         GROUP BY 1, 2),
       pick$i AS (SELECT * FROM (
           SELECT r.query_id, r.corpus_id, r.qv, r.rel, m.ms,
             r.rel * 7 - m.ms * 3 AS mmr,
             row_number() OVER (PARTITION BY r.query_id
               ORDER BY r.rel * 7 - m.ms * 3 DESC, r.corpus_id) AS rk
           FROM rem$i r JOIN ms$i m ON m.query_id = r.query_id
             AND m.corpus_id = r.corpus_id)
         WHERE rk = 1),
       selall$i AS (SELECT query_id, corpus_id, qv FROM selall$prev
         UNION ALL SELECT query_id, corpus_id, qv FROM pick$i)"""
    }.mkString(",\n       ")
    val unions = (2 to selectK).map { i =>
      s"""SELECT query_id, $i AS mmr_rank, corpus_id, rel AS rel_dot,
           ms AS max_sim, mmr AS mmr_score FROM pick$i"""
    }.mkString("\n         UNION ALL ")
    s"""WITH d AS (
         SELECT vec_id AS id, list_transform(embedding,
           x -> round(CAST(x AS DOUBLE) * 10000)) AS qv
         FROM embeddings),
       q AS (SELECT id, qv FROM d WHERE id < 3),
       p AS (SELECT q.id AS query_id, c.id AS corpus_id, c.qv,
           ${pairDot("c", "q")} AS rel
         FROM d c, q),
       cand AS (SELECT query_id, corpus_id, qv, rel FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, corpus_id) AS rk FROM p)
         WHERE rk <= $candidateK),
       sel1 AS (SELECT query_id, corpus_id, qv, rel FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, corpus_id) AS rk FROM cand)
         WHERE rk = 1),
       selall1 AS (SELECT query_id, corpus_id, qv FROM sel1),
       $steps
       SELECT query_id, 1 AS mmr_rank, corpus_id, rel AS rel_dot,
           CAST(NULL AS BIGINT) AS max_sim,
           CAST(NULL AS BIGINT) AS mmr_score FROM sel1
         UNION ALL $unions"""
  }

  /** The q191 Hilbert oracle: the same per-level rotate/reflect walk as
    * [[graft.ops.Layout.withHilbertValue]], unrolled to `bits` chained
    * CTEs (x0/y0 carry the original coordinates for the span audit);
    * the quadrant xor is the identical 4-way CASE. */
  private def hilbertOracleSql(bits: Int): String = {
    // every level writes DISTINCT column names (x1/y1/d1, x2/…): a
    // lateral-alias-capable engine must never see `… AS x` shadow the
    // source `x` it is still reading in a sibling expression
    val levels = (1 to bits).map { k =>
      val s = 1L << (bits - k)
      val p = k - 1
      s"""h$k AS (SELECT ox, oy,
           CASE WHEN (y$p & $s) = 0 THEN
             (CASE WHEN (x$p & $s) > 0 THEN ($s - 1) - y$p
              ELSE y$p END)
             ELSE x$p END AS x$k,
           CASE WHEN (y$p & $s) = 0 THEN
             (CASE WHEN (x$p & $s) > 0 THEN ($s - 1) - x$p
              ELSE x$p END)
             ELSE y$p END AS y$k,
           d$p + ${s * s} * (CASE
             WHEN (x$p & $s) = 0 AND (y$p & $s) = 0 THEN 0
             WHEN (x$p & $s) = 0 THEN 1
             WHEN (y$p & $s) > 0 THEN 2 ELSE 3 END) AS d$k
         FROM h$p)"""
    }.mkString(",\n       ")
    val m = 1L << bits
    s"""WITH h0 AS (
         SELECT l_partkey % $m AS ox, l_suppkey % $m AS oy,
           CAST(l_partkey % $m AS BIGINT) AS x0,
           CAST(l_suppkey % $m AS BIGINT) AS y0,
           CAST(0 AS BIGINT) AS d0
         FROM lineitem),
       $levels
       SELECT d$bits // $m AS block,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT (ox, oy)) AS BIGINT) AS n_cells,
         min(d$bits) AS h_min, max(d$bits) AS h_max,
         CAST(max(ox) - min(ox) AS BIGINT) AS x_span,
         CAST(max(oy) - min(oy) AS BIGINT) AS y_span
       FROM h$bits GROUP BY 1"""
  }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — every query has one (no rows-only checks):
    * the hash-kernel queries (q23/q24/q27) run the portable md5-derived
    * hash mode, whose signatures DuckDB rebuilds verbatim via
    * `CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)`. */
  def oracleSql: Map[String, String] = Map(
    "q190_mmr_rerank" -> mmrOracleSql(12, 5),
    // Same lag pairs; the allowed set is the identical literal list.
    "q228_conformance_audit" ->
      """WITH p AS (
           SELECT user_id, ts, event_id, event_type AS nxt,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_type IS NOT NULL),
         g AS (SELECT prev, nxt, count(*) AS n FROM p
               WHERE prev IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT sum(n) AS nt FROM g)
         SELECT g.prev, g.nxt, CAST(g.n AS BIGINT) AS n,
           g.prev || '>' || g.nxt IN ('signup>view', 'signup>error',
             'view>view', 'view>click', 'view>error', 'click>view',
             'click>purchase', 'click>error', 'purchase>view',
             'error>view') AS allowed,
           CAST(g.n * 1000000 // t.nt AS BIGINT) AS share_ppm
         FROM g, t""",
    // Same per-user week classification; churn from the shifted
    // week-domain self-join.
    "q229_growth_accounting" ->
      """WITH uw AS (
           SELECT DISTINCT user_id AS u,
             epoch_us(ts) // 604800000000 AS wk
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT wk,
             CASE WHEN wk = min(wk) OVER (PARTITION BY u) THEN 'new'
               WHEN lag(wk) OVER (PARTITION BY u ORDER BY wk) = wk - 1
                 THEN 'retained'
               ELSE 'resurrected' END AS cls
           FROM uw),
         weekly AS (SELECT wk, count(*) AS n_active,
             sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS n_new,
             sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
               AS n_retained,
             sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
               AS n_resurrected
           FROM c GROUP BY 1)
         SELECT w.wk AS week, CAST(w.n_active AS BIGINT) AS n_active,
           CAST(w.n_new AS BIGINT) AS n_new,
           CAST(w.n_retained AS BIGINT) AS n_retained,
           CAST(w.n_resurrected AS BIGINT) AS n_resurrected,
           CAST(p.n_active - w.n_retained AS BIGINT)
             AS n_churned_from_prev
         FROM weekly w LEFT JOIN weekly p ON p.wk = w.wk - 1""",
    // Same moment sums in HUGEINT (exact), correlations from the same
    // integer terms cast to double — both engines correctly round the
    // identical integers, so the doubles match bit-for-bit.
    "q230_corr_matrix" ->
      """WITH b AS (
           SELECT CAST(l_quantity AS HUGEINT) AS x0,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS HUGEINT) AS x1,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS HUGEINT)
               AS x2,
             CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS HUGEINT) AS x3
           FROM lineitem),
         m AS (
           SELECT count(*) AS n,
             sum(x0) AS s0, sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
             sum(x0*x0) AS p00, sum(x0*x1) AS p01, sum(x0*x2) AS p02,
             sum(x0*x3) AS p03, sum(x1*x1) AS p11, sum(x1*x2) AS p12,
             sum(x1*x3) AS p13, sum(x2*x2) AS p22, sum(x2*x3) AS p23,
             sum(x3*x3) AS p33
           FROM b)
         SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           CAST(n AS BIGINT) AS n_rows,
           CAST(p01*n - s0*s1 AS DOUBLE) /
             (sqrt(CAST(p00*n - s0*s0 AS DOUBLE)) *
              sqrt(CAST(p11*n - s1*s1 AS DOUBLE))) AS corr FROM m
         UNION ALL
         SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
           CAST(p02*n - s0*s2 AS DOUBLE) /
             (sqrt(CAST(p00*n - s0*s0 AS DOUBLE)) *
              sqrt(CAST(p22*n - s2*s2 AS DOUBLE))) FROM m
         UNION ALL
         SELECT 'l_quantity', 'l_tax', CAST(n AS BIGINT),
           CAST(p03*n - s0*s3 AS DOUBLE) /
             (sqrt(CAST(p00*n - s0*s0 AS DOUBLE)) *
              sqrt(CAST(p33*n - s3*s3 AS DOUBLE))) FROM m
         UNION ALL
         SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
           CAST(p12*n - s1*s2 AS DOUBLE) /
             (sqrt(CAST(p11*n - s1*s1 AS DOUBLE)) *
              sqrt(CAST(p22*n - s2*s2 AS DOUBLE))) FROM m
         UNION ALL
         SELECT 'l_extendedprice', 'l_tax', CAST(n AS BIGINT),
           CAST(p13*n - s1*s3 AS DOUBLE) /
             (sqrt(CAST(p11*n - s1*s1 AS DOUBLE)) *
              sqrt(CAST(p33*n - s3*s3 AS DOUBLE))) FROM m
         UNION ALL
         SELECT 'l_discount', 'l_tax', CAST(n AS BIGINT),
           CAST(p23*n - s2*s3 AS DOUBLE) /
             (sqrt(CAST(p22*n - s2*s2 AS DOUBLE)) *
              sqrt(CAST(p33*n - s3*s3 AS DOUBLE))) FROM m""",
    // The identical deterministic noise recomputed from md5: 12
    // left-associated uniform terms (dyadic rationals — exact double
    // arithmetic, no transcendentals), sigma=8 (power of two), floor
    // rounding, then suppression.
    "q231_dp_counts" ->
      """WITH g AS (
           SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             count(*) AS n_true
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1, 2),
         z AS (
           SELECT event_type, day, n_true,
             (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':1'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':2'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':3'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':4'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':5'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':6'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':7'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':8'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':9'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':10'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':11'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             + (CAST(('0x' || substr(md5('graft-dp-v1:' || event_type || '|' || day || ':12'), 1, 15)) AS BIGINT) / 1152921504606846976.0)
             - 6.0 AS z
           FROM g)
         SELECT event_type, day,
           CAST(greatest(0, n_true +
             CAST(floor(8.0 * z + 0.5) AS BIGINT)) AS BIGINT)
             AS n_released
         FROM z
         WHERE greatest(0, n_true +
           CAST(floor(8.0 * z + 0.5) AS BIGINT)) >= 10""",
    // Same vocabulary-weighted adjacent-pair counting; top-64 by the
    // (count desc, pair asc) total order.
    "q232_bpe_pairs" ->
      """WITH toks AS (
           SELECT list_filter(regexp_split_to_array(lower(trim(text)),
             '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         w AS (SELECT unnest(tk) AS w FROM toks),
         v AS (SELECT w, count(*) AS freq FROM w GROUP BY 1),
         e AS (SELECT w, freq, unnest(range(1, len(w))) AS i
               FROM v WHERE len(w) >= 2),
         p AS (SELECT substr(w, i, 2) AS pair, freq FROM e)
         SELECT pair, CAST(sum(freq) AS BIGINT) AS n_weighted
         FROM p GROUP BY 1
         ORDER BY n_weighted DESC, pair LIMIT 64""",
    // q117's unrolled bigint power iteration with teleport mass
    // confined to the seed customers (nodes 2,4,6,8,10).
    "q233_personalized_pagerank" ->
      """WITH p AS (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS s
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         edges AS (
           SELECT c * 2 AS src, s * 2 + 1 AS dst FROM p
           UNION ALL
           SELECT s * 2 + 1 AS src, c * 2 AS dst FROM p),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         st0 AS (
           SELECT src AS node, deg,
             CASE WHEN src IN (2, 4, 6, 8, 10)
               THEN 1000000000000 // 5 ELSE 0 END AS rank,
             CASE WHEN src IN (2, 4, 6, 8, 10)
               THEN (15 * 1000000000000) // (100 * 5) ELSE 0 END AS base
           FROM deg),
         c1 AS (SELECT e.dst AS node,
                  CAST(sum(s.rank // s.deg) AS BIGINT) AS acc
                FROM edges e JOIN st0 s ON e.src = s.node GROUP BY e.dst),
         st1 AS (SELECT s.node, s.deg, s.base,
                   s.base + (85 * coalesce(c.acc, 0)) // 100 AS rank
                 FROM st0 s LEFT JOIN c1 c ON c.node = s.node),
         c2 AS (SELECT e.dst AS node,
                  CAST(sum(s.rank // s.deg) AS BIGINT) AS acc
                FROM edges e JOIN st1 s ON e.src = s.node GROUP BY e.dst),
         st2 AS (SELECT s.node, s.deg, s.base,
                   s.base + (85 * coalesce(c.acc, 0)) // 100 AS rank
                 FROM st1 s LEFT JOIN c2 c ON c.node = s.node),
         c3 AS (SELECT e.dst AS node,
                  CAST(sum(s.rank // s.deg) AS BIGINT) AS acc
                FROM edges e JOIN st2 s ON e.src = s.node GROUP BY e.dst),
         st3 AS (SELECT s.node, s.deg, s.base,
                   s.base + (85 * coalesce(c.acc, 0)) // 100 AS rank
                 FROM st2 s LEFT JOIN c3 c ON c.node = s.node)
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier'
             END AS node_type,
           node // 2 AS node_key, deg, rank AS rank_fp
         FROM st3""",
    // The outer-join contract replayed in batch: all matched pairs,
    // plus a null row for every purchase the FINAL watermark (min of
    // both sides' max event time, minus the 600s delay) had proven
    // unmatchable — purchases younger than that stay buffered in state
    // at shutdown and do not emit.
    "q234_stream_outer_interval_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(ts) FROM p),
             (SELECT max(ts) FROM c))
             - INTERVAL 600 SECONDS AS w)
         SELECT p.event_id AS purchase_id, c.event_id AS click_id
         FROM p JOIN c ON c.user_id = p.user_id
           AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         UNION ALL
         SELECT p.event_id, NULL
         FROM p, wm
         WHERE p.ts < wm.w AND NOT EXISTS (
           SELECT 1 FROM c WHERE c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts)""",
    // Same registers from the same md5-60 bits (bitlen via printf %b),
    // same exact integer harmonic term, one IEEE division.
    "q235_hll_distinct" ->
      """WITH b AS (
           SELECT event_type AS g, CAST(user_id AS VARCHAR) AS v
           FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         h AS (SELECT g,
             CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
           FROM b),
         r AS (SELECT g, h // 18014398509481984 AS bucket,
             h % 18014398509481984 AS r
           FROM h),
         rho AS (SELECT g, bucket,
             55 - CASE WHEN r = 0 THEN 0
               ELSE length(printf('%b', r)) END AS rho
           FROM r),
         regs AS (SELECT g, bucket, max(rho) AS m_j
           FROM rho GROUP BY 1, 2),
         sk AS (SELECT g, count(*) AS n_used,
             sum(CAST(1 AS BIGINT) << CAST(55 - m_j AS INT)) AS s_used
           FROM regs GROUP BY 1),
         ex AS (SELECT g, count(DISTINCT v) AS n_exact FROM b GROUP BY 1)
         SELECT sk.g AS event_type, CAST(n_used AS BIGINT) AS n_used,
           CAST(s_used + (64 - n_used) * 36028797018963968 AS BIGINT)
             AS s_total,
           CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0 /
             CAST(s_used + (64 - n_used) * 36028797018963968 AS BIGINT)
             AS hll_est,
           CAST(n_exact AS BIGINT) AS n_exact
         FROM sk JOIN ex ON ex.g = sk.g""",
    // Same micro-unit score (identical IEEE expression order), integer
    // binning and gap arithmetic.
    "q236_ece_calibration" ->
      """WITH b AS (
           SELECT least(1000000, greatest(0,
               CAST(floor(((CAST(embedding[1] AS DOUBLE) + 3.0) / 6.0)
                 * 1000000.0) AS BIGINT))) AS su,
             CAST(label % 2 AS BIGINT) AS y
           FROM embeddings
           WHERE embedding IS NOT NULL AND label IS NOT NULL)
         SELECT CAST(least(9, greatest(0, su // 100000)) AS BIGINT)
             AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(su) AS BIGINT) AS sum_score_u,
           CAST(abs(sum(y) * 1000000 - sum(su)) // count(*) AS BIGINT)
             AS gap_u
         FROM b GROUP BY 1""",
    // The five rules re-derived from the same tokenization, all
    // thresholds cross-multiplied (integer-exact, no divisions).
    "q237_gopher_rules" ->
      """WITH b AS (
           SELECT source, text,
             list_filter(regexp_split_to_array(lower(trim(text)),
               '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         m AS (
           SELECT source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(translate(text, '#*', ''))
               AS BIGINT) AS n_sym,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0)
               AS BIGINT) AS sum_len,
             CAST(len(list_filter(tk,
               x -> regexp_full_match(x, '[0-9]+'))) AS BIGINT) AS n_dig,
             CAST(len(list_filter(tk, x -> x IN ('the', 'of', 'and',
               'to', 'a', 'in', 'is', 'it', 'that', 'was', 'for', 'on',
               'are', 'with', 'as', 'at', 'be', 'this', 'have', 'or')))
               AS BIGINT) AS n_stop
           FROM b)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_words < 10 OR n_words > 1000
             THEN 1 ELSE 0 END) AS BIGINT) AS v_wordcount,
           CAST(sum(CASE WHEN 3 * n_words > sum_len
               OR sum_len > 10 * n_words
             THEN 1 ELSE 0 END) AS BIGINT) AS v_meanwordlen,
           CAST(sum(CASE WHEN 10 * n_sym > n_chars
             THEN 1 ELSE 0 END) AS BIGINT) AS v_symbols,
           CAST(sum(CASE WHEN n_stop < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS v_stopwords,
           CAST(sum(CASE WHEN 5 * n_dig > n_words THEN 1 ELSE 0 END)
             AS BIGINT) AS v_numeric,
           CAST(sum(CASE WHEN NOT (n_words < 10 OR n_words > 1000)
               AND NOT (3 * n_words > sum_len OR sum_len > 10 * n_words)
               AND NOT (10 * n_sym > n_chars) AND NOT (n_stop < 2)
               AND NOT (5 * n_dig > n_words)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         FROM m GROUP BY 1""",
    // Registers replayed per parity half, max-merged, and compared to
    // the single-pass registers — identical md5-60 bucket/rho pipeline
    // as q235.
    "q238_hll_snapshot_union" ->
      """WITH b AS (
           SELECT event_type AS g, CAST(user_id AS VARCHAR) AS v,
             (epoch_us(ts) // 604800000000) % 2 AS par
           FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             AND ts IS NOT NULL),
         h AS (SELECT g, par,
             CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
           FROM b),
         rho AS (SELECT g, par, h // 18014398509481984 AS bucket,
             55 - CASE WHEN h % 18014398509481984 = 0 THEN 0
               ELSE length(printf('%b', h % 18014398509481984)) END
               AS rho
           FROM h),
         half AS (SELECT g, par, bucket, max(rho) AS m_j
           FROM rho GROUP BY 1, 2, 3),
         merged AS (SELECT g, bucket, max(m_j) AS m_j
           FROM half GROUP BY 1, 2),
         msk AS (SELECT g, count(*) AS n_used,
             sum(CAST(1 AS BIGINT) << CAST(55 - m_j AS INT)) AS s_used
           FROM merged GROUP BY 1),
         single AS (SELECT g, bucket, max(rho) AS m_j
           FROM rho GROUP BY 1, 2),
         ssk AS (SELECT g, count(*) AS sn_used,
             sum(CAST(1 AS BIGINT) << CAST(55 - m_j AS INT)) AS ss_used
           FROM single GROUP BY 1),
         ex AS (SELECT g, count(DISTINCT v) AS n_exact FROM b GROUP BY 1)
         SELECT msk.g AS event_type, CAST(n_used AS BIGINT) AS n_used,
           CAST(s_used + (64 - n_used) * 36028797018963968 AS BIGINT)
             AS s_total,
           CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0 /
             CAST(s_used + (64 - n_used) * 36028797018963968 AS BIGINT)
             AS hll_est,
           (s_used + (64 - n_used) * 36028797018963968) =
             (ss_used + (64 - sn_used) * 36028797018963968)
             AS matches_single,
           CAST(n_exact AS BIGINT) AS n_exact
         FROM msk JOIN ssk ON ssk.g = msk.g JOIN ex ON ex.g = msk.g""",
    // Same 4x256 row-salted md5 cells, same min-over-rows probe.
    "q239_cms_freq" ->
      """WITH b AS (
           SELECT CAST(user_id AS VARCHAR) AS v, user_id AS u
           FROM events WHERE user_id IS NOT NULL),
         r AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i)),
         cells AS (
           SELECT i, CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
               || v), 1, 15)) AS BIGINT) % 256 AS c,
             count(*) AS cnt
           FROM b, r GROUP BY 1, 2),
         keys AS (SELECT DISTINCT v, u FROM b WHERE u % 29 = 0),
         probe AS (SELECT u,
             min(coalesce(cnt, 0)) AS cms_est
           FROM (SELECT k.u, i, CAST(('0x' || substr(md5(CAST(i AS
                 VARCHAR) || ':' || k.v), 1, 15)) AS BIGINT) % 256 AS c
             FROM keys k, r) p
           LEFT JOIN cells USING (i, c) GROUP BY 1),
         ex AS (SELECT u, count(*) AS n_exact FROM b
           WHERE u % 29 = 0 GROUP BY 1)
         SELECT probe.u AS user_id, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(cms_est - n_exact AS BIGINT) AS over_count
         FROM probe JOIN ex ON ex.u = probe.u""",
    // Same spans -> censoring frontier -> duration histogram ->
    // descending cumulative n_risk.
    "q240_life_table" ->
      """WITH uw AS (
           SELECT user_id AS u,
             min(epoch_us(ts) // 86400000000) AS f,
             max(epoch_us(ts) // 86400000000) AS l
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
         m AS (SELECT max(l) AS mx FROM uw),
         d AS (SELECT l - f AS t,
             CASE WHEN l < mx THEN 1 ELSE 0 END AS churn
           FROM uw, m),
         bt AS (SELECT t, sum(churn) AS n_churn,
             count(*) - sum(churn) AS n_censored
           FROM d GROUP BY 1)
         SELECT CAST(t AS BIGINT) AS duration,
           CAST(sum(n_churn + n_censored)
             OVER (ORDER BY t DESC) AS BIGINT) AS n_risk,
           CAST(n_churn AS BIGINT) AS n_churn,
           CAST(n_censored AS BIGINT) AS n_censored,
           CAST(n_churn * 1000000 // (sum(n_churn + n_censored)
             OVER (ORDER BY t DESC)) AS BIGINT) AS hazard_ppm
         FROM bt""",
    // Same tokenization; vowel runs / sentence runs via
    // regexp_extract_all lengths.
    "q241_readability" ->
      """WITH b AS (
           SELECT source, text,
             list_filter(regexp_split_to_array(lower(trim(text)),
               '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         m AS (
           SELECT source,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
               AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables,
             CAST(len(list_filter(tk,
               x -> len(regexp_extract_all(x, '[aeiouy]+')) >= 3))
               AS BIGINT) AS n_complex
           FROM b)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_sentences) AS BIGINT) AS n_sentences,
           CAST(sum(n_syllables) AS BIGINT) AS n_syllables,
           CAST(sum(n_complex) AS BIGINT) AS n_complex
         FROM m GROUP BY 1""",
    // Same exact-product quantization (float->double is exact, x*1e4
    // fits the 53-bit mantissa), same md5-parity sign matrix, the
    // projection applied to the difference vector (linearity).
    "q242_jl_distortion" ->
      """WITH q AS (
           SELECT vec_id AS id,
             list_transform(embedding, x ->
               CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         p AS (SELECT a.id AS id_a, b.id AS id_b,
             list_transform(range(64),
               i -> a.qv[i + 1] - b.qv[i + 1]) AS dv
           FROM q a JOIN q b ON b.id = a.id + 1 WHERE a.id % 2 = 0),
         sg AS (SELECT j.j, i.i,
             CASE WHEN CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR)
                 || ':' || CAST(i.i AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 2 = 0
               THEN 1 ELSE -1 END AS sgn
           FROM range(8) j(j), range(64) i(i)),
         proj AS (SELECT id_a, j, sum(sgn * dv[i + 1]) AS dy
           FROM p, sg GROUP BY 1, 2),
         pd AS (SELECT id_a, sum(dy * dy) AS d2_proj
           FROM proj GROUP BY 1),
         od AS (SELECT id_a, id_b,
             list_sum(list_transform(dv, x -> x * x)) AS d2_orig
           FROM p)
         SELECT od.id_a, od.id_b, CAST(d2_orig AS BIGINT) AS d2_orig,
           CAST(d2_proj AS BIGINT) AS d2_proj,
           CASE WHEN d2_orig = 0 THEN NULL
             ELSE CAST(d2_proj * 1000000 // (8 * d2_orig) AS BIGINT)
             END AS distortion_ppm
         FROM od JOIN pd ON pd.id_a = od.id_a""",
    // Peeling unrolled to 7 levels (fixpoint lands by level 2 on every
    // fixture scale; extra levels are no-ops at fixpoint).
    "q243_kcore" ->
      """WITH pairs AS (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS s
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
           UNION ALL SELECT s * 2 + 1, c * 2 FROM pairs),
         s0 AS (SELECT src AS node FROM e
           GROUP BY 1 HAVING count(*) >= 40),
         s1 AS (SELECT src AS node FROM e
           WHERE src IN (SELECT node FROM s0)
             AND dst IN (SELECT node FROM s0)
           GROUP BY 1 HAVING count(*) >= 40),
         s2 AS (SELECT src AS node FROM e
           WHERE src IN (SELECT node FROM s1)
             AND dst IN (SELECT node FROM s1)
           GROUP BY 1 HAVING count(*) >= 40),
         s3 AS (SELECT src AS node FROM e
           WHERE src IN (SELECT node FROM s2)
             AND dst IN (SELECT node FROM s2)
           GROUP BY 1 HAVING count(*) >= 40),
         s4 AS (SELECT src AS node FROM e
           WHERE src IN (SELECT node FROM s3)
             AND dst IN (SELECT node FROM s3)
           GROUP BY 1 HAVING count(*) >= 40),
         s5 AS (SELECT src AS node FROM e
           WHERE src IN (SELECT node FROM s4)
             AND dst IN (SELECT node FROM s4)
           GROUP BY 1 HAVING count(*) >= 40),
         s6 AS (SELECT src AS node, count(*) AS deg FROM e
           WHERE src IN (SELECT node FROM s5)
             AND dst IN (SELECT node FROM s5)
           GROUP BY 1 HAVING count(*) >= 40),
         guard AS (
           SELECT CASE WHEN (SELECT count(*) FROM s5) <>
               (SELECT count(*) FROM s6)
             THEN error('q243 oracle: the fixed 7-level peeling did ' ||
               'not reach the k-core fixpoint on this fixture (s6 <> ' ||
               's5) - deepen the unroll')
             ELSE 1 END AS ok)
         SELECT CASE WHEN node % 2 = 0 THEN 'customer'
             ELSE 'supplier' END AS node_type,
           CAST(node // 2 AS BIGINT) AS node_key,
           CAST(deg AS BIGINT) AS core_deg
         FROM s6, guard WHERE guard.ok = 1""",
    // q24's signature chain at trigram shingles + brute-force Hamming
    // (banding is pigeonhole-complete at h<=3, so candidates ==
    // all-pairs h<=3); exact truth is q217's string-set Jaccard.
    // Same ascending ranks (ties commute), same single HUGEINT floor
    // fraction.
    "q278_gini_concentration" ->
      """WITH v AS (
           SELECT source AS g, CAST(n_chars AS BIGINT) AS v
           FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL
             AND n_chars >= 0),
         r AS (
           SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v) AS i
           FROM v),
         a AS (
           SELECT g, count(*) AS n, sum(v) AS sx, sum(i * v) AS six
           FROM r GROUP BY g)
         SELECT g AS source, n, CAST(sx AS BIGINT) AS sum_value,
           CASE WHEN sx > 0 THEN
             CAST((1000000 * (2 * six - (n + 1) * sx)) // (n * sx)
               AS BIGINT) END AS gini_ppm
         FROM a""",
    // Same portable band partition as q23; drop mass counted per
    // (band, raw signature slice) class, share as one integer floor
    // division.
    "q279_banding_drop_report" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         sz AS (SELECT b, key, count(*) AS n FROM bands GROUP BY b, key)
         SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           count(*) AS n_buckets,
           CAST(sum(CASE WHEN n > 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_buckets_dropped,
           CAST(sum(CASE WHEN n > 8 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_in_dropped_buckets,
           CAST((sum(CASE WHEN n > 8 THEN n ELSE 0 END) * 1000000)
             // sum(n) AS BIGINT) AS dropped_row_share_ppm
         FROM sz""",
    // Same partition again; one refinement level unrolled — fresh
    // family = the same md5 minhash pipeline over '1:'-prefixed tokens
    // (the engine's round-1 salt), sub-classes scoped by the parent
    // (band, key) class.
    "q280_minhash_pairs_refined" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         sz AS (SELECT b, key, count(*) AS n FROM bands GROUP BY b, key),
         p0 AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x
           JOIN bands y ON x.b = y.b AND x.key = y.key
             AND x.doc_id < y.doc_id
           JOIN sz ON sz.b = x.b AND sz.key = x.key
           WHERE sz.n <= 8),
         over0 AS (
           SELECT x.doc_id, x.b AS pb, x.key AS pkey
           FROM bands x JOIN sz ON sz.b = x.b AND sz.key = x.key
           WHERE sz.n > 8),
         toks1 AS (
           SELECT doc_id, list_transform(tk, x -> '1:' || x) AS tk
           FROM toks
           WHERE doc_id IN (SELECT doc_id FROM over0)),
         sh1 AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks1),
         hp1 AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh1),
         sig1 AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp1),
         bands1 AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig1, range(0, 8) b),
         r1 AS (
           SELECT o.doc_id, o.pb, o.pkey, f.b AS fb, f.key AS fkey
           FROM over0 o JOIN bands1 f ON f.doc_id = o.doc_id),
         sz1 AS (
           SELECT pb, pkey, fb, fkey, count(*) AS n
           FROM r1 GROUP BY pb, pkey, fb, fkey),
         p1 AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM r1 x
           JOIN r1 y ON x.pb = y.pb AND x.pkey = y.pkey
             AND x.fb = y.fb AND x.fkey = y.fkey
             AND x.doc_id < y.doc_id
           JOIN sz1 z ON z.pb = x.pb AND z.pkey = x.pkey
             AND z.fb = x.fb AND z.fkey = x.fkey
           WHERE z.n <= 8)
         SELECT id_a, id_b FROM p0
         UNION
         SELECT id_a, id_b FROM p1""",
    // Same md5 shuffle ranks (13-hex key, ties by id), same 15-hex
    // candidate hash mod universe size, same exclusions.
    "q277_negative_samples" ->
      """WITH pairs AS (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS s
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
           UNION ALL SELECT s * 2 + 1, c * 2 FROM pairs),
         d AS (SELECT DISTINCT dst AS id FROM e),
         idx AS (
           SELECT id, row_number() OVER (ORDER BY
             CAST(('0x' || substr(md5('graft:' || CAST(id AS VARCHAR)),
               1, 13)) AS BIGINT), id) - 1 AS pos
           FROM d),
         nn AS (SELECT count(*) AS n FROM d),
         s0 AS (SELECT DISTINCT src FROM e),
         cand AS (
           SELECT src, j.range AS j,
             CAST(('0x' || substr(md5('graft-neg:' ||
               CAST(src AS VARCHAR) || ':' || CAST(j.range AS VARCHAR)),
               1, 15)) AS BIGINT) % n AS pos
           FROM s0, range(0, 5) j, nn),
         wd AS (
           SELECT c.src, c.j, i.id AS neg_dst
           FROM cand c JOIN idx i ON i.pos = c.pos)
         SELECT CAST(src AS BIGINT) AS src, CAST(j AS BIGINT) AS j,
           CAST(neg_dst AS BIGINT) AS neg_dst
         FROM wd
         WHERE src <> neg_dst AND NOT EXISTS (
           SELECT 1 FROM e WHERE e.src = wd.src AND e.dst = wd.neg_dst)""",
    // Same hardcoded Poisson(1) CDF thresholds at 2^60 scale, same md5
    // weights, same e4 floor means and type-1 interval ranks.
    "q274_bootstrap_ci" ->
      """WITH rows_ AS (
           SELECT source AS g, CAST(doc_id AS VARCHAR) AS id,
             CAST(n_chars AS BIGINT) AS v
           FROM documents
           WHERE source IS NOT NULL AND doc_id IS NOT NULL
             AND n_chars IS NOT NULL),
         overall AS (
           SELECT g, count(*) AS n_rows,
             (10000 * sum(v)) // count(*) AS mean_e4
           FROM rows_ GROUP BY g),
         reps AS (
           SELECT g, j.range AS j, id, v,
             CAST(('0x' || substr(md5('graft-boot:' || id || ':' ||
               CAST(j.range AS VARCHAR)), 1, 15)) AS BIGINT) AS u
           FROM rows_, range(0, 40) j),
         w AS (
           SELECT g, j, v,
             (CASE WHEN u >= 424136118829305344 THEN 1 ELSE 0 END) +
             (CASE WHEN u >= 848272237658610688 THEN 1 ELSE 0 END) +
             (CASE WHEN u >= 1060340297073263360 THEN 1 ELSE 0 END) +
             (CASE WHEN u >= 1131029650211480960 THEN 1 ELSE 0 END) +
             (CASE WHEN u >= 1148701988496035328 THEN 1 ELSE 0 END) +
             (CASE WHEN u >= 1152236456152946176 THEN 1 ELSE 0 END)
               AS wt
           FROM reps),
         rm AS (
           SELECT g, j, (10000 * sum(wt * v)) // sum(wt) AS m_e4
           FROM w GROUP BY g, j HAVING sum(wt) > 0),
         rk AS (
           SELECT g, m_e4,
             row_number() OVER (PARTITION BY g ORDER BY m_e4) AS rn,
             count(*) OVER (PARTITION BY g) AS cnt
           FROM rm),
         ci AS (
           SELECT g,
             max(CASE WHEN rn = (cnt + 19) // 20 THEN m_e4 END)
               AS ci_lo_e4,
             max(CASE WHEN rn = (19 * cnt + 19) // 20 THEN m_e4 END)
               AS ci_hi_e4
           FROM rk GROUP BY g)
         SELECT o.g AS source, o.n_rows,
           CAST(o.mean_e4 AS BIGINT) AS mean_e4,
           CAST(ci.ci_lo_e4 AS BIGINT) AS ci_lo_e4,
           CAST(ci.ci_hi_e4 AS BIGINT) AS ci_hi_e4
         FROM overall o JOIN ci ON ci.g = o.g""",
    // Same distinct-parent left join, same splits and ppm.
    "q275_fk_integrity" ->
      """WITH p1 AS (SELECT DISTINCT o_orderkey AS k, 1 AS hit
             FROM orders WHERE o_orderkey IS NOT NULL),
         a1 AS (
           SELECT 'lineitem_orders' AS fk_label, count(*) AS n_child,
             CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_fk,
             CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_matched,
             CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND hit IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
             CAST(count(DISTINCT CASE WHEN l_orderkey IS NOT NULL
               AND hit IS NULL THEN l_orderkey END) AS BIGINT)
               AS n_orphan_keys
           FROM lineitem LEFT JOIN p1 ON l_orderkey = p1.k),
         p2 AS (SELECT DISTINCT c_custkey AS k, 1 AS hit FROM customer
             WHERE c_custkey % 10 <> 3 AND c_custkey IS NOT NULL),
         a2 AS (
           SELECT 'orders_customer_degraded', count(*),
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(coalesce(sum(hit), 0) AS BIGINT),
             CAST(sum(CASE WHEN o_custkey IS NOT NULL AND hit IS NULL
               THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT CASE WHEN o_custkey IS NOT NULL
               AND hit IS NULL THEN o_custkey END) AS BIGINT)
           FROM orders LEFT JOIN p2 ON o_custkey = p2.k),
         u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
         SELECT fk_label, n_child, n_null_fk, n_matched, n_orphans,
           n_orphan_keys,
           CASE WHEN n_child > 0 THEN
             CAST(n_orphans * 1000000 // n_child AS BIGINT) END
             AS orphan_ppm
         FROM u""",
    // q265's pair/cluster rebuild, then per-cluster pair counts vs the
    // clique maximum with the same 2e6 cross-multiplied density.
    "q276_cluster_density" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         big AS (
           SELECT b, key FROM bands GROUP BY b, key HAVING count(*) > 200),
         pairs AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
             AND x.doc_id < y.doc_id
           WHERE NOT EXISTS (SELECT 1 FROM big
                             WHERE big.b = x.b AND big.key = x.key)),
         und AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT a, a FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
         clusters AS (
           SELECT src AS id, min(dst) AS cluster_id FROM reach
           GROUP BY src),
         m AS (SELECT cluster_id, count(*) AS n_members FROM clusters
           GROUP BY 1),
         pc AS (SELECT c.cluster_id, count(*) AS n_pairs
           FROM pairs p JOIN clusters c ON c.id = p.id_a GROUP BY 1)
         SELECT CAST(m.cluster_id AS BIGINT) AS cluster_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
           CASE WHEN n_members >= 2 THEN
             CAST(coalesce(n_pairs, 0) * 2000000 //
               (n_members * (n_members - 1)) AS BIGINT) END
             AS density_ppm
         FROM m LEFT JOIN pc USING (cluster_id)""",
    // Same cents derivation (decimal-exact), same capped blocks, same
    // pattern counts; lift recomputed in HUGEINT with // floor.
    "q270_linkage_patterns" ->
      """WITH rec AS (
           SELECT c_custkey AS id,
             CAST(c_nationkey AS VARCHAR) AS b1, c_mktsegment AS b2,
             CAST(cents // 200000 AS VARCHAR) AS b3,
             CAST(cents % 10 AS VARCHAR) AS f1,
             CAST((cents // 100) % 10 AS VARCHAR) AS f2,
             CAST(cents // 100000 AS VARCHAR) AS f3
           FROM (SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               + 1000000 AS cents FROM customer)),
         ok AS (SELECT b1, b2, b3 FROM rec
           GROUP BY 1, 2, 3 HAVING count(*) <= 64),
         bl AS (SELECT rec.* FROM rec JOIN ok USING (b1, b2, b3)),
         p AS (
           SELECT CASE WHEN a.f1 = b.f1 THEN 1 ELSE 0 END AS a1,
             CASE WHEN a.f2 = b.f2 THEN 1 ELSE 0 END AS a2,
             CASE WHEN a.f3 = b.f3 THEN 1 ELSE 0 END AS a3
           FROM bl a JOIN bl b ON a.b1 = b.b1 AND a.b2 = b.b2
             AND a.b3 = b.b3 AND a.id < b.id),
         m AS (SELECT count(*) AS t, sum(a1) AS m1, sum(a2) AS m2,
           sum(a3) AS m3 FROM p),
         g AS (SELECT a1, a2, a3, count(*) AS n_pairs FROM p
           GROUP BY 1, 2, 3)
         SELECT CAST(a1 AS BIGINT) AS agree_f1,
           CAST(a2 AS BIGINT) AS agree_f2,
           CAST(a3 AS BIGINT) AS agree_f3,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN
             (CASE WHEN a1 = 1 THEN m1 ELSE t - m1 END) *
             (CASE WHEN a2 = 1 THEN m2 ELSE t - m2 END) *
             (CASE WHEN a3 = 1 THEN m3 ELSE t - m3 END) > 0 THEN
             (n_pairs * t * t * 1000000) //
             ((CASE WHEN a1 = 1 THEN m1 ELSE t - m1 END) *
              (CASE WHEN a2 = 1 THEN m2 ELSE t - m2 END) *
              (CASE WHEN a3 = 1 THEN m3 ELSE t - m3 END))
             END AS BIGINT) AS lift_ppm
         FROM g, m""",
    // Same type-1 rank cuts ((n+19)//20 and (19n+19)//20 1-based),
    // same clamp sums.
    "q271_winsorize_report" ->
      """WITH v AS (
           SELECT source AS g, CAST(n_chars AS BIGINT) AS v
           FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL),
         q AS (
           SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY g) AS cnt
           FROM v),
         cuts AS (
           SELECT g,
             max(CASE WHEN rn = (cnt + 19) // 20 THEN v END) AS lo_cut,
             max(CASE WHEN rn = (19 * cnt + 19) // 20 THEN v END)
               AS hi_cut
           FROM q GROUP BY g)
         SELECT v.g AS source, count(*) AS n_rows,
           max(lo_cut) AS lo_cut, max(hi_cut) AS hi_cut,
           CAST(sum(CASE WHEN v.v < lo_cut THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN v.v > hi_cut THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           CAST(sum(v.v) AS BIGINT) AS sum_raw,
           CAST(sum(greatest(least(v.v, hi_cut), lo_cut)) AS BIGINT)
             AS sum_winsorized
         FROM v JOIN cuts USING (g)
         GROUP BY 1""",
    // Same floors/remainders; seats by row_number over
    // (rem desc, cell asc).
    "q272_quota_allocation" ->
      """WITH c AS (
           SELECT source || '|' || lang AS cell, count(*) AS n
           FROM documents
           WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
         tt AS (SELECT sum(n) AS t FROM c),
         b AS (SELECT cell, n, (9973 * n) // t AS base,
           (9973 * n) % t AS rem FROM c, tt),
         e AS (SELECT 9973 - sum(base) AS extra FROM b),
         r AS (SELECT cell, n, base, rem,
           row_number() OVER (ORDER BY rem DESC, cell ASC) AS rk FROM b)
         SELECT cell, CAST(n AS BIGINT) AS n, CAST(base AS BIGINT)
             AS base,
           CAST(rem AS BIGINT) AS remainder,
           CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END
             AS BIGINT) AS quota
         FROM r, e""",
    // Same row-hash construction (chr(1) separator, chr(0)||'null'
    // sentinel), same commutative reductions.
    "q273_corpus_checksum" ->
      """WITH h1 AS (SELECT CAST(('0x' || substr(md5(concat_ws(chr(1),
             coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
             coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
             coalesce(o_orderstatus, chr(0) || 'null'))), 1, 15))
             AS BIGINT) AS h FROM orders),
         h2 AS (SELECT CAST(('0x' || substr(md5(concat_ws(chr(1),
             coalesce(CAST(l_orderkey AS VARCHAR), chr(0) || 'null'),
             coalesce(CAST(l_linenumber AS VARCHAR), chr(0) || 'null'),
             coalesce(CAST(l_suppkey AS VARCHAR), chr(0) || 'null'))),
             1, 15)) AS BIGINT) AS h FROM lineitem),
         h3 AS (SELECT CAST(('0x' || substr(md5(concat_ws(chr(1),
             coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null'),
             coalesce(source, chr(0) || 'null'),
             coalesce(lang, chr(0) || 'null'))), 1, 15))
             AS BIGINT) AS h FROM documents)
         SELECT 'orders' AS table_name, count(*) AS n_rows,
           CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR) AS hash_sum,
           CAST(bit_xor(h) AS BIGINT) AS hash_xor,
           min(h) AS hash_min, max(h) AS hash_max FROM h1
         UNION ALL
         SELECT 'lineitem', count(*),
           CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR),
           CAST(bit_xor(h) AS BIGINT), min(h), max(h) FROM h2
         UNION ALL
         SELECT 'documents', count(*),
           CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR),
           CAST(bit_xor(h) AS BIGINT), min(h), max(h) FROM h3""",
    // Same seeding expression, same regexes (RE2 \b == Java \b on these
    // ASCII patterns), same Luhn fold and octet alternation.
    "q266_pii_luhn_audit" ->
      """WITH seeded AS (
           SELECT doc_id,
             text || ' card ' ||
             lpad(CAST(doc_id * 7919 % 10000000000000000 AS VARCHAR),
               16, '0') ||
             CASE WHEN doc_id % 3 = 0 THEN ' visa 4111111111111111'
               ELSE '' END ||
             ' ip 999.1.2.3 host 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.0.7' ||
             CASE WHEN doc_id % 2 = 0 THEN ' call +1-555-' ||
               lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
               ELSE '' END AS t
           FROM documents),
         c AS (
           SELECT doc_id, t,
             regexp_extract_all(t, '\b[0-9]{16}\b') AS cards
           FROM seeded),
         l AS (
           SELECT doc_id, t, cards,
             list_transform(cards, s ->
               list_sum(list_transform(range(1, 17), i ->
                 CASE WHEN (16 - i) % 2 = 1
                   THEN CASE WHEN 2 * CAST(substr(s, CAST(i AS INT), 1)
                       AS INT) > 9
                     THEN 2 * CAST(substr(s, CAST(i AS INT), 1) AS INT)
                       - 9
                     ELSE 2 * CAST(substr(s, CAST(i AS INT), 1) AS INT)
                     END
                   ELSE CAST(substr(s, CAST(i AS INT), 1) AS INT)
                 END))) AS sums
           FROM c)
         SELECT doc_id,
           CAST(len(cards) AS BIGINT) AS n_card_candidates,
           CAST(len(list_filter(sums, x -> x % 10 = 0)) AS BIGINT)
             AS n_card_valid,
           CAST(len(regexp_extract_all(t,
             '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT)
             AS n_ip_candidates,
           CAST(len(regexp_extract_all(t,
             '\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b'))
             AS BIGINT) AS n_ip_valid
         FROM l""",
    // Same md5 weight synthesis, same token buckets, same integer
    // scores; argmax ties to class 0.
    "q267_hash_classifier" ->
      """WITH w AS (
           SELECT
             list_transform(range(0, 512), j ->
               CAST(('0x' || substr(md5('w:0:' || j), 1, 15)) AS BIGINT)
                 % 2001 - 1000) AS w0,
             list_transform(range(0, 512), j ->
               CAST(('0x' || substr(md5('w:1:' || j), 1, 15)) AS BIGINT)
                 % 2001 - 1000) AS w1),
         toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sc AS (
           SELECT doc_id,
             coalesce(list_sum(list_transform(tk, t ->
               w0[CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                 % 512 AS INT) + 1])), 0) AS s0,
             coalesce(list_sum(list_transform(tk, t ->
               w1[CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                 % 512 AS INT) + 1])), 0) AS s1
           FROM toks, w)
         SELECT doc_id,
           CASE WHEN s0 >= s1 THEN 0 ELSE 1 END AS best_class,
           CAST(greatest(s0, s1) AS BIGINT) AS score_best,
           CAST(abs(s0 - s1) AS BIGINT) AS margin
         FROM sc""",
    // Same hourly counts, same type-1 medians (1-based row_number ==
    // (n+1)//2), same cross-multiplied outlier test.
    "q268_mad_outliers" ->
      """WITH c AS (
           SELECT event_type AS key,
             epoch_us(ts) // 3600000000 AS hour, count(*) AS n
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         m AS (
           SELECT key, n AS med FROM (
             SELECT key, n,
               row_number() OVER (PARTITION BY key ORDER BY n) AS rn,
               count(*) OVER (PARTITION BY key) AS cnt
             FROM c) t WHERE rn = (cnt + 1) // 2),
         d AS (
           SELECT c.key, c.hour, c.n, m.med, abs(c.n - m.med) AS dev
           FROM c JOIN m USING (key)),
         md AS (
           SELECT key, dev AS mad FROM (
             SELECT key, dev,
               row_number() OVER (PARTITION BY key ORDER BY dev) AS rn,
               count(*) OVER (PARTITION BY key) AS cnt
             FROM d) t WHERE rn = (cnt + 1) // 2)
         SELECT d.key, CAST(d.hour AS BIGINT) AS hour,
           CAST(d.n AS BIGINT) AS n, CAST(d.med AS BIGINT) AS med,
           CAST(md.mad AS BIGINT) AS mad,
           CAST(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END AS BIGINT)
             AS outlier
         FROM d JOIN md USING (key)""",
    // Batch recount of the streamed flags: same 3-gram construction
    // (q245's sh CTE), bench = docs 0-4, corpus = the rest.
    "q269_stream_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             END AS s
           FROM toks),
         bg AS (
           SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 5),
         corp AS (
           SELECT doc_id, list_distinct(s) AS s FROM sh
           WHERE doc_id >= 5),
         ex AS (SELECT doc_id, unnest(s) AS g FROM corp),
         hit AS (
           SELECT DISTINCT e.doc_id FROM ex e JOIN bg ON bg.g = e.g)
         SELECT c.doc_id, CAST(len(c.s) AS BIGINT) AS n_grams,
           CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS contaminated
         FROM corp c LEFT JOIN hit h ON h.doc_id = c.doc_id""",
    // The oracle is the FULL recompute over the union of base + delta
    // pairs (q47's minhash rebuild + recursive reach) — a hash match
    // proves incremental addToClusters == full nearDupClusters.
    "q265_incremental_clusters" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         big AS (
           SELECT b, key FROM bands GROUP BY b, key HAVING count(*) > 200),
         pairs AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
             AND x.doc_id < y.doc_id
           WHERE NOT EXISTS (SELECT 1 FROM big
                             WHERE big.b = x.b AND big.key = x.key)),
         und AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT a, a FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a)
         SELECT CAST(src AS BIGINT) AS id,
           CAST(min(dst) AS BIGINT) AS cluster_id
         FROM reach GROUP BY src""",
    // q245's rebuild with the deterministic md5-bucket sample: truth
    // CTEs run on sampled docs only; the full-corpus candidate set is
    // filtered to sampled endpoints AFTER banding (same as the engine).
    "q264_simhash_fidelity_sampled" ->
      """WITH samp AS (
           SELECT doc_id FROM documents
           WHERE CAST(('0x' || substr(md5('truth:' ||
               CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 10000 < 5000),
         toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             END AS s
           FROM toks),
         hs AS (
           SELECT doc_id,
             list_transform(s, x ->
               CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS h
           FROM sh),
         sig AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN 2 * len(list_filter(h, v -> ((v >> b) & 1) = 1))
                   > len(h)
                 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
               AS sig
           FROM hs),
         cand AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sig a JOIN sig b ON b.doc_id > a.doc_id
           WHERE bit_count(xor(a.sig, b.sig)) <= 3
             AND a.doc_id IN (SELECT doc_id FROM samp)
             AND b.doc_id IN (SELECT doc_id FROM samp)),
         shd AS (
           SELECT doc_id, list_distinct(s) AS s FROM sh
           WHERE doc_id IN (SELECT doc_id FROM samp)),
         ex0 AS (SELECT doc_id, unnest(s) AS h FROM shd),
         ecand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ex0 a JOIN ex0 b ON a.h = b.h AND a.doc_id < b.doc_id),
         exact AS (
           SELECT id_a, id_b FROM ecand
           JOIN shd x ON x.doc_id = id_a
           JOIN shd y ON y.doc_id = id_b
           WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / len(list_distinct(x.s || y.s)) >= 0.5),
         stats AS (
           SELECT
             (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM exact JOIN cand USING (id_a, id_b))
               AS n_hits)
         SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_exact > 0 THEN
             CAST(n_hits * 1000000 // n_exact AS BIGINT) END
             AS recall_ppm,
           CASE WHEN n_candidates > 0 THEN
             CAST(n_hits * 1000000 // n_candidates AS BIGINT) END
             AS precision_ppm
         FROM stats""",
    "q245_simhash_fidelity" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             END AS s
           FROM toks),
         hs AS (
           SELECT doc_id,
             list_transform(s, x ->
               CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS h
           FROM sh),
         sig AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN 2 * len(list_filter(h, v -> ((v >> b) & 1) = 1))
                   > len(h)
                 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
               AS sig
           FROM hs),
         cand AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sig a JOIN sig b ON b.doc_id > a.doc_id
           WHERE bit_count(xor(a.sig, b.sig)) <= 3),
         shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
         ex0 AS (SELECT doc_id, unnest(s) AS h FROM shd),
         ecand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ex0 a JOIN ex0 b ON a.h = b.h AND a.doc_id < b.doc_id),
         exact AS (
           SELECT id_a, id_b FROM ecand
           JOIN shd x ON x.doc_id = id_a
           JOIN shd y ON y.doc_id = id_b
           WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / len(list_distinct(x.s || y.s)) >= 0.5),
         stats AS (
           SELECT
             (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM exact JOIN cand USING (id_a, id_b))
               AS n_hits)
         SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_exact > 0 THEN
             CAST(n_hits * 1000000 // n_exact AS BIGINT) END
             AS recall_ppm,
           CASE WHEN n_candidates > 0 THEN
             CAST(n_hits * 1000000 // n_candidates AS BIGINT) END
             AS precision_ppm
         FROM stats""",
    // Same two bucketings, same zone-disjoint prune test, matching
    // counts from one conditional pass.
    "q246_zonemap_report" ->
      """WITH o AS (
           SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000 AS d
           FROM orders
           WHERE o_orderkey IS NOT NULL AND o_orderdate IS NOT NULL),
         p AS (SELECT * FROM (VALUES ('y1996', 9496, 9861),
           ('m1998_06', 10378, 10407), ('tail_2000on', 10957, 11535))
           t(predicate, lo, hi)),
         zn AS (SELECT o_orderkey // 1024 AS bucket, min(d) AS zmin,
             max(d) AS zmax, count(*) AS n_rows
           FROM o GROUP BY 1),
         za AS (SELECT d // 90 AS bucket, min(d) AS zmin,
             max(d) AS zmax, count(*) AS n_rows
           FROM o GROUP BY 1),
         mt AS (SELECT predicate, count(*) AS n_match
           FROM o, p WHERE d >= lo AND d <= hi GROUP BY 1),
         rep AS (
           SELECT 'natural_orderkey' AS layout, predicate,
             count(*) AS n_buckets,
             sum(CASE WHEN zmax < lo OR zmin > hi THEN 1 ELSE 0 END)
               AS n_pruned,
             sum(CASE WHEN zmax < lo OR zmin > hi THEN n_rows
               ELSE 0 END) AS rows_skipped,
             sum(n_rows) AS rows_total
           FROM zn, p GROUP BY 1, 2
           UNION ALL
           SELECT 'date_quarter', predicate, count(*),
             sum(CASE WHEN zmax < lo OR zmin > hi THEN 1 ELSE 0 END),
             sum(CASE WHEN zmax < lo OR zmin > hi THEN n_rows
               ELSE 0 END),
             sum(n_rows)
           FROM za, p GROUP BY 1, 2)
         SELECT layout, predicate,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(n_pruned AS BIGINT) AS n_pruned,
           CAST(rows_skipped AS BIGINT) AS rows_skipped,
           CAST(coalesce(n_match, 0) AS BIGINT) AS rows_matching,
           CAST(coalesce(n_match, 0) * 1000000 //
             greatest(1, rows_total - rows_skipped) AS BIGINT)
             AS scan_efficiency_ppm
         FROM rep LEFT JOIN mt USING (predicate)""",
    // Same quantization and per-subspace integer L2; QUALIFY row_number
    // replays the (dist, code) argmin tie-break.
    "q248_pq_assignment" ->
      """WITH q AS (
           SELECT vec_id AS id,
             list_transform(embedding, x ->
               CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         cb AS (SELECT id AS code, qv AS cv FROM q
           WHERE id IN (0, 1, 2, 3, 4, 5, 6, 7)),
         d AS (SELECT v.id, s.s AS sub, c.code,
             list_sum(list_transform(range(16), i ->
               (v.qv[s.s * 16 + i + 1] - c.cv[s.s * 16 + i + 1]) *
               (v.qv[s.s * 16 + i + 1] - c.cv[s.s * 16 + i + 1])))
               AS dist
           FROM q v, range(4) s(s), cb c),
         a AS (SELECT id, sub, code, dist FROM d
           QUALIFY row_number() OVER (PARTITION BY id, sub
             ORDER BY dist, code) = 1)
         SELECT CAST(sub AS INT) AS subspace,
           CAST(code AS BIGINT) AS code,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(dist) AS BIGINT) AS sse
         FROM a GROUP BY 1, 2""",
    // Same first-occurrence / per-doc frames; boundaries as a VALUES
    // frame with FILTERed conditional sums.
    "q249_vocab_growth" ->
      """WITH toks AS (
           SELECT doc_id AS id,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)),
               '\s+'), x -> len(x) > 0)) AS tok
           FROM documents WHERE doc_id IS NOT NULL),
         fo AS (SELECT tok, min(id) AS first_id FROM toks GROUP BY 1),
         pd AS (SELECT id, count(*) AS n_tok FROM toks GROUP BY 1),
         b AS (SELECT * FROM (VALUES (1), (2), (4), (8), (16), (32),
           (64), (128), (256), (512), (1024), (2048), (4096))
           t(prefix_docs)),
         v AS (SELECT prefix_docs,
             count(*) FILTER (WHERE first_id < prefix_docs) AS vocab
           FROM b, fo GROUP BY 1),
         o AS (SELECT prefix_docs,
             coalesce(sum(n_tok) FILTER (WHERE id < prefix_docs), 0)
               AS n_token_occurrences
           FROM b, pd GROUP BY 1)
         SELECT CAST(b.prefix_docs AS BIGINT) AS prefix_docs,
           CAST(o.n_token_occurrences AS BIGINT)
             AS n_token_occurrences,
           CAST(v.vocab AS BIGINT) AS vocab
         FROM b JOIN v USING (prefix_docs) JOIN o USING (prefix_docs)""",
    // Same synthesized variants; the canonicalization chain replayed
    // step for step (DuckDB regexp_replace needs the 'g' flag to match
    // the engine's replace-all).
    "q250_url_canonical_dedup" ->
      """WITH d AS (
           SELECT doc_id, source,
             source || 'x' || (doc_id % 97) AS host
           FROM documents),
         u AS (SELECT source, unnest([
             'https://www.' || host || '.com/p/' || doc_id,
             'HTTPS://WWW.' || upper(host) || '.COM:443/p/' || doc_id,
             'https://www.' || host || '.com/p/' || doc_id ||
               '?utm_source=feed&utm_campaign=x',
             'https://www.' || host || '.com/p/' || doc_id ||
               '?q=1#frag']) AS url
           FROM d),
         c AS (SELECT source,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(url, '#.*$', '', 'g'),
               '[?&]utm_[^&#]*', '?', 'g'),
               '\?[?&]*', '?', 'g'),
               '[?&]+$', '', 'g') AS tidy
           FROM u),
         cc AS (SELECT source, tidy,
             regexp_extract(tidy,
               '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS pfx
           FROM c),
         canon AS (SELECT source,
             CASE WHEN pfx = '' THEN tidy
               ELSE regexp_replace(lower(pfx), ':(80|443)$', '') ||
                 (CASE WHEN substr(tidy, length(pfx) + 1) = '/'
                   THEN '' ELSE substr(tidy, length(pfx) + 1) END)
               END AS canon
           FROM cc)
         SELECT source, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
           CAST(count(*) - count(DISTINCT canon) AS BIGINT)
             AS n_collapsed
         FROM canon GROUP BY 1""",
    // Same md5-60 rendezvous weights; arg_max replays the max-struct.
    "q247_rendezvous_reshard" ->
      """WITH k AS (
           SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
           FROM events WHERE user_id IS NOT NULL),
         w AS (SELECT k, s.s,
             CAST(('0x' || substr(md5(CAST(s.s AS VARCHAR) || ':' || k),
               1, 15)) AS BIGINT) AS h
           FROM k, range(9) s(s)),
         a AS (SELECT k,
             arg_max(s, h) FILTER (WHERE s < 8) AS sn,
             arg_max(s, h) AS sn1
           FROM w GROUP BY 1),
         g1 AS (SELECT sn1 AS shard, count(*) AS n_keys_after,
             sum(CASE WHEN sn <> sn1 THEN 1 ELSE 0 END) AS n_gained
           FROM a GROUP BY 1),
         g0 AS (SELECT sn AS shard, count(*) AS n_keys_before
           FROM a GROUP BY 1)
         SELECT CAST(shard AS INT) AS shard,
           CAST(coalesce(n_keys_before, 0) AS BIGINT) AS n_keys_before,
           CAST(coalesce(n_keys_after, 0) AS BIGINT) AS n_keys_after,
           CAST(coalesce(n_gained, 0) AS BIGINT) AS n_gained
         FROM g1 FULL JOIN g0 USING (shard)""",
    // The oracle may re-count each window directly (it is small); the
    // engine must not — its plan is the island/delta prefix sweep.
    // Same quantized integers end to end: q38's cell partition/probes,
    // PQ code assignment per 8-dim block (ties lowest code index), ADC
    // LUT distances, final rank by approx_d2 asc / corpus_id asc.
    // Same quantized integers as q263 but the seed set is the
    // ceil(sqrt(N)) rows with the smallest (md5('ivf:'||id), id) and
    // nProbe = round(sqrt(cells)) — the N-scaled trainer replayed.
    "q281_ann_ivfpq_scaled" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         pc AS (
           SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS cells,
             GREATEST(1, CAST(round(sqrt(ceil(sqrt(count(*)))))
               AS BIGINT)) AS np
           FROM qd),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < (SELECT cells FROM pc)),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= (SELECT np FROM pc) AND vec_id < 5),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id >= 16 AND vec_id < 24),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb),
         codes AS (
           SELECT vec_id, s, ci FROM (
             SELECT vec_id, s, ci, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         approx AS (
           SELECT c.query_id, c.corpus_id, SUM(l.d) AS approx_d2
           FROM cand c
           JOIN codes e ON e.vec_id = c.corpus_id
           JOIN bd l ON l.vec_id = c.query_id AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, corpus_id,
             CAST(approx_d2 AS BIGINT) AS approx_d2,
             row_number() OVER (PARTITION BY query_id
               ORDER BY approx_d2 ASC, corpus_id ASC) AS rank
           FROM approx)
         SELECT query_id, corpus_id, approx_d2, rank
         FROM ranked WHERE rank <= 10""",
    // q281's pipeline with the TWO-LEVEL coarse quantizer replayed:
    // ceil(sqrt(cells)) super-seeds hash-drawn from the CELL INDICES
    // (salt 'ivf2', (md5, cell) order — the hashSeeds rule one level
    // up), each centroid assigned to its argmax super-seed (ties lowest
    // super index), and each corpus row routed super-cell-first, then
    // argmax over ONLY that super-cell's centroids (ties lowest cell).
    // Probes, PQ codes, ADC distances, and ranking are q281's verbatim.
    "q284_ann_ivfpq_two_level" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         pc AS (
           SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS cells,
             GREATEST(1, CAST(round(sqrt(ceil(sqrt(count(*)))))
               AS BIGINT)) AS np
           FROM qd),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < (SELECT cells FROM pc)),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         pc2 AS (
           SELECT GREATEST(1, CAST(ceil(sqrt(count(*))) AS BIGINT))
             AS supers
           FROM cents),
         sseed AS (
           SELECT g, sv, list_sum(list_transform(sv, x -> x * x)) AS sn
           FROM (
             SELECT c.cv AS sv,
               row_number() OVER (ORDER BY
                 substr(md5('ivf2:' || CAST(c.cell AS VARCHAR)), 1, 15),
                 c.cell) - 1 AS g
             FROM cents c) t
           WHERE g < (SELECT supers FROM pc2)),
         c2g AS (
           SELECT cell, g FROM (
             SELECT c.cell, s.g, row_number() OVER (PARTITION BY c.cell
               ORDER BY 2 * list_sum(list_transform(
                 range(1, len(c.cv) + 1), j -> c.cv[j] * s.sv[j])) - s.sn
                 DESC, s.g ASC) AS rk
             FROM cents c, sseed s) t WHERE rk = 1),
         r2g AS (
           SELECT vec_id, g FROM (
             SELECT d.vec_id, s.g, row_number() OVER (PARTITION BY
               d.vec_id ORDER BY 2 * list_sum(list_transform(
                 range(1, len(d.qv) + 1), j -> d.qv[j] * s.sv[j])) - s.sn
                 DESC, s.g ASC) AS rk
             FROM qd d, sseed s) t WHERE rk = 1),
         cellof AS (
           SELECT vec_id, cell FROM (
             SELECT r.vec_id, c.cell, row_number() OVER (PARTITION BY
               r.vec_id ORDER BY 2 * list_sum(list_transform(
                 range(1, len(d.qv) + 1), j -> d.qv[j] * c.cv[j])) - c.cn
                 DESC, c.cell ASC) AS rk
             FROM r2g r
             JOIN qd d ON d.vec_id = r.vec_id
             JOIN c2g cg ON cg.g = r.g
             JOIN cents c ON c.cell = cg.cell) t WHERE rk = 1),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c
           WHERE d.vec_id < 5),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= (SELECT np FROM pc)),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id >= 16 AND vec_id < 24),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb),
         codes AS (
           SELECT vec_id, s, ci FROM (
             SELECT vec_id, s, ci, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         approx AS (
           SELECT c.query_id, c.corpus_id, SUM(l.d) AS approx_d2
           FROM cand c
           JOIN codes e ON e.vec_id = c.corpus_id
           JOIN bd l ON l.vec_id = c.query_id AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, corpus_id,
             CAST(approx_d2 AS BIGINT) AS approx_d2,
             row_number() OVER (PARTITION BY query_id
               ORDER BY approx_d2 ASC, corpus_id ASC) AS rank
           FROM approx)
         SELECT query_id, corpus_id, approx_d2, rank
         FROM ranked WHERE rank <= 10""",
    // q286: the persisted-index lifecycle replayed end to end from the
    // raw table — hash-seeded 32-cell draw from the BASE slice only
    // (vec_id % 7 <> 0; an engine that retrained on base+delta at append
    // time would draw different seeds and mismatch), quantized argmax
    // assignment of EVERY valid row (base at build, delta at append —
    // identical math under frozen centroids), top-6 probe cells per
    // query, cosine top-10 over the probed cells' postings.
    "q286_ann_index_lifecycle" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd WHERE vec_id % 7 <> 0
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 6 AND vec_id < 5),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         ranked AS (
           SELECT query_id, corpus_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
                        corpus_id ASC) AS rank
           FROM cand
           JOIN embeddings q ON q.vec_id = query_id
           JOIN embeddings c ON c.vec_id = corpus_id)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10""",
    // q287: the streaming probe unions to exactly one batch probe over
    // the frozen full-corpus index — seeds drawn from ALL valid rows,
    // queries vec_id < 8, 4 probe cells, cosine top-10.
    "q287_stream_ann_probe" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 8),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         ranked AS (
           SELECT query_id, corpus_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
                        corpus_id ASC) AS rank
           FROM cand
           JOIN embeddings q ON q.vec_id = query_id
           JOIN embeddings c ON c.vec_id = corpus_id)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10""",
    // q291: the persisted PQ lifecycle replayed — seeds AND codebook
    // drawn from the base slice only (vec_id % 7 <> 0; ids 16-24 minus
    // 21), every valid row assigned and PQ-encoded under them (base at
    // build, delta at append — identical math under the frozen
    // quantizer), 4 probe cells, exact-integer ADC distances, top 10.
    "q291_ann_pq_index_lifecycle" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd WHERE vec_id % 7 <> 0
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 5),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id IN (16, 17, 18, 19, 20, 22, 23, 24)),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb),
         codes AS (
           SELECT vec_id, s, ci FROM (
             SELECT vec_id, s, ci, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         approx AS (
           SELECT c.query_id, c.corpus_id, SUM(l.d) AS approx_d2
           FROM cand c
           JOIN codes e ON e.vec_id = c.corpus_id
           JOIN bd l ON l.vec_id = c.query_id AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, corpus_id,
             CAST(approx_d2 AS BIGINT) AS approx_d2,
             row_number() OVER (PARTITION BY query_id
               ORDER BY approx_d2 ASC, corpus_id ASC) AS rank
           FROM approx)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           approx_d2, CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10""",
    // q290: q281's ADC pipeline widened to rank<=30, then the exact
    // cosine rerank of just those candidates, top 10.
    "q290_ann_pq_rerank" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         pc AS (
           SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS cells,
             GREATEST(1, CAST(round(sqrt(ceil(sqrt(count(*)))))
               AS BIGINT)) AS np
           FROM qd),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < (SELECT cells FROM pc)),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= (SELECT np FROM pc) AND vec_id < 5),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id >= 16 AND vec_id < 24),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb),
         codes AS (
           SELECT vec_id, s, ci FROM (
             SELECT vec_id, s, ci, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         approx AS (
           SELECT c.query_id, c.corpus_id, SUM(l.d) AS approx_d2
           FROM cand c
           JOIN codes e ON e.vec_id = c.corpus_id
           JOIN bd l ON l.vec_id = c.query_id AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2),
         adc30 AS (
           SELECT query_id, corpus_id FROM (
             SELECT query_id, corpus_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY approx_d2 ASC, corpus_id ASC) AS rank
             FROM approx) t WHERE rank <= 30),
         rr AS (
           SELECT query_id, corpus_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
                        corpus_id ASC) AS rank
           FROM adc30
           JOIN embeddings q ON q.vec_id = query_id
           JOIN embeddings c ON c.vec_id = corpus_id)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           CAST(rank AS BIGINT) AS rank
         FROM rr WHERE rank <= 10""",
    // q289: the streaming dedup replayed — even rows are "existing"
    // (their batch probed an empty index), odd rows are "new"; a pair
    // survives iff the existing row's cell is among the new row's top-4
    // probe cells AND the exact quantized-integer cosine rule holds
    // (dotq ≥ 0, nonzero norms, dotq²·10¹² ≥ 400000²·nq2·nb2 — HUGEINT
    // here, decimal(38) in the engine, identical integers).
    "q289_stream_ann_dedup" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS id_new, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id % 2 = 1),
         cand AS (
           SELECT p.id_new, co.vec_id AS id_existing
           FROM probes p JOIN cellof co ON co.cell = p.cell
           WHERE co.vec_id % 2 = 0),
         vals AS (
           SELECT c.id_new, c.id_existing,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               j -> a.qv[j] * b.qv[j])) AS dotq,
             list_sum(list_transform(a.qv, x -> x * x)) AS nq2,
             list_sum(list_transform(b.qv, x -> x * x)) AS nb2
           FROM cand c
           JOIN qd a ON a.vec_id = c.id_new
           JOIN qd b ON b.vec_id = c.id_existing)
         SELECT CAST(id_new AS BIGINT) AS id_new,
           CAST(id_existing AS BIGINT) AS id_existing
         FROM vals
         WHERE dotq >= 0 AND nq2 > 0 AND nb2 > 0
           AND CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT)
             * CAST(1000000000000 AS HUGEINT)
             >= CAST(400000 AS HUGEINT) * CAST(400000 AS HUGEINT)
               * CAST(nq2 AS HUGEINT) * CAST(nb2 AS HUGEINT)""",
    // q308: q289's replay VERBATIM — the dual-index stream promises
    // IDENTICAL pairs to the single-index stream (the ADC prefilter is
    // lossless), so a hash match proves the compressed path dropped no
    // pair and invented none across the batch cadence.
    "q308_stream_pq_dedup" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64
             AND vec_id < 4096),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS id_new, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id % 2 = 1),
         cand AS (
           SELECT p.id_new, co.vec_id AS id_existing
           FROM probes p JOIN cellof co ON co.cell = p.cell
           WHERE co.vec_id % 2 = 0),
         vals AS (
           SELECT c.id_new, c.id_existing,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               j -> a.qv[j] * b.qv[j])) AS dotq,
             list_sum(list_transform(a.qv, x -> x * x)) AS nq2,
             list_sum(list_transform(b.qv, x -> x * x)) AS nb2
           FROM cand c
           JOIN qd a ON a.vec_id = c.id_new
           JOIN qd b ON b.vec_id = c.id_existing)
         SELECT CAST(id_new AS BIGINT) AS id_new,
           CAST(id_existing AS BIGINT) AS id_existing
         FROM vals
         WHERE dotq >= 0 AND nq2 > 0 AND nb2 > 0
           AND CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT)
             * CAST(1000000000000 AS HUGEINT)
             >= CAST(400000 AS HUGEINT) * CAST(400000 AS HUGEINT)
               * CAST(nq2 AS HUGEINT) * CAST(nb2 AS HUGEINT)""",
    // q288: per-cell posting counts after the append+compact pass ==
    // per-cell counts of a from-scratch assignment of ALL valid rows
    // under the base-drawn seeds — any posting lost or duplicated by
    // the compaction swap changes a count.
    "q288_ann_index_compact_stats" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd WHERE vec_id % 7 <> 0
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         per AS (
           SELECT cell, count(*) AS n_postings FROM cellof GROUP BY cell)
         SELECT CAST(cell AS INT) AS cell,
           CAST(n_postings AS BIGINT) AS n_postings,
           CAST(n_postings * 1000000 //
             (SELECT sum(n_postings) FROM per) AS BIGINT) AS share_ppm
         FROM per""",
    // q296: per-cell code counts after the PQ append+compact pass ==
    // per-cell counts of a from-scratch assignment of ALL valid rows
    // under the base-drawn seeds (the q288 rule on the codes frame).
    "q296_ann_pq_compact_stats" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd WHERE vec_id % 7 <> 0
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         per AS (
           SELECT cell, count(*) AS n_postings FROM cellof GROUP BY cell)
         SELECT CAST(cell AS INT) AS cell,
           CAST(n_postings AS BIGINT) AS n_postings,
           CAST(n_postings * 1000000 //
             (SELECT sum(n_postings) FROM per) AS BIGINT) AS share_ppm
         FROM per""",
    // q299: probing the merged index == probing one build over the
    // whole corpus (q287's replay: full-corpus seeds, queries < 8,
    // 4 probe cells, cosine top-10) — any posting lost, duplicated, or
    // re-routed by the merge changes a rank.
    "q299_ann_index_merge" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 8),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         ranked AS (
           SELECT query_id, corpus_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
                        corpus_id ASC) AS rank
           FROM cand
           JOIN embeddings q ON q.vec_id = query_id
           JOIN embeddings c ON c.vec_id = corpus_id)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10""",
    // q300: ADC-probing the merged PQ index == one whole-corpus encode
    // + probe (q291's replay with full-corpus seeds and codebook ids
    // 16-23): cell assignment and PQ codes depend only on the row and
    // the shared tables, so the even/odd split must be invisible.
    "q300_ann_pq_index_merge" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 5),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id IN (16, 17, 18, 19, 20, 21, 22, 23)),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb),
         codes AS (
           SELECT vec_id, s, ci FROM (
             SELECT vec_id, s, ci, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         approx AS (
           SELECT c.query_id, c.corpus_id, SUM(l.d) AS approx_d2
           FROM cand c
           JOIN codes e ON e.vec_id = c.corpus_id
           JOIN bd l ON l.vec_id = c.query_id AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, corpus_id,
             CAST(approx_d2 AS BIGINT) AS approx_d2,
             row_number() OVER (PARTITION BY query_id
               ORDER BY approx_d2 ASC, corpus_id ASC) AS rank
           FROM approx)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           approx_d2, CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10""",
    // q297: final per-cell code counts after the STREAMED PQ
    // append+compact cadence == a from-scratch assignment of ALL valid
    // rows under the base-drawn seeds (same rule as q296 — the streamed
    // path must land the identical code set).
    "q297_stream_pq_maintenance" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd WHERE vec_id % 7 <> 0
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         per AS (
           SELECT cell, count(*) AS n_postings FROM cellof GROUP BY cell)
         SELECT CAST(cell AS INT) AS cell,
           CAST(n_postings AS BIGINT) AS n_postings,
           CAST(n_postings * 1000000 //
             (SELECT sum(n_postings) FROM per) AS BIGINT) AS share_ppm
         FROM per""",
    // q298: the PQ serving-pair recall replayed — per nprobe, ADC
    // scores (q291's encode/LUT replay) nominate a top-30, the exact
    // cosine rerank keeps top-10, overlap vs brute-force truth as
    // exact floor ppm.
    "q298_ann_pq_recall_audit" ->
      """WITH qd AS (
           SELECT vec_id, embedding, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id IN (16, 17, 18, 19, 20, 21, 22, 23)),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb),
         codes AS (
           SELECT vec_id, s, ci FROM (
             SELECT vec_id, s, ci, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         truth AS (
           SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
           FROM qd q JOIN qd c ON q.vec_id < 5
           QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_cosine_similarity(c.embedding, q.embedding) DESC,
             c.vec_id ASC) <= 10),
         pr AS (
           SELECT np.np AS nprobe, sc.vec_id AS query_id, sc.cell
           FROM (VALUES (2), (32)) np(np)
           JOIN scored_cells sc ON sc.rk <= np.np AND sc.vec_id < 5),
         cand AS (
           SELECT pr.nprobe, pr.query_id, co.vec_id AS corpus_id
           FROM pr JOIN cellof co ON co.cell = pr.cell),
         approx AS (
           SELECT c.nprobe, c.query_id, c.corpus_id, SUM(l.d) AS approx_d2
           FROM cand c
           JOIN codes e ON e.vec_id = c.corpus_id
           JOIN bd l ON l.vec_id = c.query_id AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2, 3),
         wide AS (
           SELECT nprobe, query_id, corpus_id FROM (
             SELECT nprobe, query_id, corpus_id, row_number() OVER (
               PARTITION BY nprobe, query_id
               ORDER BY approx_d2 ASC, corpus_id ASC) AS rk
             FROM approx) t WHERE rk <= 30),
         rr AS (
           SELECT nprobe, query_id, corpus_id FROM (
             SELECT w.nprobe, w.query_id, w.corpus_id,
               row_number() OVER (PARTITION BY w.nprobe, w.query_id
                 ORDER BY
                   list_cosine_similarity(c.embedding, q.embedding) DESC,
                   w.corpus_id ASC) AS rank
             FROM wide w
             JOIN qd q ON q.vec_id = w.query_id
             JOIN qd c ON c.vec_id = w.corpus_id) t
           WHERE rank <= 10),
         hits AS (
           SELECT p.nprobe, count(*) AS n_probe_rows,
             COALESCE(sum(CASE WHEN t.corpus_id IS NOT NULL
               THEN 1 ELSE 0 END), 0) AS n_hits
           FROM rr p
           LEFT JOIN truth t ON t.query_id = p.query_id
             AND t.corpus_id = p.corpus_id
           GROUP BY p.nprobe),
         tot AS (SELECT count(*) AS n_truth FROM truth)
         SELECT CAST(nprobe AS INT) AS nprobe,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_probe_rows AS BIGINT) AS n_probe_rows,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(CASE WHEN n_truth > 0
             THEN n_hits * 1000000 // n_truth ELSE 0 END AS BIGINT)
             AS recall_ppm
         FROM hits, tot""",
    // q292: q289's pair replay at τ=0.2 + the cap — rank surviving
    // pairs per id_new by the exact integer key (dotq²//nb2, HUGEINT
    // floor-div; ties → lower id_existing), keep rn <= 2.
    "q292_ann_dedup_capped" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS id_new, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id % 2 = 1),
         cand AS (
           SELECT p.id_new, co.vec_id AS id_existing
           FROM probes p JOIN cellof co ON co.cell = p.cell
           WHERE co.vec_id % 2 = 0),
         vals AS (
           SELECT c.id_new, c.id_existing,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               j -> a.qv[j] * b.qv[j])) AS dotq,
             list_sum(list_transform(a.qv, x -> x * x)) AS nq2,
             list_sum(list_transform(b.qv, x -> x * x)) AS nb2
           FROM cand c
           JOIN qd a ON a.vec_id = c.id_new
           JOIN qd b ON b.vec_id = c.id_existing),
         kept AS (
           SELECT id_new, id_existing,
             row_number() OVER (PARTITION BY id_new ORDER BY
               (CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT))
                 // CAST(nb2 AS HUGEINT) DESC,
               id_existing ASC) AS rn
           FROM vals
           WHERE dotq >= 0 AND nq2 > 0 AND nb2 > 0
             AND CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT)
               * CAST(1000000000000 AS HUGEINT)
               >= CAST(200000 AS HUGEINT) * CAST(200000 AS HUGEINT)
                 * CAST(nq2 AS HUGEINT) * CAST(nb2 AS HUGEINT))
         SELECT CAST(id_new AS BIGINT) AS id_new,
           CAST(id_existing AS BIGINT) AS id_existing
         FROM kept WHERE rn <= 2""",
    // q293: the cap's accounting — per-id_new admitted-pair counts,
    // folded to one exact row (kept = min(n,2), dropped = max(n-2,0),
    // share = floor ppm).
    "q293_ann_dedup_drop_report" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS id_new, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id % 2 = 1),
         cand AS (
           SELECT p.id_new, co.vec_id AS id_existing
           FROM probes p JOIN cellof co ON co.cell = p.cell
           WHERE co.vec_id % 2 = 0),
         vals AS (
           SELECT c.id_new, c.id_existing,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               j -> a.qv[j] * b.qv[j])) AS dotq,
             list_sum(list_transform(a.qv, x -> x * x)) AS nq2,
             list_sum(list_transform(b.qv, x -> x * x)) AS nb2
           FROM cand c
           JOIN qd a ON a.vec_id = c.id_new
           JOIN qd b ON b.vec_id = c.id_existing),
         counted AS (
           SELECT id_new, count(*) AS n
           FROM vals
           WHERE dotq >= 0 AND nq2 > 0 AND nb2 > 0
             AND CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT)
               * CAST(1000000000000 AS HUGEINT)
               >= CAST(200000 AS HUGEINT) * CAST(200000 AS HUGEINT)
                 * CAST(nq2 AS HUGEINT) * CAST(nb2 AS HUGEINT)
           GROUP BY id_new)
         SELECT CAST(count(*) AS BIGINT) AS n_new_rows_paired,
           CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(sum(least(n, 2)), 0) AS BIGINT) AS n_pairs_kept,
           CAST(COALESCE(sum(greatest(n - 2, 0)), 0) AS BIGINT)
             AS n_pairs_dropped,
           CAST(CASE WHEN COALESCE(sum(n), 0) > 0
             THEN COALESCE(sum(greatest(n - 2, 0)), 0) * 1000000
               // COALESCE(sum(n), 0)
             ELSE 0 END AS BIGINT) AS dropped_pair_share_ppm
         FROM counted""",
    // q301: q292's replay VERBATIM — the ADC-prefiltered path promises
    // IDENTICAL output to the raw kernel (the prefilter is provably
    // lossless), so the strongest oracle is the raw exact replay: a
    // hash match proves no true pair was dropped by the margin bound.
    "q301_ann_dedup_adc_prefilter" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS id_new, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id % 2 = 1),
         cand AS (
           SELECT p.id_new, co.vec_id AS id_existing
           FROM probes p JOIN cellof co ON co.cell = p.cell
           WHERE co.vec_id % 2 = 0),
         vals AS (
           SELECT c.id_new, c.id_existing,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               j -> a.qv[j] * b.qv[j])) AS dotq,
             list_sum(list_transform(a.qv, x -> x * x)) AS nq2,
             list_sum(list_transform(b.qv, x -> x * x)) AS nb2
           FROM cand c
           JOIN qd a ON a.vec_id = c.id_new
           JOIN qd b ON b.vec_id = c.id_existing),
         kept AS (
           SELECT id_new, id_existing,
             row_number() OVER (PARTITION BY id_new ORDER BY
               (CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT))
                 // CAST(nb2 AS HUGEINT) DESC,
               id_existing ASC) AS rn
           FROM vals
           WHERE dotq >= 0 AND nq2 > 0 AND nb2 > 0
             AND CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT)
               * CAST(1000000000000 AS HUGEINT)
               >= CAST(200000 AS HUGEINT) * CAST(200000 AS HUGEINT)
                 * CAST(nq2 AS HUGEINT) * CAST(nb2 AS HUGEINT))
         SELECT CAST(id_new AS BIGINT) AS id_new,
           CAST(id_existing AS BIGINT) AS id_existing
         FROM kept WHERE rn <= 2""",
    // q302: the whole prefilter chain replayed — coarse cells, the
    // 16-point codebook (even ids 16..46, ci = ascending-id order),
    // per-subspace argmin codes + summed distortion e2, the query-side
    // subspace dot-LUT, the guarded-double upper bound
    // ub = adot + (⌊√nq2⌋+2)(⌊√e2⌋+2) + 8 and its inflated rule
    // ub²·(1+10⁻⁹)·10¹² ≥ tSq·nq2·nb2 (prefilter; IEEE-deterministic
    // doubles on integer-valued inputs, same association both
    // engines), and the exact integer rule on the true dot (pairs).
    "q302_ann_adc_prefilter_report" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS id_new, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id % 2 = 1),
         cand AS (
           SELECT p.id_new, co.vec_id AS id_existing
           FROM probes p JOIN cellof co ON co.cell = p.cell
           WHERE co.vec_id % 2 = 0),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id IN (16, 18, 20, 22, 24, 26, 28, 30,
             32, 34, 36, 38, 40, 42, 44, 46)),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb
           WHERE d.vec_id % 2 = 0),
         codes AS (
           SELECT vec_id, s, ci, d FROM (
             SELECT vec_id, s, ci, d, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         enc AS (SELECT vec_id, SUM(d) AS e2 FROM codes GROUP BY 1),
         norms AS (
           SELECT vec_id,
             list_sum(list_transform(qv, x -> x * x)) AS n2
           FROM qd),
         ddot AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> d.qv[sub.s * 8 + j] * cb.cv[sub.s * 8 + j])) AS dt
           FROM qd d, subs sub, cb
           WHERE d.vec_id % 2 = 1),
         adots AS (
           SELECT c.id_new, c.id_existing, SUM(l.dt) AS adot
           FROM cand c
           JOIN codes e ON e.vec_id = c.id_existing
           JOIN ddot l ON l.vec_id = c.id_new AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2),
         pre AS (
           SELECT a.id_new, a.id_existing,
             CAST(a.adot AS DOUBLE)
               + (floor(sqrt(CAST(nq.n2 AS DOUBLE))) + 2.0)
               * (floor(sqrt(CAST(en.e2 AS DOUBLE))) + 2.0) + 8.0 AS ub,
             CAST(nq.n2 AS DOUBLE) AS nq2,
             CAST(nb.n2 AS DOUBLE) AS nb2
           FROM adots a
           JOIN norms nq ON nq.vec_id = a.id_new
           JOIN norms nb ON nb.vec_id = a.id_existing
           JOIN enc en ON en.vec_id = a.id_existing),
         kept AS (
           SELECT id_new, id_existing FROM pre
           WHERE nq2 > 0 AND nb2 > 0 AND ub >= 0
             AND ub * ub * 1.000000001e12
               >= 40000000000.0 * (nq2 * nb2)),
         vals AS (
           SELECT c.id_new, c.id_existing,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               j -> a.qv[j] * b.qv[j])) AS dotq,
             list_sum(list_transform(a.qv, x -> x * x)) AS nq2,
             list_sum(list_transform(b.qv, x -> x * x)) AS nb2
           FROM cand c
           JOIN qd a ON a.vec_id = c.id_new
           JOIN qd b ON b.vec_id = c.id_existing),
         exact AS (
           SELECT count(*) AS n_pairs FROM vals
           WHERE dotq >= 0 AND nq2 > 0 AND nb2 > 0
             AND CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT)
               * CAST(1000000000000 AS HUGEINT)
               >= CAST(200000 AS HUGEINT) * CAST(200000 AS HUGEINT)
                 * CAST(nq2 AS HUGEINT) * CAST(nb2 AS HUGEINT)),
         totals AS (
           SELECT (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM kept) AS n_prefilter_kept,
             (SELECT n_pairs FROM exact) AS n_pairs)
         SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_prefilter_kept AS BIGINT) AS n_prefilter_kept,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN n_candidates > 0
             THEN (n_candidates - n_prefilter_kept) * 1000000
               // n_candidates
             ELSE 0 END AS BIGINT) AS pruned_candidate_share_ppm
         FROM totals""",
    // q309: the duplicate-free aggregate over the three slices that
    // were ever appended (mod 4 in 0,1,2) — a replayed append that
    // landed twice doubles n_rows/id_sum; exactly 2 of the 4 append
    // calls must have applied.
    "q309_ann_exactly_once_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_ids,
           CAST(sum(vec_id) AS BIGINT) AS id_sum,
           CAST(2 AS BIGINT) AS n_appends_applied
         FROM embeddings
         WHERE embedding IS NOT NULL AND len(embedding) = 64
           AND vec_id % 4 IN (0, 1, 2)""",
    // q310: q301's independent exact-kernel replay (the auto-router
    // must be invisible in the pairs), plus the routing decision
    // recomputed from the density statistic itself: evens per cell vs
    // the 350 postings/cell crossover constant.
    "q310_ann_auto_route_dedup" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS id_new, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id % 2 = 1),
         cand AS (
           SELECT p.id_new, co.vec_id AS id_existing
           FROM probes p JOIN cellof co ON co.cell = p.cell
           WHERE co.vec_id % 2 = 0),
         vals AS (
           SELECT c.id_new, c.id_existing,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               j -> a.qv[j] * b.qv[j])) AS dotq,
             list_sum(list_transform(a.qv, x -> x * x)) AS nq2,
             list_sum(list_transform(b.qv, x -> x * x)) AS nb2
           FROM cand c
           JOIN qd a ON a.vec_id = c.id_new
           JOIN qd b ON b.vec_id = c.id_existing),
         kept AS (
           SELECT id_new, id_existing,
             row_number() OVER (PARTITION BY id_new ORDER BY
               (CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT))
                 // CAST(nb2 AS HUGEINT) DESC,
               id_existing ASC) AS rn
           FROM vals
           WHERE dotq >= 0 AND nq2 > 0 AND nb2 > 0
             AND CAST(dotq AS HUGEINT) * CAST(dotq AS HUGEINT)
               * CAST(1000000000000 AS HUGEINT)
               >= CAST(200000 AS HUGEINT) * CAST(200000 AS HUGEINT)
                 * CAST(nq2 AS HUGEINT) * CAST(nb2 AS HUGEINT)),
         route AS (
           SELECT CASE WHEN
               (SELECT CAST(count(*) AS DOUBLE) FROM qd
                WHERE vec_id % 2 = 0)
               / (SELECT CAST(count(*) AS DOUBLE) FROM seeded)
               >= 350.0 THEN 1 ELSE 0 END AS pq_routed)
         SELECT CAST(k.id_new AS BIGINT) AS id_new,
           CAST(k.id_existing AS BIGINT) AS id_existing,
           CAST(r.pq_routed AS BIGINT) AS pq_routed
         FROM kept k, route r WHERE k.rn <= 2""",
    // q311: full BM25 replay — same tokenization as q42, non-negative
    // idf, 6dp-rounded per-term weights summed in DECIMAL (order-
    // independent), ranking on the exact decimal sum (desc, doc_id asc).
    "q311_bm25_retrieval" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         stats AS (
           SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
             (SELECT CAST(count(*) AS DOUBLE) FROM toks) AS total),
         qt AS (
           SELECT DISTINCT doc_id AS query_id, unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)[1:8]) AS term
           FROM documents WHERE doc_id < 5),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         w AS (
           SELECT qt.query_id, tf.doc_id,
             CAST(round(
               ln(1.0 + (s.n - CAST(d.df AS DOUBLE) + 0.5)
                   / (CAST(d.df AS DOUBLE) + 0.5))
                 * (CAST(tf.tf AS DOUBLE) * 2.2)
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                             / (s.total / s.n))),
               6) AS DECIMAL(18,6)) AS wd
           FROM tf JOIN qt USING (term) JOIN dfreq d USING (term)
             JOIN dl USING (doc_id), stats s),
         bm AS (SELECT query_id, doc_id, sum(wd) AS bm_dec
                FROM w GROUP BY 1, 2),
         r AS (
           SELECT query_id, doc_id, bm_dec,
             row_number() OVER (PARTITION BY query_id
               ORDER BY CAST(bm_dec AS DOUBLE) DESC, doc_id ASC) AS rank
           FROM bm)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(bm_dec AS DOUBLE) AS bm25,
           CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 10""",
    // q313: q311's BM25 replay VERBATIM — the persisted index and its
    // bucket-pruned probe must be invisible in the results.
    "q313_bm25_index_probe" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         stats AS (
           SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
             (SELECT CAST(count(*) AS DOUBLE) FROM toks) AS total),
         qt AS (
           SELECT DISTINCT doc_id AS query_id, unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)[1:8]) AS term
           FROM documents WHERE doc_id < 5),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         w AS (
           SELECT qt.query_id, tf.doc_id,
             CAST(round(
               ln(1.0 + (s.n - CAST(d.df AS DOUBLE) + 0.5)
                   / (CAST(d.df AS DOUBLE) + 0.5))
                 * (CAST(tf.tf AS DOUBLE) * 2.2)
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                             / (s.total / s.n))),
               6) AS DECIMAL(18,6)) AS wd
           FROM tf JOIN qt USING (term) JOIN dfreq d USING (term)
             JOIN dl USING (doc_id), stats s),
         bm AS (SELECT query_id, doc_id, sum(wd) AS bm_dec
                FROM w GROUP BY 1, 2),
         r AS (
           SELECT query_id, doc_id, bm_dec,
             row_number() OVER (PARTITION BY query_id
               ORDER BY CAST(bm_dec AS DOUBLE) DESC, doc_id ASC) AS rank
           FROM bm)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(bm_dec AS DOUBLE) AS bm25,
           CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 10""",
    // q312: q311's BM25 replay over the joined corpus + q26's cosine
    // ranking, fused with exact integer floor-ppm RRF contributions
    // (1000000 // (60 + rank)); fused order rrf_ppm desc, doc_id asc.
    "q312_hybrid_retrieval" ->
      """WITH corpus AS (
           SELECT d.doc_id, d.text, e.embedding
           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
           WHERE e.embedding IS NOT NULL AND len(e.embedding) = 64),
         toks AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS term
           FROM corpus),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         stats AS (
           SELECT (SELECT CAST(count(*) AS DOUBLE) FROM corpus) AS n,
             (SELECT CAST(count(*) AS DOUBLE) FROM toks) AS total),
         qt AS (
           SELECT DISTINCT doc_id AS query_id, unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)[1:8]) AS term
           FROM corpus WHERE doc_id < 5),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         w AS (
           SELECT qt.query_id, tf.doc_id,
             CAST(round(
               ln(1.0 + (s.n - CAST(d.df AS DOUBLE) + 0.5)
                   / (CAST(d.df AS DOUBLE) + 0.5))
                 * (CAST(tf.tf AS DOUBLE) * 2.2)
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                             / (s.total / s.n))),
               6) AS DECIMAL(18,6)) AS wd
           FROM tf JOIN qt USING (term) JOIN dfreq d USING (term)
             JOIN dl USING (doc_id), stats s),
         bm AS (SELECT query_id, doc_id, sum(wd) AS bm_dec
                FROM w GROUP BY 1, 2),
         lex AS (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY CAST(bm_dec AS DOUBLE) DESC, doc_id ASC) AS rank
           FROM bm),
         vec AS (
           SELECT q.doc_id AS query_id, c.doc_id,
             row_number() OVER (PARTITION BY q.doc_id
               ORDER BY list_cosine_similarity(c.embedding,
                 q.embedding) DESC, c.doc_id ASC) AS rank
           FROM corpus c, corpus q WHERE q.doc_id < 5),
         contrib AS (
           SELECT query_id, doc_id, rank FROM lex WHERE rank <= 10
           UNION ALL
           SELECT query_id, doc_id, rank FROM vec WHERE rank <= 10),
         fused AS (
           SELECT query_id, doc_id,
             CAST(count(*) AS BIGINT) AS n_lists,
             CAST(min(rank) AS BIGINT) AS best_rank,
             CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm
           FROM contrib GROUP BY 1, 2),
         topn AS (
           SELECT query_id, doc_id, n_lists, best_rank, rrf_ppm,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_ppm DESC, doc_id ASC) AS fused_rank
           FROM fused)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(fused_rank AS BIGINT) AS fused_rank, rrf_ppm, n_lists,
           best_rank
         FROM topn WHERE fused_rank <= 10""",
    // q307: q300's whole-corpus encode + ADC probe replay with the
    // candidate side restricted to label = 1 — the payload filter
    // applies before the ADC top-k.
    "q307_ann_pq_filtered_probe" ->
      """WITH qd AS (
           SELECT vec_id, label, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 5),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id IN (16, 17, 18, 19, 20, 21, 22, 23)),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb),
         codes AS (
           SELECT vec_id, s, ci FROM (
             SELECT vec_id, s, ci, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p
           JOIN cellof co ON co.cell = p.cell
           JOIN qd cq ON cq.vec_id = co.vec_id AND cq.label = 1),
         approx AS (
           SELECT c.query_id, c.corpus_id, SUM(l.d) AS approx_d2
           FROM cand c
           JOIN codes e ON e.vec_id = c.corpus_id
           JOIN bd l ON l.vec_id = c.query_id AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, corpus_id,
             CAST(approx_d2 AS BIGINT) AS approx_d2,
             row_number() OVER (PARTITION BY query_id
               ORDER BY approx_d2 ASC, corpus_id ASC) AS rank
           FROM approx)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           approx_d2, CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10""",
    // q305: the filtered probe replayed — q303's probe shape with the
    // candidate side restricted to label = 1 (the payload predicate
    // applies before the top-k, so the oracle filters cellof).
    "q305_ann_filtered_probe" ->
      """WITH qd AS (
           SELECT vec_id, embedding, label, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (
           SELECT vec_id, cell FROM scored_cells
           WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 8),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p
           JOIN cellof co ON co.cell = p.cell
           JOIN qd cq ON cq.vec_id = co.vec_id AND cq.label = 1)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           CAST(rank AS BIGINT) AS rank
         FROM (
           SELECT cand.query_id, cand.corpus_id,
             row_number() OVER (PARTITION BY cand.query_id ORDER BY
               list_cosine_similarity(c.embedding, q.embedding) DESC,
               cand.corpus_id ASC) AS rank
           FROM cand
           JOIN qd q ON q.vec_id = cand.query_id
           JOIN qd c ON c.vec_id = cand.corpus_id)
         WHERE rank <= 10""",
    // q306: the per-selectivity filtered audit replayed — per band
    // (label = 1, label >= 5) and nprobe (2, 32): filtered brute-force
    // truth, filtered probe top-10, overlap as exact floor ppm.
    "q306_ann_filtered_recall_audit" ->
      """WITH qd AS (
           SELECT vec_id, embedding, label, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         bands AS (SELECT 1 AS sel UNION ALL SELECT 2),
         members AS (
           SELECT b.sel, d.vec_id, co.cell
           FROM bands b
           JOIN qd d ON (b.sel = 1 AND d.label = 1)
             OR (b.sel = 2 AND d.label >= 5)
           JOIN cellof co ON co.vec_id = d.vec_id),
         truth AS (
           SELECT m.sel, q.vec_id AS query_id, c.vec_id AS corpus_id
           FROM qd q
           JOIN members m ON q.vec_id < 8
           JOIN qd c ON c.vec_id = m.vec_id
           QUALIFY row_number() OVER (PARTITION BY m.sel, q.vec_id
             ORDER BY
               list_cosine_similarity(c.embedding, q.embedding) DESC,
               c.vec_id ASC) <= 10),
         pr AS (
           SELECT np.np AS nprobe, sc.vec_id AS query_id, sc.cell
           FROM (VALUES (2), (32)) np(np)
           JOIN scored_cells sc ON sc.rk <= np.np AND sc.vec_id < 8),
         cand AS (
           SELECT m.sel, pr.nprobe, pr.query_id, m.vec_id AS corpus_id
           FROM pr JOIN members m ON m.cell = pr.cell),
         probed AS (
           SELECT sel, nprobe, query_id, corpus_id FROM (
             SELECT cand.sel, cand.nprobe, cand.query_id,
               cand.corpus_id,
               row_number() OVER (PARTITION BY cand.sel, cand.nprobe,
                 cand.query_id ORDER BY
                   list_cosine_similarity(c.embedding, q.embedding) DESC,
                   cand.corpus_id ASC) AS rank
             FROM cand
             JOIN qd q ON q.vec_id = cand.query_id
             JOIN qd c ON c.vec_id = cand.corpus_id)
           WHERE rank <= 10),
         hits AS (
           SELECT p.sel, p.nprobe, count(*) AS n_probe_rows,
             COALESCE(sum(CASE WHEN t.corpus_id IS NOT NULL
               THEN 1 ELSE 0 END), 0) AS n_hits
           FROM probed p
           LEFT JOIN truth t ON t.sel = p.sel
             AND t.query_id = p.query_id AND t.corpus_id = p.corpus_id
           GROUP BY p.sel, p.nprobe),
         tot AS (
           SELECT sel, count(*) AS n_truth FROM truth GROUP BY sel)
         SELECT CAST(h.sel AS INT) AS sel,
           CAST(h.nprobe AS INT) AS nprobe,
           CAST(t.n_truth AS BIGINT) AS n_truth,
           CAST(h.n_probe_rows AS BIGINT) AS n_probe_rows,
           CAST(h.n_hits AS BIGINT) AS n_hits,
           CAST(CASE WHEN t.n_truth > 0
             THEN h.n_hits * 1000000 // t.n_truth ELSE 0 END AS BIGINT)
             AS recall_ppm
         FROM hits h JOIN tot t ON t.sel = h.sel""",
    // q303: the probe replayed over the corpus MINUS the deleted ids —
    // cell ranking and candidate scoring as q294's probe, with every
    // vec_id % 10 == 0 row excluded from the candidate side (a
    // tombstoned row surviving anywhere in the probe path
    // hash-mismatches).
    "q303_ann_index_delete" ->
      """WITH qd AS (
           SELECT vec_id, embedding, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (
           SELECT vec_id, cell FROM scored_cells
           WHERE rk = 1 AND vec_id % 10 <> 0),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 8),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell)
         SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(corpus_id AS BIGINT) AS corpus_id,
           CAST(rank AS BIGINT) AS rank
         FROM (
           SELECT cand.query_id, cand.corpus_id,
             row_number() OVER (PARTITION BY cand.query_id ORDER BY
               list_cosine_similarity(c.embedding, q.embedding) DESC,
               cand.corpus_id ASC) AS rank
           FROM cand
           JOIN qd q ON q.vec_id = cand.query_id
           JOIN qd c ON c.vec_id = cand.corpus_id)
         WHERE rank <= 10""",
    // q304: per-cell stats of the raw postings dir after delete +
    // compaction == a from-scratch assignment of the SURVIVING rows
    // (vec_id % 10 <> 0) under the full-corpus seeds — the physical
    // fold proof.
    "q304_ann_delete_compact" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (
           SELECT vec_id, cell FROM scored_cells
           WHERE rk = 1 AND vec_id % 10 <> 0),
         per AS (
           SELECT cell, count(*) AS n_postings FROM cellof GROUP BY cell)
         SELECT CAST(cell AS INT) AS cell,
           CAST(n_postings AS BIGINT) AS n_postings,
           CAST(n_postings * 1000000 //
             (SELECT sum(n_postings) FROM per) AS BIGINT) AS share_ppm
         FROM per""",
    // q294: the recall audit replayed — brute-force cosine top-10
    // truth over the valid corpus for queries vec_id < 8, the probe
    // top-10 per nprobe ∈ {1,2,4,32} (same cell ranking as q286/q287),
    // overlap counted, exact floor-ppm recall. nprobe=32 probes every
    // cell, so its row must equal truth exactly.
    "q294_ann_index_recall_audit" ->
      """WITH qd AS (
           SELECT vec_id, embedding, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         truth AS (
           SELECT q.vec_id AS query_id, c.vec_id AS corpus_id
           FROM qd q JOIN qd c ON q.vec_id < 8
           QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_cosine_similarity(c.embedding, q.embedding) DESC,
             c.vec_id ASC) <= 10),
         pr AS (
           SELECT np.np AS nprobe, sc.vec_id AS query_id, sc.cell
           FROM (VALUES (1), (2), (4), (32)) np(np)
           JOIN scored_cells sc ON sc.rk <= np.np AND sc.vec_id < 8),
         cand AS (
           SELECT pr.nprobe, pr.query_id, co.vec_id AS corpus_id
           FROM pr JOIN cellof co ON co.cell = pr.cell),
         probed AS (
           SELECT nprobe, query_id, corpus_id FROM (
             SELECT cand.nprobe, cand.query_id, cand.corpus_id,
               row_number() OVER (PARTITION BY cand.nprobe, cand.query_id
                 ORDER BY
                   list_cosine_similarity(c.embedding, q.embedding) DESC,
                   cand.corpus_id ASC) AS rank
             FROM cand
             JOIN qd q ON q.vec_id = cand.query_id
             JOIN qd c ON c.vec_id = cand.corpus_id)
           WHERE rank <= 10),
         hits AS (
           SELECT p.nprobe, count(*) AS n_probe_rows,
             COALESCE(sum(CASE WHEN t.corpus_id IS NOT NULL
               THEN 1 ELSE 0 END), 0) AS n_hits
           FROM probed p
           LEFT JOIN truth t ON t.query_id = p.query_id
             AND t.corpus_id = p.corpus_id
           GROUP BY p.nprobe),
         tot AS (SELECT count(*) AS n_truth FROM truth)
         SELECT CAST(nprobe AS INT) AS nprobe,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_probe_rows AS BIGINT) AS n_probe_rows,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(CASE WHEN n_truth > 0
             THEN n_hits * 1000000 // n_truth ELSE 0 END AS BIGINT)
             AS recall_ppm
         FROM hits, tot""",
    // q295: the maintained index's per-cell stats == a from-scratch
    // assignment of ALL valid rows under the full-corpus seeds — a
    // posting lost or duplicated anywhere in the append+compact
    // cadence changes a count.
    "q295_stream_index_maintenance" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         seeded AS (
           SELECT qv AS cv,
             row_number() OVER (ORDER BY
               substr(md5('ivf:' || CAST(vec_id AS VARCHAR)), 1, 15)
                 || ':' || lpad(CAST(vec_id AS VARCHAR), 20, '0'))
               - 1 AS cell
           FROM qd
           QUALIFY cell < 32),
         cents AS (
           SELECT cell, cv,
             list_sum(list_transform(cv, x -> x * x)) AS cn
           FROM seeded),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         per AS (
           SELECT cell, count(*) AS n_postings FROM cellof GROUP BY cell)
         SELECT CAST(cell AS INT) AS cell,
           CAST(n_postings AS BIGINT) AS n_postings,
           CAST(n_postings * 1000000 //
             (SELECT sum(n_postings) FROM per) AS BIGINT) AS share_ppm
         FROM per""",
    "q263_ann_ivfpq" ->
      """WITH qd AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings),
         cents AS (
           SELECT vec_id AS cell, qv AS cv,
             list_sum(list_transform(qv, x -> x * x)) AS cn
           FROM qd WHERE vec_id < 16),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 5),
         cb AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv
           FROM qd WHERE vec_id >= 16 AND vec_id < 24),
         subs AS (SELECT unnest(range(0, 8)) AS s),
         bd AS (
           SELECT d.vec_id, sub.s, cb.ci,
             list_sum(list_transform(range(1, 9),
               j -> (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                  * (d.qv[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))) AS d
           FROM qd d, subs sub, cb),
         codes AS (
           SELECT vec_id, s, ci FROM (
             SELECT vec_id, s, ci, row_number() OVER (
               PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rk
             FROM bd) t WHERE rk = 1),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         approx AS (
           SELECT c.query_id, c.corpus_id, SUM(l.d) AS approx_d2
           FROM cand c
           JOIN codes e ON e.vec_id = c.corpus_id
           JOIN bd l ON l.vec_id = c.query_id AND l.s = e.s
             AND l.ci = e.ci
           GROUP BY 1, 2),
         ranked AS (
           SELECT query_id, corpus_id,
             CAST(approx_d2 AS BIGINT) AS approx_d2,
             row_number() OVER (PARTITION BY query_id
               ORDER BY approx_d2 ASC, corpus_id ASC) AS rank
           FROM approx)
         SELECT query_id, corpus_id, approx_d2, rank
         FROM ranked WHERE rank <= 10""",
    "q262_stickiness" ->
      """WITH uh AS (
           SELECT DISTINCT user_id AS u,
             epoch_us(ts) // 3600000000 AS h
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         hrs AS (SELECT DISTINCT h FROM uh),
         d AS (SELECT hrs.h, count(DISTINCT u.u) AS dau24
           FROM hrs JOIN uh u ON u.h BETWEEN hrs.h - 23 AND hrs.h
           GROUP BY 1),
         w AS (SELECT hrs.h, count(DISTINCT u.u) AS wau168
           FROM hrs JOIN uh u ON u.h BETWEEN hrs.h - 167 AND hrs.h
           GROUP BY 1)
         SELECT CAST(d.h AS BIGINT) AS hour,
           CAST(dau24 AS BIGINT) AS dau24,
           CAST(wau168 AS BIGINT) AS wau168,
           CAST(dau24 * 1000000 // wau168 AS BIGINT) AS stickiness_ppm
         FROM d JOIN w ON w.h = d.h""",
    // Same quantization, same state precedence, same exact norms.
    "q260_embedding_health" ->
      """WITH b AS (
           SELECT embedding AS e,
             list_transform(embedding, x ->
               CASE WHEN isnan(CAST(x AS DOUBLE))
                   OR isinf(CAST(x AS DOUBLE)) THEN 0
                 ELSE CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
                 END) AS qv
           FROM embeddings),
         c AS (SELECT
             CASE WHEN e IS NULL THEN 'null_vector'
               WHEN len(e) <> 64 THEN 'wrong_dims'
               WHEN len(list_filter(e, x -> isnan(CAST(x AS DOUBLE))
                 OR isinf(CAST(x AS DOUBLE)))) > 0 THEN 'nonfinite'
               WHEN len(list_filter(qv, x -> x <> 0)) = 0
                 THEN 'zero_vector'
               ELSE 'ok' END AS state,
             CASE WHEN e IS NOT NULL AND len(e) = 64
                 AND len(list_filter(e, x -> isnan(CAST(x AS DOUBLE))
                   OR isinf(CAST(x AS DOUBLE)))) = 0
                 AND len(list_filter(qv, x -> x <> 0)) > 0
               THEN list_sum(list_transform(qv, x -> x * x)) END AS n2
           FROM b)
         SELECT state, CAST(count(*) AS BIGINT) AS n,
           CAST(min(n2) AS BIGINT) AS min_norm2,
           CAST(max(n2) AS BIGINT) AS max_norm2,
           CAST(sum(n2) AS BIGINT) AS sum_norm2
         FROM c GROUP BY 1""",
    // Same md5-bucket split (salt 'graft', 10000 buckets, 8000/9000
    // cuts), same exact cross-multiplied deviation.
    "q261_split_balance" ->
      """WITH e AS (
           SELECT vec_id, label,
             CAST(('0x' || substr(md5('graft:' ||
               CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
               AS b
           FROM embeddings
           WHERE vec_id IS NOT NULL AND label IS NOT NULL),
         sp AS (SELECT label,
             CASE WHEN b < 8000 THEN 'train'
               WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
           FROM e),
         cell AS (SELECT split, label, count(*) AS n_cell
           FROM sp GROUP BY 1, 2),
         bs AS (SELECT split, sum(n_cell) AS n_split
           FROM cell GROUP BY 1),
         bl AS (SELECT label, sum(n_cell) AS n_label
           FROM cell GROUP BY 1),
         t AS (SELECT sum(n_cell) AS n_total FROM cell)
         SELECT cell.split, cell.label,
           CAST(n_cell AS BIGINT) AS n_cell,
           CAST(n_split AS BIGINT) AS n_split,
           CAST(n_label AS BIGINT) AS n_label,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(abs(n_cell * n_total - n_split * n_label) * 1000000 //
             (n_split * n_label) AS BIGINT) AS dev_ppm
         FROM cell JOIN bs ON bs.split = cell.split
           JOIN bl ON bl.label = cell.label, t""",
    // q235's register pipeline over the full corpus — max-merge of the
    // streamed log must land on the identical registers.
    "q258_stream_hll" ->
      """WITH b AS (
           SELECT event_type AS g, CAST(user_id AS VARCHAR) AS v
           FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         h AS (SELECT g,
             CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
           FROM b),
         r AS (SELECT g, h // 18014398509481984 AS bucket,
             h % 18014398509481984 AS r
           FROM h),
         rho AS (SELECT g, bucket,
             55 - CASE WHEN r = 0 THEN 0
               ELSE length(printf('%b', r)) END AS rho
           FROM r),
         regs AS (SELECT g, bucket, max(rho) AS m_j
           FROM rho GROUP BY 1, 2),
         sk AS (SELECT g, count(*) AS n_used,
             sum(CAST(1 AS BIGINT) << CAST(55 - m_j AS INT)) AS s_used
           FROM regs GROUP BY 1),
         ex AS (SELECT g, count(DISTINCT v) AS n_exact FROM b GROUP BY 1)
         SELECT sk.g AS event_type, CAST(n_used AS BIGINT) AS n_used,
           CAST(s_used + (64 - n_used) * 36028797018963968 AS BIGINT)
             AS s_total,
           CAST(0.709 AS DOUBLE) * 4096.0 * 36028797018963968.0 /
             CAST(s_used + (64 - n_used) * 36028797018963968 AS BIGINT)
             AS hll_est,
           CAST(n_exact AS BIGINT) AS n_exact
         FROM sk JOIN ex ON ex.g = sk.g""",
    // Same one-row conditional sums, melted to the six pairs.
    "q259_missingness" ->
      """WITH f AS (
           SELECT CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END AS pu,
             CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END AS pe,
             CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS pv,
             CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END AS pp
           FROM events),
         s AS (SELECT count(*) AS n, sum(pu) AS au, sum(pe) AS ae,
             sum(pv) AS av, sum(pp) AS ap,
             sum(pu * pe) AS bue, sum(pu * pv) AS buv,
             sum(pu * pp) AS bup, sum(pe * pv) AS bev,
             sum(pe * pp) AS bep, sum(pv * pp) AS bvp
           FROM f),
         m AS (
           SELECT 'user_id' AS col_a, 'event_type' AS col_b, n,
             au AS n_a, ae AS n_b, bue AS n_both FROM s
           UNION ALL SELECT 'user_id', 'value', n, au, av, buv FROM s
           UNION ALL SELECT 'user_id', 'props', n, au, ap, bup FROM s
           UNION ALL SELECT 'event_type', 'value', n, ae, av, bev
             FROM s
           UNION ALL SELECT 'event_type', 'props', n, ae, ap, bep
             FROM s
           UNION ALL SELECT 'value', 'props', n, av, ap, bvp FROM s)
         SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n - n_a - n_b + n_both AS BIGINT) AS n_neither
         FROM m""",
    // Same min-rank ppm, same k = pct*(n_ref-1) div 1e6 containment
    // (the oracle may inequality-join; the engine bins).
    "q255_quantile_match" ->
      """WITH b AS (
           SELECT o_orderpriority AS g,
             CAST(o_totalprice AS DECIMAL(20,4)) AS v
           FROM orders
           WHERE o_orderpriority IS NOT NULL
             AND o_totalprice IS NOT NULL),
         cw AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
         cum AS (SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM cw),
         ref AS (SELECT v AS r_v, cum - c AS r_lo, cum - 1 AS r_hi
           FROM cum WHERE g = '1-URGENT'),
         rn AS (SELECT max(n) AS n_ref FROM cum WHERE g = '1-URGENT'),
         tgt AS (SELECT g, v, c,
             CASE WHEN n = 1 THEN 0
               ELSE ((cum - c) * 1000000) // (n - 1) END AS pct_ppm
           FROM cum WHERE g <> '1-URGENT')
         SELECT t.g AS o_orderpriority, CAST(t.v AS DOUBLE) AS value,
           CAST(t.c AS BIGINT) AS n,
           CAST(t.pct_ppm AS BIGINT) AS pct_ppm,
           CAST(r.r_v AS DOUBLE) AS matched_value
         FROM tgt t, rn, ref r
         WHERE (t.pct_ppm * (n_ref - 1)) // 1000000
           BETWEEN r.r_lo AND r.r_hi""",
    // q234's watermark model plus the right side's window-shifted
    // eviction (a click is final once wm passes ts + window).
    "q256_stream_full_outer_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(ts) FROM p),
             (SELECT max(ts) FROM c))
             - INTERVAL 600 SECONDS AS w)
         SELECT p.event_id AS purchase_id, c.event_id AS click_id
         FROM p JOIN c ON c.user_id = p.user_id
           AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         UNION ALL
         SELECT p.event_id, NULL
         FROM p, wm
         WHERE p.ts < wm.w AND NOT EXISTS (
           SELECT 1 FROM c WHERE c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts)
         UNION ALL
         SELECT NULL, c.event_id
         FROM c, wm
         WHERE c.ts + INTERVAL 1 HOUR < wm.w AND NOT EXISTS (
           SELECT 1 FROM p WHERE p.user_id = c.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)""",
    // Same gap derivation; the modal tie (count, then larger gap) via
    // the same lexicographic max.
    "q257_cadence_audit" ->
      """WITH e AS (
           SELECT user_id AS u, ts, event_id FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_id IS NOT NULL),
         g AS (SELECT u,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY u
               ORDER BY ts, event_id)) AS gap
           FROM e
           QUALIFY gap IS NOT NULL),
         bg AS (SELECT u, gap, count(*) AS cnt FROM g GROUP BY 1, 2),
         top AS (SELECT u, gap, cnt FROM bg
           QUALIFY row_number() OVER (PARTITION BY u
             ORDER BY cnt DESC, gap DESC) = 1),
         agg AS (SELECT u, sum(cnt) AS n_gaps,
             count(*) AS n_distinct_gaps
           FROM bg GROUP BY 1)
         SELECT agg.u AS user_id,
           CAST(n_gaps + 1 AS BIGINT) AS n_events,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(n_distinct_gaps AS BIGINT) AS n_distinct_gaps,
           CAST(top.gap AS BIGINT) AS modal_gap_us,
           CAST(top.cnt * 1000000 // n_gaps AS BIGINT)
             AS modal_share_ppm
         FROM agg JOIN top ON top.u = agg.u""",
    // One global lag window replays the blocked runs exactly (the
    // oracle may single-sort; the engine must not).
    "q253_rle_audit" ->
      """WITH e AS (
           SELECT ts, event_id, event_type, user_id FROM events
           WHERE ts IS NOT NULL AND event_id IS NOT NULL),
         r AS (SELECT event_type AS vt, lag(event_type) OVER w AS pt,
             user_id AS vu, lag(user_id) OVER w AS pu,
             row_number() OVER w AS rn
           FROM e WINDOW w AS (ORDER BY ts, event_id)),
         s AS (SELECT count(*) AS n_rows,
             sum(CASE WHEN rn = 1 OR vt IS DISTINCT FROM pt
               THEN 1 ELSE 0 END) AS runs_t,
             sum(CASE WHEN rn = 1 OR vu IS DISTINCT FROM pu
               THEN 1 ELSE 0 END) AS runs_u,
             count(DISTINCT vt) AS nd_t,
             count(DISTINCT vu) AS nd_u
           FROM r)
         SELECT 'event_type' AS column_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(runs_t AS BIGINT) AS n_runs,
           CAST(nd_t AS BIGINT) AS n_distinct,
           CAST(runs_t * 1000000 // greatest(1, n_rows) AS BIGINT)
             AS runs_ppm
         FROM s
         UNION ALL
         SELECT 'user_id', CAST(n_rows AS BIGINT),
           CAST(runs_u AS BIGINT), CAST(nd_u AS BIGINT),
           CAST(runs_u * 1000000 // greatest(1, n_rows) AS BIGINT)
         FROM s""",
    // Same CUBE; DuckDB's GROUPING(a, b) bitmask matches Spark's
    // grouping_id (verified: leftmost column = most significant bit).
    "q254_cube_report" ->
      """WITH e AS (
           SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS dow
           FROM events WHERE ts IS NOT NULL)
         SELECT event_type, CAST(dow AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n,
           CAST(GROUPING(event_type, dow) AS BIGINT) AS gid
         FROM e GROUP BY CUBE (event_type, dow)""",
    // Same tokenization with lateral-range positions, same md5-60 top
    // 30 bits, the cross-multiplied test in HUGEINT.
    "q251_word_subsample" ->
      """WITH b AS (
           SELECT doc_id AS id, source,
             list_filter(regexp_split_to_array(lower(trim(text)),
               '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         occ0 AS (SELECT id, source,
             unnest(list_transform(range(len(tk)),
               i -> {'pos': i, 'tok': tk[i + 1]})) AS u
           FROM b),
         occ AS (SELECT id, source, u.pos AS pos, u.tok AS tok
           FROM occ0),
         freq AS (SELECT tok, count(*) AS f FROM occ GROUP BY 1),
         tot AS (SELECT sum(f) AS n_total FROM freq),
         scored AS (SELECT o.source,
             CAST(('0x' || substr(md5(CAST(o.id AS VARCHAR) || ':' ||
               CAST(o.pos AS VARCHAR) || ':' || o.tok), 1, 15))
               AS BIGINT) // 1073741824 AS u30,
             freq.f
           FROM occ o JOIN freq ON freq.tok = o.tok),
         kept AS (SELECT source,
             count(*) AS n_occurrences,
             sum(CASE WHEN CAST(u30 AS HUGEINT) * u30 * f * 10000 <
               CAST(n_total AS HUGEINT) * 1 * 1152921504606846976
               THEN 1 ELSE 0 END) AS n_kept
           FROM scored, tot GROUP BY 1)
         SELECT source, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(n_kept AS BIGINT) AS n_kept,
           CAST(n_kept * 1000000 // n_occurrences AS BIGINT)
             AS kept_ppm
         FROM kept""",
    // Same md5-60 positions, distinct-bit filter, k-of-k probe hit.
    "q252_bloom_fpr" ->
      """WITH mem AS (
           SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
           WHERE user_id IS NOT NULL AND user_id % 3 = 0),
         prb AS (
           SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
           WHERE user_id IS NOT NULL AND user_id % 3 = 1
             AND CAST(user_id AS VARCHAR) NOT IN (SELECT v FROM mem)),
         r AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i)),
         bits AS (SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || v),
               1, 15)) AS BIGINT) % 1024 AS bpos
           FROM mem, r),
         pp AS (SELECT v,
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || v),
               1, 15)) AS BIGINT) % 1024 AS pos
           FROM prb, r),
         hits AS (SELECT pp.v,
             count(*) FILTER (WHERE bits.bpos IS NOT NULL) AS nh
           FROM pp LEFT JOIN bits ON bits.bpos = pp.pos GROUP BY 1),
         f AS (SELECT count(*) AS n_probes,
             sum(CASE WHEN nh = 4 THEN 1 ELSE 0 END) AS nfp
           FROM hits)
         SELECT CAST((SELECT count(*) FROM mem) AS BIGINT) AS n_members,
           CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
           CAST(n_probes AS BIGINT) AS n_probes,
           CAST(nfp AS BIGINT) AS n_false_positives,
           CAST(nfp * 1000000 // greatest(1, n_probes) AS BIGINT)
             AS fpr_ppm
         FROM f""",
    // The streamed sum-merged cells equal the batch cells (cellwise-sum
    // mergeability), so the oracle is q239's replay verbatim.
    "q244_stream_cms" ->
      """WITH b AS (
           SELECT CAST(user_id AS VARCHAR) AS v, user_id AS u
           FROM events WHERE user_id IS NOT NULL),
         r AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i)),
         cells AS (
           SELECT i, CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
               || v), 1, 15)) AS BIGINT) % 256 AS c,
             count(*) AS cnt
           FROM b, r GROUP BY 1, 2),
         keys AS (SELECT DISTINCT v, u FROM b WHERE u % 29 = 0),
         probe AS (SELECT u,
             min(coalesce(cnt, 0)) AS cms_est
           FROM (SELECT k.u, i, CAST(('0x' || substr(md5(CAST(i AS
                 VARCHAR) || ':' || k.v), 1, 15)) AS BIGINT) % 256 AS c
             FROM keys k, r) p
           LEFT JOIN cells USING (i, c) GROUP BY 1),
         ex AS (SELECT u, count(*) AS n_exact FROM b
           WHERE u % 29 = 0 GROUP BY 1)
         SELECT probe.u AS user_id, CAST(cms_est AS BIGINT) AS cms_est,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(cms_est - n_exact AS BIGINT) AS over_count
         FROM probe JOIN ex ON ex.u = probe.u""",
    // Same sessionization; descending cumulative over the depth
    // histogram.
    "q224_session_depth" ->
      """WITH e AS (
           SELECT user_id, event_id, ts FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
               THEN 1 ELSE 0 END AS ns
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s2 AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS sid
           FROM s),
         d AS (SELECT user_id, sid, count(*) AS depth
               FROM s2 GROUP BY 1, 2),
         h AS (SELECT depth, count(*) AS n_sessions FROM d GROUP BY 1),
         t AS (SELECT sum(n_sessions) AS nt FROM h)
         SELECT h.depth, CAST(h.n_sessions AS BIGINT) AS n_sessions,
           CAST(sum(h.n_sessions) OVER (ORDER BY h.depth DESC)
             AS BIGINT) AS n_reaching,
           CAST(sum(h.n_sessions) OVER (ORDER BY h.depth DESC)
             * 1000000 // t.nt AS BIGINT) AS reach_ppm
         FROM h, t""",
    // Same per-user lag gaps in whole minutes; q184-style rank lookup.
    "q225_repurchase_intervals" ->
      """WITH p AS (
           SELECT user_id, epoch_us(ts) AS tu, event_id, ts FROM events
           WHERE event_type = 'purchase' AND user_id IS NOT NULL
             AND ts IS NOT NULL),
         g AS (SELECT (tu - ptu) // 60000000 AS v FROM (
             SELECT tu, lag(tu) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS ptu
             FROM p)
           WHERE ptu IS NOT NULL),
         r AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rn
               FROM g),
         n AS (SELECT count(*) AS n_rows FROM g),
         t AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4))
                 AS x(p_num, p_den))
         SELECT t.p_num, t.p_den,
           CAST((t.p_num * n.n_rows + t.p_den - 1) // t.p_den - 1
             AS BIGINT) AS rank,
           r.v AS value, n.n_rows
         FROM t, n
         JOIN r ON r.rn = (t.p_num * n.n_rows + t.p_den - 1)
           // t.p_den - 1""",
    // Same exact bucket means and HUGEINT moment sums; identical IEEE
    // slope tail.
    "q226_discount_effect" ->
      """WITH li AS (
           SELECT CAST(CAST(l_discount AS DECIMAL(4,2)) * 100
               AS BIGINT) AS disc_pct,
             CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS BIGINT)
               AS q4,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT) AS cents
           FROM lineitem
           WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL),
         per AS (SELECT disc_pct, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q4) // count(*) AS BIGINT) AS mean_qty_e4,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(NULL AS DOUBLE) AS slope_e4_per_pct
           FROM li GROUP BY 1),
         s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(disc_pct) AS HUGEINT) AS sx,
             CAST(sum(q4) AS HUGEINT) AS sy,
             CAST(sum(CAST(disc_pct AS HUGEINT) * q4) AS HUGEINT)
               AS sxy,
             CAST(sum(CAST(disc_pct AS HUGEINT) * disc_pct)
               AS HUGEINT) AS sxx
           FROM li),
         sl AS (SELECT CAST(-1 AS BIGINT) AS disc_pct,
             CAST(n AS BIGINT) AS n, CAST(NULL AS BIGINT)
               AS mean_qty_e4,
             CAST(NULL AS BIGINT) AS sum_cents,
             CASE WHEN n * sxx - sx * sx <> 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE) /
               CAST(n * sxx - sx * sx AS DOUBLE) END
               AS slope_e4_per_pct
           FROM s)
         SELECT * FROM per UNION ALL SELECT * FROM sl""",
    // Same five rules; a rule with no qualifying rows emits no row on
    // either side (the r4 anti-join), exact counts elsewhere.
    "q227_dq_suite" ->
      """SELECT 'orders.custkey_not_null' AS rule,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_violations
         FROM orders GROUP BY 1
         UNION ALL
         SELECT 'orders.status_domain', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
             THEN 1 ELSE 0 END) AS BIGINT)
         FROM orders GROUP BY 1
         UNION ALL
         SELECT 'lineitem.qty_range_1_50', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
             THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem GROUP BY 1
         UNION ALL
         SELECT 'lineitem.orderkey_fk', CAST(count(*) AS BIGINT),
           CAST(count(*) AS BIGINT)
         FROM lineitem WHERE l_orderkey NOT IN
           (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
         HAVING count(*) > 0
         UNION ALL
         SELECT 'orders.orderkey_unique', CAST(sum(c) AS BIGINT),
           CAST(sum(c - 1) AS BIGINT)
         FROM (SELECT o_orderkey, count(*) AS c FROM orders
               GROUP BY 1) GROUP BY 1""",
    // Naive oracle: global cumulative weight ordered by value; value
    // at 1-based weight rank ceil(p*W).
    "q222_weighted_quantiles" ->
      """WITH per AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT) AS v,
             sum(CAST(l_quantity AS BIGINT)) AS w
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
             AND CAST(l_quantity AS BIGINT) > 0
           GROUP BY 1),
         c AS (SELECT v, w, sum(w) OVER (ORDER BY v) AS cum FROM per),
         t AS (SELECT sum(w) AS wt FROM per),
         f AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4))
                 AS x(p_num, p_den))
         SELECT f.p_num, f.p_den,
           CAST((f.p_num * t.wt + f.p_den - 1) // f.p_den AS BIGINT)
             AS wrank,
           c.v AS value, CAST(t.wt AS BIGINT) AS total_weight
         FROM f, t
         JOIN c ON c.cum - c.w <
             (f.p_num * t.wt + f.p_den - 1) // f.p_den
           AND c.cum >= (f.p_num * t.wt + f.p_den - 1) // f.p_den""",
    // Same exposure/conversion definitions and the identical Wilson
    // expression tree.
    "q223_conversion_ab" ->
      """WITH per AS (
           SELECT user_id AS u,
             min(CASE WHEN event_type = 'view' THEN ts END)
               AS first_trigger,
             max(CASE WHEN event_type = 'purchase' THEN ts END)
               AS last_goal
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1),
         arms AS (SELECT u,
             last_goal IS NOT NULL AND last_goal >= first_trigger
               AS converted,
             CASE WHEN (CAST(('0x' || substr(md5('graft-ab:' ||
                 CAST(u AS VARCHAR)), 1, 15)) AS BIGINT) % 10000)
                 < 5000
               THEN 'A' ELSE 'B' END AS arm
           FROM per WHERE first_trigger IS NOT NULL),
         g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_exposed,
             CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END)
               AS BIGINT) AS n_converted
           FROM arms GROUP BY 1)
         SELECT arm, n_exposed, n_converted,
           CAST(n_converted * 1000000 // n_exposed AS BIGINT)
             AS rate_ppm,
           (CAST(n_converted AS DOUBLE) / n_exposed
               + 1.9208 / n_exposed
               - 1.96 * sqrt((CAST(n_converted AS DOUBLE) / n_exposed)
                 * (1.0 - CAST(n_converted AS DOUBLE) / n_exposed)
                 / n_exposed + 0.9604 / (CAST(n_exposed AS DOUBLE)
                 * n_exposed)))
             / (1.0 + 3.8416 / n_exposed) AS wilson_lo,
           (CAST(n_converted AS DOUBLE) / n_exposed
               + 1.9208 / n_exposed
               + 1.96 * sqrt((CAST(n_converted AS DOUBLE) / n_exposed)
                 * (1.0 - CAST(n_converted AS DOUBLE) / n_exposed)
                 / n_exposed + 0.9604 / (CAST(n_exposed AS DOUBLE)
                 * n_exposed)))
             / (1.0 + 3.8416 / n_exposed) AS wilson_hi
         FROM g""",
    // Naive oracle: two global row_numbers (v desc, k) per period.
    "q219_rank_movers" ->
      """WITH per AS (
           SELECT CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
               THEN 'a' ELSE 'b' END AS p,
             l_partkey AS k,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS v
           FROM lineitem
           WHERE l_partkey IS NOT NULL AND l_extendedprice IS NOT NULL
           GROUP BY 1, 2),
         r AS (SELECT p, k, row_number() OVER (PARTITION BY p
               ORDER BY v DESC, k) AS rnk
           FROM per)
         SELECT a.k AS l_partkey, CAST(a.rnk AS BIGINT) AS rank_a,
           CAST(b.rnk AS BIGINT) AS rank_b,
           CAST(a.rnk - b.rnk AS BIGINT) AS delta
         FROM r a JOIN r b ON a.k = b.k AND a.p = 'a' AND b.p = 'b'
         ORDER BY abs(a.rnk - b.rnk) DESC, a.k LIMIT 20""",
    // Same cohort/age frame with a per-cohort running sum.
    "q220_cohort_ltv" ->
      """WITH o AS (
           SELECT o_custkey AS cust,
             epoch_us(o_orderdate) // 604800000000 AS ow,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
           FROM orders
           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
             AND o_totalprice IS NOT NULL),
         f AS (SELECT cust, min(ow) AS cohort FROM o GROUP BY 1),
         sz AS (SELECT cohort, count(*) AS n_customers
                FROM f GROUP BY 1),
         wk AS (SELECT f.cohort, o.ow - f.cohort AS age,
             sum(o.cents) AS week_cents
           FROM o JOIN f ON f.cust = o.cust GROUP BY 1, 2),
         c AS (SELECT cohort, age, week_cents,
             sum(week_cents) OVER (PARTITION BY cohort ORDER BY age)
               AS cum_cents
           FROM wk)
         SELECT c.cohort AS cohort_week, c.age AS age_weeks,
           CAST(sz.n_customers AS BIGINT) AS n_customers,
           CAST(c.week_cents AS BIGINT) AS week_cents,
           CAST(c.cum_cents AS BIGINT) AS cum_cents,
           CAST(c.cum_cents // sz.n_customers AS BIGINT)
             AS cum_per_customer_cents
         FROM c JOIN sz USING (cohort)""",
    // Two native ASOF joins (backward inclusive, forward strict on the
    // negated axis) + the same pick/tolerance logic.
    "q221_asof_nearest" ->
      """WITH p AS (
           SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
           WHERE event_type = 'purchase' AND user_id IS NOT NULL
             AND ts IS NOT NULL),
         c0 AS (SELECT user_id, epoch_us(ts) AS tu,
             min(event_id) AS click_id
           FROM events
           WHERE event_type = 'click' AND user_id IS NOT NULL
             AND ts IS NOT NULL
           GROUP BY 1, 2),
         b AS (SELECT p.event_id, c0.tu AS btu, c0.click_id AS bid
           FROM p ASOF LEFT JOIN c0
             ON p.user_id = c0.user_id AND p.tu >= c0.tu),
         cneg AS (SELECT user_id, -tu AS ntu, tu, click_id FROM c0),
         pn AS (SELECT event_id, user_id, -tu AS ntu FROM p),
         f AS (SELECT pn.event_id, cneg.tu AS ftu,
             cneg.click_id AS fid
           FROM pn ASOF LEFT JOIN cneg
             ON pn.user_id = cneg.user_id AND pn.ntu > cneg.ntu),
         sel AS (SELECT p.event_id, p.user_id, p.tu, b.btu, b.bid,
             f.ftu, f.fid, p.tu - b.btu AS bd, f.ftu - p.tu AS fd
           FROM p LEFT JOIN b USING (event_id)
           LEFT JOIN f USING (event_id)),
         pick AS (SELECT *,
             CASE WHEN btu IS NOT NULL AND bd <= 3600000000
                 AND (ftu IS NULL OR fd > 3600000000 OR bd <= fd)
               THEN 'b'
               WHEN ftu IS NOT NULL AND fd <= 3600000000 THEN 'f'
             END AS dir
           FROM sel)
         SELECT event_id, user_id, tu AS ts_micros, dir AS asof_dir,
           CASE dir WHEN 'b' THEN bd WHEN 'f' THEN fd END
             AS asof_dist_micros,
           CASE dir WHEN 'b' THEN bid WHEN 'f' THEN fid END
             AS asof_click_id
         FROM pick""",
    // Naive oracle: one global DESC running sum; identical integer
    // boundary predicates.
    "q216_abc_classification" ->
      """WITH per AS (
           SELECT l_partkey AS k,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS v
           FROM lineitem
           WHERE l_partkey IS NOT NULL AND l_extendedprice IS NOT NULL
           GROUP BY 1),
         t AS (SELECT sum(CAST(v AS HUGEINT)) AS s FROM per),
         r AS (SELECT k, v,
             sum(CAST(v AS HUGEINT)) OVER (ORDER BY v DESC, k)
               - v AS before
           FROM per),
         c AS (SELECT k, v, CASE
             WHEN before * 100 < t.s * 80 THEN 'A'
             WHEN before * 100 < t.s * 95 THEN 'B'
             ELSE 'C' END AS abc_class
           FROM r, t)
         SELECT abc_class, CAST(count(*) AS BIGINT) AS n_entities,
           CAST(sum(v) AS BIGINT) AS mass_cents,
           CAST(sum(CAST(v AS HUGEINT)) * 1000000 // t.s AS BIGINT)
             AS share_ppm
         FROM c, t GROUP BY abc_class, t.s""",
    // Both sides rebuilt relationally on the SAME trigram shingles:
    // the q23-style banded-minhash candidates (trigram variant) joined
    // against the q25-style exact Jaccard>=0.5 pairs.
    // q217's partition with the exact side on the 50% md5-bucket sample
    // and candidate pairs restricted to sampled endpoints.
    "q282_lsh_tuning_sampled" ->
      """WITH samp AS (
           SELECT doc_id FROM documents
           WHERE CAST(('0x' || substr(md5('truth:' ||
               CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 10000 < 5000),
         toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         big AS (
           SELECT b, key FROM bands GROUP BY b, key
           HAVING count(*) > 200),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
             AND x.doc_id < y.doc_id
           WHERE NOT EXISTS (SELECT 1 FROM big
                             WHERE big.b = x.b AND big.key = x.key)
             AND x.doc_id IN (SELECT doc_id FROM samp)
             AND y.doc_id IN (SELECT doc_id FROM samp)),
         shd AS (
           SELECT doc_id, list_distinct(s) AS s FROM sh
           WHERE doc_id IN (SELECT doc_id FROM samp)),
         ex0 AS (SELECT doc_id, unnest(s) AS h FROM shd),
         ecand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ex0 a JOIN ex0 b ON a.h = b.h AND a.doc_id < b.doc_id),
         exact AS (
           SELECT id_a, id_b FROM ecand
           JOIN shd x ON x.doc_id = id_a
           JOIN shd y ON y.doc_id = id_b
           WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / len(list_distinct(x.s || y.s)) >= 0.5),
         stats AS (
           SELECT
             (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM exact JOIN cand USING (id_a, id_b))
               AS n_hits)
         SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_exact > 0 THEN
             CAST(n_hits * 1000000 // n_exact AS BIGINT) END
             AS recall_ppm,
           CASE WHEN n_candidates > 0 THEN
             CAST(n_hits * 1000000 // n_candidates AS BIGINT) END
             AS precision_ppm
         FROM stats""",
    // q25's truth on the same 50% sample — the sampled sub-corpus is
    // the only difference.
    "q283_jaccard_dups_sampled" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents
           WHERE CAST(('0x' || substr(md5('truth:' ||
               CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             % 10000 < 5000),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
           FROM toks),
         ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id)
         SELECT id_a, id_b,
           CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / len(list_distinct(x.s || y.s)) AS jaccard
         FROM cand
         JOIN sh x ON x.doc_id = id_a
         JOIN sh y ON y.doc_id = id_b
         WHERE jaccard >= 0.5""",
    "q217_lsh_tuning_report" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
             END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         big AS (
           SELECT b, key FROM bands GROUP BY b, key
           HAVING count(*) > 200),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
             AND x.doc_id < y.doc_id
           WHERE NOT EXISTS (SELECT 1 FROM big
                             WHERE big.b = x.b AND big.key = x.key)),
         shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
         ex0 AS (SELECT doc_id, unnest(s) AS h FROM shd),
         ecand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ex0 a JOIN ex0 b ON a.h = b.h AND a.doc_id < b.doc_id),
         exact AS (
           SELECT id_a, id_b FROM ecand
           JOIN shd x ON x.doc_id = id_a
           JOIN shd y ON y.doc_id = id_b
           WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / len(list_distinct(x.s || y.s)) >= 0.5),
         stats AS (
           SELECT
             (SELECT count(*) FROM exact) AS n_exact,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM exact JOIN cand USING (id_a, id_b))
               AS n_hits)
         SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_exact > 0 THEN
             CAST(n_hits * 1000000 // n_exact AS BIGINT) END
             AS recall_ppm,
           CASE WHEN n_candidates > 0 THEN
             CAST(n_hits * 1000000 // n_candidates AS BIGINT) END
             AS precision_ppm
         FROM stats""",
    // Identical RANGE frame over the hour axis; same DECIMAL moments
    // and IEEE tail.
    "q218_rolling_trend" ->
      """WITH hourly AS (
           SELECT event_type AS g, epoch_us(ts) // 3600000000 AS h,
             count(*) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         m AS (SELECT g, h,
             count(*) OVER w AS n,
             sum(CAST(h AS HUGEINT)) OVER w AS sx,
             sum(CAST(c AS HUGEINT)) OVER w AS sy,
             sum(CAST(h AS HUGEINT) * c) OVER w AS sxy,
             sum(CAST(h AS HUGEINT) * h) OVER w AS sxx
           FROM hourly
           WINDOW w AS (PARTITION BY g ORDER BY h
             RANGE BETWEEN 167 PRECEDING AND CURRENT ROW))
         SELECT g AS event_type, h AS hour, CAST(n AS BIGINT) AS n_hours,
           CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS BIGINT)
             AS slope_num,
           CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS BIGINT)
             AS slope_den,
           CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx <> 0 THEN
             CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
             CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) END
             AS slope_per_hour
         FROM m""",
    // The JSONL file carries the same rows, so the truth is the same
    // aggregate over the parquet table.
    "q213_jsonl_ingest" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents GROUP BY 1, 2""",
    // The corrupt set is deterministic (doc_id % 13 = 0), so the split
    // is recomputable without parsing anything.
    "q214_corrupt_record_audit" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_parsed,
           CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN doc_id % 13 <> 0 THEN n_chars END)
             AS BIGINT) AS sum_chars_parsed
         FROM documents""",
    // tricky = lang || ',"' || source || newline || doc_id: its length
    // is len(lang)+2+len(source)+1+len(doc_id str), newline always
    // present — recomputable from the parquet columns directly.
    "q215_csv_roundtrip" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(lang) + 2 + length(source) + 1 +
             length(CAST(doc_id AS VARCHAR))) AS BIGINT)
             AS sum_tricky_len,
           CAST(count(*) AS BIGINT) AS n_with_newline
         FROM documents GROUP BY 1""",
    // Recompute over the surviving (non-retracted) orders.
    "q210_retractable_rollup" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             AS BIGINT)) AS BIGINT) AS sum_cents
         FROM orders WHERE o_custkey % 10 <> 0
         GROUP BY 1""",
    // Same per-dimension integer sums and DECIMAL dots; identical
    // sqrt/divide tail.
    "q211_embedding_drift" ->
      """WITH dims0 AS (
           SELECT unnest(range(1, (SELECT max(len(embedding))
             FROM embeddings) + 1)) AS pos),
         q AS (
           SELECT vec_id % 2 = 0 AS a, dims0.pos,
             CAST(round(CAST(embedding[dims0.pos] AS DOUBLE) * 10000)
               AS BIGINT) AS qv
           FROM embeddings CROSS JOIN dims0),
         dims AS (SELECT pos,
             sum(CASE WHEN a THEN qv END) AS sa,
             sum(CASE WHEN NOT a THEN qv END) AS sb
           FROM q GROUP BY 1),
         d AS (SELECT
             sum(CAST(coalesce(sa, 0) AS HUGEINT) * coalesce(sb, 0))
               AS dot_ab,
             sum(CAST(coalesce(sa, 0) AS HUGEINT) * coalesce(sa, 0))
               AS nsq_a,
             sum(CAST(coalesce(sb, 0) AS HUGEINT) * coalesce(sb, 0))
               AS nsq_b
           FROM dims),
         c AS (SELECT
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b
           FROM embeddings)
         SELECT c.n_a, c.n_b, CAST(d.dot_ab AS BIGINT) AS dot_ab,
           CAST(d.nsq_a AS BIGINT) AS nsq_a,
           CAST(d.nsq_b AS BIGINT) AS nsq_b,
           CASE WHEN d.nsq_a > 0 AND d.nsq_b > 0 THEN
             CAST(d.dot_ab AS DOUBLE) /
             (sqrt(CAST(d.nsq_a AS DOUBLE)) *
              sqrt(CAST(d.nsq_b AS DOUBLE))) END AS cos_centroids
         FROM d, c""",
    // Same integer cross-multiplied thresholds, the same two-signal
    // LOCF state machine over observed hours.
    "q212_rate_alerts" ->
      """WITH hourly AS (
           SELECT event_type AS g, epoch_us(ts) // 3600000000 AS h,
             count(*) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT g, sum(c) AS ctot, count(*) AS m
                 FROM hourly GROUP BY 1),
         sig AS (SELECT hourly.g, h, c,
             c * t.m * 100 >= 150 * t.ctot AS isHi,
             c * t.m * 100 < 50 * t.ctot AS isLo,
             CASE WHEN c * t.m * 100 < 50 * t.ctot THEN 'off'
               WHEN c * t.m * 100 >= 150 * t.ctot
                 AND lag(c * t.m * 100 >= 150 * t.ctot)
                   OVER (PARTITION BY hourly.g ORDER BY h)
               THEN 'on' END AS sg
           FROM hourly JOIN tot t ON t.g = hourly.g)
         SELECT g AS event_type, h AS hour, CAST(c AS BIGINT) AS n,
           coalesce(last_value(sg IGNORE NULLS) OVER (PARTITION BY g
             ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
             ROW), 'off') = 'on' AS alert_active
         FROM sig""",
    // Batch gap-sessionization with session_window's exact semantics:
    // merge iff gap < 30min (half-open [start, last+gap)), session
    // end = last event + gap; append emits sessions closed by the
    // final watermark (end <= max ts - 1h).
    "q207_stream_session_window" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tu FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
               OR tu - lag(tu) OVER w >= 1800000000 THEN 1 ELSE 0 END
               AS brk
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
         s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
               ORDER BY tu, event_id) AS sid
           FROM s),
         g AS (SELECT user_id, sid, min(tu) AS start_micros,
             max(tu) + 1800000000 AS end_micros,
             CAST(count(*) AS BIGINT) AS n_events
           FROM s2 GROUP BY 1, 2),
         wm AS (SELECT max(tu) - 3600000000 AS wmf FROM e)
         SELECT user_id, start_micros, end_micros, n_events
         FROM g, wm WHERE end_micros <= wmf""",
    // Full recompute — must equal the base-table + delta merge.
    "q208_incremental_rollup" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000
             AS BIGINT)) AS BIGINT) AS sum_e4,
           CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS vmin,
           CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS vmax
         FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         GROUP BY 1, 2""",
    // Same cohort + cascade joins.
    "q209_delete_audit" ->
      """WITH doomed AS (
           SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
         do2 AS (SELECT o_orderkey FROM orders
                 JOIN doomed ON o_custkey = k)
         SELECT 'customer' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT k) AS BIGINT) AS n_keys
         FROM doomed
         UNION ALL
         SELECT 'orders', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_orderkey) AS BIGINT)
         FROM do2
         UNION ALL
         SELECT 'lineitem', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT l_orderkey) AS BIGINT)
         FROM lineitem JOIN do2 ON l_orderkey = o_orderkey""",
    // Full grid incl. absent cells; identical integer divisions.
    "q204_chi_square" ->
      """WITH cell AS (
           SELECT event_type AS a,
             CAST((epoch_us(ts) // 86400000000) % 7 AS VARCHAR) AS b,
             count(*) AS nab
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
           GROUP BY 1, 2),
         ra AS (SELECT a, sum(nab) AS rtot FROM cell GROUP BY 1),
         cb AS (SELECT b, sum(nab) AS ctot FROM cell GROUP BY 1),
         tot AS (SELECT sum(nab) AS n FROM cell)
         SELECT ra.a AS event_type, cb.b AS dow,
           CAST(coalesce(cell.nab, 0) AS BIGINT) AS n_ab,
           CAST(ra.rtot AS BIGINT) AS row_total,
           CAST(cb.ctot AS BIGINT) AS col_total,
           CAST(CAST(ra.rtot AS HUGEINT) * cb.ctot * 10000 // tot.n
             AS BIGINT) AS expected_e4,
           CAST((CAST(coalesce(cell.nab, 0) AS HUGEINT) * tot.n -
             CAST(ra.rtot AS HUGEINT) * cb.ctot) *
             (CAST(coalesce(cell.nab, 0) AS HUGEINT) * tot.n -
             CAST(ra.rtot AS HUGEINT) * cb.ctot) * 1000000 //
             (CAST(tot.n AS HUGEINT) * ra.rtot * cb.ctot) AS BIGINT)
             AS contrib_e6
         FROM ra CROSS JOIN cb CROSS JOIN tot
         LEFT JOIN cell ON cell.a = ra.a AND cell.b = cb.b""",
    // Identical temporal split, argmax-with-min-name model, broadcast
    // scoring; the __overall row sums the per-state test counts.
    "q205_markov_accuracy" ->
      """WITH p AS (
           SELECT user_id, ts, event_id, event_type AS nxt,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND event_type IS NOT NULL),
         pp AS (SELECT * FROM p WHERE prev IS NOT NULL),
         train AS (SELECT prev, nxt, count(*) AS c FROM pp
           WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2),
         best AS (SELECT prev, max(c) AS mc, sum(c) AS n_train
                  FROM train GROUP BY 1),
         model AS (SELECT t.prev, b.n_train, min(t.nxt) AS predicted
           FROM train t JOIN best b ON b.prev = t.prev AND t.c = b.mc
           GROUP BY 1, 2),
         test AS (SELECT m.prev, m.predicted, m.n_train,
             count(*) AS n_test,
             sum(CASE WHEN pp.nxt = m.predicted THEN 1 ELSE 0 END)
               AS n_correct
           FROM pp JOIN model m ON m.prev = pp.prev
           WHERE pp.ts >= TIMESTAMP '2024-01-16 00:00:00'
           GROUP BY 1, 2, 3)
         SELECT prev AS state, predicted,
           CAST(n_train AS BIGINT) AS n_train,
           CAST(n_test AS BIGINT) AS n_test,
           CAST(n_correct AS BIGINT) AS n_correct,
           CAST(n_correct * 1000000 // n_test AS BIGINT) AS acc_ppm
         FROM test
         UNION ALL
         SELECT '__overall', CAST(NULL AS VARCHAR),
           CAST(sum(n_train) AS BIGINT), CAST(sum(n_test) AS BIGINT),
           CAST(sum(n_correct) AS BIGINT),
           CAST(sum(n_correct) * 1000000 // sum(n_test) AS BIGINT)
         FROM test""",
    // Identical exact moment sums; the same fixed IEEE tail for theta
    // and the adjusted difference.
    "q206_cuped_ab" ->
      """WITH per0 AS (
           SELECT user_id AS u,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
               END) AS pre_sum,
             count(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
               THEN 1 END) AS pre_n,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
               END) AS post_sum,
             count(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
               THEN 1 END) AS post_n
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL
           GROUP BY 1),
         per AS (SELECT u,
             CASE WHEN pre_n > 0 THEN pre_sum // pre_n ELSE 0 END AS x,
             post_sum // post_n AS y,
             (CAST(('0x' || substr(md5('graft-ab:' ||
               CAST(u AS VARCHAR)), 1, 15)) AS BIGINT) % 10000) < 5000
               AS isA
           FROM per0 WHERE post_n > 0),
         s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CASE WHEN isA THEN 1 ELSE 0 END) AS HUGEINT)
               AS na,
             CAST(sum(CASE WHEN isA THEN CAST(x AS HUGEINT) END)
               AS HUGEINT) AS sxa,
             CAST(sum(CASE WHEN isA THEN CAST(y AS HUGEINT) END)
               AS HUGEINT) AS sya,
             CAST(sum(CASE WHEN NOT isA THEN CAST(x AS HUGEINT) END)
               AS HUGEINT) AS sxb,
             CAST(sum(CASE WHEN NOT isA THEN CAST(y AS HUGEINT) END)
               AS HUGEINT) AS syb
           FROM per)
         SELECT CAST(na AS BIGINT) AS n_a,
           CAST(n - na AS BIGINT) AS n_b,
           CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a_e4,
           CAST(syb AS DOUBLE) / CAST(n - na AS DOUBLE) AS mean_b_e4,
           CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) -
             CAST(syb AS DOUBLE) / CAST(n - na AS DOUBLE)
             AS raw_diff_e4,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             CAST(n * sxy - sx * sy AS DOUBLE) /
             CAST(n * sxx - sx * sx AS DOUBLE) ELSE 0.0 END AS theta,
           (CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) -
             CAST(syb AS DOUBLE) / CAST(n - na AS DOUBLE)) -
             (CASE WHEN n * sxx - sx * sx <> 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE) /
               CAST(n * sxx - sx * sx AS DOUBLE) ELSE 0.0 END) *
             (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) -
               CAST(sxb AS DOUBLE) / CAST(n - na AS DOUBLE))
             AS adj_diff_e4
         FROM s""",
    // The streaming MG phase is a lossless candidate filter by
    // construction, so the oracle is the plain exact heavy-hitter
    // recount (same as q148).
    "q200_stream_heavy_hitters" ->
      """WITH tok AS (
           SELECT unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS t
           FROM documents),
         tot AS (SELECT count(*) AS n_total FROM tok)
         SELECT t AS token, count(*) AS cnt,
           (SELECT n_total FROM tot) AS n_total
         FROM tok GROUP BY t
         HAVING count(*) * 40 > (SELECT n_total FROM tot)""",
    // Recursive-CTE BFS: UNION-dedup on (seed, node, dist) keeps the
    // walk set-sized; min-dist post-hoc equals first-visit depth.
    "q201_multi_source_bfs" ->
      """WITH RECURSIVE p AS (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS s
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         edges AS (
           SELECT c * 2 AS src, s * 2 + 1 AS dst FROM p
           UNION ALL
           SELECT s * 2 + 1 AS src, c * 2 AS dst FROM p),
         seeds AS (SELECT unnest([2, 4, 6, 8]) AS seed),
         walk(seed, node, dist) AS (
           SELECT seed, CAST(seed AS BIGINT), 0 FROM seeds
           UNION
           SELECT w.seed, CAST(e.dst AS BIGINT), w.dist + 1
           FROM walk w JOIN edges e ON e.src = w.node
           WHERE w.dist < 3),
         mind AS (SELECT seed, node, min(dist) AS dist
                  FROM walk GROUP BY 1, 2)
         SELECT CAST(seed AS BIGINT) AS seed, CAST(dist AS INT) AS dist,
           CAST(count(*) AS BIGINT) AS n_nodes
         FROM mind GROUP BY 1, 2""",
    // Naive oracle: one global row_number; Gini closed form and the
    // boundary-exact top-p% shares from the sorted ranks.
    "q202_concentration" ->
      """WITH v AS (
           SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             AS BIGINT) AS y
           FROM orders WHERE o_totalprice IS NOT NULL),
         r AS (SELECT y, row_number() OVER (ORDER BY y) AS i FROM v),
         t AS (SELECT count(*) AS n, sum(CAST(y AS HUGEINT)) AS s
               FROM v),
         g AS (SELECT CAST((2 * sum(CAST(r.i AS HUGEINT) * r.y) -
               (t.n + 1) * t.s) * 1000000 // (t.n * t.s) AS BIGINT)
               AS ppm
             FROM r, t GROUP BY t.n, t.s),
         tops AS (
           SELECT 'top' || p AS stat,
             CAST((SELECT sum(CAST(y AS HUGEINT)) FROM r, t
               WHERE r.i > t.n - (t.n * p + 99) // 100) * 1000000 //
               t.s AS BIGINT) AS ppm
           FROM (SELECT unnest([1, 10]) AS p), t)
         SELECT 'gini' AS stat, g.ppm, CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.s AS BIGINT) AS total_cents
         FROM g, t
         UNION ALL
         SELECT stat, ppm, CAST(t.n AS BIGINT), CAST(t.s AS BIGINT)
         FROM tops, t""",
    // Identical chained-gap windows; min (ts, id) per burst.
    "q203_burst_dedup" ->
      """WITH e AS (
           SELECT user_id, event_type, event_id, ts, epoch_us(ts) AS tu
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             AND ts IS NOT NULL),
         s AS (SELECT *, CASE WHEN lag(tu) OVER w IS NULL
               OR tu - lag(tu) OVER w > 600000000 THEN 1 ELSE 0 END
               AS brk
           FROM e
           WINDOW w AS (PARTITION BY user_id, event_type
             ORDER BY ts, event_id)),
         s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id,
               event_type ORDER BY ts, event_id) AS burst
           FROM s),
         k AS (SELECT user_id, event_type, burst,
             min(tu) AS ts_micros, count(*) - 1 AS n_suppressed
           FROM s2 GROUP BY 1, 2, 3),
         f AS (SELECT s2.user_id, s2.event_type, s2.event_id,
             k.ts_micros, k.n_suppressed,
             row_number() OVER (PARTITION BY s2.user_id, s2.event_type,
               s2.burst ORDER BY s2.tu, s2.event_id) AS rn
           FROM s2 JOIN k ON k.user_id = s2.user_id
             AND k.event_type = s2.event_type AND k.burst = s2.burst)
         SELECT user_id, event_type, event_id, ts_micros,
           CAST(n_suppressed AS BIGINT) AS n_suppressed
         FROM f WHERE rn = 1""",
    // Same integer weights/allocation; the sample re-ranked by a naive
    // per-stratum row_number over the identical portable hash.
    "q197_neyman_sample" ->
      """WITH base AS (
           SELECT o_orderpriority AS g, o_orderkey AS id,
             CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
               AS BIGINT) AS y4,
             CAST(('0x' || substr(md5('graft:' || o_orderpriority ||
               '/' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
               AS h
           FROM orders
           WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL
             AND o_totalprice IS NOT NULL),
         stats AS (SELECT g, count(*) AS nh,
             sum(CAST(y4 AS HUGEINT)) AS sy,
             sum(CAST(y4 AS HUGEINT) * y4) AS syy
           FROM base GROUP BY 1),
         w AS (SELECT g, nh,
             CAST(floor(sqrt(CAST(nh * syy - sy * sy AS DOUBLE)))
               AS HUGEINT) AS w
           FROM stats),
         wt AS (SELECT sum(w) AS wt FROM w),
         a0 AS (SELECT g, nh, w,
             (1000 * w) // wt.wt AS n0, (1000 * w) % wt.wt AS rem
           FROM w, wt),
         lo AS (SELECT 1000 - sum(n0) AS leftover FROM a0),
         rk AS (SELECT g, row_number() OVER (ORDER BY rem DESC, g)
               AS rr
           FROM a0),
         alloc AS (SELECT a0.g, a0.nh, a0.w,
             least(a0.n0 + CASE WHEN rk.rr <= lo.leftover
               THEN 1 ELSE 0 END, a0.nh) AS an
           FROM a0 JOIN rk ON rk.g = a0.g, lo),
         r AS (SELECT g, id, row_number() OVER (PARTITION BY g
               ORDER BY h, id) AS rnk
           FROM base),
         samp AS (SELECT r.g, count(*) AS sampled_n,
             sum(r.id) AS id_checksum
           FROM r JOIN alloc ON alloc.g = r.g
           WHERE r.rnk <= alloc.an GROUP BY 1)
         SELECT a.g AS stratum, CAST(a.nh AS BIGINT) AS n_rows,
           CAST(a.w AS BIGINT) AS neyman_w, CAST(a.an AS INT)
             AS alloc_n,
           CAST(s.sampled_n AS BIGINT) AS sampled_n,
           CAST(s.id_checksum AS BIGINT) AS id_checksum
         FROM alloc a JOIN samp s ON s.g = a.g""",
    // Same grid TVD: absent (group, value) cells contribute the full
    // global mass; one HUGEINT division per group.
    "q198_t_closeness" ->
      """WITH cell AS (
           SELECT CAST(c_nationkey AS VARCHAR) AS q, c_mktsegment AS s,
             count(*) AS nqs
           FROM customer
           WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
           GROUP BY 1, 2),
         grp AS (SELECT q, sum(nqs) AS nq, count(*) AS ldiv
                 FROM cell GROUP BY 1),
         gl AS (SELECT s, sum(nqs) AS ns FROM cell GROUP BY 1),
         tot AS (SELECT sum(nqs) AS n FROM cell),
         j AS (SELECT g.q, g.nq, g.ldiv, v.s, v.ns,
             coalesce(cell.nqs, 0) AS nqs, tot.n
           FROM grp g CROSS JOIN gl v CROSS JOIN tot
           LEFT JOIN cell ON cell.q = g.q AND cell.s = v.s)
         SELECT q AS c_nationkey, CAST(max(nq) AS BIGINT) AS k_size,
           CAST(max(ldiv) AS BIGINT) AS l_diversity,
           CAST(sum(abs(CAST(nqs AS HUGEINT) * n -
             CAST(ns AS HUGEINT) * nq)) * 1000000 //
             (2 * CAST(max(nq) AS HUGEINT) * max(n)) AS BIGINT)
             AS tvd_ppm
         FROM j GROUP BY 1""",
    // Same doubled-median/MAD baseline from the cell's sorted count
    // list; identical integer flag predicate.
    "q199_seasonal_anomalies" ->
      """WITH hourly AS (
           SELECT event_type AS g, epoch_us(ts) // 3600000000 AS h,
             count(*) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         cells AS (SELECT g, h % 168 AS how,
             list_sort(list(c)) AS arr, count(*) AS n
           FROM hourly GROUP BY 1, 2),
         m AS (SELECT g, how, n, arr,
             arr[CAST((n + 1) // 2 AS INT)] +
               arr[CAST(n // 2 + 1 AS INT)] AS med2
           FROM cells),
         m2 AS (SELECT g, how, n, med2,
             list_sort(list_transform(arr, x -> abs(2 * x - med2)))
               AS devs
           FROM m),
         m3 AS (SELECT g, how, med2,
             devs[CAST((n + 1) // 2 AS INT)] +
               devs[CAST(n // 2 + 1 AS INT)] AS mad4
           FROM m2)
         SELECT h2.g AS event_type, h2.h AS hour, h2.c AS n,
           m3.med2, m3.mad4
         FROM (SELECT g, h, h % 168 AS how, c FROM hourly) h2
         JOIN m3 ON m3.g = h2.g AND m3.how = h2.how
         WHERE abs(2 * h2.c - m3.med2) * 2 * 10000 > 44478 * m3.mad4""",
    // Naive oracle: per-group global row_number; value at 0-based rank
    // ceil(p*n)-1 within each group.
    "q194_group_quantiles" ->
      """WITH s AS (
           SELECT event_type AS g,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
           FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL),
         r AS (SELECT g, v, row_number() OVER (PARTITION BY g
                 ORDER BY v) - 1 AS rn
               FROM s),
         n AS (SELECT g, count(*) AS n_rows FROM s GROUP BY 1),
         t AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100))
                 AS v(p_num, p_den))
         SELECT n.g AS event_type, t.p_num, t.p_den,
           CAST((t.p_num * n.n_rows + t.p_den - 1) // t.p_den - 1
             AS BIGINT) AS rank,
           r.v AS value, n.n_rows
         FROM t, n JOIN r ON r.g = n.g
           AND r.rn = (t.p_num * n.n_rows + t.p_den - 1)
             // t.p_den - 1""",
    // Naive oracle: two ASOF joins against the raw deduped series per
    // grid instant; identical HUGEINT interpolation.
    "q195_interpolate_hourly" ->
      """WITH o0 AS (
           SELECT event_type AS g, epoch_us(ts) AS tu, event_id AS id,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y4
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND event_id IS NOT NULL AND value IS NOT NULL),
         obs AS (SELECT g, tu, y4 FROM (
             SELECT *, row_number() OVER (PARTITION BY g, tu
               ORDER BY id) AS rn FROM o0)
           WHERE rn = 1),
         span AS (SELECT g, min(tu) AS mn, max(tu) AS mx
                  FROM obs GROUP BY 1),
         grid AS (SELECT g,
             unnest(generate_series(mn // 3600000000 + 1,
               mx // 3600000000)) AS h
           FROM span
           WHERE mn // 3600000000 + 1 <= mx // 3600000000),
         g2 AS (SELECT g, h, h * 3600000000 AS tg FROM grid),
         prv AS (SELECT g2.g, g2.h, g2.tg, obs.tu AS ptu,
             obs.y4 AS py4
           FROM g2 ASOF JOIN obs
             ON g2.g = obs.g AND g2.tg > obs.tu),
         obs2 AS (SELECT g, -tu AS ntu, tu, y4 FROM obs),
         g3 AS (SELECT g, h, -tg AS ntg FROM g2),
         nxt AS (SELECT g3.g, g3.h, obs2.tu AS xtu, obs2.y4 AS xy4
           FROM g3 ASOF JOIN obs2
             ON g3.g = obs2.g AND g3.ntg >= obs2.ntu)
         SELECT p.g AS event_type, p.h AS hour, p.ptu AS prev_micros,
           x.xtu AS next_micros,
           CAST((CAST(p.py4 AS HUGEINT) * (x.xtu - p.tg) +
             CAST(x.xy4 AS HUGEINT) * (p.tg - p.ptu))
             // (x.xtu - p.ptu) AS BIGINT) AS interp_e4
         FROM prv p JOIN nxt x ON p.g = x.g AND p.h = x.h""",
    // Watermark semantics replayed relationally: batch-1 watermark =
    // max even-id event time - 1h; odd-id rows in already-closed
    // windows (end <= wm1) are dropped; windows still open at the
    // final watermark (end > wmF) are never emitted by append mode.
    "q196_stream_late_audit" ->
      """WITH e AS (
           SELECT event_id, event_type, epoch_us(ts) AS tu,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS hour,
             ((epoch_us(ts) // 3600000000) + 1) * 3600000000 AS wend
           FROM events),
         wm AS (SELECT max(tu) - 3600000000 AS wm1 FROM e
                WHERE event_id % 2 = 0),
         wmf AS (SELECT max(tu) - 3600000000 AS wmf FROM e),
         streamed AS (
           -- run 1 emits even-row counts for windows closed by wm1;
           -- run 2 drops odd rows landing in those windows, then
           -- emits the remaining windows closed by wmF
           SELECT e.hour, e.event_type, count(*) AS streamed_n
           FROM e, wm, wmf
           WHERE ((e.wend <= wm.wm1 AND e.event_id % 2 = 0)
             OR (e.wend > wm.wm1 AND e.wend <= wmf.wmf))
           GROUP BY 1, 2),
         truth AS (SELECT hour, event_type, count(*) AS batch_n
                   FROM e GROUP BY 1, 2)
         SELECT t.hour, t.event_type, t.batch_n,
           coalesce(s.streamed_n, 0) AS streamed_n,
           t.batch_n - coalesce(s.streamed_n, 0) AS missing_n
         FROM truth t LEFT JOIN streamed s
           ON s.hour = t.hour AND s.event_type = t.event_type""",
    "q191_hilbert_layout" -> hilbertOracleSql(8),
    // Same integer CUSUM: S_j = m*prefix_j - j*total per type, argmax
    // |S| with earliest-hour ties.
    "q192_cusum_changepoint" ->
      """WITH hourly AS (
           SELECT event_type AS g, epoch_us(ts) // 3600000000 AS h,
             count(*) AS c
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT g, sum(c) AS ctot, count(*) AS m
                 FROM hourly GROUP BY 1),
         cum AS (SELECT g, h,
             sum(c) OVER (PARTITION BY g ORDER BY h) AS pre,
             row_number() OVER (PARTITION BY g ORDER BY h) AS j
           FROM hourly),
         sc AS (SELECT c.g, c.h,
             CAST(c.pre AS BIGINT) * t.m - c.j * CAST(t.ctot AS BIGINT)
               AS s
           FROM cum c JOIN tot t USING (g)),
         best AS (SELECT g, h, s, row_number() OVER (PARTITION BY g
             ORDER BY abs(s) DESC, h) AS rk
           FROM sc)
         SELECT b.g AS event_type, CAST(t.m AS BIGINT) AS n_hours,
           CAST(t.ctot AS BIGINT) AS n_events, b.h AS cp_hour,
           CAST(b.s AS BIGINT) AS s_scaled
         FROM best b JOIN tot t USING (g) WHERE b.rk = 1""",
    // Identical closed-form weekday count on both sides (positive
    // epoch days, so // and % agree with the engine's pmod form).
    "q193_business_day_lag" ->
      """WITH j AS (
           SELECT o_orderpriority,
             epoch_us(o_orderdate) // 86400000000 AS od,
             epoch_us(l_shipdate) // 86400000000 AS sd
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         b AS (SELECT o_orderpriority,
             (5 * ((sd + 3) // 7) + least(((sd + 3) % 7) + 1, 5)) -
             (5 * ((od + 3) // 7) + least(((od + 3) % 7) + 1, 5))
               AS bd_lag
           FROM j)
         SELECT o_orderpriority, CAST(bd_lag AS BIGINT) AS bd_lag,
           CAST(count(*) AS BIGINT) AS n_lineitems
         FROM b GROUP BY 1, 2""",
    // q107/q108/q113 share one signature-table construction (the Spark
    // side's mediaSigs): base = first 60 bits of md5(salt || id); every
    // dupEvery-th id takes the PREVIOUS id's base XOR a k-bit mask.
    // The band join reproduces the two-cover 16-bit chunk cover of the
    // production tail (chunks c of sig, plus chunks of sig rotated
    // right by 8) — HUGEINT arithmetic emulates Java's 64-bit wrap for
    // the rotation — and joins on (pos, chunk) instead of the Spark
    // side's xxhash64(pos, chunk) bucket key, which partitions pairs
    // identically short of astronomically-unlikely xxhash collisions.
    "q107_image_phash_dedup" ->
      """WITH sigs AS (
           SELECT doc_id AS id,
             CASE WHEN doc_id % 10 = 0 AND doc_id > 0 THEN
               xor(CAST(('0x' || substr(md5('img:' ||
                     CAST(doc_id - 1 AS VARCHAR)), 1, 15)) AS BIGINT),
                   (CAST(1 AS BIGINT) <<
                     CAST((doc_id // 10) % 14 AS INT)) - 1)
             ELSE CAST(('0x' || substr(md5('img:' ||
                     CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             END AS sig
           FROM documents),
         ch AS (
           SELECT id, sig, p.range AS pos,
             CAST(CASE WHEN p.range < 4
               THEN (CAST(sig AS HUGEINT) >> CAST(16 * p.range AS INT))
                    & 65535
               ELSE (((CAST(sig AS HUGEINT) >> 8) |
                      ((CAST(sig AS HUGEINT) & 255) << 56))
                     >> CAST(16 * (p.range - 4) AS INT)) & 65535
               END AS BIGINT) AS chunk
           FROM sigs, range(0, 8) p),
         big AS (SELECT pos, chunk FROM ch
                 GROUP BY pos, chunk HAVING count(*) > 2000)
         SELECT DISTINCT x.id AS id_a, y.id AS id_b,
           CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
         FROM ch x JOIN ch y
           ON x.pos = y.pos AND x.chunk = y.chunk AND x.id < y.id
         WHERE bit_count(xor(x.sig, y.sig)) <= 10
           AND NOT EXISTS (SELECT 1 FROM big
                           WHERE big.pos = x.pos AND big.chunk = x.chunk)""",
    "q108_audio_fingerprint_dedup" ->
      """WITH sigs AS (
           SELECT doc_id AS id,
             CASE WHEN doc_id % 7 = 0 AND doc_id > 0 THEN
               xor(CAST(('0x' || substr(md5('aud:' ||
                     CAST(doc_id - 1 AS VARCHAR)), 1, 15)) AS BIGINT),
                   ((CAST(1 AS BIGINT) <<
                     CAST((doc_id // 7) % 14 AS INT)) - 1) << 20)
             ELSE CAST(('0x' || substr(md5('aud:' ||
                     CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             END AS sig
           FROM documents),
         ch AS (
           SELECT id, sig, p.range AS pos,
             CAST(CASE WHEN p.range < 4
               THEN (CAST(sig AS HUGEINT) >> CAST(16 * p.range AS INT))
                    & 65535
               ELSE (((CAST(sig AS HUGEINT) >> 8) |
                      ((CAST(sig AS HUGEINT) & 255) << 56))
                     >> CAST(16 * (p.range - 4) AS INT)) & 65535
               END AS BIGINT) AS chunk
           FROM sigs, range(0, 8) p),
         big AS (SELECT pos, chunk FROM ch
                 GROUP BY pos, chunk HAVING count(*) > 2000)
         SELECT DISTINCT x.id AS id_a, y.id AS id_b,
           CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
         FROM ch x JOIN ch y
           ON x.pos = y.pos AND x.chunk = y.chunk AND x.id < y.id
         WHERE bit_count(xor(x.sig, y.sig)) <= 8
           AND NOT EXISTS (SELECT 1 FROM big
                           WHERE big.pos = x.pos AND big.chunk = x.chunk)""",
    "q109_video_scene_detect" ->
      """WITH fr AS (
           SELECT doc_id AS asset_id, f.range AS frame_idx,
             CASE WHEN f.range < 4 THEN 0 ELSE 1 END AS scene
           FROM documents, range(0, 8) f),
         fh AS (
           SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
             xor(CAST(('0x' || substr(md5('scene:' ||
                   CAST(asset_id AS VARCHAR) || ':' ||
                   CAST(scene AS VARCHAR)), 1, 15)) AS BIGINT),
                 (CAST(1 AS BIGINT) <<
                   CAST(frame_idx % 3 AS INT)) - 1) AS phash
           FROM fr),
         lg AS (
           SELECT asset_id, frame_idx, phash,
             lag(phash) OVER (PARTITION BY asset_id
                              ORDER BY frame_idx) AS prev
           FROM fh)
         SELECT asset_id, frame_idx,
           CAST(bit_count(xor(phash, prev)) AS INT) AS hamming
         FROM lg
         WHERE prev IS NOT NULL AND bit_count(xor(phash, prev)) > 16""",
    "q110_video_frame_dedup" ->
      """WITH fh AS (
           SELECT doc_id AS id, CAST(f.range AS INT) AS frame_idx,
             xor(CAST(('0x' || substr(md5('vidf:' ||
                   CAST(CASE WHEN doc_id % 10 = 0 AND doc_id > 0
                        THEN doc_id - 1 ELSE doc_id END AS VARCHAR) ||
                   ':' || CAST(f.range AS VARCHAR)), 1, 15)) AS BIGINT),
                 CASE WHEN doc_id % 10 = 0 AND doc_id > 0
                   THEN (CAST(1 AS BIGINT) <<
                         CAST((doc_id // 10) % 14 AS INT)) - 1
                   ELSE 0 END) AS phash
           FROM documents, range(0, 8) f),
         ch AS (
           SELECT id, frame_idx, phash, p.range AS pos,
             CAST(CASE WHEN p.range < 4
               THEN (CAST(phash AS HUGEINT) >> CAST(16 * p.range AS INT))
                    & 65535
               ELSE (((CAST(phash AS HUGEINT) >> 8) |
                      ((CAST(phash AS HUGEINT) & 255) << 56))
                     >> CAST(16 * (p.range - 4) AS INT)) & 65535
               END AS BIGINT) AS chunk
           FROM fh, range(0, 8) p),
         big AS (SELECT frame_idx, pos, chunk FROM ch
                 GROUP BY frame_idx, pos, chunk HAVING count(*) > 2000),
         cand AS (
           SELECT DISTINCT x.id AS id_a, y.id AS id_b
           FROM ch x JOIN ch y
             ON x.frame_idx = y.frame_idx AND x.pos = y.pos
               AND x.chunk = y.chunk AND x.id < y.id
           WHERE NOT EXISTS (SELECT 1 FROM big
             WHERE big.frame_idx = x.frame_idx AND big.pos = x.pos
               AND big.chunk = x.chunk))
         SELECT c.id_a, c.id_b, count(*) AS matched_frames
         FROM cand c
           JOIN fh a ON a.id = c.id_a
           JOIN fh b ON b.id = c.id_b AND b.frame_idx = a.frame_idx
         WHERE bit_count(xor(a.phash, b.phash)) <= 10
         GROUP BY c.id_a, c.id_b
         HAVING count(*) >= 6""",
    "q113_stream_media_dedup" ->
      """WITH sigs AS (
           SELECT doc_id AS id,
             CASE WHEN doc_id % 10 = 0 AND doc_id > 0 THEN
               xor(CAST(('0x' || substr(md5('img:' ||
                     CAST(doc_id - 1 AS VARCHAR)), 1, 15)) AS BIGINT),
                   (CAST(1 AS BIGINT) <<
                     CAST((doc_id // 10) % 14 AS INT)) - 1)
             ELSE CAST(('0x' || substr(md5('img:' ||
                     CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
             END AS sig
           FROM documents),
         ch AS (
           SELECT id, sig, p.range AS pos,
             CAST(CASE WHEN p.range < 4
               THEN (CAST(sig AS HUGEINT) >> CAST(16 * p.range AS INT))
                    & 65535
               ELSE (((CAST(sig AS HUGEINT) >> 8) |
                      ((CAST(sig AS HUGEINT) & 255) << 56))
                     >> CAST(16 * (p.range - 4) AS INT)) & 65535
               END AS BIGINT) AS chunk
           FROM sigs, range(0, 8) p)
         SELECT DISTINCT x.id AS id_a, y.id AS id_b,
           CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
         FROM ch x JOIN ch y ON x.pos = y.pos AND x.chunk = y.chunk
         WHERE x.id % 2 = 0 AND y.id % 2 = 1
           AND bit_count(xor(x.sig, y.sig)) <= 10""",
    "q115_fhir_avro_roundtrip" ->
      """SELECT 'p' || CAST(c_custkey AS VARCHAR) AS patient_id,
           CASE c_custkey % 3 WHEN 0 THEN 'male'
             WHEN 1 THEN 'female' ELSE NULL END AS gender,
           CAST(1950 + c_custkey % 50 AS VARCHAR) || '-06-15'
             AS birth_date,
           c_name AS family_name,
           c_mktsegment AS given_name
         FROM customer""",
    "q114_fhir_xml_export_roundtrip" ->
      """SELECT 'p' || CAST(c_custkey AS VARCHAR) AS patient_id,
           CASE c_custkey % 3 WHEN 0 THEN 'male'
             WHEN 1 THEN 'female' ELSE NULL END AS gender,
           CAST(1950 + c_custkey % 50 AS VARCHAR) || '-06-15'
             AS birth_date,
           c_name AS family_name,
           c_mktsegment AS given_name
         FROM customer""",
    "q112_margin_mining" ->
      """WITH src AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id % 2 = 0),
         tgt AS (SELECT vec_id, embedding FROM embeddings
             WHERE vec_id % 2 = 1),
         fwd AS (
           SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             list_cosine_similarity(s.embedding, t.embedding) AS cos,
             row_number() OVER (PARTITION BY s.vec_id
               ORDER BY list_cosine_similarity(s.embedding, t.embedding)
                 DESC, t.vec_id) AS rk
           FROM src s CROSS JOIN tgt t),
         fk AS (SELECT * FROM fwd WHERE rk <= 4),
         degs AS (SELECT src_id, avg(cos) AS deg_s FROM fk GROUP BY src_id),
         bwd AS (
           SELECT t.vec_id AS tgt_id, s.vec_id AS src_id,
             list_cosine_similarity(s.embedding, t.embedding) AS cos,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY list_cosine_similarity(s.embedding, t.embedding)
                 DESC, s.vec_id) AS rk
           FROM tgt t CROSS JOIN src s),
         degt AS (SELECT tgt_id, avg(cos) AS deg_t FROM bwd
             WHERE rk <= 4 GROUP BY tgt_id)
         SELECT fk.src_id, fk.tgt_id
         FROM fk JOIN degs USING (src_id) JOIN degt USING (tgt_id)
         WHERE fk.cos * 2 / (degs.deg_s + degt.deg_t) >= 1.2""",
    "q111_domain_filter" ->
      """WITH urled AS (
           SELECT *, 'https://www.' || source || 'x' || (doc_id % 97) ||
             (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) ||
             (CASE WHEN doc_id % 3 = 0 THEN ':8080' ELSE '' END) ||
             '/p/' || doc_id AS url
           FROM documents),
         parsed AS (
           SELECT *, regexp_extract(
             regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1),
             '([^.]+\.(?:co\.uk|ac\.uk|co\.jp|com\.au|com\.br)|[^.]+\.[^.]+)$',
             1) AS domain
           FROM urled),
         blocked AS (
           SELECT DISTINCT domain FROM parsed WHERE doc_id % 50 = 0),
         kept AS (
           SELECT * FROM parsed
           WHERE domain <> ''
             AND domain NOT IN (SELECT domain FROM blocked))
         SELECT domain, count(*) AS n_docs,
           CAST(sum(len(text)) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         FROM kept GROUP BY domain""",
    "q23_minhash_pairs" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         big AS (
           SELECT b, key FROM bands GROUP BY b, key HAVING count(*) > 200)
         SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
           AND x.doc_id < y.doc_id
         WHERE NOT EXISTS (SELECT 1 FROM big
                           WHERE big.b = x.b AND big.key = x.key)""",
    "q24_simhash" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hs AS (
           SELECT doc_id,
             list_transform(s, x ->
               CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS h
           FROM sh)
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 60), b ->
             CASE WHEN 2 * len(list_filter(h, v -> ((v >> b) & 1) = 1)) > len(h)
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
         FROM hs""",
    "q27_ann_lsh" ->
      """WITH q AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings),
         pl AS (
           SELECT p.range AS p, i.range AS i,
             CASE WHEN (CAST(('0x' ||
                 substr(md5(p.range || ':' || i.range), 1, 15)) AS BIGINT) & 1) = 1
               THEN 1 ELSE -1 END AS sgn
           FROM range(0, 6) p, range(0, 64) i),
         proj AS (
           SELECT q.vec_id, pl.p, SUM(q.qv[pl.i + 1] * pl.sgn) AS s
           FROM q, pl GROUP BY 1, 2),
         sig AS (
           SELECT vec_id,
             CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END)
               AS BIGINT) AS sig
           FROM proj GROUP BY 1),
         ranked AS (
           SELECT qs.vec_id AS query_id, cs.vec_id AS corpus_id,
             row_number() OVER (PARTITION BY qs.vec_id
               ORDER BY list_cosine_similarity(c.embedding, qq.embedding) DESC,
                        cs.vec_id ASC) AS rank
           FROM sig qs
           JOIN sig cs ON qs.sig = cs.sig
           JOIN embeddings qq ON qq.vec_id = qs.vec_id
           JOIN embeddings c ON c.vec_id = cs.vec_id
           WHERE qs.vec_id < 5)
         SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 10""",
    "q38_ann_ivf" ->
      """WITH qd AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings),
         cents AS (
           SELECT vec_id AS cell, qv AS cv,
             list_sum(list_transform(qv, x -> x * x)) AS cn
           FROM qd WHERE vec_id < 16),
         scored_cells AS (
           SELECT d.vec_id, c.cell,
             row_number() OVER (PARTITION BY d.vec_id ORDER BY
               2 * list_sum(list_transform(range(1, len(d.qv) + 1),
                 j -> d.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM qd d, cents c),
         cellof AS (SELECT vec_id, cell FROM scored_cells WHERE rk = 1),
         probes AS (
           SELECT vec_id AS query_id, cell FROM scored_cells
           WHERE rk <= 4 AND vec_id < 5),
         cand AS (
           SELECT p.query_id, co.vec_id AS corpus_id
           FROM probes p JOIN cellof co ON co.cell = p.cell),
         ranked AS (
           SELECT query_id, corpus_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
                        corpus_id ASC) AS rank
           FROM cand
           JOIN embeddings q ON q.vec_id = query_id
           JOIN embeddings c ON c.vec_id = corpus_id)
         SELECT query_id, corpus_id, rank FROM ranked WHERE rank <= 10""",
    "q01_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
           CAST(l_shipdate AS DATE) AS ship_date
         FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'""",
    "q02_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey = 42""",
    "q03_two_key_filter" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE source = 'src3' AND lang = 'en'""",
    "q04_isin_whitelist" ->
      """SELECT l_returnflag, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_returnflag IN ('A','R') GROUP BY l_returnflag""",
    "q05_version_map_semi" ->
      """SELECT doc_id, source, lang FROM documents
         WHERE (source, lang) IN (('src1','fr'), ('src2','de'), ('src5','zh'))""",
    "q06_latest_version" ->
      """SELECT o_custkey, max(o_orderpriority) AS latest_priority,
           count(*) AS n_orders
         FROM orders GROUP BY o_custkey""",
    "q07_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q08_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 49)""",
    "q09_join_agg" ->
      """SELECT n_name, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q10_multikey_join" ->
      """SELECT l_partkey, l_suppkey, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem
         JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
               WHERE l_discount > 0.09) dim
         USING (l_partkey, l_suppkey)
         GROUP BY l_partkey, l_suppkey""",
    "q11_intersect" ->
      """SELECT l_orderkey AS okey FROM lineitem
         INTERSECT
         SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 200000""",
    "q12_union_distinct" ->
      """SELECT o_custkey AS custkey FROM orders
         UNION
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0""",
    "q13_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
         LIMIT 100""",
    "q14_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q15_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders) WHERE rk <= 3""",
    "q16_closure" ->
      """WITH RECURSIVE edges AS (
           SELECT CAST(c_custkey // 2 AS BIGINT) AS parent,
                  CAST(c_custkey AS BIGINT) AS child
           FROM customer WHERE c_custkey >= 1),
         anc(ancestor, descendant) AS (
           SELECT parent, child FROM edges
           UNION
           SELECT a.ancestor, e.child FROM anc a
           JOIN edges e ON a.descendant = e.parent)
         SELECT ancestor, descendant FROM anc
         WHERE ancestor <> descendant""",
    "q17_in_valueset" ->
      """SELECT doc_id, source, lang FROM documents
         WHERE (source, lang) IN
           (('src0','fr'), ('src1','es'), ('src2','fr'), ('src3','es'))""",
    // q98 is q17 through the Catalyst-visible membership Column — the
    // SAME oracle rows by construction
    "q98_in_valueset_column" ->
      """SELECT doc_id, source, lang FROM documents
         WHERE (source, lang) IN
           (('src0','fr'), ('src1','es'), ('src2','fr'), ('src3','es'))""",
    "q18_translate" ->
      """SELECT CASE event_type
             WHEN 'click' THEN 'engagement'
             WHEN 'view' THEN 'engagement'
             WHEN 'purchase' THEN 'conversion'
             WHEN 'signup' THEN 'conversion'
             ELSE NULL END AS category,
           count(*) AS n
         FROM events GROUP BY 1""",
    "q19_event_buckets" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q20_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
           count(*) AS n_dups
         FROM documents GROUP BY 1""",
    "q21_text_stats" ->
      """SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END
             AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_txt,
           CASE WHEN text IS NULL THEN 0
                ELSE len(regexp_extract_all(text, '[A-Za-z0-9]+|[!-/:-@\[-`{-~]'))
           END AS n_subwords
         FROM documents""",
    "q22_stopword_ratio" ->
      """SELECT doc_id,
           CASE WHEN n_tok = 0 THEN 0.0
                ELSE CAST(n_hit AS DOUBLE) / n_tok END AS stop_ratio
         FROM (
           SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS n_tok,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> x IN ('the', 'a', 'data', 'value'))) AS n_hit
           FROM documents)""",
    "q25_jaccard_dups" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
           FROM toks),
         ex AS (SELECT doc_id, unnest(s) AS h FROM sh),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id)
         SELECT id_a, id_b,
           CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
             / len(list_distinct(x.s || y.s)) AS jaccard
         FROM cand
         JOIN sh x ON x.doc_id = id_a
         JOIN sh y ON y.doc_id = id_b
         WHERE jaccard >= 0.5""",
    "q26_ann_bruteforce" ->
      """SELECT query_id, corpus_id, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings c, embeddings q WHERE q.vec_id < 5)
         WHERE rank <= 10""",
    "q34_cosine_neardups" ->
      """WITH d AS (
           SELECT vec_id AS id,
             list_transform(embedding,
               x -> round(CAST(x AS DOUBLE) * 10000)) AS qv
           FROM embeddings WHERE vec_id < 300),
         n AS (
           SELECT id, qv,
             list_sum(list_transform(qv, x -> x * x)) AS nrm
           FROM d),
         p AS (
           SELECT a.id AS id_a, b.id AS id_b, a.nrm AS na, b.nrm AS nb,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[i] * b.qv[i])) AS dot
           FROM n a JOIN n b ON a.id < b.id)
         SELECT id_a, id_b FROM p
         WHERE na > 0 AND nb > 0 AND dot > 0
           AND CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0)) * 100
             >= CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0)) * 9""",
    "q28_multimodal_features" ->
      """SELECT doc_id AS asset_id,
           ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
           CAST(8 + length(CAST(doc_id AS VARCHAR)) AS INT) AS n_bytes
         FROM documents""",
    "q35_neardup_clusters" ->
      """WITH RECURSIVE d AS (
           SELECT vec_id AS id,
             list_transform(embedding,
               x -> round(CAST(x AS DOUBLE) * 10000)) AS qv
           FROM embeddings WHERE vec_id < 300),
         n AS (
           SELECT id, qv,
             list_sum(list_transform(qv, x -> x * x)) AS nrm
           FROM d),
         p AS (
           SELECT a.id AS id_a, b.id AS id_b, a.nrm AS na, b.nrm AS nb,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[i] * b.qv[i])) AS dot
           FROM n a JOIN n b ON a.id < b.id),
         pairs AS (
           SELECT id_a, id_b FROM p
           WHERE na > 0 AND nb > 0 AND dot > 0
             AND CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0)) * 100
               >= CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0)) * 9),
         und AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT a, a FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a)
         SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src""",
    "q37_sessionize" ->
      """WITH marked AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         assigned AS (
           SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
           FROM marked)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s
         FROM assigned GROUP BY user_id, session_id""",
    "q36_pii_redaction" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(seeded, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(seeded, 'https?://[^ \t\n\r]+')) AS BIGINT)
             AS n_pii,
           md5(regexp_replace(
             regexp_replace(seeded, 'https?://[^ \t\n\r]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'))
             AS redacted_hash
         FROM (SELECT doc_id,
                 text || ' reach user' || doc_id ||
                 '@example.org via https://example.org/d/' || doc_id AS seeded
               FROM documents)""",
    "q29_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q30_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q31_count_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
         FROM orders GROUP BY o_orderpriority""",
    "q32_text_metrics" ->
      """SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END
             AS punct_ratio,
           CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                     / length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END
             AS upper_ratio,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END
             AS mean_token_len
         FROM (SELECT doc_id, text,
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                   x -> length(x) > 0) AS toks
               FROM documents)""",
    "q33_lang_id" ->
      """SELECT doc_id,
           CASE WHEN (best).score > 0 THEN (best).lang ELSE 'und' END AS lang_id
         FROM (
           SELECT doc_id, (list_sort([
             struct_pack(score := len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','mit','ein'))), lang := 'de'),
             struct_pack(score := len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','with'))), lang := 'en'),
             struct_pack(score := len(list_filter(toks, x -> x IN ('el','los','las','una','por','con','para','del'))), lang := 'es'),
             struct_pack(score := len(list_filter(toks, x -> x IN ('le','la','les','des','est','une','dans','que'))), lang := 'fr')
           ]))[-1] AS best
           FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                 FROM documents))""",
    "q39_split" ->
      """SELECT doc_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5('graft:' || doc_id), 1, 15))
                   AS BIGINT) % 10000 AS b
               FROM documents)""",
    "q40_pack" ->
      """WITH tok AS (
           SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
               AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_tok
           FROM tok)
         SELECT doc_id, n_tokens, start_tok,
           CAST(start_tok // 512 AS BIGINT) AS first_chunk,
           CAST(CASE WHEN n_tokens > 0 THEN (start_tok + n_tokens - 1) // 512
                ELSE start_tok // 512 END AS BIGINT) AS last_chunk
         FROM c""",
    "q41_incremental_minhash" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         old AS (SELECT * FROM bands WHERE doc_id < 250),
         big AS (
           SELECT b, key FROM old GROUP BY b, key HAVING count(*) > 200)
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS index_id
         FROM bands n JOIN old o ON n.b = o.b AND n.key = o.key
         WHERE n.doc_id >= 250
           AND NOT EXISTS (SELECT 1 FROM big
                           WHERE big.b = n.b AND big.key = n.key)""",
    "q42_tfidf" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         w AS (
           SELECT tf.doc_id, tf.term,
             tf.tf * (ln((nd.n + 1.0) / (dfreq.df + 1.0)) + 1.0) AS weight
           FROM tf JOIN dfreq USING (term), nd),
         r AS (
           SELECT doc_id, term, weight,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY weight DESC, term ASC) AS rank
           FROM w)
         SELECT doc_id, term, round(weight, 4) AS weight,
           CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 5""",
    "q43_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q44_quality_quantile" ->
      """WITH q AS (
           SELECT doc_id,
             CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0
                  WHEN n_tok > 0 THEN 0.3 ELSE 0.0 END * 0.4
             + CASE WHEN punct_ratio <= 0.3 THEN 1.0 ELSE 0.2 END * 0.2
             + CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE 0.5 END * 0.2
             + CASE WHEN upper_ratio <= 0.5 THEN 1.0 ELSE 0.4 END * 0.2
               AS quality
           FROM (
             SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS n_tok,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END
                 AS punct_ratio,
               CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                         / length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END
                 AS upper_ratio,
               CASE WHEN length(trim(text)) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                        x -> x IN ('the','of','and','to','a','in','is','it','that','was',
                                   'for','on','are','with','as','at','be','this','have','or')))
                      AS DOUBLE)
                      / len(regexp_split_to_array(trim(text), '\s+')) END
                 AS stop_ratio
             FROM documents)),
         thr AS (SELECT quantile_cont(quality, 0.5) AS t FROM q)
         SELECT doc_id, round(quality, 4) AS quality
         FROM q, thr WHERE quality >= t""",
    "q47_dedup_pipeline" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         big AS (
           SELECT b, key FROM bands GROUP BY b, key HAVING count(*) > 200),
         pairs AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
             AND x.doc_id < y.doc_id
           WHERE NOT EXISTS (SELECT 1 FROM big
                             WHERE big.b = x.b AND big.key = x.key)),
         und AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT a, a FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
         clusters AS (
           SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
         qual AS (
           SELECT doc_id,
             CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0
                  WHEN n_tok > 0 THEN 0.3 ELSE 0.0 END * 0.4
             + CASE WHEN punct_ratio <= 0.3 THEN 1.0 ELSE 0.2 END * 0.2
             + CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE 0.5 END * 0.2
             + CASE WHEN upper_ratio <= 0.5 THEN 1.0 ELSE 0.4 END * 0.2
               AS quality
           FROM (
             SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS n_tok,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END
                 AS punct_ratio,
               CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                         / length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END
                 AS upper_ratio,
               CASE WHEN length(trim(text)) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                        x -> x IN ('the','of','and','to','a','in','is','it','that','was',
                                   'for','on','are','with','as','at','be','this','have','or')))
                      AS DOUBLE)
                      / len(regexp_split_to_array(trim(text), '\s+')) END
                 AS stop_ratio
             FROM documents)),
         m AS (
           SELECT c.cluster_id, c.id, q.quality
           FROM clusters c JOIN qual q ON q.doc_id = c.id),
         r AS (
           SELECT cluster_id, id,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY quality DESC, id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n
           FROM m)
         SELECT cluster_id, id AS keeper_id, CAST(n AS BIGINT) AS n_members
         FROM r WHERE rn = 1""",
    "q46_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
           FROM toks),
         ex AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         b AS (SELECT doc_id AS bench_id, gram FROM ex WHERE doc_id < 5),
         c AS (SELECT doc_id, gram FROM ex WHERE doc_id >= 5)
         SELECT c.doc_id, b.bench_id, count(*) AS n_shared
         FROM c JOIN b USING (gram) GROUP BY 1, 2""",
    "q45_repetition" ->
      """WITH tkk AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         tf AS (
           SELECT doc_id, term, count(*) AS f
           FROM (SELECT doc_id, unnest(tk) AS term FROM tkk)
           GROUP BY 1, 2),
         ts AS (
           SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_tokens,
             count(*) AS nd, max(f) AS top
           FROM tf GROUP BY 1),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM tkk),
         bf AS (
           SELECT doc_id, gram, count(*) AS f
           FROM (SELECT doc_id, unnest(s) AS gram FROM sh)
           GROUP BY 1, 2),
         bs AS (
           SELECT doc_id, CAST(sum(f) AS BIGINT) AS total, max(f) AS top
           FROM bf GROUP BY 1)
         SELECT d.doc_id,
           COALESCE(ts.n_tokens, 0) AS n_tokens,
           round(COALESCE(1.0 - CAST(ts.nd AS DOUBLE) / ts.n_tokens, 0.0), 4)
             AS dup_token_ratio,
           round(COALESCE(CAST(ts.top AS DOUBLE) / ts.n_tokens, 0.0), 4)
             AS top_token_ratio,
           round(COALESCE(CAST(bs.top AS DOUBLE) / bs.total, 0.0), 4)
             AS top_bigram_ratio
         FROM documents d
         LEFT JOIN ts ON ts.doc_id = d.doc_id
         LEFT JOIN bs ON bs.doc_id = d.doc_id""",
    "q48_mixing_plan" ->
      """WITH s AS (
           SELECT source, count(*) AS n_docs,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS tokens
           FROM documents GROUP BY source),
         t AS (
           SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
             count(*) AS n_sources
           FROM s),
         r AS (
           SELECT source, n_docs, tokens,
             round(CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 4)
               AS share,
             round(least(CAST(4.0 AS DOUBLE),
               (CAST(2000000 AS DOUBLE) / n_sources)
                 / CAST(tokens AS DOUBLE)), 4) AS rate
           FROM s, t)
         SELECT source, n_docs, tokens, share, rate,
           CAST(round(rate * tokens) AS BIGINT) AS expect_tokens
         FROM r""",
    "q49_semantic_dedup" ->
      """WITH d AS (
           SELECT vec_id AS id,
             list_transform(embedding,
               x -> round(CAST(x AS DOUBLE) * 10000)) AS qv
           FROM embeddings),
         n AS (
           SELECT id, qv,
             list_sum(list_transform(qv, x -> x * x)) AS nrm
           FROM d),
         cents AS (
           SELECT CAST(id AS INT) AS cell, qv AS cv,
             list_sum(list_transform(qv, x -> x * x)) AS cn
           FROM d WHERE id < 16),
         scored AS (
           SELECT n.id, c.cell,
             row_number() OVER (PARTITION BY n.id ORDER BY
               2 * list_sum(list_transform(range(1, len(n.qv) + 1),
                 j -> n.qv[j] * c.cv[j])) - c.cn DESC, c.cell ASC) AS rk
           FROM n, cents c),
         cellof AS (SELECT id, cell FROM scored WHERE rk = 1),
         p AS (
           SELECT ca.id AS id_a, cb.id AS id_b, a.nrm AS na, b.nrm AS nb,
             list_sum(list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[i] * b.qv[i])) AS dot
           FROM cellof ca JOIN cellof cb
             ON ca.cell = cb.cell AND ca.id < cb.id
           JOIN n a ON a.id = ca.id
           JOIN n b ON b.id = cb.id
           WHERE ca.cell IN (SELECT cell FROM cellof
             GROUP BY cell HAVING count(*) <= 10000)),
         dropped AS (
           SELECT DISTINCT id_b AS id FROM p
           WHERE na > 0 AND nb > 0 AND dot > 0
             AND CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0)) * 100
               >= CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0)) * 9)
         SELECT c.id, CAST(c.cell AS INT) AS cell, (dr.id IS NULL) AS keep
         FROM cellof c LEFT JOIN dropped dr ON dr.id = c.id""",
    "q50_temperature_mixing" ->
      """WITH s AS (
           SELECT source, count(*) AS n_docs,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS tokens
           FROM documents GROUP BY source),
         t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM s),
         w AS (
           SELECT source, n_docs, tokens,
             round(CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 4)
               AS share,
             power(CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE),
               0.7) AS pw
           FROM s, t),
         z AS (SELECT SUM(pw) AS z FROM w),
         r AS (
           SELECT source, n_docs, tokens, share,
             round(pw / z, 4) AS target_share,
             round(least(CAST(4.0 AS DOUBLE),
               CAST(2000000 AS DOUBLE) * (pw / z)
                 / CAST(tokens AS DOUBLE)), 4) AS rate
           FROM w, z)
         SELECT source, n_docs, tokens, share, target_share, rate,
           CAST(round(rate * tokens) AS BIGINT) AS expect_tokens
         FROM r""",
    "q51_apply_mixture" ->
      """WITH s AS (
           SELECT source, count(*) AS n_docs,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS tokens
           FROM documents GROUP BY source),
         t AS (
           SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
             count(*) AS n_sources
           FROM s),
         r AS (
           SELECT source,
             round(least(CAST(4.0 AS DOUBLE),
               (CAST(2000000 AS DOUBLE) / n_sources)
                 / CAST(tokens AS DOUBLE)), 4) AS rate
           FROM s, t),
         c AS (
           SELECT d.doc_id, d.source,
             CAST(FLOOR(r.rate) AS INT)
               + CASE WHEN
                   CAST(('0x' || substr(md5('graft:' || d.source || '/'
                     || d.doc_id), 1, 15)) AS BIGINT) % 10000
                   < CAST(round((r.rate - FLOOR(r.rate)) * 10000) AS BIGINT)
                 THEN 1 ELSE 0 END AS copies
           FROM documents d JOIN r ON r.source = d.source)
         SELECT doc_id, source, CAST(epoch AS INT) AS epoch
         FROM (SELECT doc_id, source, unnest(range(copies)) AS epoch
               FROM c WHERE copies > 0)""",
    "q52_leakage_safe_split" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1]) END AS s
           FROM toks),
         hp AS (
           SELECT doc_id,
             list_transform(s, x -> [
               CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT),
               CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT) | 1]) AS p
           FROM sh),
         sig AS (
           SELECT doc_id,
             list_transform(range(0, 16), i ->
               list_min(list_transform(p,
                 q -> (q[1] + i * q[2]) % 4294967296))) AS sig
           FROM hp),
         bands AS (
           SELECT doc_id, b.range AS b,
             sig[2 * b.range + 1 : 2 * b.range + 2] AS key
           FROM sig, range(0, 8) b),
         big AS (
           SELECT b, key FROM bands GROUP BY b, key HAVING count(*) > 200),
         pairs AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
             AND x.doc_id < y.doc_id
           WHERE NOT EXISTS (SELECT 1 FROM big
                             WHERE big.b = x.b AND big.key = x.key)),
         und AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT a, a FROM und
           UNION
           SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
         clusters AS (
           SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
         sel AS (
           SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS key
           FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id),
         bk AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5('graft:' || key), 1, 15)) AS BIGINT)
               % 10000 AS b
           FROM sel)
         SELECT doc_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
         FROM bk""",
    "q53_quota_sample" ->
      """WITH h AS (
           SELECT source, doc_id,
             CAST(('0x' || substr(md5('graft:' || source || '/' || doc_id),
               1, 13)) AS BIGINT) AS hv
           FROM documents),
         r AS (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY hv ASC, doc_id ASC) AS rank
           FROM h)
         SELECT source AS stratum, doc_id AS id, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 20""",
    "q54_repeated_spans" ->
      """WITH tkk AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         w AS (
           SELECT doc_id, len(tk) - 7 AS n_windows,
             list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) AS wins
           FROM tkk WHERE len(tk) >= 8),
         wh AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(win), 1, 15)) AS BIGINT) AS h
           FROM (SELECT doc_id, unnest(wins) AS win FROM w)),
         hot AS (
           SELECT h FROM wh GROUP BY h HAVING count(*) >= 2),
         rep AS (
           SELECT doc_id, count(*) AS n_repeated
           FROM wh JOIN hot USING (h) GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(COALESCE(w.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(r.n_repeated, 0) AS BIGINT) AS n_repeated,
           round(CASE WHEN COALESCE(w.n_windows, 0) > 0
             THEN CAST(COALESCE(r.n_repeated, 0) AS DOUBLE) / w.n_windows
             ELSE 0.0 END, 4) AS repeat_ratio
         FROM documents d
         LEFT JOIN w ON w.doc_id = d.doc_id
         LEFT JOIN rep r ON r.doc_id = d.doc_id""",
    "q55_prototypicality" ->
      """WITH d AS (
           SELECT vec_id AS id,
             list_transform(embedding,
               x -> round(CAST(x AS DOUBLE) * 10000)) AS qv
           FROM embeddings),
         n AS (
           SELECT id, qv,
             list_sum(list_transform(qv, x -> x * x)) AS nrm
           FROM d),
         cents AS (
           SELECT row_number() OVER (ORDER BY id) - 1 AS cell, qv AS cv,
             list_sum(list_transform(qv, x -> x * x)) AS cn
           FROM d WHERE id < 16),
         dots AS (
           SELECT n.id, n.nrm, c.cell, c.cn,
             list_sum(list_transform(range(1, len(n.qv) + 1),
               j -> n.qv[j] * c.cv[j])) AS dt
           FROM n, cents c),
         ranked AS (
           SELECT id, nrm, cell, cn, dt,
             row_number() OVER (PARTITION BY id
               ORDER BY 2 * dt - cn DESC, cell ASC) AS rk
           FROM dots)
         SELECT id, CAST(cell AS INT) AS cell,
           round(CASE WHEN nrm > 0 AND cn > 0
             THEN CAST(dt AS DOUBLE)
               / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE)))
             ELSE 0.0 END, 4) AS proto_score
         FROM ranked WHERE rk = 1""",
    "q56_corpus_report" ->
      """WITH qual AS (
           SELECT doc_id,
             CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0
                  WHEN n_tok > 0 THEN 0.3 ELSE 0.0 END * 0.4
             + CASE WHEN punct_ratio <= 0.3 THEN 1.0 ELSE 0.2 END * 0.2
             + CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE 0.5 END * 0.2
             + CASE WHEN upper_ratio <= 0.5 THEN 1.0 ELSE 0.4 END * 0.2
               AS quality,
             n_tok
           FROM (
             SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS n_tok,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END
                 AS punct_ratio,
               CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                         / length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END
                 AS upper_ratio,
               CASE WHEN length(trim(text)) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                        x -> x IN ('the','of','and','to','a','in','is','it','that','was',
                                   'for','on','are','with','as','at','be','this','have','or')))
                      AS DOUBLE)
                      / len(regexp_split_to_array(trim(text), '\s+')) END
                 AS stop_ratio
             FROM documents)),
         base AS (
           SELECT d.source, d.lang, q.n_tok,
             CAST(q.quality AS DECIMAL(18,4)) AS q,
             CASE WHEN len(regexp_extract_all(d.text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               + len(regexp_extract_all(d.text, 'https?://[^ \t\n\r]+')) > 0
               THEN 1 ELSE 0 END AS has_pii
           FROM documents d JOIN qual q ON q.doc_id = d.doc_id)
         SELECT source, count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           count(DISTINCT lang) AS n_langs,
           CAST(SUM(has_pii) AS BIGINT) AS pii_docs,
           round(CAST(SUM(q) AS DOUBLE) / count(*), 4) AS mean_quality,
           round(CAST(SUM(n_tok) AS DOUBLE) / count(*), 4) AS mean_tokens
         FROM base GROUP BY source""",
    "q57_asof_join" ->
      """SELECT l.event_id, l.user_id,
           COALESCE(r.value, -1.0) AS asof_value,
           COALESCE(strftime(r.ts, '%Y-%m-%d %H:%M:%S'), 'none') AS asof_s
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                         WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "q58_range_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS window_id
         FROM (SELECT event_id, ts FROM events
               WHERE event_type = 'click') c
         JOIN (SELECT event_id, ts FROM events
               WHERE event_type = 'purchase') p
           ON c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR""",
    "q59_interval_overlap" ->
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id
         FROM (SELECT event_id, ts FROM events
               WHERE event_type = 'purchase') p
         JOIN (SELECT event_id, ts FROM events
               WHERE event_type = 'error') e
           ON p.ts <= e.ts + INTERVAL 1 HOUR
          AND e.ts <= p.ts + INTERVAL 1 HOUR""",
    "q60_range_join_rewrite" ->
      """SELECT c.event_id AS click_id, p.event_id AS window_id
         FROM (SELECT event_id, ts FROM events
               WHERE event_type = 'click') c
         JOIN (SELECT event_id, ts FROM events
               WHERE event_type = 'purchase') p
           ON c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR""",
    "q61_chunk_text" ->
      """WITH tkk AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         c AS (
           SELECT doc_id, CAST(k AS INT) AS chunk_id,
             tk[CAST(k AS INT) * 4 + 1 : CAST(k AS INT) * 4 + 8] AS ck
           FROM (SELECT doc_id, tk,
                   unnest(range(0,
                     CAST(floor((len(tk) - 1) / 4.0) AS BIGINT) + 1)) AS k
                 FROM tkk WHERE len(tk) > 0))
         SELECT doc_id, chunk_id, CAST(len(ck) AS INT) AS n_chunk_tokens,
           array_to_string(ck, ' ') AS chunk_text
         FROM c""",
    "q62_line_dedup" ->
      """WITH docs2 AS (
           SELECT doc_id,
             text || chr(10) || 'source: ' || source || chr(10) ||
               'lang: ' || lang || chr(10) ||
               'unsubscribe from this newsletter' AS text
           FROM documents),
         lx AS (
           SELECT doc_id, arr,
             CAST(unnest(range(1, len(arr) + 1)) AS INT) AS pos
           FROM (SELECT doc_id, string_split(text, chr(10)) AS arr
                 FROM docs2)),
         ln AS (SELECT doc_id, pos, arr[pos] AS line FROM lx),
         dup AS (
           SELECT line, count(*) AS n FROM ln
           WHERE trim(line) <> '' GROUP BY line
           HAVING count(*) >= 5),
         j AS (
           SELECT l.doc_id, l.pos, l.line,
             (d.line IS NOT NULL) AS rm
           FROM ln l LEFT JOIN dup d ON l.line = d.line)
         SELECT doc_id, count(*) AS n_lines,
           CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           COALESCE(string_agg(line, chr(10) ORDER BY pos)
             FILTER (WHERE NOT rm), '') AS clean_text
         FROM j GROUP BY doc_id""",
    "q63_frequent_ngrams" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS s
           FROM toks),
         g AS (SELECT doc_id, gram
               FROM (SELECT doc_id, unnest(s) AS gram FROM sh)
               WHERE length(gram) > 0),
         stats AS (
           SELECT gram, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs
           FROM g GROUP BY gram),
         r AS (
           SELECT gram, n_occurrences, n_docs,
             row_number() OVER (ORDER BY n_occurrences DESC, gram) AS rk
           FROM stats)
         SELECT CAST(rk AS INT) AS rank, gram, n_occurrences, n_docs
         FROM r WHERE rk <= 20""",
    "q64_global_shuffle" ->
      """WITH k AS (
           SELECT doc_id AS id,
             CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)),
               1, 13)) AS BIGINT) AS shuffle_key
           FROM documents)
         SELECT id, shuffle_key,
           CAST(row_number() OVER (ORDER BY shuffle_key, id) - 1 AS BIGINT)
             AS position
         FROM k""",
    "q65_zorder_key" ->
      """WITH src AS (
           SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events),
         st AS (
           SELECT min(user_id) AS lo0, max(user_id) AS hi0,
                  min(tsu) AS lo1, max(tsu) AS hi1
           FROM src),
         q AS (
           SELECT event_id,
             CASE WHEN hi0 <= lo0 THEN 0 ELSE CAST(floor(
               (CAST(user_id AS DOUBLE) - CAST(lo0 AS DOUBLE)) * 255 /
               (CAST(hi0 AS DOUBLE) - CAST(lo0 AS DOUBLE))) AS BIGINT)
             END AS q0,
             CASE WHEN hi1 <= lo1 THEN 0 ELSE CAST(floor(
               (CAST(tsu AS DOUBLE) - CAST(lo1 AS DOUBLE)) * 255 /
               (CAST(hi1 AS DOUBLE) - CAST(lo1 AS DOUBLE))) AS BIGINT)
             END AS q1
           FROM src CROSS JOIN st)
         SELECT event_id,
           CAST(list_sum(list_transform(range(0, 8), b ->
             (((q0 >> b) & 1) << (2 * b)) +
             (((q1 >> b) & 1) << (2 * b + 1)))) AS BIGINT) AS zval
         FROM q""",
    "q66_key_skew" ->
      """WITH c AS (
           SELECT user_id AS key, count(*) AS n_rows
           FROM events GROUP BY user_id),
         t AS (
           SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             count(*) AS n_keys
           FROM c),
         r AS (
           SELECT key, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, key) AS rk
           FROM c WHERE key IS NOT NULL)
         SELECT CAST(rk AS INT) AS rank, key, n_rows,
           round(CAST(n_rows AS DOUBLE) / total, 6) AS share,
           round(CAST(n_rows AS DOUBLE) * n_keys / total, 4) AS skew_ratio
         FROM r CROSS JOIN t WHERE rk <= 15
         UNION ALL
         SELECT 0 AS rank, key, n_rows,
           round(CAST(n_rows AS DOUBLE) / total, 6) AS share,
           round(CAST(n_rows AS DOUBLE) * n_keys / total, 4) AS skew_ratio
         FROM c CROSS JOIN t WHERE key IS NULL""",
    "q67_incremental_exact" ->
      """WITH idx AS (
           SELECT DISTINCT md5(text) AS content_hash
           FROM documents WHERE doc_id < 250),
         b AS (
           SELECT doc_id AS id, md5(text) AS content_hash
           FROM documents WHERE doc_id >= 250),
         m AS (
           SELECT id, content_hash,
             min(id) OVER (PARTITION BY content_hash) AS min_id,
             content_hash IN (SELECT content_hash FROM idx) AS hit
           FROM b)
         SELECT id, content_hash,
           CASE WHEN hit THEN 'index_dup'
                WHEN id = min_id THEN 'new'
                ELSE 'batch_dup' END AS status
         FROM m""",
    "q68_stream_enrich" ->
      """SELECT e.event_id, e.user_id,
           COALESCE(c.c_mktsegment, 'unknown') AS segment
         FROM events e
         LEFT JOIN customer c ON c.c_custkey = e.user_id""",
    "q69_ngram_novelty" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS s
           FROM toks),
         g AS (
           SELECT DISTINCT doc_id, gram
           FROM (SELECT doc_id, unnest(s) AS gram FROM sh)
           WHERE length(gram) > 0),
         dfreq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
         pd AS (
           SELECT g.doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
           FROM g JOIN dfreq f ON f.gram = g.gram
           GROUP BY g.doc_id)
         SELECT d.doc_id,
           COALESCE(pd.n_grams, 0) AS n_grams,
           COALESCE(pd.n_unique, 0) AS n_unique,
           round(COALESCE(CAST(pd.n_unique AS DOUBLE) / pd.n_grams, 0.0), 4)
             AS novelty
         FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""",
    "q70_funnel" ->
      """WITH b AS (
           SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
         s1 AS (
           SELECT user_id, min(ts) AS t1 FROM b
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT b.user_id, min(b.ts) AS t2
           FROM b JOIN s1 USING (user_id)
           WHERE b.event_type = 'click' AND b.ts > s1.t1
             AND b.ts <= s1.t1 + 2592000000000
           GROUP BY b.user_id),
         s3 AS (
           SELECT b.user_id, min(b.ts) AS t3
           FROM b JOIN s2 USING (user_id)
           WHERE b.event_type = 'purchase' AND b.ts > s2.t2
             AND b.ts <= s2.t2 + 2592000000000
           GROUP BY b.user_id)
         SELECT s1.user_id,
           CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS stage,
           s1.t1 AS t1, COALESCE(t2, -1) AS t2, COALESCE(t3, -1) AS t3
         FROM s1
         LEFT JOIN s2 ON s2.user_id = s1.user_id
         LEFT JOIN s3 ON s3.user_id = s1.user_id""",
    "q71_cohort_retention" ->
      """WITH b AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
         c AS (
           SELECT user_id, min(ts_us // 604800000000) AS cohort_period
           FROM b WHERE event_type = 'signup' GROUP BY user_id),
         sz AS (
           SELECT cohort_period, count(DISTINCT user_id) AS cohort_size
           FROM c GROUP BY cohort_period),
         a AS (
           SELECT DISTINCT user_id, ts_us // 604800000000 AS period
           FROM b),
         r AS (
           SELECT c.cohort_period,
             a.period - c.cohort_period AS period_offset,
             count(DISTINCT a.user_id) AS n_active
           FROM a JOIN c USING (user_id)
           WHERE a.period >= c.cohort_period
           GROUP BY 1, 2)
         SELECT r.cohort_period, r.period_offset, r.n_active,
           sz.cohort_size,
           round(CAST(r.n_active AS DOUBLE) / sz.cohort_size, 4)
             AS retention
         FROM r JOIN sz USING (cohort_period)""",
    "q72_corpus_diff" ->
      """WITH prev AS (
           SELECT doc_id AS id, md5(text) AS old_hash
           FROM documents WHERE doc_id < 400),
         cur AS (
           SELECT doc_id AS id,
             md5(CASE WHEN doc_id % 50 = 0 THEN text || ' v2'
                      ELSE text END) AS new_hash
           FROM documents WHERE doc_id >= 100)
         SELECT COALESCE(prev.id, cur.id) AS id,
           CASE WHEN prev.id IS NULL THEN 'added'
                WHEN cur.id IS NULL THEN 'removed'
                WHEN old_hash = new_hash THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM prev FULL OUTER JOIN cur ON cur.id = prev.id""",
    "q73_stream_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') c
         JOIN (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase') p
           ON p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",
    "q74_trend_report" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS key,
           CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-24')
             AS BIGINT) AS n_prior,
           CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-24')
             AS BIGINT) AS n_recent,
           round((count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-24')
               + 1.0)
             / (count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-24')
               + 1.0), 4) AS rise_ratio
         FROM events GROUP BY 1""",
    "q75_rolling_mean" ->
      """SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_window,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w
             / count(*) OVER w AS DOUBLE), 4) AS rolling_mean
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""",
    "q76_weighted_sample" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE CAST(('0x' || substr(md5('graft:' ||
             CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
           < round(least(CAST(10000 AS DOUBLE),
               greatest(CAST(0 AS DOUBLE),
                 ((CAST(n_chars AS DOUBLE) / 1000.0) * 0.5) * 10000)))""",
    "q77_group_zscore" ->
      """WITH st AS (
           SELECT source, count(*) AS n,
             sum(CAST(n_chars AS DECIMAL(38,0))) AS s,
             sum(CAST(CAST(n_chars AS DECIMAL(19,0)) *
               CAST(n_chars AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS s2
           FROM documents GROUP BY source),
         m AS (
           SELECT source,
             CAST(s AS DOUBLE) / n AS mean,
             sqrt(greatest(CAST(s2 AS DOUBLE) / n
               - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
               0.0)) AS std
           FROM st)
         SELECT d.doc_id, d.source, d.n_chars,
           CASE WHEN m.std > 0
             THEN round((CAST(d.n_chars AS DOUBLE) - m.mean) / m.std, 4)
             ELSE 0.0 END AS zscore
         FROM documents d JOIN m ON m.source = d.source""",
    "q78_transition_matrix" ->
      """WITH seq AS (
           SELECT event_type AS to_type,
             COALESCE(lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id), '^') AS from_type
           FROM events)
         SELECT from_type, to_type, count(*) AS n_transitions
         FROM seq GROUP BY 1, 2""",
    "q79_hashed_features" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS tok
           FROM documents)
         SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64
             AS bucket,
           count(*) AS count
         FROM toks GROUP BY 1, 2""",
    "q80_group_percentile" ->
      """SELECT doc_id, source, n_chars,
           round(percent_rank() OVER (PARTITION BY source
             ORDER BY n_chars), 6) AS pct_rank
         FROM documents""",
    "q81_event_gaps" ->
      """WITH g AS (
           SELECT user_id,
             CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE)
               / 1000000.0 AS gap_s
           FROM events)
         SELECT user_id,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round(CAST(avg(CAST(gap_s AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS mean_gap_s,
           round(quantile_cont(gap_s, 0.5), 4) AS median_gap_s,
           round(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s
         FROM g GROUP BY user_id""",
    // The FHIR oracles never see FHIR: they recompute the flat scalars
    // relationally from the same parquet, so the whole construct→parse→
    // extract→(decode→re-ingest) pipeline must be value-preserving for
    // the hashes to match.
    "q106_hierarchy_tables" ->
      """WITH RECURSIVE edges AS (
           SELECT CAST(c_custkey // 2 AS BIGINT) AS parent,
                  CAST(c_custkey AS BIGINT) AS child
           FROM customer WHERE c_custkey >= 1),
         anc(ancestor, descendant) AS (
           SELECT parent, child FROM edges
           UNION
           SELECT a.ancestor, e.child FROM anc a
           JOIN edges e ON a.descendant = e.parent)
         SELECT ancestor, descendant FROM anc
         WHERE ancestor <> descendant""",
    "q105_terminology_export_roundtrip" ->
      """SELECT 'urn:graft:vs:exp:r' || CAST(n_regionkey AS VARCHAR)
             AS value_set_uri,
           'urn:graft:nations' AS system,
           '2024' AS system_version,
           n_name AS code
         FROM nation""",
    "q104_translate_delegation" ->
      """SELECT CASE event_type
             WHEN 'click' THEN 'engagement'
             WHEN 'view' THEN 'engagement'
             WHEN 'purchase' THEN 'conversion'
             WHEN 'signup' THEN 'conversion'
             ELSE NULL END AS category,
           count(*) AS n
         FROM events GROUP BY 1""",
    "q103_terminology_dir_import" ->
      """SELECT 'urn:graft:vs:dir:r' || CAST(n_regionkey AS VARCHAR)
             AS value_set_uri,
           'urn:graft:nations' AS system,
           '2024' AS system_version,
           n_name AS code,
           'Region' || CAST(n_regionkey AS VARCHAR) AS set_name
         FROM nation""",
    "q102_terminology_tables" ->
      """SELECT 'urn:graft:vs:region' || CAST(n.n_regionkey AS VARCHAR)
             AS value_set_uri,
           'urn:graft:nations' AS system,
           n.n_name AS code,
           r.r_name AS set_name,
           'active' AS status
         FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey""",
    "q99_fhir_save_database" ->
      """SELECT 'p' || CAST(c_custkey AS VARCHAR) AS patient_id,
           CASE c_custkey % 3 WHEN 0 THEN 'male'
             WHEN 1 THEN 'female' ELSE NULL END AS gender,
           c_custkey % 2 = 0 AS active
         FROM customer""",
    "q100_loinc_csv_reader" ->
      """SELECT 'http://loinc.org' AS ancestor_system,
           'LP' || CAST(p_partkey // 10 AS VARCHAR) AS ancestor_value,
           'http://loinc.org' AS descendant_system,
           'LP' || CAST(p_partkey AS VARCHAR) AS descendant_value
         FROM part WHERE p_partkey >= 10""",
    "q101_snomed_rf2_reader" ->
      """SELECT 'http://snomed.info/sct' AS ancestor_system,
           CAST(p_partkey // 7 AS VARCHAR) AS ancestor_value,
           'http://snomed.info/sct' AS descendant_system,
           CAST(p_partkey AS VARCHAR) AS descendant_value
         FROM part WHERE p_partkey % 3 = 0 AND p_partkey % 2 = 0""",
    "q97_fhir_contained_roundtrip" ->
      """SELECT 'mr' || CAST(o_orderkey AS VARCHAR) AS med_id,
           CASE o_orderstatus WHEN 'O' THEN 'active'
             WHEN 'F' THEN 'completed' ELSE 'stopped' END AS status,
           'p' || CAST(o_custkey AS VARCHAR) AS patient_id,
           '#m' || CAST(o_orderkey % 97 AS VARCHAR) AS med_ref,
           'm' || CAST(o_orderkey % 97 AS VARCHAR) AS con_id,
           'med-' || CAST(o_orderkey % 97 AS VARCHAR) AS con_code,
           'active' AS con_status
         FROM orders""",
    "q96_fhir_profile_medreq" ->
      """SELECT 'mr' || CAST(o_orderkey AS VARCHAR) AS med_id,
           CASE o_orderstatus WHEN 'O' THEN 'active'
             WHEN 'F' THEN 'completed' ELSE 'stopped' END AS status,
           CAST(o_orderdate AS VARCHAR) AS authored_on,
           'p' || CAST(o_custkey AS VARCHAR) AS patient_id,
           'med-' || CAST(o_orderkey % 97 AS VARCHAR) AS med_code,
           CAST(o_orderkey % 500 AS DOUBLE) AS dose_value,
           CAST(o_orderkey % 4 + 1 AS INTEGER) AS freq,
           o_orderkey % 2 = 0 AS as_needed
         FROM orders""",
    "q95_length_histogram" ->
      """WITH c AS (
           SELECT CASE WHEN n_chars <= 0 THEN -1
             ELSE CAST(length(bin(n_chars)) - 1 AS INT) END AS bucket,
             count(*) AS n_rows
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c)
         SELECT bucket,
           CAST(1 AS BIGINT) << greatest(bucket, 0) AS bucket_lo,
           n_rows,
           round(CAST(n_rows AS DOUBLE) / total, 6) AS share
         FROM c CROSS JOIN t""",
    "q94_heldout_lm" ->
      """WITH ttk AS (
           SELECT list_filter(regexp_split_to_array(lower(trim(text)),
               '\s+'), x -> len(x) > 0) AS t
           FROM documents WHERE doc_id < 250),
         tbg AS (
           SELECT u.w1 AS w1, u.b AS b FROM (
             SELECT unnest(list_transform(range(1, len(t)), i ->
               {'w1': t[i], 'b': t[i] || ' ' || t[i + 1]})) AS u
             FROM ttk) q),
         cbt AS (SELECT b, count(*) AS cb FROM tbg GROUP BY b),
         cwt AS (SELECT w1, count(*) AS cw FROM tbg GROUP BY w1),
         vt AS (SELECT count(DISTINCT tok) AS v FROM (
             SELECT unnest(t) AS tok FROM ttk) q),
         stk AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS t
           FROM documents WHERE doc_id >= 250),
         sbg AS (
           SELECT doc_id, u.w1 AS w1, u.b AS b FROM (
             SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i ->
                 {'w1': t[i], 'b': t[i] || ' ' || t[i + 1]})) AS u
             FROM stk) q),
         sc AS (
           SELECT sbg.doc_id,
             CAST(round(ln((coalesce(cbt.cb, 0) + 1.0)
               / (coalesce(cwt.cw, 0) + vt.v)), 6)
               AS DECIMAL(18,6)) AS term
           FROM sbg LEFT JOIN cbt USING (b) LEFT JOIN cwt USING (w1)
           CROSS JOIN vt),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(CAST(sum(term) AS DOUBLE) / count(*), 4)
               AS mean_logprob
           FROM sc GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(agg.n_bigrams, 0) AS n_bigrams,
           agg.mean_logprob
         FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         WHERE d.doc_id >= 250""",
    "q93_curriculum_order" ->
      """WITH b AS (
           SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS bs
           FROM documents),
         r AS (
           SELECT doc_id AS id, n_chars AS score,
             CAST(len(list_filter(b.bs,
               x -> CAST(n_chars AS DOUBLE) > x)) AS INT) AS band,
             CAST(('0x' || substr(md5('graft:' ||
               CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS key
           FROM documents, b)
         SELECT id, score, band,
           CAST(row_number() OVER (ORDER BY band, key, id) - 1 AS BIGINT)
             AS position
         FROM r""",
    "q92_bloom_join" ->
      """SELECT l.l_orderkey, o.o_custkey,
           CAST(l.l_quantity AS DOUBLE) AS quantity
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderpriority = '1-URGENT'""",
    "q91_stream_fhir_ingest" ->
      """SELECT 'p' || CAST(c_custkey AS VARCHAR) AS patient_id,
           CASE c_custkey % 3 WHEN 0 THEN 'male'
             WHEN 1 THEN 'female' ELSE NULL END AS gender
         FROM customer""",
    "q90_fhir_dir_scan" ->
      """SELECT 'p' || CAST(c_custkey AS VARCHAR) AS patient_id,
           CASE c_custkey % 3 WHEN 0 THEN 'male'
             WHEN 1 THEN 'female' ELSE NULL END AS gender
         FROM customer""",
    "q89_compaction_plan" ->
      """WITH c AS (
           SELECT doc_id AS id, n_chars AS bytes,
             CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_b
           FROM documents)
         SELECT id, bytes,
           CAST(start_b // 65536 AS BIGINT) AS group_id
         FROM c""",
    "q87_source_overlap" ->
      """WITH toks AS (
           SELECT source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT source,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS s
           FROM toks),
         g AS (
           SELECT DISTINCT source, gram
           FROM (SELECT source, unnest(s) AS gram FROM sh) q
           WHERE length(gram) > 0),
         sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                FROM g GROUP BY source),
         it AS (
           SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_common
           FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
           GROUP BY 1, 2)
         SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n AS n_a, sb.n AS n_b,
           coalesce(it.n_common, 0) AS n_common,
           CAST(coalesce(it.n_common, 0) AS DOUBLE)
             / (sa.n + sb.n - coalesce(it.n_common, 0)) AS jaccard
         FROM sz sa JOIN sz sb ON sa.source < sb.source
         LEFT JOIN it ON it.source_a = sa.source
           AND it.source_b = sb.source""",
    // q88: same exact-decimal order-statistic interpolation as the Spark
    // side — v_k + (v_{k+1} − v_k)·frac over the distinct-value
    // histogram, no double rounding anywhere
    "q88_winsorize" ->
      """WITH kf AS (
           SELECT source, count(*) AS n,
             CAST(floor(0.05 * (count(*) - 1)) AS BIGINT) AS k_lo,
             CAST(0.05 * (count(*) - 1)
               - floor(0.05 * (count(*) - 1)) AS DECIMAL(10,6)) AS f_lo,
             CAST(floor(0.95 * (count(*) - 1)) AS BIGINT) AS k_hi,
             CAST(0.95 * (count(*) - 1)
               - floor(0.95 * (count(*) - 1)) AS DECIMAL(10,6)) AS f_hi
           FROM documents GROUP BY source),
         cum AS (
           SELECT source, v, c, sum(c) OVER (
               PARTITION BY source ORDER BY v) AS cum
           FROM (SELECT source, CAST(n_chars AS DECIMAL(20,4)) AS v,
                   count(*) AS c
                 FROM documents GROUP BY 1, 2)),
         os AS (
           SELECT k.source,
             max(CASE WHEN cum.cum - cum.c <= k.k_lo
               AND k.k_lo < cum.cum THEN cum.v END) AS v_lo0,
             max(CASE WHEN cum.cum - cum.c <= least(k.k_lo + 1, k.n - 1)
               AND least(k.k_lo + 1, k.n - 1) < cum.cum
               THEN cum.v END) AS v_lo1,
             max(CASE WHEN cum.cum - cum.c <= k.k_hi
               AND k.k_hi < cum.cum THEN cum.v END) AS v_hi0,
             max(CASE WHEN cum.cum - cum.c <= least(k.k_hi + 1, k.n - 1)
               AND least(k.k_hi + 1, k.n - 1) < cum.cum
               THEN cum.v END) AS v_hi1
           FROM kf k JOIN cum ON cum.source = k.source
           GROUP BY k.source),
         b AS (
           SELECT os.source,
             os.v_lo0 + (os.v_lo1 - os.v_lo0) * kf.f_lo AS p_lo_d,
             os.v_hi0 + (os.v_hi1 - os.v_hi0) * kf.f_hi AS p_hi_d
           FROM os JOIN kf ON kf.source = os.source)
         SELECT d.doc_id, d.source, d.n_chars,
           CAST(round(b.p_lo_d, 4) AS DOUBLE) AS p_lo,
           CAST(round(b.p_hi_d, 4) AS DOUBLE) AS p_hi,
           CAST(round(least(greatest(CAST(d.n_chars AS DECIMAL(20,4)),
             b.p_lo_d), b.p_hi_d), 4) AS DOUBLE) AS clipped
         FROM documents d JOIN b ON b.source = d.source""",
    "q86_decayed_activity" ->
      """SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(round(CAST(value AS DECIMAL(12,4)) *
               CAST(power(0.5,
                 least((epoch_us(TIMESTAMP '2024-03-01 00:00:00')
                   - epoch_us(ts)) // 604800000000, 20))
                 AS DECIMAL(21,20)), 6)), 4) AS DOUBLE)
             AS activity_score
         FROM events
         WHERE epoch_us(ts) <= epoch_us(TIMESTAMP '2024-03-01 00:00:00')
         GROUP BY user_id""",
    "q85_bigram_lm_quality" ->
      """WITH tk AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS t
           FROM documents),
         bg AS (
           SELECT doc_id, u.w1 AS w1, u.b AS b FROM (
             SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i ->
                 {'w1': t[i], 'b': t[i] || ' ' || t[i + 1]})) AS u
             FROM tk) q),
         cbt AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
         cwt AS (SELECT w1, count(*) AS cw FROM bg GROUP BY w1),
         vt AS (SELECT count(DISTINCT tok) AS v FROM (
             SELECT unnest(t) AS tok FROM tk) q),
         sc AS (
           SELECT bg.doc_id,
             CAST(round(ln((cbt.cb + 1.0) / (cwt.cw + vt.v)), 6)
               AS DECIMAL(18,6)) AS term
           FROM bg JOIN cbt USING (b) JOIN cwt USING (w1) CROSS JOIN vt),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(CAST(sum(term) AS DOUBLE) / count(*), 4)
               AS mean_logprob
           FROM sc GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(agg.n_bigrams, 0) AS n_bigrams,
           agg.mean_logprob
         FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""",
    "q82_fhir_patient_bundles" ->
      """SELECT 'p' || CAST(c_custkey AS VARCHAR) AS patient_id,
           CASE c_custkey % 3 WHEN 0 THEN 'male'
             WHEN 1 THEN 'female' ELSE NULL END AS gender,
           CAST(1950 + c_custkey % 50 AS VARCHAR) || '-06-15'
             AS birth_date,
           c_custkey % 2 = 0 AS active,
           c_name AS family_name,
           c_mktsegment AS given_name,
           CASE c_custkey % 3 WHEN 0 THEN 'M'
             WHEN 1 THEN 'F' ELSE NULL END AS birth_sex
         FROM customer""",
    "q83_fhir_obs_roundtrip" ->
      """SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS obs_id,
           'p' || CAST(o_custkey AS VARCHAR) AS patient_id,
           'Patient/p' || CAST(o_custkey AS VARCHAR) AS subject_ref,
           CASE o_orderstatus WHEN 'F' THEN 'final'
             WHEN 'O' THEN 'preliminary' ELSE 'amended' END AS status,
           CAST(CAST(o_totalprice AS DECIMAL(12,4)) AS DOUBLE)
             AS value_qty,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS effective_ts
         FROM orders""",
    "q84_fhir_xml_ingest" ->
      """SELECT 'p' || CAST(c_custkey AS VARCHAR) AS patient_id,
           CASE c_custkey % 3 WHEN 0 THEN 'male'
             WHEN 1 THEN 'female' ELSE NULL END AS gender,
           CAST(1950 + c_custkey % 50 AS VARCHAR) || '-06-15'
             AS birth_date,
           c_name AS family_name,
           c_mktsegment AS given_name
         FROM customer""",
    // Only COMPLETED conversions; same greedy-earliest chain as q70.
    "q141_stream_funnel" ->
      """WITH b AS (
           SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
         s1 AS (
           SELECT user_id, min(ts) AS t1 FROM b
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT b.user_id, min(b.ts) AS t2
           FROM b JOIN s1 USING (user_id)
           WHERE b.event_type = 'click' AND b.ts > s1.t1
             AND b.ts <= s1.t1 + 2592000000000
           GROUP BY b.user_id),
         s3 AS (
           SELECT b.user_id, min(b.ts) AS t3
           FROM b JOIN s2 USING (user_id)
           WHERE b.event_type = 'purchase' AND b.ts > s2.t2
             AND b.ts <= s2.t2 + 2592000000000
           GROUP BY b.user_id)
         SELECT s1.user_id, s1.t1, s2.t2, s3.t3
         FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)""",
    // Incremental result == the full recursive closure over ALL edges.
    // Term-frequency histogram -> exact hapax share.
    "q169_hapax_profile" ->
      """WITH tf AS (
           SELECT source, tok, count(*) AS tf
           FROM (SELECT source, unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS tok
             FROM documents)
           GROUP BY 1, 2)
         SELECT source, count(*) AS n_vocab,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST((sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) * 1000000) //
             count(*) AS BIGINT) AS hapax_ppm
         FROM tf GROUP BY source""",
    // Hourly count moments -> exact var/mean in 1e6 units.
    "q170_burstiness" ->
      """WITH h AS (
           SELECT event_type, date_trunc('hour', ts) AS hr,
             count(*) AS c
           FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, count(*) AS n_hours,
                 sum(c) AS n_events, sum(c * c) AS sc2
               FROM h GROUP BY 1)
         SELECT event_type, n_hours,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(((n_hours * sc2 - n_events * n_events) * 1000000) //
             (n_hours * n_events) AS BIGINT) AS fano_e6
         FROM s""",
    // Multiset min/max sums per probe pair; exact integral ppm.
    "q168_weighted_jaccard" ->
      """WITH tok AS (
           SELECT doc_id AS id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS tok
             FROM documents)
           GROUP BY 1, 2),
         probes AS (
           SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
           FROM documents a
           WHERE a.doc_id % 5 = 0
             AND EXISTS (SELECT 1 FROM documents b
                         WHERE b.doc_id = a.doc_id + 1)),
         av AS (SELECT p.id_a, p.id_b, t.tok, t.tf AS ca
                FROM probes p JOIN tok t ON t.id = p.id_a),
         bv AS (SELECT p.id_a, p.id_b, t.tok, t.tf AS cb
                FROM probes p JOIN tok t ON t.id = p.id_b),
         m AS (SELECT coalesce(av.id_a, bv.id_a) AS id_a,
                 coalesce(av.id_b, bv.id_b) AS id_b,
                 coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
               FROM av FULL JOIN bv ON av.id_a = bv.id_a
                 AND av.id_b = bv.id_b AND av.tok = bv.tok)
         SELECT id_a, id_b,
           CAST(sum(least(ca, cb)) AS BIGINT) AS inter_tf,
           CAST(sum(greatest(ca, cb)) AS BIGINT) AS union_tf,
           CASE WHEN sum(greatest(ca, cb)) > 0
             THEN CAST((sum(least(ca, cb)) * 1000000) //
               sum(greatest(ca, cb)) AS BIGINT) END AS wj_ppm
         FROM m GROUP BY 1, 2""",
    // Distinct-level containment per candidate pair.
    "q166_ind_discovery" ->
      """WITH c AS (
           SELECT 'lineitem.l_orderkey<=orders.o_orderkey' AS candidate,
             (SELECT count(DISTINCT l_orderkey) FROM lineitem
              WHERE l_orderkey IS NOT NULL) AS ndv,
             (SELECT count(*) FROM
               (SELECT DISTINCT l_orderkey AS v FROM lineitem
                WHERE l_orderkey IS NOT NULL) a
              WHERE v NOT IN (SELECT o_orderkey FROM orders
                              WHERE o_orderkey IS NOT NULL))
               AS n_missing
           UNION ALL
           SELECT 'orders.o_custkey<=customer.c_custkey',
             (SELECT count(DISTINCT o_custkey) FROM orders
              WHERE o_custkey IS NOT NULL),
             (SELECT count(*) FROM
               (SELECT DISTINCT o_custkey AS v FROM orders
                WHERE o_custkey IS NOT NULL) a
              WHERE v NOT IN (SELECT c_custkey FROM customer
                              WHERE c_custkey IS NOT NULL))
           UNION ALL
           SELECT 'lineitem.l_suppkey<=supplier.s_suppkey',
             (SELECT count(DISTINCT l_suppkey) FROM lineitem
              WHERE l_suppkey IS NOT NULL),
             (SELECT count(*) FROM
               (SELECT DISTINCT l_suppkey AS v FROM lineitem
                WHERE l_suppkey IS NOT NULL) a
              WHERE v NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_suppkey IS NOT NULL))
           UNION ALL
           SELECT 'customer.c_custkey<=orders.o_custkey',
             (SELECT count(DISTINCT c_custkey) FROM customer
              WHERE c_custkey IS NOT NULL),
             (SELECT count(*) FROM
               (SELECT DISTINCT c_custkey AS v FROM customer
                WHERE c_custkey IS NOT NULL) a
              WHERE v NOT IN (SELECT o_custkey FROM orders
                              WHERE o_custkey IS NOT NULL))
           UNION ALL
           SELECT 'lineitem.l_partkey<=supplier.s_suppkey',
             (SELECT count(DISTINCT l_partkey) FROM lineitem
              WHERE l_partkey IS NOT NULL),
             (SELECT count(*) FROM
               (SELECT DISTINCT l_partkey AS v FROM lineitem
                WHERE l_partkey IS NOT NULL) a
              WHERE v NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_suppkey IS NOT NULL)))
         SELECT candidate, CAST(ndv AS BIGINT) AS ndv,
           CAST(n_missing AS BIGINT) AS n_missing,
           n_missing = 0 AS holds
         FROM c""",
    // Same exact sums; r = one fixed IEEE sequence.
    "q167_degree_assortativity" ->
      """WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.pk AS lo, b.pk AS hi
               FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2),
         deg AS (SELECT node, count(*) AS d
                 FROM (SELECT lo AS node FROM e
                       UNION ALL SELECT hi FROM e) GROUP BY 1),
         p AS (SELECT dl.d AS x, dh.d AS y
               FROM e JOIN deg dl ON dl.node = e.lo
               JOIN deg dh ON dh.node = e.hi),
         sym AS (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
         s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x * y) AS HUGEINT) AS sxy,
                 CAST(sum(x * x) AS HUGEINT) AS sxx,
                 CAST(sum(y * y) AS HUGEINT) AS syy
               FROM sym)
         SELECT (SELECT count(*) FROM e) AS n_edges,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n > 0 AND n * sxx - sx * sx <> 0
               AND n * syy - sy * sy <> 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE) /
               (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS assortativity
         FROM s""",
    // Rank over distinct values -> exact ppm percentile per row.
    "q164_quantile_transform" ->
      """WITH cum AS (
           SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM (SELECT source AS g,
                   CAST(n_chars AS DECIMAL(20,4)) AS v, count(*) AS c
                 FROM documents GROUP BY 1, 2))
         SELECT d.doc_id, d.source, d.n_chars,
           CAST(CASE WHEN cum.n = 1 THEN 0
             ELSE ((cum.cum - cum.c) * 1000000) // (cum.n - 1)
           END AS BIGINT) AS pct_ppm
         FROM documents d JOIN cum ON d.source = cum.g
           AND CAST(d.n_chars AS DECIMAL(20,4)) = cum.v""",
    // Integral 1e-4-unit LOO means; single-row categories NULL.
    "q165_target_encoding" ->
      """WITH t AS (
           SELECT event_id, event_type, value,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS tv
           FROM events),
         s AS (SELECT event_type, sum(tv) AS tsum, count(*) AS n
               FROM t GROUP BY 1)
         SELECT t.event_id, t.event_type, t.value,
           CASE WHEN s.n > 1
             THEN CAST((s.tsum - t.tv) // (s.n - 1) AS BIGINT) END
             AS loo_enc_e4
         FROM t JOIN s USING (event_type)""",
    // Same two-level distinct rollup per declared pair.
    "q163_fd_discovery" ->
      """WITH j AS (SELECT * FROM lineitem
                    JOIN orders ON l_orderkey = o_orderkey),
         u AS (
           SELECT 'l_orderkey' AS det, 'o_custkey' AS dep,
             coalesce(CAST(l_orderkey AS VARCHAR), ' null') AS av,
             coalesce(CAST(o_custkey AS VARCHAR), ' null') AS bv
           FROM j
           UNION ALL SELECT 'o_orderkey', 'o_orderstatus',
             coalesce(CAST(o_orderkey AS VARCHAR), ' null'),
             coalesce(o_orderstatus, ' null') FROM j
           UNION ALL SELECT 'l_orderkey', 'l_linenumber',
             coalesce(CAST(l_orderkey AS VARCHAR), ' null'),
             coalesce(CAST(l_linenumber AS VARCHAR), ' null') FROM j
           UNION ALL SELECT 'l_partkey', 'l_returnflag',
             coalesce(CAST(l_partkey AS VARCHAR), ' null'),
             coalesce(l_returnflag, ' null') FROM j
           UNION ALL SELECT 'o_custkey', 'o_orderpriority',
             coalesce(CAST(o_custkey AS VARCHAR), ' null'),
             coalesce(o_orderpriority, ' null') FROM j),
         g AS (SELECT det, dep, av, count(DISTINCT bv) AS ndb
               FROM u GROUP BY 1, 2, 3)
         SELECT det, dep, count(*) AS ndv_det,
           CAST(sum(ndb) AS BIGINT) AS ndv_pair,
           CAST(sum(CASE WHEN ndb > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_keys,
           sum(CASE WHEN ndb > 1 THEN 1 ELSE 0 END) = 0 AS holds
         FROM g GROUP BY 1, 2""",
    // The stream-static interval join equals the batch AS-OF lookup.
    "q162_stream_scd2_enrich" ->
      """WITH ch AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu
           FROM events WHERE event_type IN ('signup', 'error')),
         d AS (SELECT user_id, event_type, tsu, event_id,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY tsu, event_id) AS prev
               FROM ch),
         chg AS (SELECT user_id, event_type AS state, tsu,
                   lead(tsu) OVER (PARTITION BY user_id
                     ORDER BY tsu, event_id) AS next_tsu
                 FROM d WHERE prev IS NULL OR prev <> event_type)
         SELECT e.event_id, e.user_id, c.state, e.value
         FROM events e JOIN chg c ON e.user_id = c.user_id
           AND epoch_us(e.ts) >= c.tsu
           AND (c.next_tsu IS NULL OR epoch_us(e.ts) < c.next_tsu)
         WHERE e.event_type = 'purchase'""",
    // Exact 2-hop enumeration -> identical KMV estimator.
    "q161_two_hop_reach" ->
      """WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem GROUP BY 1, 2),
         ed AS (SELECT a.pk AS lo, b.pk AS hi
                FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2),
         sym AS (SELECT lo AS u, hi AS w FROM ed
                 UNION SELECT hi, lo FROM ed
                 UNION SELECT lo, lo FROM ed
                 UNION SELECT hi, hi FROM ed),
         hop2 AS (SELECT a.u, b.w
                  FROM sym a JOIN sym b ON a.w = b.u
                  GROUP BY 1, 2),
         h AS (SELECT u,
                 CAST(('0x' || substr(md5(CAST(w AS VARCHAR)), 1, 15))
                   AS BIGINT) AS hv
               FROM hop2),
         r AS (SELECT u, hv, row_number() OVER (PARTITION BY u
                 ORDER BY hv) AS rk
               FROM h),
         sk AS (SELECT u, CAST(count(*) AS INT) AS n_sketch,
                  max(hv) AS kth
                FROM r WHERE rk <= 32 GROUP BY u)
         SELECT u AS node, n_sketch,
           CASE WHEN n_sketch < 32 THEN CAST(n_sketch AS BIGINT)
             ELSE CAST(floor(31 * power(2, 60) /
               CAST(kth AS DOUBLE)) AS BIGINT) END AS reach2_est
         FROM sk""",
    // Exact integer ppm credit; window residual on the user hash join.
    "q159_attribution" ->
      """WITH tch AS (
           SELECT user_id AS u, epoch_us(ts) AS tt,
             'ch' || CAST(event_id % 4 AS VARCHAR) AS channel
           FROM events WHERE event_type = 'click'),
         cv AS (
           SELECT user_id AS u, epoch_us(ts) AS tc, event_id AS cid
           FROM events WHERE event_type = 'purchase'),
         pairs AS (
           SELECT t.channel, c.u, c.cid
           FROM tch t JOIN cv c ON t.u = c.u
             AND t.tt < c.tc AND t.tt >= c.tc - 604800000000),
         n AS (SELECT u, cid, count(*) AS n_touch
               FROM pairs GROUP BY 1, 2)
         SELECT p.channel, count(*) AS n_touches,
           count(DISTINCT p.cid) AS n_conversions,
           CAST(sum(1000000 // n.n_touch) AS BIGINT) AS credit_ppm
         FROM pairs p JOIN n ON p.u = n.u AND p.cid = n.cid
         GROUP BY p.channel""",
    // Same hash draws, same dedup-at-first-index, same rank.
    "q160_negative_sampling" ->
      """WITH pos AS (
           SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
           FROM orders o JOIN lineitem l
             ON o.o_orderkey = l.l_orderkey),
         dom AS (SELECT min(p_partkey) AS lo, max(p_partkey) AS hi
                 FROM part),
         cand AS (
           SELECT u, i,
             lo + CAST(('0x' || substr(md5('graft:' || u || '/' || i),
               1, 13)) AS BIGINT) % (hi - lo + 1) AS item
           FROM (SELECT DISTINCT u FROM pos), dom,
             (SELECT unnest(range(1, 17)) AS i)),
         real AS (SELECT c.* FROM cand c
                  WHERE c.item IN (SELECT p_partkey FROM part)),
         ded AS (
           SELECT r.u, r.item, min(r.i) AS mi
           FROM real r
           WHERE NOT EXISTS (SELECT 1 FROM pos p
             WHERE p.u = r.u AND p.item = r.item)
           GROUP BY 1, 2),
         rk AS (SELECT u, item, row_number() OVER (PARTITION BY u
                  ORDER BY mi) AS rank
                FROM ded)
         SELECT u AS o_custkey, CAST(rank AS INT) AS rank,
           item AS neg_l_partkey
         FROM rk WHERE rank <= 4""",
    // q124's stats machinery on both halves + integer drift flags.
    "q158_stats_drift" ->
      """WITH u AS (
           SELECT (ts < TIMESTAMP '2024-01-16') AS ref, colname, v
           FROM (
             SELECT ts, 'user_id' AS colname,
               CAST(user_id AS VARCHAR) AS v FROM events
             UNION ALL SELECT ts, 'event_type', event_type FROM events
             UNION ALL SELECT ts, 'props', props FROM events)),
         st AS (
           SELECT ref, colname, count(*) AS n,
             count(*) - count(v) AS n_nulls,
             min(v) AS min_s, max(v) AS max_s
           FROM u GROUP BY 1, 2),
         d AS (SELECT DISTINCT ref, colname,
                 CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
               FROM u WHERE v IS NOT NULL),
         r AS (SELECT ref, colname, h, row_number() OVER (
                 PARTITION BY ref, colname ORDER BY h) AS rk
               FROM d),
         sk AS (SELECT ref, colname, CAST(count(*) AS INT) AS n_sk,
                  max(h) AS kth
                FROM r WHERE rk <= 64 GROUP BY 1, 2),
         s2 AS (
           SELECT st.ref, st.colname, st.n, st.n_nulls, st.min_s,
             st.max_s,
             CASE WHEN sk.n_sk < 64 THEN CAST(sk.n_sk AS BIGINT)
               ELSE CAST(floor(63 * power(2, 60) /
                 CAST(sk.kth AS DOUBLE)) AS BIGINT) END AS ndv
           FROM st JOIN sk ON st.ref = sk.ref
             AND st.colname = sk.colname),
         j AS (
           SELECT a.colname, a.n AS ref_n, b.n AS cur_n,
             a.n_nulls AS ref_nulls, b.n_nulls AS cur_nulls,
             a.ndv AS ref_ndv, b.ndv AS cur_ndv,
             a.min_s AS ref_min, b.min_s AS cur_min,
             a.max_s AS ref_max, b.max_s AS cur_max
           FROM s2 a JOIN s2 b ON a.colname = b.colname
             AND a.ref AND NOT b.ref)
         SELECT colname, ref_n, cur_n, ref_nulls, cur_nulls, ref_ndv,
           cur_ndv, ref_min, cur_min, ref_max, cur_max,
           coalesce(nullif(concat_ws(',',
             CASE WHEN ref_min <> cur_min OR ref_max <> cur_max
               THEN 'range' END,
             CASE WHEN abs(cur_ndv - ref_ndv) * 5 > ref_ndv
               THEN 'ndv' END,
             CASE WHEN abs(cur_nulls * ref_n - ref_nulls * cur_n) * 5 >
               ref_nulls * cur_n THEN 'nulls' END), ''), 'ok')
             AS drift_flags
         FROM j""",
    // Same truth as q144: all-pairs levenshtein<=1.
    "q157_edit_join_rewrite" ->
      """SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",
    // Longest path == max over enumerated root paths (tree here, so
    // the recursion stays linear).
    "q156_dag_depth" ->
      """WITH RECURSIVE e AS (
           SELECT CAST(c_custkey // 2 AS BIGINT) AS parent,
             CAST(c_custkey AS BIGINT) AS child
           FROM customer WHERE c_custkey >= 2),
         nodes AS (SELECT parent AS node FROM e
                   UNION SELECT child FROM e),
         roots AS (SELECT node FROM nodes
                   WHERE node NOT IN (SELECT child FROM e)),
         p(node, dep) AS (
           SELECT node, CAST(0 AS BIGINT) FROM roots
           UNION ALL
           SELECT e.child, p.dep + 1 FROM p JOIN e ON p.node = e.parent)
         SELECT node, max(dep) AS depth FROM p GROUP BY 1""",
    // Doubled medians (m2 = two middle order stats, mad4 = doubled
    // again) keep everything in exact DECIMAL; 4.4478 = 3 * 1.4826.
    "q155_mad_outliers" ->
      """WITH v AS (SELECT source AS g,
             CAST(n_chars AS DECIMAL(20,4)) AS v
           FROM documents),
         cum1 AS (SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM (SELECT g, v, count(*) AS c FROM v GROUP BY 1, 2)),
         med AS (SELECT g, max(n) AS n,
             max(CASE WHEN cum - c <= (n - 1) // 2
               AND (n - 1) // 2 < cum THEN v END) +
             max(CASE WHEN cum - c <= n // 2
               AND n // 2 < cum THEN v END) AS m2
           FROM cum1 GROUP BY g),
         dev AS (SELECT v.g, abs(v.v * 2 - med.m2) AS v
                 FROM v JOIN med ON v.g = med.g),
         cum2 AS (SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY g) AS n
           FROM (SELECT g, v, count(*) AS c FROM dev GROUP BY 1, 2)),
         mad AS (SELECT g,
             max(CASE WHEN cum - c <= (n - 1) // 2
               AND (n - 1) // 2 < cum THEN v END) +
             max(CASE WHEN cum - c <= n // 2
               AND n // 2 < cum THEN v END) AS mad4
           FROM cum2 GROUP BY g),
         cnt AS (SELECT v.g,
             sum(CASE WHEN abs(v.v * 2 - med.m2) * 2 >
               4.4478 * mad.mad4 THEN 1 ELSE 0 END) AS n_outliers
           FROM v JOIN med ON v.g = med.g JOIN mad ON v.g = mad.g
           GROUP BY v.g)
         SELECT med.g AS source, CAST(med.n AS BIGINT) AS n,
           CAST(round(med.m2 * 0.5, 4) AS DOUBLE) AS median,
           CAST(round(mad.mad4 * 0.25, 4) AS DOUBLE) AS mad,
           CAST(cnt.n_outliers AS BIGINT) AS n_outliers
         FROM med JOIN mad ON med.g = mad.g
         JOIN cnt ON med.g = cnt.g""",
    // Mirrored-pair counts + (score desc, id asc) top-k.
    "q152_item_item_topk" ->
      """WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.pk AS s, b.pk AS d, count(*) AS n
               FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk <> b.pk
               GROUP BY 1, 2),
         r AS (SELECT s, d, n, row_number() OVER (PARTITION BY s
                 ORDER BY n DESC, d ASC) AS rk
               FROM e)
         SELECT s AS part, CAST(rk AS INT) AS rank, d AS neighbor,
           CAST(n AS BIGINT) AS n_co
         FROM r WHERE rk <= 5""",
    // Global running sum == per-hour run + cumulative carry; ends (-1)
    // sort before starts (+1) at equal instants (half-open sessions).
    "q153_peak_concurrency" ->
      """WITH b AS (
           SELECT epoch_us(ts) AS t, 1 AS d FROM events
           UNION ALL
           SELECT epoch_us(ts) + 600000000, -1 FROM events),
         r AS (SELECT t, d,
                 strftime(date_trunc('hour', make_timestamp(t)),
                   '%Y-%m-%d %H:%M:%S') AS hour,
                 sum(d) OVER (ORDER BY t, d
                   ROWS UNBOUNDED PRECEDING) AS run
               FROM b),
         a AS (SELECT hour, max(run) AS mxg, sum(d) AS net,
                 sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS n_starts
               FROM r GROUP BY 1),
         c AS (SELECT hour, n_starts, mxg,
                 coalesce(sum(net) OVER (ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS carry
               FROM a)
         SELECT hour, CAST(n_starts AS BIGINT) AS n_starts,
           CAST(greatest(carry, mxg) AS BIGINT) AS peak_concurrency
         FROM c""",
    // Exact integer lift over unigram/bigram counts; top-50 by
    // (lift desc, gram asc).
    "q154_phrase_lift" ->
      """WITH toks AS (
           SELECT list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0) AS tk
           FROM documents),
         uni AS (SELECT unnest(tk) AS tok FROM toks),
         u AS (SELECT tok, count(*) AS n1 FROM uni GROUP BY 1),
         tot AS (SELECT count(*) AS n_total FROM uni),
         bg AS (
           SELECT CASE WHEN len(tk) < 2
               THEN [array_to_string(tk, ' ')]
               ELSE list_transform(range(1, len(tk)),
                 i -> tk[i] || ' ' || tk[i+1]) END AS gs
           FROM toks),
         b2 AS (SELECT gram, count(*) AS n_ab
                FROM (SELECT unnest(gs) AS gram FROM bg)
                WHERE len(string_split(gram, ' ')) = 2
                GROUP BY 1 HAVING count(*) >= 5),
         sc AS (SELECT gram, n_ab, string_split(gram, ' ')[1] AS w1,
                  string_split(gram, ' ')[2] AS w2
                FROM b2),
         j AS (SELECT sc.gram, sc.n_ab, ua.n1 AS na, ub.n1 AS nb,
                 (sc.n_ab * t.n_total * 1000000) //
                   (ua.n1 * ub.n1) AS lift_ppm
               FROM sc JOIN u ua ON sc.w1 = ua.tok
               JOIN u ub ON sc.w2 = ub.tok
               CROSS JOIN tot t),
         r AS (SELECT *, row_number() OVER
                 (ORDER BY lift_ppm DESC, gram ASC) AS rank
               FROM j)
         SELECT CAST(rank AS INT) AS rank, gram,
           CAST(n_ab AS BIGINT) AS n_ab, CAST(na AS BIGINT) AS na,
           CAST(nb AS BIGINT) AS nb, CAST(lift_ppm AS BIGINT) AS lift_ppm
         FROM r WHERE rank <= 50""",
    // Hash-sample order statistics; rank indices are integer fractions.
    "q151_sampled_quantiles" ->
      """WITH h AS (
           SELECT source, doc_id, n_chars,
             CAST(('0x' || substr(md5('graft:' || source || '/' ||
               doc_id), 1, 13)) AS BIGINT) AS hv
           FROM documents),
         r AS (SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                   ORDER BY hv ASC, doc_id ASC) AS rk
               FROM h),
         s AS (SELECT source, n_chars AS v, doc_id
               FROM r WHERE rk <= 64),
         o AS (SELECT source, v,
                 row_number() OVER (PARTITION BY source
                   ORDER BY v, doc_id) AS vr,
                 count(*) OVER (PARTITION BY source) AS m
               FROM s),
         tot AS (SELECT source, count(*) AS n_rows
                 FROM documents GROUP BY 1)
         SELECT o.source, tot.n_rows, CAST(max(o.m) AS INT) AS n_sample,
           max(CASE WHEN vr = (1 * m + 3) // 4 THEN v END) AS p25,
           max(CASE WHEN vr = (1 * m + 1) // 2 THEN v END) AS p50,
           max(CASE WHEN vr = (3 * m + 3) // 4 THEN v END) AS p75,
           max(CASE WHEN vr = (9 * m + 9) // 10 THEN v END) AS p90
         FROM o JOIN tot ON o.source = tot.source
         GROUP BY o.source, tot.n_rows""",
    // The streaming state-store histogram equals the batch recount.
    "q149_stream_histogram" ->
      """WITH h AS (
           SELECT strftime(date_trunc('hour', ts),
               '%Y-%m-%d %H:%M:%S') AS hour,
             CAST(least(greatest(floor(value / 50), 0), 9) AS INT)
               AS bin,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT hour, sum(n) AS nh FROM h GROUP BY 1)
         SELECT h.hour, h.bin, h.n,
           CAST((h.n * 1000000) // t.nh AS BIGINT) AS share_ppm
         FROM h JOIN t ON h.hour = t.hour""",
    // Exact bins/counts/ppm; chi = one decimal->double mul+div per bin.
    "q145_drift_report" ->
      """WITH ev AS (
           SELECT event_type AS g,
             CAST(least(greatest(floor(value / 50), 0), 9) AS INT)
               AS bin,
             (ts < TIMESTAMP '2024-01-16') AS is_ref
           FROM events),
         cnt AS (SELECT g, bin,
                   sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS r,
                   sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS c
                 FROM ev GROUP BY 1, 2),
         bins AS (SELECT g, unnest(range(0, 10)) AS bin
                  FROM (SELECT DISTINCT g FROM ev)),
         f AS (SELECT b.g, CAST(b.bin AS INT) AS bin,
                 coalesce(r, 0) + 1 AS r1, coalesce(c, 0) + 1 AS c1
               FROM bins b LEFT JOIN cnt
                 ON b.g = cnt.g AND b.bin = cnt.bin),
         tot AS (SELECT g, sum(r1) AS nr1, sum(c1) AS nc1
                 FROM f GROUP BY 1)
         SELECT f.g AS event_type, f.bin,
           CAST(f.r1 - 1 AS BIGINT) AS ref_n,
           CAST(f.c1 - 1 AS BIGINT) AS cur_n,
           CAST((f.r1 * 1000000) // t.nr1 AS BIGINT) AS ref_ppm,
           CAST((f.c1 * 1000000) // t.nc1 AS BIGINT) AS cur_ppm,
           CAST(CAST(f.c1 AS HUGEINT) * t.nr1 -
                CAST(f.r1 AS HUGEINT) * t.nc1 AS DOUBLE) *
           CAST(CAST(f.c1 AS HUGEINT) * t.nr1 -
                CAST(f.r1 AS HUGEINT) * t.nc1 AS DOUBLE) /
           CAST(CAST(f.r1 AS HUGEINT) * t.nc1 * t.nr1 AS DOUBLE) AS chi
         FROM f JOIN tot t ON f.g = t.g""",
    // Neighborhood pairs == rank-difference self-join on the global
    // (name, custkey) order.
    "q150_sorted_neighborhood" ->
      """WITH r AS (
           SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             row_number() OVER (ORDER BY c_name, c_custkey) AS rk
           FROM customer)
         SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           CAST(b.rk - a.rk AS BIGINT) AS rank_dist,
           abs(b.c_acctbal - a.c_acctbal) AS bal_diff
         FROM r a JOIN r b
           ON b.rk > a.rk AND b.rk <= a.rk + 3
             AND a.c_nationkey = b.c_nationkey""",
    // The banded sweep equals the all-pairs NOT EXISTS skyline.
    "q143_pareto_frontier" ->
      """WITH spend AS (
           SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(18,4))) AS sp
           FROM orders GROUP BY 1),
         pts AS (
           SELECT c_custkey, coalesce(sp, 0) AS spend,
             c_acctbal AS acctbal
           FROM customer LEFT JOIN spend ON c_custkey = o_custkey)
         SELECT c_custkey, CAST(spend AS DOUBLE) AS spend, acctbal
         FROM pts p
         WHERE NOT EXISTS (
           SELECT 1 FROM pts q
           WHERE q.spend >= p.spend AND q.acctbal >= p.acctbal
             AND (q.spend > p.spend OR q.acctbal > p.acctbal))""",
    // Integer bit-length logs -> exact OLS sums -> one IEEE division.
    "q146_zipf_slope" ->
      """WITH toks AS (
           SELECT source AS g, unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS tok
           FROM documents),
         freq AS (SELECT g, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         pts AS (SELECT g, c,
             CAST(length(bin(row_number() OVER (PARTITION BY g
               ORDER BY c DESC, tok))) - 1 AS BIGINT) AS x,
             CAST(length(bin(c)) - 1 AS BIGINT) AS y
           FROM freq),
         s AS (SELECT g, count(*) AS n_vocab, sum(c) AS n_tokens,
                 sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                 sum(x * x) AS sxx
               FROM pts GROUP BY g)
         SELECT g AS source, CAST(n_vocab AS BIGINT) AS n_vocab,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN n_vocab * sxx - sx * sx <> 0
             THEN CAST(n_vocab * sxy - sx * sy AS DOUBLE) /
               CAST(n_vocab * sxx - sx * sx AS DOUBLE)
           END AS zipf_slope
         FROM s""",
    // Last-writer-wins MERGE of the synthesized change log.
    "q147_cdc_merge" ->
      """WITH lg AS (
           SELECT (event_id * 7 + user_id) % 2000 AS k,
             CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
             value AS v,
             row_number() OVER (
               PARTITION BY (event_id * 7 + user_id) % 2000
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events),
         latest AS (SELECT k, op, v FROM lg WHERE rn = 1)
         SELECT coalesce(c_custkey, k) AS key,
           CASE WHEN op IS NOT NULL THEN v ELSE c_acctbal END AS value,
           CASE WHEN op IS NOT NULL THEN 'upsert' ELSE 'base' END
             AS origin
         FROM customer FULL JOIN latest ON c_custkey = k
         WHERE op IS NULL OR op <> 'D'""",
    // Exact triangle/wedge/edge census; counts are orientation-invariant
    // so the oracle recounts with the plain a<b<c triple join.
    "q142_triangle_count" ->
      """WITH pr AS (SELECT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.pk AS lo, b.pk AS hi
               FROM pr a JOIN pr b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2),
         deg AS (SELECT node, count(*) AS d
                 FROM (SELECT lo AS node FROM e
                       UNION ALL SELECT hi AS node FROM e)
                 GROUP BY 1),
         tri AS (SELECT count(*) AS t
                 FROM e e1 JOIN e e2 ON e1.hi = e2.lo
                 JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
         SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT)
            FROM deg) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles""",
    // The blocked+verified join equals the all-pairs levenshtein<=1
    // result by the deletion-neighborhood superset property.
    "q144_edit_distance_join" ->
      """SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
         FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1""",
    // Misra-Gries candidates + exact recount == brute-force threshold.
    "q148_heavy_hitters" ->
      """WITH tok AS (
           SELECT unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS t
           FROM documents),
         tot AS (SELECT count(*) AS n_total FROM tok)
         SELECT t AS token, count(*) AS cnt,
           (SELECT n_total FROM tot) AS n_total
         FROM tok GROUP BY t
         HAVING count(*) * 40 > (SELECT n_total FROM tot)""",
    "q140_incremental_closure" ->
      """WITH RECURSIVE edges AS (
           SELECT CAST(c_custkey // 2 AS BIGINT) AS parent,
                  CAST(c_custkey AS BIGINT) AS child
           FROM customer WHERE c_custkey >= 1),
         anc(ancestor, descendant) AS (
           SELECT parent, child FROM edges
           UNION
           SELECT a.ancestor, e.child FROM anc a
           JOIN edges e ON a.descendant = e.parent)
         SELECT ancestor, descendant FROM anc
         WHERE ancestor <> descendant""",
    "q139_equidepth_histogram" ->
      """WITH cum AS (
           SELECT source, v, c,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
           FROM (SELECT source, CAST(n_chars AS DECIMAL(20,4)) AS v,
                   count(*) AS c
                 FROM documents GROUP BY 1, 2)),
         b AS (SELECT source,
                 CAST(((cum - c) * 8) // n AS INT) AS bucket, v, c
               FROM cum)
         SELECT source, bucket, CAST(min(v) AS DOUBLE) AS lo,
           CAST(max(v) AS DOUBLE) AS hi, CAST(sum(c) AS BIGINT) AS n_rows
         FROM b GROUP BY 1, 2""",
    "q138_stream_kmv_distinct" ->
      """WITH e AS (
           SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS hour,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS h
           FROM events),
         cnt AS (SELECT hour, count(*) AS n_events FROM e GROUP BY hour),
         d AS (SELECT DISTINCT hour, h FROM e),
         r AS (SELECT hour, h,
                 row_number() OVER (PARTITION BY hour ORDER BY h) AS rk
               FROM d),
         sk AS (SELECT hour, CAST(count(*) AS INT) AS n_sketch,
                  max(h) AS kth
                FROM r WHERE rk <= 64 GROUP BY hour)
         SELECT c.hour, c.n_events, s.n_sketch,
           CASE WHEN s.n_sketch < 64 THEN CAST(s.n_sketch AS BIGINT)
                ELSE CAST(floor(63 * power(2, 60) /
                  CAST(s.kth AS DOUBLE)) AS BIGINT) END AS est_distinct
         FROM cnt c JOIN sk s USING (hour)""",
    // Quantized integer dots -> deterministic neighbor ranking and votes.
    "q137_knn_label_prop" ->
      """WITH d AS (
           SELECT vec_id AS id, label, vec_id % 5 = 0 AS held,
             list_transform(embedding,
               x -> round(CAST(x AS DOUBLE) * 10000)) AS qv
           FROM embeddings),
         p AS (
           SELECT u.id AS uid, u.label AS true_label, l.id AS nid,
             l.label AS nlabel,
             list_sum(list_transform(range(1, len(u.qv) + 1),
               i -> u.qv[i] * l.qv[i])) AS dot
           FROM d u JOIN d l ON u.held AND NOT l.held),
         r AS (
           SELECT uid, true_label, nlabel,
             row_number() OVER (PARTITION BY uid
               ORDER BY dot DESC, nid) AS rk
           FROM p),
         v AS (SELECT uid, true_label, nlabel, count(*) AS n
               FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
         w AS (SELECT uid, true_label, nlabel, n,
                 row_number() OVER (PARTITION BY uid
                   ORDER BY n DESC, nlabel) AS wr
               FROM v)
         SELECT uid AS vec_id, nlabel AS predicted_label,
           CAST(n AS BIGINT) AS n_votes, true_label
         FROM w WHERE wr = 1""",
    // The stream emits exactly the CLOSED batch-SCD2 intervals (the open
    // run stays in state).
    "q134_stream_scd2" ->
      """WITH o AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         ch AS (
           SELECT user_id, event_type, event_id, tsu FROM o
           WHERE prev IS NULL OR prev <> event_type),
         iv AS (
           SELECT user_id, event_type AS attr, tsu AS valid_from_us,
             lead(tsu) OVER
               (PARTITION BY user_id ORDER BY tsu, event_id)
               AS valid_to_us,
             CAST(row_number() OVER
               (PARTITION BY user_id ORDER BY tsu, event_id) AS INT)
               AS version
           FROM ch)
         SELECT user_id, attr, valid_from_us, valid_to_us, version
         FROM iv WHERE valid_to_us IS NOT NULL""",
    // q134's oracle verbatim: the RocksDB provider is a state-STORAGE
    // swap and must not change a single emitted row
    "q285_stream_scd2_rocksdb" ->
      """WITH o AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         ch AS (
           SELECT user_id, event_type, event_id, tsu FROM o
           WHERE prev IS NULL OR prev <> event_type),
         iv AS (
           SELECT user_id, event_type AS attr, tsu AS valid_from_us,
             lead(tsu) OVER
               (PARTITION BY user_id ORDER BY tsu, event_id)
               AS valid_to_us,
             CAST(row_number() OVER
               (PARTITION BY user_id ORDER BY tsu, event_id) AS INT)
               AS version
           FROM ch)
         SELECT user_id, attr, valid_from_us, valid_to_us, version
         FROM iv WHERE valid_to_us IS NOT NULL""",
    "q135_bucket_pruning" ->
      """SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events WHERE user_id = 7 GROUP BY 1""",
    "q136_partition_pruning" ->
      """SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-05'
         GROUP BY 1""",
    "q131_mcv_stats" ->
      """WITH u AS (
           SELECT 'l_returnflag' AS colname, l_returnflag AS v
           FROM lineitem
           UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem
           UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR)
             FROM lineitem
           UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR)
             FROM lineitem),
         c AS (SELECT colname, v, count(*) AS n FROM u
               WHERE v IS NOT NULL GROUP BY colname, v),
         t AS (SELECT colname, CAST(sum(n) AS BIGINT) AS total
               FROM c GROUP BY colname),
         r AS (SELECT colname, v, n,
                 row_number() OVER (PARTITION BY colname
                   ORDER BY n DESC, v) AS rk
               FROM c)
         SELECT r.colname, CAST(rk AS INT) AS rank, v AS value, n,
           CAST(n AS DOUBLE) / total AS share
         FROM r JOIN t ON t.colname = r.colname WHERE rk <= 8""",
    "q132_fk_audit" ->
      """SELECT 'lineitem.l_orderkey->orders' AS relationship,
           count(*) AS n_rows,
           count(CASE WHEN o.o_orderkey IS NULL
             AND l.l_orderkey IS NOT NULL THEN 1 END) AS n_orphans,
           count(CASE WHEN l.l_orderkey IS NULL THEN 1 END) AS n_null_fk
         FROM lineitem l LEFT JOIN
           (SELECT DISTINCT o_orderkey FROM orders) o
           ON l.l_orderkey = o.o_orderkey
         UNION ALL
         SELECT 'lineitem.l_suppkey->supplier',
           count(*),
           count(CASE WHEN s.s_suppkey IS NULL
             AND l.l_suppkey IS NOT NULL THEN 1 END),
           count(CASE WHEN l.l_suppkey IS NULL THEN 1 END)
         FROM lineitem l LEFT JOIN
           (SELECT DISTINCT s_suppkey FROM supplier) s
           ON l.l_suppkey = s.s_suppkey
         UNION ALL
         SELECT 'orders.o_custkey->customer',
           count(*),
           count(CASE WHEN c.c_custkey IS NULL
             AND ord.o_custkey IS NOT NULL THEN 1 END),
           count(CASE WHEN ord.o_custkey IS NULL THEN 1 END)
         FROM orders ord LEFT JOIN
           (SELECT DISTINCT c_custkey FROM customer) c
           ON ord.o_custkey = c.c_custkey""",
    "q133_completeness_gaps" ->
      """WITH dt AS (
           SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, event_type
           FROM events),
         grid AS (
           SELECT day, event_type, CAST(unnest(range(0, 24)) AS INT)
             AS hour
           FROM dt),
         obs AS (
           SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, event_type,
             CAST(hour(ts) AS INT) AS hour
           FROM events)
         SELECT g.day, g.event_type, g.hour
         FROM grid g LEFT JOIN obs o
           ON g.day = o.day AND g.event_type = o.event_type
             AND g.hour = o.hour
         WHERE o.day IS NULL""",
    "q129_time_in_state" ->
      """WITH o AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         ch AS (
           SELECT user_id, event_type, tsu, event_id FROM o
           WHERE prev IS NULL OR prev <> event_type),
         iv AS (
           SELECT user_id, event_type AS attr, tsu AS vf,
             lead(tsu) OVER
               (PARTITION BY user_id ORDER BY tsu, event_id) AS vt
           FROM ch),
         ue AS (SELECT user_id, min(epoch_us(ts)) AS ustart,
                  max(epoch_us(ts)) AS uend
                FROM events GROUP BY user_id)
         SELECT i.user_id, i.attr,
           CAST(sum(coalesce(vt, uend) - vf) AS BIGINT) AS occupied_us,
           CASE WHEN uend - ustart = 0 THEN NULL
                ELSE CAST(CAST(sum(coalesce(vt, uend) - vf) AS BIGINT)
                  AS DOUBLE) / (uend - ustart) END AS share
         FROM iv i JOIN ue USING (user_id)
         GROUP BY i.user_id, i.attr, uend, ustart""",
    "q130_interval_islands" ->
      """WITH s AS (
           SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 600000000 AS e
           FROM events),
         m AS (
           SELECT user_id, event_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
           FROM s),
         f AS (
           SELECT user_id, event_id, s, e,
             CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END
               AS nw
           FROM m),
         g AS (
           SELECT user_id, s, e,
             sum(nw) OVER (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
           FROM f),
         i AS (SELECT user_id, island, min(s) AS is_, max(e) AS ie
               FROM g GROUP BY user_id, island)
         SELECT user_id, count(*) AS n_islands,
           CAST(sum(ie - is_) AS BIGINT) AS covered_us
         FROM i GROUP BY user_id""",
    // Salting must not change the answer: the oracle is the plain join.
    "q127_salted_join" ->
      """SELECT c_mktsegment AS segment, event_type, count(*) AS n,
           count(DISTINCT user_id) AS n_users
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2""",
    // Pivot cells with no underlying rows are NULL in Spark's pivot
    // (they come from absent (day,type) groups) -> NULLIF(count, 0).
    "q128_pivot_report" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
           NULLIF(count(*) FILTER (event_type = 'click'), 0) AS click_n,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
             FILTER (event_type = 'click') AS DOUBLE) AS click_sum_value,
           NULLIF(count(*) FILTER (event_type = 'error'), 0) AS error_n,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
             FILTER (event_type = 'error') AS DOUBLE) AS error_sum_value,
           NULLIF(count(*) FILTER (event_type = 'purchase'), 0)
             AS purchase_n,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
             FILTER (event_type = 'purchase') AS DOUBLE)
             AS purchase_sum_value,
           NULLIF(count(*) FILTER (event_type = 'signup'), 0) AS signup_n,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
             FILTER (event_type = 'signup') AS DOUBLE)
             AS signup_sum_value,
           NULLIF(count(*) FILTER (event_type = 'view'), 0) AS view_n,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
             FILTER (event_type = 'view') AS DOUBLE) AS view_sum_value
         FROM events GROUP BY 1""",
    // Prefix sums over the filtered rank prefix equal prefix sums over
    // the full ordered vocab; cum counts are exact integers in double,
    // so the single division is bit-identical.
    "q126_vocab_coverage" ->
      """WITH toks AS (
           SELECT unnest(list_filter(
             regexp_split_to_array(lower(trim(text)), '\s+'),
             x -> len(x) > 0)) AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
         r AS (SELECT tok, n,
                 row_number() OVER (ORDER BY n DESC, tok) AS rk
               FROM c)
         SELECT CAST(rk AS INT) AS rank, tok AS token,
           n AS n_occurrences,
           CAST(sum(n) OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS DOUBLE) / total AS cum_share
         FROM r CROSS JOIN t WHERE rk <= 512""",
    "q125_k_anonymity" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           json_extract_string(props, '$.k') AS profile,
           count(DISTINCT user_id) AS n_ids, count(*) AS n_rows
         FROM events GROUP BY 1, 2, 3
         HAVING count(DISTINCT user_id) < 5""",
    "q124_column_stats" ->
      """WITH u AS (
           SELECT 'l_orderkey' AS colname, CAST(l_orderkey AS VARCHAR) AS v,
             TRY_CAST(l_orderkey AS BIGINT) AS vn FROM lineitem
           UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR),
             TRY_CAST(l_partkey AS BIGINT) FROM lineitem
           UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR),
             TRY_CAST(l_suppkey AS BIGINT) FROM lineitem
           UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR),
             TRY_CAST(l_linenumber AS BIGINT) FROM lineitem
           UNION ALL SELECT 'l_returnflag', l_returnflag,
             TRY_CAST(l_returnflag AS BIGINT) FROM lineitem
           UNION ALL SELECT 'l_linestatus', l_linestatus,
             TRY_CAST(l_linestatus AS BIGINT) FROM lineitem),
         stats AS (
           SELECT colname, count(*) AS n_rows,
             count(*) - count(v) AS n_nulls,
             min(v) AS min_s, max(v) AS max_s,
             min(vn) AS min_num, max(vn) AS max_num
           FROM u GROUP BY colname),
         d AS (SELECT DISTINCT colname,
                 CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
               FROM u WHERE v IS NOT NULL),
         r AS (SELECT colname, h,
                 row_number() OVER (PARTITION BY colname ORDER BY h) AS rk
               FROM d),
         sk AS (SELECT colname, CAST(count(*) AS INT) AS n_sk,
                  max(h) AS kth
                FROM r WHERE rk <= 64 GROUP BY colname)
         SELECT s.colname, s.n_rows, s.n_nulls, s.min_s, s.max_s,
           s.min_num, s.max_num,
           CASE WHEN coalesce(k.n_sk, 0) < 64
                THEN CAST(coalesce(k.n_sk, 0) AS BIGINT)
                ELSE CAST(floor(63 * power(2, 60) /
                  CAST(k.kth AS DOUBLE)) AS BIGINT) END AS ndv_est
         FROM stats s LEFT JOIN sk k USING (colname)""",
    // Sketch merge + overlap arithmetic reproduced on relationally-built
    // sketches; division-before-multiplication order matches the Spark
    // side so the IEEE doubles land on identical bits.
    "q123_sketch_overlap" ->
      """WITH toks AS (
           SELECT source,
             unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS tok
           FROM documents),
         h AS (
           SELECT source,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
           FROM toks),
         d AS (SELECT DISTINCT source, h FROM h),
         r AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rk
               FROM d),
         sk AS (SELECT source, list_sort(list(h)) AS kmv
                FROM r WHERE rk <= 64 GROUP BY source),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
                 a.kmv AS ka, b.kmv AS kb
               FROM sk a JOIN sk b ON a.source < b.source),
         c AS (SELECT source_a, source_b,
                 list_sort(list_distinct(list_concat(ka, kb)))[1:64] AS u,
                 list_intersect(ka, kb) AS ab
               FROM p),
         m AS (SELECT source_a, source_b,
                 len(u) AS m, u[len(u)] AS theta,
                 len(list_intersect(u, ab)) AS shared
               FROM c)
         SELECT source_a, source_b,
           CAST(shared AS INT) AS n_shared_minima,
           CASE WHEN m < 64 THEN CAST(m AS BIGINT)
                ELSE CAST(floor(63 * power(2, 60) /
                  CAST(theta AS DOUBLE)) AS BIGINT) END AS union_est,
           CAST(floor((CAST(shared AS DOUBLE) / m) *
             (CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
                   ELSE 63 * power(2, 60) / CAST(theta AS DOUBLE) END))
             AS BIGINT) AS inter_est,
           CAST(shared AS DOUBLE) / m AS jaccard_est
         FROM m""",
    "q122_locf_enrich" ->
      """WITH o AS (
           SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu,
             json_extract_string(props, '$.k') AS a
           FROM events),
         w AS (
           SELECT event_id, user_id, event_type, tsu,
             last_value(a IGNORE NULLS) OVER win AS profile,
             last_value(CASE WHEN a IS NOT NULL THEN tsu END IGNORE NULLS)
               OVER win AS ats
           FROM o
           WINDOW win AS (PARTITION BY user_id ORDER BY tsu, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, tsu, profile,
           tsu - ats AS staleness_us
         FROM w WHERE event_type = 'purchase'""",
    // The layout changes the PLAN, not the answer: the oracle is the
    // plain join+aggregate.
    "q121_bucketed_join" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1""",
    // Every event expands to its 2 covering epoch-aligned window starts
    // (floor to the slide, and one slide earlier).
    "q120_stream_hopping_window" ->
      """WITH e AS (
           SELECT event_type, value, epoch_us(ts) AS tu FROM events),
         w AS (
           SELECT event_type, value,
             unnest([(tu // 1800000000) * 1800000000,
                     (tu // 1800000000) * 1800000000 - 1800000000])
               AS ws
           FROM e)
         SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S')
             AS win_start,
           event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM w GROUP BY 1, 2""",
    "q119_scd2_intervals" ->
      """WITH o AS (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         ch AS (
           SELECT user_id, event_type, event_id, tsu FROM o
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type AS attr, tsu AS valid_from_us,
           lead(tsu) OVER
             (PARTITION BY user_id ORDER BY tsu, event_id) AS valid_to_us,
           CAST(row_number() OVER
             (PARTITION BY user_id ORDER BY tsu, event_id) AS INT)
             AS version,
           lead(tsu) OVER
             (PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
             AS is_current
         FROM ch""",
    // Same shingle text -> md5-60 hash -> df cap -> ordered-pair overlap
    // as the Spark side; the empty-token shingle '' is kept (the kernel
    // emits one shingle for short docs), the df cap removes boilerplate.
    "q118_containment_dups" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0) AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS s
           FROM toks),
         ex AS (SELECT DISTINCT doc_id AS id,
                  CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
                FROM (SELECT doc_id, unnest(s) AS g FROM sh)),
         freq AS (SELECT h FROM ex GROUP BY h HAVING count(*) <= 100),
         rare AS (SELECT id, h FROM ex JOIN freq USING (h)),
         na AS (SELECT id, count(*) AS n_rare FROM rare GROUP BY id),
         ov AS (SELECT a.id AS contained_id, b.id AS container_id,
                  count(*) AS overlap
                FROM rare a JOIN rare b ON a.h = b.h AND a.id <> b.id
                GROUP BY 1, 2)
         SELECT o.contained_id, o.container_id, n.n_rare, o.overlap,
           CAST(o.overlap AS DOUBLE) / n.n_rare AS containment
         FROM ov o JOIN na n ON n.id = o.contained_id
         WHERE CAST(o.overlap AS DOUBLE) / n.n_rare >= 0.8""",
    // The identical fixed-point power iteration unrolled: all-bigint
    // floor division, so both engines land on the same bits. DuckDB sums
    // of BIGINT widen to HUGEINT -> cast back.
    "q117_pagerank_authority" ->
      """WITH p AS (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS s
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         edges AS (
           SELECT c * 2 AS src, s * 2 + 1 AS dst FROM p
           UNION ALL
           SELECT s * 2 + 1 AS src, c * 2 AS dst FROM p),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         nn AS (SELECT count(*) AS n FROM deg),
         st0 AS (
           SELECT src AS node, deg,
             1000000000000 // n AS rank,
             (15 * 1000000000000) // (100 * n) AS base
           FROM deg CROSS JOIN nn),
         c1 AS (SELECT e.dst AS node, CAST(sum(s.rank // s.deg) AS BIGINT) AS acc
                FROM edges e JOIN st0 s ON e.src = s.node GROUP BY e.dst),
         st1 AS (SELECT s.node, s.deg, s.base,
                   s.base + (85 * coalesce(c.acc, 0)) // 100 AS rank
                 FROM st0 s LEFT JOIN c1 c ON c.node = s.node),
         c2 AS (SELECT e.dst AS node, CAST(sum(s.rank // s.deg) AS BIGINT) AS acc
                FROM edges e JOIN st1 s ON e.src = s.node GROUP BY e.dst),
         st2 AS (SELECT s.node, s.deg, s.base,
                   s.base + (85 * coalesce(c.acc, 0)) // 100 AS rank
                 FROM st1 s LEFT JOIN c2 c ON c.node = s.node),
         c3 AS (SELECT e.dst AS node, CAST(sum(s.rank // s.deg) AS BIGINT) AS acc
                FROM edges e JOIN st2 s ON e.src = s.node GROUP BY e.dst),
         st3 AS (SELECT s.node, s.deg, s.base,
                   s.base + (85 * coalesce(c.acc, 0)) // 100 AS rank
                 FROM st2 s LEFT JOIN c3 c ON c.node = s.node)
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS node_key, deg, rank AS rank_fp
         FROM st3""",
    // Naive oracle: one global row_number over cents; value at 0-based
    // rank ceil(p*n)-1 per fraction.
    "q184_exact_quantiles" ->
      """WITH s AS (
           SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
             AS BIGINT) AS cents
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         r AS (SELECT cents, row_number() OVER (ORDER BY cents) - 1
                 AS rn
               FROM s),
         n AS (SELECT count(*) AS n_rows FROM s),
         t AS (SELECT * FROM (VALUES (1, 100), (1, 4), (1, 2), (3, 4),
                 (99, 100)) AS v(p_num, p_den))
         SELECT t.p_num, t.p_den,
           CAST((t.p_num * n.n_rows + t.p_den - 1) // t.p_den - 1
             AS BIGINT) AS rank,
           r.cents AS value, n.n_rows
         FROM t, n
         JOIN r ON r.rn = (t.p_num * n.n_rows + t.p_den - 1)
           // t.p_den - 1""",
    // Same exact min-rank bucket formula via plain windows (the oracle
    // may single-reduce; the engine may not).
    "q185_rfm_segments" ->
      """WITH rfm AS (
           SELECT o_custkey AS k,
             epoch_us(max(o_orderdate)) // 86400000000 AS r,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS m
           FROM orders
           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
           GROUP BY 1),
         lng AS (
           SELECT k, 'r' AS metric, r AS v FROM rfm
           UNION ALL SELECT k, 'f', f FROM rfm
           UNION ALL SELECT k, 'm', m FROM rfm),
         per AS (SELECT metric, v, count(*) AS c FROM lng
                 GROUP BY 1, 2),
         rk AS (SELECT metric, v,
             sum(c) OVER (PARTITION BY metric ORDER BY v) - c AS mr,
             sum(c) OVER (PARTITION BY metric) AS n
           FROM per),
         b AS (SELECT metric, v,
             CAST((mr * 5) // n + 1 AS INT) AS q FROM rk),
         scored AS (
           SELECT l.k,
             max(CASE WHEN l.metric = 'r' THEN b.q END) AS r_q,
             max(CASE WHEN l.metric = 'f' THEN b.q END) AS f_q,
             max(CASE WHEN l.metric = 'm' THEN b.q END) AS m_q
           FROM lng l JOIN b ON l.metric = b.metric AND l.v = b.v
           GROUP BY 1)
         SELECT s.r_q, s.f_q, s.m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rfm.m) AS BIGINT) AS sum_monetary_cents
         FROM scored s JOIN rfm ON s.k = rfm.k
         GROUP BY 1, 2, 3""",
    // Identical gap-sessionization + ordered string_agg path build.
    "q186_top_paths" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, ts FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
               THEN 1 ELSE 0 END AS ns
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s2 AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS sid
           FROM s),
         s3 AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
               ORDER BY ts, event_id) AS rn
           FROM s2),
         p AS (SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM s3 WHERE rn <= 8 GROUP BY 1, 2)
         SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         FROM p GROUP BY 1
         ORDER BY n_sessions DESC, path LIMIT 20""",
    // Naive oracle: every observed hour re-counts its trailing window
    // by range join (the rescan the engine's sweep avoids).
    "q187_sliding_distinct" ->
      """WITH uh AS (
           SELECT DISTINCT user_id AS u,
             epoch_us(ts) // 3600000000 AS h
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         hrs AS (SELECT DISTINCT h FROM uh)
         SELECT hrs.h AS hour,
           CAST(count(DISTINCT uh.u) AS BIGINT) AS rolling_users
         FROM hrs JOIN uh ON uh.h BETWEEN hrs.h - 23 AND hrs.h
         GROUP BY 1""",
    // Same apriori prune + within-basket pairs + integer ppm stats.
    "q188_association_rules" ->
      """WITH bi AS (
           SELECT DISTINCT l_orderkey AS b,
             CAST(l_partkey AS BIGINT) AS i
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         ic AS (SELECT i, count(*) AS ci FROM bi GROUP BY 1),
         fbi AS (SELECT bi.b, bi.i FROM bi
                 JOIN ic ON ic.i = bi.i WHERE ic.ci >= 2),
         pr AS (SELECT x.i AS ia, y.i AS ib, count(*) AS cp
           FROM fbi x JOIN fbi y ON x.b = y.b AND x.i < y.i
           GROUP BY 1, 2 HAVING count(*) >= 2),
         nb AS (SELECT count(DISTINCT b) AS nb FROM bi),
         rules AS (
           SELECT ia AS ante, ib AS cons, cp FROM pr
           UNION ALL SELECT ib, ia, cp FROM pr)
         SELECT r.ante, r.cons, CAST(r.cp AS BIGINT) AS pair_count,
           CAST(ca.ci AS BIGINT) AS ante_count,
           CAST(cb.ci AS BIGINT) AS cons_count,
           CAST(r.cp * 1000000 // ca.ci AS BIGINT) AS conf_ppm,
           CAST(CAST(r.cp AS HUGEINT) * nb.nb * 1000000 //
             (CAST(ca.ci AS HUGEINT) * cb.ci) AS BIGINT) AS lift_ppm
         FROM rules r
         JOIN ic ca ON ca.i = r.ante
         JOIN ic cb ON cb.i = r.cons, nb
         ORDER BY lift_ppm DESC, conf_ppm DESC, ante, cons
         LIMIT 25""",
    // row_number survivorship over the same three-feed union; ordering
    // (precedence, recency, tie) is unique per cell, so rn=1 == the
    // engine's max-struct winner.
    "q189_golden_record" ->
      """WITH u AS (
           SELECT c_custkey AS k, 'segment' AS a, c_mktsegment AS v,
             0 AS p, CAST(0 AS BIGINT) AS tu,
             CAST(c_custkey AS BIGINT) AS tie
           FROM customer
           UNION ALL
           SELECT c_custkey, 'name', c_name, 0, CAST(0 AS BIGINT),
             CAST(c_custkey AS BIGINT)
           FROM customer
           UNION ALL
           SELECT o_custkey, 'status', o_orderstatus, 1,
             epoch_us(o_orderdate), CAST(o_orderkey AS BIGINT)
           FROM orders
           UNION ALL
           SELECT o_custkey, 'priority', o_orderpriority, 1,
             epoch_us(o_orderdate), CAST(o_orderkey AS BIGINT)
           FROM orders
           UNION ALL
           SELECT o_custkey, 'status', 'FINAL', 2,
             epoch_us(o_orderdate), CAST(o_orderkey AS BIGINT)
           FROM orders WHERE o_orderstatus = 'F'),
         f AS (SELECT k, a, v, p, tu, tie,
             row_number() OVER (PARTITION BY k, a
               ORDER BY p DESC, tu DESC, tie DESC) AS rn,
             count(*) OVER (PARTITION BY k, a) AS nc
           FROM u
           WHERE k IS NOT NULL AND a IS NOT NULL AND v IS NOT NULL)
         SELECT k AS key, a AS attr, v AS value,
           CAST(p AS INT) AS src_precedence, tu AS updated_micros,
           CAST(nc AS BIGINT) AS n_candidates
         FROM f WHERE rn = 1""",
    // Descending cumulative (kept, positives) over distinct scores;
    // per target the lowest qualifying threshold wins.
    "q183_precision_threshold" ->
      """WITH s AS (
           SELECT CAST(n_chars AS BIGINT) AS v,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
           FROM documents WHERE n_chars IS NOT NULL),
         per AS (SELECT v, count(*) AS c, sum(pos) AS p
                 FROM s GROUP BY v),
         cum AS (SELECT v,
                   CAST(sum(c) OVER (ORDER BY v DESC) AS BIGINT)
                     AS n_kept,
                   CAST(sum(p) OVER (ORDER BY v DESC) AS BIGINT)
                     AS n_pos
                 FROM per),
         pr AS (SELECT v, n_kept, n_pos,
                  CAST(n_pos * 1000000 // n_kept AS BIGINT)
                    AS precision_ppm
                FROM cum),
         t AS (SELECT CAST(unnest([440000, 460000]) AS BIGINT)
                 AS target_ppm),
         j AS (SELECT t.target_ppm, pr.v, pr.n_kept, pr.n_pos,
                 pr.precision_ppm,
                 row_number() OVER (PARTITION BY t.target_ppm
                   ORDER BY pr.v) AS rk
               FROM t JOIN pr ON pr.precision_ppm >= t.target_ppm)
         SELECT target_ppm, v AS threshold, n_kept, n_pos,
           precision_ppm
         FROM j WHERE rk = 1""",
    // Both integer-dot rankings rebuilt relationally; recall is the
    // size of the rank<=10 intersection per query.
    "q182_quantization_recall" ->
      """WITH d AS (
           SELECT vec_id AS id,
             list_transform(embedding,
               x -> round(CAST(x AS DOUBLE) * 10000)) AS vh,
             list_transform(embedding,
               x -> round(CAST(x AS DOUBLE) * 16)) AS vl
           FROM embeddings),
         q AS (SELECT * FROM d WHERE id < 5),
         p AS (SELECT q.id AS query_id, c.id AS corpus_id,
                 list_sum(list_transform(range(1, len(c.vh) + 1),
                   i -> c.vh[i] * q.vh[i])) AS dh,
                 list_sum(list_transform(range(1, len(c.vl) + 1),
                   i -> c.vl[i] * q.vl[i])) AS dl
               FROM d c, q),
         rh AS (SELECT query_id, corpus_id, row_number()
                  OVER (PARTITION BY query_id
                    ORDER BY dh DESC, corpus_id) AS rk
                FROM p),
         rl AS (SELECT query_id, corpus_id, row_number()
                  OVER (PARTITION BY query_id
                    ORDER BY dl DESC, corpus_id) AS rk
                FROM p),
         th AS (SELECT query_id, corpus_id FROM rh WHERE rk <= 10),
         tl AS (SELECT query_id, corpus_id FROM rl WHERE rk <= 10),
         nh AS (SELECT query_id, CAST(count(*) AS INT) AS n_hi
                FROM th GROUP BY 1),
         nl AS (SELECT query_id, CAST(count(*) AS INT) AS n_lo
                FROM tl GROUP BY 1),
         cm AS (SELECT query_id, count(*) AS n_common
                FROM th JOIN tl USING (query_id, corpus_id) GROUP BY 1)
         SELECT nh.query_id, nh.n_hi, nl.n_lo,
           CAST(coalesce(cm.n_common, 0) AS INT) AS n_common,
           CAST(coalesce(cm.n_common, 0) * 1000000 // nh.n_hi AS BIGINT)
             AS recall_ppm
         FROM nh JOIN nl USING (query_id)
         LEFT JOIN cm USING (query_id)""",
    // Contingency-table combinatorics with doubled pair counts
    // (n(n-1)) so everything stays integral; HUGEINT throughout.
    "q181_partition_agreement" ->
      """WITH ct AS (
           SELECT source AS a, lang AS b, count(*) AS n
           FROM documents
           WHERE source IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         aside AS (SELECT count(*) AS n_clusters_a,
                     sum(CAST(na AS HUGEINT) * (na - 1)) AS r2
                   FROM (SELECT a, sum(n) AS na FROM ct GROUP BY a)),
         bside AS (SELECT count(*) AS n_clusters_b,
                     sum(CAST(nb AS HUGEINT) * (nb - 1)) AS c2
                   FROM (SELECT b, sum(n) AS nb FROM ct GROUP BY b)),
         cells AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                     sum(CAST(n AS HUGEINT) * (n - 1)) AS a2
                   FROM ct),
         pur AS (SELECT CAST(sum(mx) AS BIGINT) AS pur
                 FROM (SELECT a, max(n) AS mx FROM ct GROUP BY a))
         SELECT n_rows, n_clusters_a, n_clusters_b,
           CAST((CAST(n_rows AS HUGEINT) * (n_rows - 1)
               + 2 * a2 - r2 - c2) * 1000000 //
             (CAST(n_rows AS HUGEINT) * (n_rows - 1)) AS BIGINT)
             AS rand_ppm,
           CAST(CAST(pur AS HUGEINT) * 1000000 // n_rows AS BIGINT)
             AS purity_ppm
         FROM cells, aside, bside, pur
         WHERE n_rows > 1""",
    // Same (valid_from, tx, id) argmax per user under both cutoffs.
    "q180_bitemporal_asof" ->
      """WITH ch AS (
           SELECT user_id, ts AS valid_from,
             ts + to_hours(event_id % 48) AS tx_time,
             event_id, CAST(value AS DECIMAL(18,4)) AS v
           FROM events),
         f AS (SELECT * FROM ch
               WHERE valid_from <= TIMESTAMP '2024-01-20 00:00:00'
                 AND tx_time <= TIMESTAMP '2024-01-21 00:00:00'),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY valid_from DESC, tx_time DESC, event_id DESC)
                 AS rk
               FROM f)
         SELECT user_id, valid_from, tx_time, event_id AS change_id,
           CAST(v AS DOUBLE) AS value
         FROM r WHERE rk = 1""",
    // Recursive closure + self-pairs joined to per-node DECIMAL sums.
    "q179_subtree_rollup" ->
      """WITH RECURSIVE edges AS (
           SELECT CAST(c_custkey // 2 AS BIGINT) AS parent,
                  CAST(c_custkey AS BIGINT) AS child
           FROM customer WHERE c_custkey >= 1),
         anc(ancestor, descendant) AS (
           SELECT parent, child FROM edges
           UNION
           SELECT a.ancestor, e.child FROM anc a
           JOIN edges e ON a.descendant = e.parent),
         v AS (SELECT CAST(c_custkey AS BIGINT) AS descendant,
                 count(*) AS cnt,
                 sum(CAST(c_acctbal AS DECIMAL(18,2))) AS w
               FROM customer GROUP BY 1),
         pairs AS (
           SELECT ancestor, descendant FROM anc
           WHERE ancestor <> descendant
           UNION ALL
           SELECT descendant, descendant FROM v)
         SELECT p.ancestor AS node,
           CAST(sum(v.cnt) AS BIGINT) AS n_subtree,
           CAST(sum(v.w) AS DOUBLE) AS subtree_total
         FROM pairs p JOIN v USING (descendant)
         GROUP BY 1""",
    // Five HUGEINT moment sums per type over (epoch-hour, value*1e4);
    // the slope is the identical IEEE multiply+divide tail.
    "q178_ols_trend" ->
      """WITH o AS (
           SELECT event_type,
             epoch_us(ts) // 3600000000 AS x,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y4
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y4) AS HUGEINT) AS sy4,
                 CAST(sum(CAST(x AS HUGEINT) * y4) AS HUGEINT) AS sxy4,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
               FROM o GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(n * sxy4 - sx * sy4 AS BIGINT) AS slope_num_e4,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CASE WHEN n * sxx - sx * sx <> 0
             THEN CAST(n * sxy4 - sx * sy4 AS DOUBLE) /
               (CAST(n * sxx - sx * sx AS DOUBLE) * 10000.0)
           END AS slope_per_hour
         FROM s""",
    // Global running CDFs per side over distinct values; sup of the
    // exact integer cross-products in HUGEINT; ties -> largest value.
    "q177_ks_distance" ->
      """WITH obs AS (
           SELECT lang AS s, CAST(n_chars AS BIGINT) AS v
           FROM documents
           WHERE n_chars IS NOT NULL AND lang IN ('en', 'zh')),
         per AS (SELECT v,
                   sum(CASE WHEN s = 'en' THEN 1 ELSE 0 END) AS ca,
                   sum(CASE WHEN s = 'zh' THEN 1 ELSE 0 END) AS cb
                 FROM obs GROUP BY v),
         c AS (SELECT v,
                 sum(ca) OVER (ORDER BY v) AS cuma,
                 sum(cb) OVER (ORDER BY v) AS cumb
               FROM per),
         t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb,
                 count(*) AS nv
               FROM per),
         d AS (SELECT v, abs(CAST(cuma AS HUGEINT) * t.nb -
                 CAST(cumb AS HUGEINT) * t.na) AS diff
               FROM c, t),
         m AS (SELECT v, diff FROM d ORDER BY diff DESC, v DESC LIMIT 1)
         SELECT t.na AS n_a, t.nb AS n_b, t.nv AS n_values,
           m.v AS ks_at,
           CAST(m.diff * 1000000 // (CAST(t.na AS HUGEINT) * t.nb)
             AS BIGINT) AS ks_ppm
         FROM m, t""",
    // Rebuilds the whole estimator relationally per relationship: exact
    // heavy hitters (cnt*50 > N per side), hot-pair mass, and the KMV
    // tail ndv (255*2^60 exact in double), same integer arithmetic.
    "q176_join_size_estimate" ->
      """WITH sides AS (
           SELECT 'r1' AS rel, 'a' AS side,
             CAST(o_orderkey AS VARCHAR) AS k
           FROM orders WHERE o_orderkey IS NOT NULL
           UNION ALL SELECT 'r1', 'b', CAST(l_orderkey AS VARCHAR)
           FROM lineitem WHERE l_orderkey IS NOT NULL
           UNION ALL SELECT 'r2', 'a', CAST(c_custkey AS VARCHAR)
           FROM customer WHERE c_custkey IS NOT NULL
           UNION ALL SELECT 'r2', 'b', CAST(o_custkey AS VARCHAR)
           FROM orders WHERE o_custkey IS NOT NULL
           UNION ALL SELECT 'r3', 'a', o_orderstatus
           FROM orders WHERE o_orderstatus IS NOT NULL
           UNION ALL SELECT 'r3', 'b', l_linestatus
           FROM lineitem WHERE l_linestatus IS NOT NULL),
         tot AS (SELECT rel, side, count(*) AS n
                 FROM sides GROUP BY 1, 2),
         hh AS (SELECT s.rel, s.side, s.k
                FROM sides s
                JOIN tot t ON t.rel = s.rel AND t.side = s.side
                GROUP BY s.rel, s.side, s.k, t.n
                HAVING count(*) * 50 > t.n),
         hot AS (SELECT DISTINCT rel, k FROM hh),
         hc AS (SELECT h.rel, h.k,
                  sum(CASE WHEN s.side = 'a' THEN 1 ELSE 0 END) AS ca,
                  sum(CASE WHEN s.side = 'b' THEN 1 ELSE 0 END) AS cb
                FROM hot h
                LEFT JOIN sides s ON s.rel = h.rel AND s.k = h.k
                GROUP BY 1, 2),
         hs AS (SELECT rel, count(*) AS n_hot_keys,
                  CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS hot_pairs,
                  CAST(coalesce(max(ca * cb), 0) AS BIGINT)
                    AS worst_hot_pairs,
                  CAST(coalesce(sum(ca), 0) AS BIGINT) AS hot_a,
                  CAST(coalesce(sum(cb), 0) AS BIGINT) AS hot_b
                FROM hc GROUP BY rel),
         rest AS (SELECT s.rel, s.side,
                    CAST(('0x' || substr(md5(s.k), 1, 15)) AS BIGINT) AS h
                  FROM sides s
                  WHERE NOT EXISTS (SELECT 1 FROM hot
                    WHERE hot.rel = s.rel AND hot.k = s.k)),
         rd AS (SELECT DISTINCT rel, side, h FROM rest),
         rr AS (SELECT rel, side, h, row_number()
                  OVER (PARTITION BY rel, side ORDER BY h) AS rk
                FROM rd),
         nd AS (SELECT rel, side, count(*) AS m,
                  max(CASE WHEN rk <= 256 THEN h END) AS kth
                FROM rr GROUP BY 1, 2),
         ndv AS (SELECT rel, side,
                   CASE WHEN m < 256 THEN m
                     ELSE CAST(floor(255 * power(2, 60) / kth) AS BIGINT)
                   END AS ndv
                 FROM nd),
         sel AS (SELECT r.rel,
                   ta.n AS n_a, tb.n AS n_b,
                   coalesce(hs.n_hot_keys, 0) AS n_hot_keys,
                   coalesce(hs.hot_pairs, 0) AS hot_pairs,
                   coalesce(hs.worst_hot_pairs, 0) AS worst_hot_pairs,
                   ta.n - coalesce(hs.hot_a, 0) AS rest_a,
                   tb.n - coalesce(hs.hot_b, 0) AS rest_b,
                   coalesce(na.ndv, 0) AS ndv_rest_a,
                   coalesce(nb.ndv, 0) AS ndv_rest_b
                 FROM (SELECT DISTINCT rel FROM tot) r
                 JOIN tot ta ON ta.rel = r.rel AND ta.side = 'a'
                 JOIN tot tb ON tb.rel = r.rel AND tb.side = 'b'
                 LEFT JOIN hs ON hs.rel = r.rel
                 LEFT JOIN ndv na ON na.rel = r.rel AND na.side = 'a'
                 LEFT JOIN ndv nb ON nb.rel = r.rel AND nb.side = 'b'),
         est AS (SELECT *,
                   CASE WHEN greatest(ndv_rest_a, ndv_rest_b) > 0
                     THEN CAST((CAST(rest_a AS HUGEINT) * rest_b) //
                       greatest(ndv_rest_a, ndv_rest_b) AS BIGINT)
                     ELSE 0 END AS est_rest
                 FROM sel)
         SELECT CASE rel
             WHEN 'r1' THEN 'orders.o_orderkey~lineitem.l_orderkey'
             WHEN 'r2' THEN 'customer.c_custkey~orders.o_custkey'
             ELSE 'orders.o_orderstatus~lineitem.l_linestatus'
           END AS relationship,
           n_a, n_b, n_hot_keys, hot_pairs, worst_hot_pairs,
           rest_a, rest_b, ndv_rest_a, ndv_rest_b, est_rest,
           hot_pairs + est_rest AS est_total
         FROM est""",
    // Rebuilds the three per-query integer-dot rankings and the exact
    // integer RRF arithmetic; ties by id everywhere, like the Spark
    // bounded-top-k aggregate.
    "q175_rrf_fusion" ->
      """WITH d AS (
           SELECT vec_id AS id, list_transform(embedding,
             x -> round(CAST(x AS DOUBLE) * 10000)) AS qv
           FROM embeddings),
         q AS (SELECT id, qv FROM d WHERE id < 3),
         p AS (SELECT q.id AS query_id, c.id AS corpus_id,
                 list_sum(list_transform(range(1, len(c.qv) + 1),
                   i -> c.qv[i] * q.qv[i])) AS dot
               FROM d c, q),
         r AS (SELECT query_id, corpus_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY dot DESC, corpus_id) AS rk
               FROM p),
         con AS (SELECT corpus_id, CAST(rk AS INT) AS rk
                 FROM r WHERE rk <= 20),
         f AS (SELECT corpus_id, count(*) AS n_lists, min(rk) AS best_rank,
                 CAST(sum(1000000 // (60 + rk)) AS BIGINT) AS rrf_ppm
               FROM con GROUP BY 1),
         t AS (SELECT corpus_id, row_number()
                 OVER (ORDER BY rrf_ppm DESC, corpus_id) AS fr
               FROM f)
         SELECT f.corpus_id, CAST(t.fr AS INT) AS fused_rank, f.n_lists,
           f.best_rank, f.rrf_ppm
         FROM f JOIN t USING (corpus_id) WHERE t.fr <= 10""",
    // First digit from the decimal-snapped integral part; shares and
    // the Benford expectation table in exact integer ppm.
    "q172_benford_audit" ->
      """WITH v AS (
           SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v
           FROM orders WHERE o_totalprice >= 1),
         d AS (SELECT substr(CAST(CAST(floor(v) AS BIGINT) AS VARCHAR),
                 1, 1) AS digit
               FROM v),
         c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         t AS (SELECT sum(n) AS total FROM c),
         e AS (SELECT c.digit, c.n,
                 CAST(c.n * 1000000 // t.total AS BIGINT) AS share_ppm,
                 CASE c.digit WHEN '1' THEN 301030 WHEN '2' THEN 176091
                   WHEN '3' THEN 124939 WHEN '4' THEN 96910
                   WHEN '5' THEN 79181 WHEN '6' THEN 66947
                   WHEN '7' THEN 57992 WHEN '8' THEN 51153
                   WHEN '9' THEN 45757 END AS benford_ppm
               FROM c, t)
         SELECT digit, n, share_ppm, CAST(benford_ppm AS BIGINT)
             AS benford_ppm,
           CAST(share_ppm - benford_ppm AS BIGINT) AS delta_ppm
         FROM e""",
    // Per-user category counts -> exact 1e6 - sum(c^2)*1e6 div n^2.
    "q173_mix_diversity" ->
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS c
           FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_categories,
           CAST(sum(c) AS BIGINT) AS n_obs,
           CAST(1000000 - (sum(c * c) * 1000000 //
             (sum(c) * sum(c))) AS BIGINT) AS simpson_ppm
         FROM c GROUP BY user_id""",
    // Hourly series self-joined at each lag; exact Pearson sums with
    // the fixed IEEE tail (casts, sqrt, multiply, divide).
    "q174_count_autocorr" ->
      """WITH h AS (
           SELECT date_trunc('hour', ts) AS hr, count(*) AS c
           FROM events GROUP BY 1),
         lags AS (SELECT unnest([1, 2, 24]) AS lag),
         p AS (SELECT l.lag, a.c AS x, b.c AS y
               FROM lags l
               JOIN h a ON true
               JOIN h b ON b.hr = a.hr + to_hours(l.lag)),
         s AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x * y) AS HUGEINT) AS sxy,
                 CAST(sum(x * x) AS HUGEINT) AS sxx,
                 CAST(sum(y * y) AS HUGEINT) AS syy
               FROM p GROUP BY lag)
         SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n > 0 AND n * sxx - sx * sx <> 0
               AND n * syy - sy * sy <> 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE) /
               (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           END AS autocorr
         FROM s""",
    // Each cube level's sketch rebuilt DIRECTLY from the raw hashes
    // (k-th smallest distinct per level) — equal to Spark's merged
    // cell sketches by the lossless-merge property. 127*2^60 exact.
    "q171_kmv_rollup" ->
      """WITH h AS (
           SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS h
           FROM events WHERE user_id IS NOT NULL),
         lv AS (
           SELECT 'cell' AS level, day, event_type, h FROM h
           UNION ALL SELECT 'day', day, NULL, h FROM h
           UNION ALL SELECT 'event_type', NULL, event_type, h FROM h
           UNION ALL SELECT 'total', NULL, NULL, h FROM h),
         cnt AS (SELECT level, day, event_type, count(*) AS n_values
                 FROM lv GROUP BY 1, 2, 3),
         d AS (SELECT DISTINCT level, day, event_type, h FROM lv),
         r AS (SELECT level, day, event_type, h,
                 row_number() OVER (PARTITION BY level, day, event_type
                   ORDER BY h) AS rk
               FROM d),
         sk AS (SELECT level, day, event_type,
                  CAST(count(*) AS INT) AS n_sketch, max(h) AS kth_min
                FROM r WHERE rk <= 128 GROUP BY 1, 2, 3)
         SELECT c.level, c.day, c.event_type, c.n_values, s.n_sketch,
           s.kth_min,
           CASE WHEN s.n_sketch < 128 THEN CAST(s.n_sketch AS BIGINT)
             ELSE CAST(floor(127 * power(2, 60) / s.kth_min) AS BIGINT)
           END AS est_distinct
         FROM cnt c JOIN sk s ON c.level = s.level
           AND c.day IS NOT DISTINCT FROM s.day
           AND c.event_type IS NOT DISTINCT FROM s.event_type""",
    // Rebuilds the KMV sketch relationally: k-th smallest distinct
    // portable hash per source. 63*power(2,60) is exact in double and the
    // single IEEE division is bit-identical across engines.
    "q116_kmv_distinct" ->
      """WITH toks AS (
           SELECT source,
             unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> len(x) > 0)) AS tok
           FROM documents),
         h AS (
           SELECT source,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
           FROM toks),
         cnt AS (SELECT source, count(*) AS n_values FROM h GROUP BY source),
         d AS (SELECT DISTINCT source, h FROM h),
         r AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rk
               FROM d),
         sk AS (SELECT source, CAST(count(*) AS INT) AS n_sketch,
                  max(h) AS kth_min
                FROM r WHERE rk <= 64 GROUP BY source)
         SELECT c.source, c.n_values, s.n_sketch, s.kth_min,
           CASE WHEN s.n_sketch < 64 THEN CAST(s.n_sketch AS BIGINT)
                ELSE CAST(floor(63 * power(2, 60) /
                  CAST(s.kth_min AS DOUBLE)) AS BIGINT) END AS est_distinct
         FROM cnt c JOIN sk s USING (source)""",
  )
}
