package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Training-pipeline operators: dedup, text analysis, similarity,
  * multimodal plumbing. */
class OpsSpec extends SparkSuite {

  import org.apache.spark.sql.DataFrame

  private lazy val docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"), // near dup
      (4L, "completely different content about spark engines"),
      (5L, "")).toDF("doc_id", "text")
  }

  test("exact dedup keeps min-id row per content") {
    val kept = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 3L, 4L, 5L))
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("keeper_id") === 1L)
    assert(groups.head.getAs[Long]("n_dups") === 2L)
  }

  test("containment finds the subset doc symmetric Jaccard misses") {
    import spark.implicits._
    val quote = (1 to 30).map(i => s"rare$i").mkString(" ")
    val page = quote + " " + (1 to 120).map(i => s"other$i").mkString(" ")
    val unrelated = (1 to 40).map(i => s"else$i").mkString(" ")
    val df = Seq((1L, quote), (2L, page), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentNearDups(df, "doc_id", "text",
      shingleSize = 3, threshold = 0.9, maxShingleDf = 100)
    val m = pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // the quote is fully contained in the page...
    assert(m((1L, 2L)) === 1.0)
    // ...but NOT vice versa (page has 4x extra shingles), and the
    // symmetric-Jaccard value would be ~0.2 — below any dedup threshold
    assert(!m.contains((2L, 1L)))
    assert(!m.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containment stop-shingle cap removes boilerplate-only pairs") {
    import spark.implicits._
    // every doc shares the same 10-word boilerplate header; bodies are
    // disjoint. With the df cap at 3 (< 12 docs) the header shingles are
    // stop shingles and no pair survives.
    val header = (1 to 10).map(i => s"bp$i").mkString(" ")
    val docs = (1L to 12L).map(i =>
      (i, header + " " + (1 to 20).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentNearDups(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.5, maxShingleDf = 3)
    assert(pairs.count() === 0L)
  }

  test("minhash near-dup finds the near pair but not unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs.where(col("doc_id") =!= 5),
      "doc_id", "text", shingleSize = 2, numHashes = 16, bands = 8,
      threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated
  }

  test("simhash: identical texts have distance 0, near texts small distance") {
    import spark.implicits._
    val sigs = docs.where(col("doc_id") =!= 5)
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) === sigs(2L))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val dups = Dedup.simhashNearDups(docs.where(col("doc_id") =!= 5),
      "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((1L, 2L)))
  }

  test("simhash: rotated rescue band recovers a pair whose only aligned " +
    "chunk is buried in an over-cap bucket (full recall vs brute force)") {
    import spark.implicits._
    // Adversarial fixture. The target pair (1, 2): identical aligned
    // chunk 0 (= 0x1234), and one flipped bit in EACH of aligned chunks
    // 1..3 — so chunk 0 is the pair's ONLY matching aligned chunk.
    val base = 0x1234L // aligned chunk 0 value shared by the whole crowd
    val sigA = base | (0xAAAAL << 16) | (0x5555L << 32) | (0x0F0FL << 48)
    val sigB = sigA ^ (1L << 17) ^ (1L << 33) ^ (1L << 49) // hamming 3
    // 60 crowd docs share aligned chunk 0: that bucket holds 62 ids,
    // over the cap of 20 → dropped. Their rotated-chunk buckets hold at
    // most 16 ids each, under the cap — the rescue path stays open.
    val crowd = (10L until 70L).map { i =>
      (i, base | (i << 16) | (i << 36) | ((i % 13) << 56))
    }
    val sigs = ((1L, sigA) +: (2L, sigB) +: crowd).toDF("id", "sig")
    val got = Dedup.simhashPairsFromSigs(sigs, maxHamming = 3,
        maxBucketSize = 20)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0) min r.getLong(1),
        r.getLong(0) max r.getLong(1))).toSet
    // brute-force reference: every pair within hamming 3
    val all = ((1L, sigA) +: (2L, sigB) +: crowd)
    val want = (for {
      (ia, sa) <- all; (ib, sb) <- all if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(want.contains((1L, 2L))) // the fixture is what it claims
    assert(got === want,
      s"missed: ${(want -- got).mkString(",")} extra: ${(got -- want).mkString(",")}")
  }

  test("decontamination: overlap counts against a broadcast benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "the capital of france is paris"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "we know the capital of france is paris indeed"), // contaminated
      (2L, "a completely unrelated training document"),
      (3L, "capital of france appears here too")) // shares one 3-gram
      .toDF("doc_id", "text")
    val got = Dedup.ngramOverlap(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 100L)) === 4L) // all 4 benchmark 3-grams appear
    assert(got((3L, 100L)) === 1L) // "capital of france" only
    assert(!got.contains((2L, 100L)))
  }

  test("repetition stats: duplicate-token and top-gram shares") {
    import spark.implicits._
    val in = Seq(
      (1L, "spam spam spam ham"), // 'spam' 3/4, distinct 2/4
      (2L, "all words here differ"), // no repeats
      (3L, "go go go go")) // single token+bigram dominates
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(in, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) === ((4L, 0.5, 0.75, 2.0 / 3)))   // bigrams: spam spam ×2 of 3
    assert(got(2L) === ((4L, 0.0, 0.25, 1.0 / 3)))
    assert(got(3L) === ((4L, 0.75, 1.0, 1.0)))
  }

  test("text analysis: token counts, ratios, empty-text edge cases") {
    import spark.implicits._
    val got = TextAnalysis.analyze(docs, "text")
      .select("doc_id", "n_tokens", "punct_ratio", "quality", "lang_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Int]("n_tokens") === 9)
    assert(got(5L).getAs[Int]("n_tokens") === 0)
    assert(got(5L).getAs[Double]("punct_ratio") === 0.0)
    assert(got(1L).getAs[String]("lang_id") === "en")
    // deterministic fingerprint: same text → same fingerprint
    val fps = TextAnalysis.analyze(docs, "text")
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("similarity: brute-force top-k self-match ranks first") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") === 1), "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(top.length === 2)
    assert(top(0).getAs[Long]("corpus_id") === 1L) // self at rank 1
    assert(top(1).getAs[Long]("corpus_id") === 2L) // nearest neighbor
  }

  test("topk aggregate matches row_number window on random scores") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random scores incl. exact ties across 40 corpus
    // rows x 3 queries, spread over several partitions so merge() runs
    val rnd = new scala.util.Random(7)
    val scored = (for {
      q <- 0L until 3L
      c <- 0L until 40L
    } yield (q, c, math.floor(rnd.nextDouble() * 10) / 10)) // coarse → ties
      .toDF("query_id", "corpus_id", "score").repartition(8)
    val viaAgg = scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(col("score"), col("corpus_id"), 5).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("corpus_id"),
        col("col.score").as("score"), (col("pos") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("corpus_id").asc)
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(viaAgg === viaWindow)
  }

  test("topk aggregate supports string ids") {
    import spark.implicits._
    val scored = Seq(
      (1L, "b", 0.5), (1L, "a", 0.5), (1L, "c", 0.9), (1L, "d", 0.1))
      .toDF("query_id", "corpus_id", "score")
    val got = scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(col("score"), col("corpus_id"), 3).as("topk"))
      .select(explode(col("topk.id")).as("id"))
      .as[String].collect()
    assert(got.toSeq === Seq("c", "a", "b")) // tie at 0.5 → id asc
  }

  test("bounded_collect_set caps buffers and nulls oversize groups") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i % 3, i)).toDF("g", "v")
      .union(Seq((99L, 7L), (99L, 7L)).toDF("g", "v")) // dup values, 1 distinct
      .repartition(8)
    val got = df.groupBy(col("g"))
      .agg(graft.functions.GraftFunctions
        .boundedCollectSet(col("v"), 10).as("ids"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(0L) === None) // 34 distinct values > cap 10 → null
    assert(got(99L).get.asInstanceOf[scala.collection.Seq[Long]] === Seq(7L))
    // exactly-at-cap group is kept and sorted
    val atCap = (0L until 10L).map(i => (1L, 9L - i)).toDF("g", "v")
      .groupBy(col("g"))
      .agg(graft.functions.GraftFunctions
        .boundedCollectSet(col("v"), 10).as("ids"))
      .collect().head.getAs[scala.collection.Seq[Long]]("ids")
    assert(atCap === (0L until 10L))
  }

  test("topk aggregate skips NaN scores instead of pinning them") {
    import spark.implicits._
    val scored = Seq((1L, 10L, Double.NaN), (1L, 11L, 0.3), (1L, 12L, 0.9))
      .toDF("query_id", "corpus_id", "score")
    val ids = scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(col("score"), col("corpus_id"), 2).as("topk"))
      .select(explode(col("topk.id")).as("id")).as[Long].collect()
    assert(ids.toSeq === Seq(12L, 11L)) // NaN row excluded, not rank 1
  }

  test("bounded_collect_set and cosineNearDups accept string/long ids") {
    import spark.implicits._
    val got = Seq((1L, "a"), (1L, "b"), (1L, "a"))
      .toDF("g", "v")
      .groupBy(col("g"))
      .agg(graft.functions.GraftFunctions
        .boundedCollectSet(col("v"), 5).as("ids"))
      .collect().head.getAs[scala.collection.Seq[String]]("ids")
    assert(got === Seq("a", "b"))
    val vecs = Seq(
      (7L, Array(1.0f, 0.0f)), (8L, Array(0.99f, 0.01f)),
      (9L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val dups = Similarity.cosineNearDups(vecs, "vec_id", "embedding",
      dim = 2, threshold = 0.9, numPlanes = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.toSet === Set((7L, 8L)))
  }

  test("giniConcentration: uniform group is 0, near-total " +
    "concentration approaches (n-1)/n, ties order-independent") {
    import spark.implicits._
    val df = (Seq.fill(8)(("even", 100L)) ++
      (Seq.fill(7)(("skew", 0L)) :+ (("skew", 1000L))) ++
      Seq(("pair", 1L), ("pair", 3L)))
      .toDF("g", "v")
    val got = Profiling.giniConcentration(df, "g", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.get(3)))).toMap
    assert(got("even") === ((8L, 800L, 0L)))
    // all mass on one of 8 rows: G = (n-1)/n = 7/8 = 875000 ppm
    assert(got("skew") === ((8L, 1000L, 875000L)))
    // {1, 3}: G = (2*(1*1+2*3) - 3*4) / (2*4) = 2/8 -> 250000 ppm
    assert(got("pair") === ((2L, 4L, 250000L)))
    // a zero-sum group reports null gini, not a division error
    val z = Profiling.giniConcentration(
        Seq(("z", 0L), ("z", 0L)).toDF("g", "v"), "g", "v")
      .collect().head
    assert(z.isNullAt(3))
  }

  test("bootstrapMeanCi: constant-valued group collapses to a " +
    "degenerate interval at the exact mean; varied group brackets it") {
    import spark.implicits._
    val df = ((1 to 50).map(i => ("const", i.toLong, 7L)) ++
      (1 to 200).map(i => ("vary", 1000L + i, (i % 100).toLong)))
      .toDF("g", "id", "v")
    val got = graft.ops.Profiling.bootstrapMeanCi(df, "g", "id", "v",
        b = 40)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // every replica of an all-7 group has mean exactly 7.0000
    assert(got("const") === ((50L, 70000L, 70000L, 70000L)))
    val (n, m, lo, hi) = got("vary")
    assert(n === 200L && lo <= hi)
    // the interval surrounds the full-sample mean on this benign fixture
    assert(lo <= m && m <= hi, s"mean $m outside [$lo, $hi]")
  }

  test("fkIntegrityAudit: exact match/orphan/null splits and ppm") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), Some(9L),
      Some(8L), None).toDF("fk")
    val r = graft.ops.Profiling.fkIntegrityAudit(child, "fk", parent,
      "pk", "t").collect().head
    assert(r.getString(0) === "t")
    assert(r.getLong(1) === 7L)  // n_child
    assert(r.getLong(2) === 1L)  // n_null_fk
    assert(r.getLong(3) === 3L)  // n_matched
    assert(r.getLong(4) === 3L)  // n_orphans (9,9,8)
    assert(r.getLong(5) === 2L)  // n_orphan_keys {9,8}
    assert(r.getLong(6) === 3L * 1000000L / 7L) // orphan_ppm floor
  }

  test("clusterDensityReport: triangle is a 1e6-density clique, a " +
    "4-chain is 500000") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs)
    val got = Dedup.clusterDensityReport(clusters, pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((3L, 3L, 1000000L)))
    // chain 10-11-12-13: 4 members, 3 pairs of C(4,2)=6 -> 500000
    assert(got(10L) === ((4L, 3L, 500000L)))
  }

  test("quotaAllocation: quotas sum exactly to the budget, each within " +
    "1 of the exact share, remainder ties break by cell asc") {
    import spark.implicits._
    // masses 5/3/2 over budget 7: exact shares 3.5/2.1/1.4, floors
    // 3/2/1 (sum 6), one seat left -> largest remainder .5 -> cell a
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .toDF("cell")
    val got = Splits.quotaAllocation(df, "cell", budget = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got === Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    // remainder tie: masses 1/1 budget 3 -> floors 1/1, one seat, both
    // remainders 1/2 -> tie to the ascending cell
    val tie = Seq("x", "y").toDF("cell")
    val got2 = Splits.quotaAllocation(tie, "cell", budget = 3L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got2 === Map("x" -> 2L, "y" -> 1L))
    // invariant at a messier size: sum == budget, |quota - share| <= 1
    val big = (1 to 500).map(i => s"c${i % 13}").toDF("cell")
    val q3 = Splits.quotaAllocation(big, "cell", budget = 9973L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(q3.map(_._3).sum === 9973L)
    q3.foreach { case (_, n, q) =>
      val exact = 9973.0 * n / 500.0
      assert(math.abs(q - exact) <= 1.0, s"quota $q vs share $exact")
    }
  }

  test("linkageAgreementPatterns: crafted blocks produce the exact " +
    "pattern table; oversize blocks are dropped") {
    import spark.implicits._
    // one block of 3 records: pairs (1,2) agree on f1 only, (1,3) on
    // f2 only, (2,3) on neither; plus a 70-record block that must drop
    val blockA = Seq(
      (1L, "B", "x", "p"), (2L, "B", "x", "q"), (3L, "B", "y", "p"))
    val big = (100L to 169L).map(i => (i, "C", s"v$i", s"w$i"))
    val df = (blockA ++ big).toDF("id", "blk", "f1", "f2")
    val got = graft.ops.Profiling.linkageAgreementPatterns(df, "id",
        Seq("blk"), Seq("f1", "f2"), maxBlockSize = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // T=3, m1=1, m2=1: patterns (1,0), (0,1), (0,0) each once
    assert(got === Map((1L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 0L) -> 1L))
  }

  test("corpusChecksum: invariant under repartition/order, sensitive " +
    "to any row change, nulls distinct from the string 'null'") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    def row(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Profiling.corpusChecksum(d, Seq("id", "v"), "t")
        .collect().head.toSeq
    val base = row(df)
    assert(row(df.repartition(7)) === base)
    assert(row(df.orderBy(col("v").desc)) === base)
    assert(row(Seq((1L, "a"), (2L, "b"), (3L, "d")).toDF("id", "v"))
      !== base)
    val withNull = row(Seq((1L, null.asInstanceOf[String]))
      .toDF("id", "v"))
    val withLiteral = row(Seq((1L, "null")).toDF("id", "v"))
    assert(withNull !== withLiteral)
  }

  test("piiAuditExtended: Luhn split, octet-valid IPv4 split, phone " +
    "count on crafted text") {
    import spark.implicits._
    val docs = Seq(
      // one valid card, one invalid (last digit bumped), one valid ip,
      // two invalid candidates, one phone
      (1L, "pay 4111111111111111 or 4111111111111112 from " +
        "255.255.255.255 not 256.1.2.3 nor 999.999.999.999 " +
        "call +1-212-555-0100"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val got = TextAnalysis.piiAuditExtended(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got(1L) === ((2L, 1L, 1L, 3L, 1L)))
    assert(got(2L) === ((0L, 0L, 0L, 0L, 0L)))
  }

  test("hashingTrickClassifier: crafted weights route scores; argmax " +
    "ties break to class 0; empty text scores 0") {
    import spark.implicits._
    val dim = 8
    def bucket(t: String): Int =
      (graft.functions.GraftHashImpl.portableHash60(t) % dim).toInt
    val docs = Seq((1L, "alpha alpha beta"), (2L, ""))
      .toDF("doc_id", "text")
    // w0: every bucket 1; w1: alpha's bucket 5, others 0
    val w0 = Seq.fill(dim)(1L)
    val w1 = Seq.tabulate(dim)(j => if (j == bucket("alpha")) 5L else 0L)
    val got = TextAnalysis.hashingTrickClassifier(docs, "doc_id",
        "text", Seq(w0, w1))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 expectation computed from the same buckets the engine uses
    // (collisions between alpha/beta are then handled either way)
    val s0 = 3L
    val s1 = Seq("alpha", "alpha", "beta").map(t => w1(bucket(t))).sum
    val expBest = if (s0 >= s1) 0 else 1
    assert(got(1L) === ((expBest, math.max(s0, s1),
      math.abs(s0 - s1))))
    // empty text: both scores 0 -> tie -> class 0
    assert(got(2L) === ((0, 0L, 0L)))
  }

  test("madHourlyOutliers: a spike hour flags, regular keys do not; " +
    "MAD 0 flags any deviation") {
    import spark.implicits._
    def rows(key: String, hour: Long, n: Int) =
      Seq.fill(n)((key, hour * 3600000000L))
    // key A: four hours of 10 plus one hour of 100 -> med 10, MAD 0 ->
    // only the spike flags; key B: counts 9,10,11 -> med 10, MAD 1 ->
    // nothing exceeds 3*MAD
    val data = (0L to 3L).flatMap(h => rows("A", h, 10)) ++
      rows("A", 4L, 100) ++
      rows("B", 0L, 9) ++ rows("B", 1L, 10) ++ rows("B", 2L, 11)
    val df = data.toDF("k", "us")
      .select(col("k"), timestamp_micros(col("us")).as("ts"))
    val got = graft.ops.Profiling.madHourlyOutliers(df, "k", "ts", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(("A", 4L)) === ((100L, 10L, 0L, 1L)))
    (0L to 3L).foreach(h => assert(got(("A", h))._4 === 0L))
    Seq(0L, 1L, 2L).foreach(h => assert(got(("B", h))._4 === 0L))
  }

  test("decontaminateStream (static form): planted 3-gram flags, " +
    "empty benchmark flags nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "completely unrelated words here")).toDF("doc_id", "text")
    val bench = Seq("quick brown fox")
    val got = graft.streaming.Streams.decontaminateStream(docs,
        "doc_id", "text", bench, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L) === ((3L, 1L))) // 5 tokens -> 3 grams, one planted
    assert(got(2L) === ((2L, 0L))) // 4 tokens -> 2 grams, no hit
    val none = graft.streaming.Streams.decontaminateStream(docs,
        "doc_id", "text", Nil, n = 3)
      .collect().map(r => r.getLong(2)).sum
    assert(none === 0L)
  }

  test("nearDupClusters on an empty pair set returns an empty result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.nearDupClusters(empty).count() === 0)
  }

  test("addToClusters == full recompute: bridge merges two old " +
    "clusters, new-only cluster forms, untouched cluster keeps its id") {
    import spark.implicits._
    // old graph: {1,2,3} and {7,9} and {20,21}; delta: new doc 5
    // bridges the first two ({1,2,3,5,7,9} → min 1), new docs 30-31
    // form their own cluster, delta also attaches 40 to old 20's
    // cluster; {20,21} otherwise untouched by the bridge
    val base = Seq((1L, 2L), (2L, 3L), (7L, 9L), (20L, 21L))
      .toDF("id_a", "id_b")
    val delta = Seq((3L, 5L), (5L, 7L), (30L, 31L), (40L, 20L))
      .toDF("id_a", "id_b")
    val existing = Dedup.nearDupClusters(base)
    val inc = Dedup.addToClusters(existing, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.nearDupClusters(
        base.unionAll(delta))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    assert(inc(9L) === 1L && inc(5L) === 1L) // merged across the bridge
    assert(inc(31L) === 30L)                 // fresh cluster
    assert(inc(21L) === 20L && inc(40L) === 20L)
    // delta that only re-states an existing edge is a no-op
    val noop = Dedup.addToClusters(existing,
        Seq((1L, 3L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = existing.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop === before)
    // empty delta is a no-op too
    assert(Dedup.addToClusters(existing,
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === before)
  }

  test("nearDupClusters handles full-range hash ids without overflow") {
    import spark.implicits._
    val pairs = Seq(
      (Long.MaxValue - 1, Long.MaxValue),
      (Long.MinValue, Long.MinValue + 2)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(Long.MaxValue) === Long.MaxValue - 1)
    assert(got(Long.MinValue + 2) === Long.MinValue)
  }

  test("nearDupClusters assigns component-min cluster ids") {
    import spark.implicits._
    // components: {1,2,3} (chain), {7,9}, singleton 5 not in pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L))
      .toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("topk_by_score usable as a SQL aggregate") {
    import spark.implicits._
    Seq((1L, 10L, 0.9), (1L, 11L, 0.5), (1L, 12L, 0.7))
      .toDF("query_id", "corpus_id", "score")
      .createOrReplaceTempView("scores_sql")
    val got = spark.sql("""
      SELECT query_id, transform(topk_by_score(score, corpus_id, 2),
        x -> x.id) AS ids
      FROM scores_sql GROUP BY query_id""").collect().head
    assert(got.getAs[scala.collection.Seq[Long]]("ids") === Seq(10L, 12L))
  }

  test("similarity: LSH buckets agree with brute force on clear clusters") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
      else Array(0.0f, 0.0f, 0.0f, 1.0f)
      (i.toLong, base.map(v => v + (i % 3) * 0.01f))
    }.toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") === 0), "vec_id", "embedding",
      dim = 4, k = 3, numPlanes = 2)
      .collect()
    assert(lsh.nonEmpty)
    // all neighbors of an even-cluster query are even-cluster members
    assert(lsh.forall(_.getAs[Long]("corpus_id") % 2 === 0))
  }

  test("vector kernels: null on length mismatch and null elements") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    val vecs = Seq(
      (1L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](3.0f, 4.0f)),
      (2L, Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](3.0f)), // short
      (3L, Array[java.lang.Float](1.0f, null), Array[java.lang.Float](3.0f, 4.0f))) // null elem
      .toDF("id", "a", "b")
    val got = vecs.select(col("id"),
      GraftFunctions.vectorDot(col("a"), col("b")).as("dot"),
      GraftFunctions.hyperplaneLsh(col("a"), 4).as("lsh"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got(1L)._1 === Some(11.0))
    assert(got(1L)._2.isDefined)
    assert(got(2L)._1 === None) // length mismatch → null, not partial sum
    assert(got(3L)._1 === None) // null element → null
    assert(got(3L)._2 === None)
  }

  test("similarity: IVF top-k matches brute force on clear clusters") {
    import spark.implicits._
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
      else Array(0.0f, 0.0f, 0.0f, 1.0f)
      (i.toLong, base.map(v => v + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id").isin(0, 1))
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numCentroids = 2, nprobe = 1)
      .select("query_id", "corpus_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .select("query_id", "corpus_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // with 2 well-separated clusters and nprobe=1, IVF recall is exact
    assert(ivf === brute)
  }

  test("scd2 compresses runs into tiling half-open intervals") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: a -> a -> b -> a (4 events, 3 runs); user 2: constant c
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (2L, ts("2024-01-01 10:05:00"), 1L, "a"),
      (3L, ts("2024-01-01 10:10:00"), 1L, "b"),
      (4L, ts("2024-01-01 10:20:00"), 1L, "a"),
      (5L, ts("2024-01-01 09:00:00"), 2L, "c"),
      (6L, ts("2024-01-02 09:00:00"), 2L, "c"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Sessions.scd2(ev, "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "version").collect()
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getString(1)).toSeq === Seq("a", "b", "a"))
    // intervals tile: valid_to(k) == valid_from(k+1), last one open
    val bounds = u1.map(r => (r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(bounds.init.zip(bounds.tail).forall {
      case ((_, to), (from, _)) => to == from })
    assert(bounds.last._2 === -1L && u1.last.getBoolean(5))
    assert(u1.map(_.getInt(4)).toSeq === Seq(1, 2, 3))
    // user 2's constant attribute collapses to ONE current row
    val u2 = out.filter(_.getLong(0) == 2L)
    assert(u2.length === 1 && u2.head.getBoolean(5))
  }

  test("knn label propagation recovers held-out labels on clean clusters") {
    import spark.implicits._
    // 3 tight orthogonal clusters of 10; ids 0,5,10,... held out
    val rows = (0 until 30).map { i =>
      val c = i % 3
      val base = Array.fill(6)(0.01f)
      base(2 * c) = 1.0f; base(2 * c + 1) = 0.9f + 0.01f * (i % 7)
      (i.toLong, base.toSeq, c)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelPropagation(df, "vec_id", "embedding",
      "label", holdoutMod = 5, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    assert(out.size === 6) // ids 0,5,10,15,20,25
    out.foreach { case (id, (pred, votes, truth)) =>
      assert(pred === truth, s"id $id predicted $pred != $truth")
      assert(votes === 3L) // clean clusters: unanimous
    }
  }

  test("knn label propagation fused kernel: ties break by id asc, " +
      "malformed vectors score nothing (r18 kernel parity)") {
    import spark.implicits._
    // queries: ids 0 and 4 (holdoutMod 2 → even ids... use mod 4)
    // labeled ids 1,2,3,5,6,7. Vectors engineered so dots TIE: labeled
    // 1,2,3 are identical → equal dots with any query → top-2 must be
    // ids (1,2) by id-asc tie break. Labeled 5 has a null element,
    // 6 is wrong-dimensional, 7 is a null vector — none may vote.
    val rows: Seq[(Long, Seq[java.lang.Float], Int)] = Seq(
      (0L, Seq[java.lang.Float](1.0f, 0.0f), 9),
      (4L, Seq[java.lang.Float](0.5f, 0.5f), 8),
      (1L, Seq[java.lang.Float](0.6f, 0.2f), 1),
      (2L, Seq[java.lang.Float](0.6f, 0.2f), 2),
      (3L, Seq[java.lang.Float](0.6f, 0.2f), 1),
      (5L, Seq[java.lang.Float](0.6f, null), 3),
      (6L, Seq[java.lang.Float](0.6f, 0.2f, 0.1f), 3),
      (7L, null, 3))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelPropagation(df, "vec_id", "embedding",
      "label", holdoutMod = 4, k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    // queries 0 and 4; all valid labeled dots tie per query, so top-2 is
    // ids 1,2 (labels 1,2) → majority vote ties at 1 vote each → label
    // asc wins → predicted 1 with 1 vote, for both queries
    assert(out.keySet === Set(0L, 4L))
    assert(out(0L) === ((1, 1L, 9)))
    assert(out(4L) === ((1, 1L, 8)))
  }

  test("salted join equals the plain join and spreads the hot key") {
    import spark.implicits._
    // key 7 is hot (60 rows), keys 1..5 cold (2 rows each)
    val facts = ((1 to 60).map(i => (1000L + i, 7L)) ++
      (1 to 5).flatMap(k => Seq((2000L + k, k.toLong),
        (3000L + k, k.toLong)))).toDF("row_id", "k")
    val dim = (1L to 8L).map(k => (k, s"d$k")).toDF("k", "attr")
    val hot = Skew.hotKeys(facts, "k", hotThreshold = 20L)
    assert(hot.collect().map(_.getLong(0)).toSeq === Seq(7L))
    val salted = Skew.saltedJoin(facts, dim, "k", "row_id", hot,
      salts = 8)
    val plain = facts.join(dim, Seq("k"))
    assert(salted.select("row_id", "k", "attr").collect().toSet ===
      plain.select("row_id", "k", "attr").collect().toSet)
    // the hot key's fact rows actually landed on multiple sub-keys
    val nSalts = facts
      .join(broadcast(hot.withColumn("__hot", lit(1))), Seq("k"), "left")
      .where(col("__hot").isNotNull)
      .select(pmod(conv(substring(md5(col("row_id").cast("string")
        .cast("binary")), 1, 15), 16, 10).cast("long"), lit(8)))
      .distinct().count()
    assert(nSalts > 4, s"expected the 60 hot rows across >4 salts, got $nSalts")
  }

  test("locf carries only past observations and reports staleness") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, Some("x")),
      (2L, ts("2024-01-01 10:10:00"), 1L, None),
      (3L, ts("2024-01-01 10:30:00"), 1L, Some("y")),
      (4L, ts("2024-01-01 10:40:00"), 1L, None),
      (5L, ts("2024-01-01 09:00:00"), 2L, None)) // never observed
      .toDF("event_id", "ts", "user_id", "attr")
    val out = Sessions.locfEnrich(ev, "user_id", "ts", "event_id",
      col("attr"))
      .select("event_id", "attr_locf", "staleness_us").collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out(1L) === (Some("x"), Some(0L)))          // own observation
    assert(out(2L) === (Some("x"), Some(600000000L)))  // 10 min stale
    assert(out(3L) === (Some("y"), Some(0L)))          // newer wins
    assert(out(4L) === (Some("y"), Some(600000000L)))
    assert(out(5L) === (None, None)) // nothing to carry -> stays null
  }

  test("timeInState splits the lifetime and islands merge overlaps") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: a for 10 min, b for 30 min (closed at last event)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (2L, ts("2024-01-01 10:10:00"), 1L, "b"),
      (3L, ts("2024-01-01 10:40:00"), 1L, "b"),
      (4L, ts("2024-01-01 12:00:00"), 2L, "c")) // single event: zero span
      .toDF("event_id", "ts", "user_id", "event_type")
    val tis = Sessions.timeInState(ev, "user_id", "ts", "event_id",
      "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(tis((1L, "a")) === (600000000L, 0.25))
    assert(tis((1L, "b")) === (1800000000L, 0.75))
    assert(tis((2L, "c")) === (0L, -1.0)) // zero span -> NULL share

    // islands: events at 0 and 5 min overlap (10-min intervals) -> one
    // island of 15 min; event at 40 min is its own 10-min island
    val ev2 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (2L, ts("2024-01-01 10:05:00"), 1L),
      (3L, ts("2024-01-01 10:40:00"), 1L))
      .toDF("event_id", "ts", "user_id")
    val isl = Sessions.intervalIslands(ev2, "user_id", "ts", "event_id",
      durationUs = 600000000L).head()
    assert(isl.getLong(1) === 2L)
    assert(isl.getLong(2) === (15L + 10L) * 60000000L)
  }

  test("sessionize: gaps over the threshold start new sessions") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 1L),
      (1L, "2024-01-01 10:10:00", 2L), // same session (10 min gap)
      (1L, "2024-01-01 11:00:00", 3L), // new session (50 min gap)
      (2L, "2024-01-01 10:05:00", 4L)) // other user
      .toDF("user_id", "ts", "event_id")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Sessions.sessionize(events, "user_id", "ts", "event_id",
      gapSeconds = 1800)
      .select("event_id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    val stats = Sessions.sessionStats(events, "user_id", "ts", "event_id",
      1800).where(col("user_id") === 1 && col("session_id") === 1)
      .collect().head
    assert(stats.getAs[Long]("n_events") === 2L)
  }

  test("redactPii replaces emails and urls with placeholders") {
    import spark.implicits._
    val got = Seq(
      "contact me at jane.doe+x@example.org or https://example.com/a?b=1 ok",
      "no pii here").toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"),
        TextAnalysis.piiCount(col("text")).as("n"))
      .collect()
    assert(got(0).getString(0) === "contact me at <EMAIL> or <URL> ok")
    assert(got(0).getInt(1) === 2)
    assert(got(1).getString(0) === "no pii here")
    assert(got(1).getInt(1) === 0)
  }

  test("urlHost and registrableDomain parse ports, paths, www and " +
    "two-level suffixes; blocklistFilter drops whole domains") {
    import spark.implicits._
    val parsed = Seq(
      "https://www.news.example.co.uk:8080/a/b?q=1",
      "http://cdn.assets.example.com/x",
      "https://example.com",
      "https://localhost/admin",         // single label → no eTLD+1
      "not a url").toDF("url")
      .select(TextAnalysis.urlHost(col("url")).as("host"),
        TextAnalysis.registrableDomain(
          TextAnalysis.urlHost(col("url"))).as("domain"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(parsed(0) === ("www.news.example.co.uk", "example.co.uk"))
    assert(parsed(1) === ("cdn.assets.example.com", "example.com"))
    assert(parsed(2) === ("example.com", "example.com"))
    assert(parsed(3) === ("localhost", ""))
    assert(parsed(4) === ("", ""))
    val docs = Seq(
      (1L, "https://a.spam.net/1"), (2L, "https://b.spam.net/2"),
      (3L, "https://c.ok.org/3")).toDF("doc_id", "url")
    val kept = TextAnalysis.blocklistFilter(docs, "url",
      Seq("spam.net").toDF("domain")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L))
  }

  test("marginMining keeps the planted translation pair and demotes the " +
    "hub that is uniformly close to everything") {
    import spark.implicits._
    // 4-dim toy space: every src has a near-identical true pair in tgt,
    // plus one hub vector moderately close to ALL srcs. The hub's raw
    // cosines are high, but each src's true pair sets a high
    // neighborhood mean, so the hub's margin stays near 1.
    val src = Seq(
      (1L, Array(1.0f, 0.05f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.3f, 0.0f)),
      (3L, Array(0.0f, 0.2f, 1.0f, 0.4f))).toDF("id", "vec")
    val tgt = Seq(
      (11L, Array(1.0f, 0.06f, 0.0f, 0.0f)),  // ≈ src 1
      (12L, Array(0.0f, 0.95f, 0.35f, 0.0f)), // ≈ src 2
      (13L, Array(0.0f, 0.25f, 1.0f, 0.35f)), // ≈ src 3
      (14L, Array(0.5f, 0.5f, 0.5f, 0.5f))).toDF("id", "vec") // hub
    val mined = Similarity.marginMining(src, "id", "vec",
      tgt, "id", "vec", k = 2, threshold = 1.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined === Set((1L, 11L), (2L, 12L), (3L, 13L)),
      s"expected exactly the planted pairs, got ${mined.mkString(",")}")
  }

  test("topTerms ranks rare distinctive words above ubiquitous ones") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common common common zebra"),
      (2L, "common words here"),
      (3L, "common text common")).toDF("doc_id", "text")
    val top = TextAnalysis.topTerms(corpus, "doc_id", "text", k = 2)
      .where(col("doc_id") === 1).orderBy("rank").collect()
    // "zebra" (df=1) outweighs "common" (df=3) despite tf 1 vs 3
    assert(top.head.getAs[String]("term") === "zebra" ||
      top.head.getAs[Double]("weight") >= top(1).getAs[Double]("weight"))
    assert(top.map(_.getAs[String]("term")).contains("zebra"))
  }

  test("multi-probe LSH returns a superset of single-bucket results") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 4)
    def run(probe: Int): Set[(Long, Long)] =
      Similarity.lshTopK(vecs, "vec_id", "embedding", queries,
        "vec_id", "embedding", dim = 8, k = 50, numPlanes = 6,
        multiProbe = probe)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = run(0)
    val probed = run(6)
    assert(plain.subsetOf(probed))
    assert(probed.size > plain.size) // hamming-1 buckets add candidates
    // no duplicate (query, corpus) pairs from multiple probes
    val rows = Similarity.lshTopK(vecs, "vec_id", "embedding", queries,
      "vec_id", "embedding", dim = 8, k = 50, numPlanes = 6, multiProbe = 6)
      .select("query_id", "corpus_id").collect()
    assert(rows.length === rows.distinct.length)
  }

  // ---- scale-path recall differentials on the real embeddings fixture ----
  // These pin the approximate SCALE paths against the exact kernels on the
  // driver's own test data, so the plan we'd ship at 100 TB carries a
  // measured recall, not an assumption. The fixture is deterministic, so
  // the measured values are stable round over round.

  private lazy val fixtureEmbeddings: Option[DataFrame] = {
    val p = s"$sfDir/embeddings.parquet"
    if (new java.io.File(p).isDirectory || new java.io.File(p).isFile)
      Some(spark.read.parquet(p))
    else None
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("banded LSH near-dups == exact all-pairs kernel (recall 1.0)") {
    val e = fixtureEmbeddings.getOrElse(cancel("no embeddings fixture"))
    // q34's exact setting: threshold 0.3 catches the weakest pairs this
    // operator accepts — the hardest case for sign-LSH recall
    val exact = pairSet(Similarity.cosineNearDupsExact(
      e, "vec_id", "embedding", threshold = 0.3))
    val banded = pairSet(Similarity.cosineNearDupsBanded(
      e, "vec_id", "embedding", threshold = 0.3))
    assert(exact.nonEmpty) // the fixture must actually exercise the kernels
    // precision is exact by construction (same quantized verify); recall
    // must be 1.0 at the default 96x4 table setting on this fixture
    val missed = exact -- banded
    assert(missed.isEmpty, s"LSH path missed ${missed.size} true pairs")
    assert(banded === exact)
  }

  test("cosineNearDupsExact: exact decision at large quantized magnitude " +
    "and max threshold scale; double-noise thresholds fail loudly") {
    import spark.implicits._
    // magnitude 1000 vectors quantize to 10^7 per element: dot products
    // reach 8*10^14 and dot^2*den reaches ~10^42 at den=10^12 — the
    // domain where the direct decimal(38,0) product overflows; the split
    // evaluation must still decide every pair exactly
    val rows = Seq(
      (1L, Seq(1000f, 1000f, 1000f, 1000f, 1000f, 1000f, 1000f, 1000f)),
      (2L, Seq(1000f, 1000f, 1000f, 1000f, 1000f, 1000f, 1000f, 1000f)),
      (3L, Seq(1000f, 1000f, 1000f, 1000f, 1000f, 1000f, 1000f, -1000f)),
      (4L, Seq(-1000f, 1000f, -1000f, 1000f, -1000f, 1000f, -1000f,
        1000f))).toDF("vec_id", "embedding")
    // threshold with the maximum supported squared scale (0.866025² has
    // 12 decimal digits): pairs at cosine 1.0 and 0.75 straddle it
    val got = pairSet(Similarity.cosineNearDupsExact(
      rows, "vec_id", "embedding", threshold = 0.866025))
    assert(got === Set((1L, 2L)),
      "cos=1 must pass, cos=0.75 and cos=0 must not, at any magnitude")
    // below 0.75: the (1,3)/(2,3) pairs (cos exactly 0.75) now pass
    val low = pairSet(Similarity.cosineNearDupsExact(
      rows, "vec_id", "embedding", threshold = 0.75))
    assert(low === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // a double-noise threshold has no short decimal representation and
    // must be rejected, not silently mis-decided
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupsExact(rows, "vec_id", "embedding",
        threshold = 0.8500000000000001)
    }
    assert(ex.getMessage.contains("short decimal"))
  }

  test("ANN scale paths: measured recall@10 vs brute force on the fixture") {
    val e = fixtureEmbeddings.getOrElse(cancel("no embeddings fixture"))
    val q = e.where(col("vec_id") < 5)
    def resultSet(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = resultSet(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10))
    assert(brute.size === 50)
    // IVF, probing all cells == brute force exactly (cell partition is a
    // partition: probing everything loses nothing)
    val ivfAll = resultSet(Similarity.ivfTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10, numCentroids = 16, nprobe = 16))
    assert(ivfAll === brute)
    // IVF at the pruned q38-style setting: recall floor pinned (measured
    // 0.8 at sf0.001-sf0.01 on near-orthogonal noise — the worst case for
    // cell pruning; real clustered corpora do better)
    val ivf4 = resultSet(Similarity.ivfTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10, numCentroids = 16, nprobe = 4))
    val ivfRecall = (ivf4 & brute).size.toDouble / brute.size
    assert(ivfRecall >= 0.6, s"IVF nprobe=4 recall $ivfRecall")
    // hyperplane LSH with multi-probe: recall floor pinned. On this
    // near-orthogonal noise fixture (no cluster structure — every
    // neighbor sits near the decision boundary of every plane) measured
    // recall is ~0.3; single-table sign-LSH is the wrong tool for such
    // data, which is exactly why cosineNearDupsBanded uses the
    // multi-TABLE OR-construction (recall 1.0 above)
    val lsh = resultSet(Similarity.lshTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", dim = 64, k = 10, numPlanes = 6,
      multiProbe = 6))
    val lshRecall = (lsh & brute).size.toDouble / brute.size
    assert(lshRecall >= 0.25, s"LSH multiProbe=6 recall $lshRecall")
    info(f"measured recall@10: ivf(nprobe=4)=$ivfRecall%.2f " +
      f"lsh(6 planes, probe 6)=$lshRecall%.2f")
  }

  test("ivfPqTopK: cluster structure survives PQ coding; codebook rows " +
    "reconstruct exactly; fixture recall@10 floor pinned") {
    import spark.implicits._
    // two well-separated clusters in 4 dims (nSub=2, 2-dim blocks):
    // ids 0-3 near e1, ids 4-7 near e2; seeds AND codebook = {0, 4}
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, 0.9f, 0.1f)),
      (2L, Seq(0.8f, 0.0f, 1.0f, 0.1f)), (3L, Seq(1.0f, 0.2f, 0.8f, 0.0f)),
      (4L, Seq(0.0f, 1.0f, 0.0f, 1.0f)), (5L, Seq(0.1f, 0.9f, 0.1f, 0.9f)),
      (6L, Seq(0.0f, 0.8f, 0.1f, 1.0f)), (7L, Seq(0.2f, 1.0f, 0.0f, 0.8f)))
      .toDF("vec_id", "embedding")
    val seeds = corpus.where(col("vec_id").isin(0L, 4L))
    val got = Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
      corpus.where(col("vec_id").isin(0L, 4L)), "vec_id", "embedding",
      seeds, "vec_id", "embedding",
      codebookIds = Seq(0L, 4L), inDims = 4, nSub = 2, k = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // every query sees all 8 (nProbe=2 probes both cells); own-cluster
    // rows rank strictly before the other cluster's under ADC
    assert(got.count(_._1 == 0L) === 8 && got.count(_._1 == 4L) === 8)
    val q0ranks = got.filter(_._1 == 0L).sortBy(_._4).map(_._2)
    assert(q0ranks.take(4).toSet === Set(0L, 1L, 2L, 3L))
    val q4ranks = got.filter(_._1 == 4L).sortBy(_._4).map(_._2)
    assert(q4ranks.take(4).toSet === Set(4L, 5L, 6L, 7L))
    // a codebook row's codes reconstruct itself exactly, so its ADC
    // distance to itself is 0 and it ranks first for its own query
    assert(got.find(t => t._1 == 0L && t._2 == 0L).get._3 === 0L)
    assert(got.find(t => t._1 == 4L && t._2 == 4L).get._3 === 0L)
    // fixture recall floor (q38's proof shape): IVF-PQ at the q263
    // setting vs the exact kernel
    fixtureEmbeddings.foreach { e =>
      val q = e.where(col("vec_id") < 5)
      val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 10)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val pq = Similarity.ivfPqTopK(e, "vec_id", "embedding",
          q, "vec_id", "embedding", e.where(col("vec_id") < 16),
          "vec_id", "embedding", codebookIds = 16L to 23L,
          inDims = 64, nSub = 8, k = 10, nProbe = 4)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (pq & brute).size.toDouble / brute.size
      // measured on the near-orthogonal noise fixture (the worst case
      // for both cell pruning and an 8-code codebook — real clustered
      // corpora do far better); brute-force cosine vs ADC-L2 also
      // diverge on unnormalized vectors, so this floor is deliberately
      // conservative
      assert(recall >= 0.15, s"IVF-PQ recall@10 $recall")
      info(f"measured IVF-PQ recall@10 on fixture: $recall%.2f")
    }
  }

  test("ivfPqTopKScaled: cells scale as ceil(sqrt(N)); hash trainer " +
    "equals explicit hashSeeds plumbing; kmeans trainer recall floor " +
    "on clustered data") {
    import spark.implicits._
    assert(Similarity.defaultIvfCells(500L) === 23)
    assert(Similarity.defaultIvfCells(2000L) === 45)
    assert(Similarity.defaultIvfCells(1L) === 1)
    assert(Similarity.defaultIvfProbes(23) === 5)
    assert(Similarity.defaultIvfProbes(45) === 7)
    // four well-separated clusters in 8 dims, 25 rows each: center one
    // of e1/e3/e5/e7 plus a small deterministic per-row wobble
    val corpus = (0 until 100).map { i =>
      val c = i % 4
      val v = (0 until 8).map { d =>
        val base = if (d == 2 * c) 1.0f else 0.0f
        base + (if (d == (i * 3 + 1) % 8) 0.05f * ((i % 5) + 1) else 0.0f)
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") < 8)
    def rs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = rs(Similarity.bruteForceTopK(corpus, "vec_id",
      "embedding", q, "vec_id", "embedding", k = 5))
    // kmeans trainer at the defaults (cells = ceil(sqrt(100)) = 10,
    // nProbe = round(sqrt(10)) = 3): clusters land in their own cells,
    // so pruned probing keeps own-cluster neighbors
    val trained = rs(Similarity.ivfPqTopKScaled(corpus, "vec_id",
      "embedding", q, "vec_id", "embedding",
      codebookIds = 0L to 7L, inDims = 8, nSub = 2, k = 5))
    // the structural guarantee pruned IVF must deliver: every returned
    // neighbor is from the query's own cluster (cell pruning keeps the
    // cluster; other-cluster ADC distance ~2 never makes top-5). Strict
    // recall@5 vs brute-force COSINE is deliberately a floor, not
    // equality: within a tight cluster the 8-codeword ADC quantizes the
    // wobbles into ties whose order differs from the cosine order
    assert(trained.size === brute.size)
    assert(trained.forall { case (qid, cid) => cid % 4 === qid % 4 },
      "a pruned probe returned a neighbor from a foreign cluster")
    val recall = (trained & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"kmeans-trained IVF-PQ recall@5 $recall")
    info(f"kmeans-trained IVF-PQ recall@5 on clustered fixture: " +
      f"$recall%.2f")
    // hash trainer == ivfPqTopK fed the same hashSeeds explicitly (the
    // scaled wrapper adds exactly the N-derived sizing, nothing else)
    val viaScaled = Similarity.ivfPqTopKScaled(corpus, "vec_id",
        "embedding", q, "vec_id", "embedding",
        codebookIds = 0L to 7L, inDims = 8, nSub = 2, k = 5,
        trainer = "hash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 10)
    assert(seeds.count() === 10L)
    val viaExplicit = Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
        q, "vec_id", "embedding", seeds, "sid", "svec",
        codebookIds = 0L to 7L, inDims = 8, nSub = 2, k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(viaScaled === viaExplicit)
  }

  test("ivfPqTopKTwoLevel: cluster-structural guarantee + recall floor; " +
    "degenerate one-cell case equals the flat quantizer") {
    import spark.implicits._
    // same four-cluster fixture as the scaled test: the two-level route
    // must preserve the structural IVF guarantee (pruned probes stay in
    // the query's own cluster) even though corpus rows now assign
    // super-cell-first (a row's nearest centroid may sit outside its
    // super-cell — hierarchical-IVF semantics, the documented trade)
    val corpus = (0 until 100).map { i =>
      val c = i % 4
      val v = (0 until 8).map { d =>
        val base = if (d == 2 * c) 1.0f else 0.0f
        base + (if (d == (i * 3 + 1) % 8) 0.05f * ((i % 5) + 1) else 0.0f)
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") < 8)
    def rs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = rs(Similarity.bruteForceTopK(corpus, "vec_id",
      "embedding", q, "vec_id", "embedding", k = 5))
    val two = rs(Similarity.ivfPqTopKTwoLevel(corpus, "vec_id",
      "embedding", q, "vec_id", "embedding",
      codebookIds = 0L to 7L, inDims = 8, nSub = 2, k = 5))
    assert(two.nonEmpty)
    assert(two.forall { case (qid, cid) => cid % 4 === qid % 4 },
      "a two-level pruned probe returned a foreign-cluster neighbor")
    val recall = (two & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"two-level IVF-PQ recall@5 $recall")
    info(f"two-level IVF-PQ recall@5 on clustered fixture: $recall%.2f")
    // numCells = 1: one cell, one super-cell — the two-level route
    // degenerates to the flat quantizer bit-for-bit
    def full(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val oneTwo = full(Similarity.ivfPqTopKTwoLevel(corpus, "vec_id",
      "embedding", q, "vec_id", "embedding",
      codebookIds = 0L to 7L, inDims = 8, nSub = 2, k = 5,
      numCells = Some(1), nProbe = Some(1)))
    val oneFlat = full(Similarity.ivfPqTopKScaled(corpus, "vec_id",
      "embedding", q, "vec_id", "embedding",
      codebookIds = 0L to 7L, inDims = 8, nSub = 2, k = 5,
      numCells = Some(1), nProbe = Some(1), trainer = "hash"))
    assert(oneTwo === oneFlat)
  }

  test("reciprocalRankFusion: consensus mid-ranker beats single-list " +
    "winners; exact ppm weights") {
    import spark.implicits._
    // Orthogonal-ish axes: queries q0=(1,0,0), q1=(0,1,0), q2=(0,0,1).
    // Item 10 = (.6,.6,.6) is 2nd on every list; items 11/12/13 each top
    // one list ((1,0,0) etc.) and score ~0 on the others.
    val corpus = Seq(
      (10L, Seq(0.6f, 0.6f, 0.6f)), (11L, Seq(1f, 0f, 0f)),
      (12L, Seq(0f, 1f, 0f)), (13L, Seq(0f, 0f, 1f)),
      (14L, Seq(0.1f, 0.1f, 0f)), (15L, Seq(0f, 0.1f, 0.1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f)),
      (2L, Seq(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.reciprocalRankFusion(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding",
      perListK = 3, topN = 4)
      .collect()
      .map(r => r.getInt(1) -> (r.getLong(0), r.getLong(2), r.getInt(3),
        r.getLong(4))).toMap
    // item 10: rank 2 in all 3 lists -> 3 * (1e6 div 62) = 48387
    assert(out(1) === ((10L, 3L, 2, 3 * (1000000L / 62))))
    // item 14: rank 3 on two lists (2 * 15873) still beats every
    // single-list winner (1 * 16393) — the consensus property
    assert(out(2) === ((14L, 2L, 3, 2 * (1000000L / 63))))
    // single-list winners tie at 16393, broken by id
    assert(out(3)._1 === 11L && out(3)._4 === 16393L)
    assert(out(4)._1 === 12L)
  }

  test("seeded IVF == brute force when probing all cells") {
    val e = fixtureEmbeddings.getOrElse(cancel("no embeddings fixture"))
    val q = e.where(col("vec_id") < 5)
    def resultSet(df: DataFrame): Set[(Long, Long, Int)] =
      df.select("query_id", "corpus_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = resultSet(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10))
    val seededAll = resultSet(Similarity.ivfTopKSeeded(e, "vec_id",
      "embedding", q, "vec_id", "embedding",
      e.where(col("vec_id") < 16), "vec_id", "embedding",
      k = 10, nprobe = 16))
    assert(seededAll === brute)
  }

  test("semanticDedup drops within-cell smaller-id near-dups only") {
    import spark.implicits._
    // two orthogonal seed cells; 11 is a near-dup of 10 inside cell 0;
    // 12/13 share cell 1 but are orthogonal (dot 0 → kept)
    val seeds = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val rows = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.9f, 0.1f)),
      (12L, Seq(0.0f, 1.0f)), (13L, Seq(-1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(rows, "vec_id", "embedding",
      seeds, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
      .toMap
    assert(out === Map(10L -> (0, true), 11L -> (0, false),
      12L -> (1, true), 13L -> (1, true)))
  }

  test("semanticDedup: an over-budget cell contributes no pairs (bounded " +
    "hot-cell behavior), an in-budget cell dedups normally") {
    import spark.implicits._
    val seeds = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // 30 near-identical vectors, all landing in the single cell
    val rows = (0L until 30L).map(i => (i, Seq(1.0f, i * 1e-4f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.semanticDedup(rows, "vec_id", "embedding",
      seeds, "vec_id", "embedding", threshold = 0.9, maxCellSize = 10)
    // cell size 30 > cap 10 → no pairs, everything kept — bounded, not OOM
    assert(capped.where(!col("keep")).count() === 0)
    assert(capped.count() === 30)
    val uncapped = Similarity.semanticDedup(rows, "vec_id", "embedding",
      seeds, "vec_id", "embedding", threshold = 0.9, maxCellSize = 100)
    // within budget the greedy keep-first dedup applies: only id 0 kept
    assert(uncapped.where(col("keep")).collect().map(_.getLong(0)).toSeq
      === Seq(0L))
  }

  test("semanticDedup == exact pair kernel restricted to cells (fixture)") {
    val e = fixtureEmbeddings.getOrElse(cancel("no embeddings fixture"))
    val out = Similarity.semanticDedup(e, "vec_id", "embedding",
      e.where(col("vec_id") < 16), "vec_id", "embedding", threshold = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
      .toMap
    assert(out.size === e.count())
    val cellOf = out.view.mapValues(_._1).toMap
    // ground truth: ALL exact near-dup pairs, then confine to same cell
    val exactPairs = pairSet(Similarity.cosineNearDupsExact(
      e, "vec_id", "embedding", threshold = 0.3))
    val expectedDrops =
      exactPairs.filter(p => cellOf(p._1) == cellOf(p._2)).map(_._2)
    val drops = out.collect { case (id, (_, false)) => id }.toSet
    assert(drops === expectedDrops)
  }

  test("mixing plan: shares sum to 1, rates capped, budget math exact") {
    import spark.implicits._
    val docs = Seq.tabulate(100)(i =>
      (i.toLong, if (i < 90) "big" else "tiny", 1000L)) // big:90k, tiny:10k
      .toDF("doc_id", "source", "n_chars")
    val plan = Mixing.samplingRates(docs, "source", col("n_chars"),
      targetTokens = 60000L, maxRate = 4.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5))).toMap
    // big: 30000/90000 → rate 0.3333 (4dp), expect 0.3333×90000 = 29997;
    // tiny: 30000/10000 = 3 (under the cap)
    assert(plan("big") === ((90L, 90000L, 0.9, 0.3333, 29997L)))
    assert(plan("tiny") === ((10L, 10000L, 0.1, 3.0, 30000L)))
    // a microscopic source hits the maxRate epoch cap instead
    val capped = Mixing.samplingRates(
      docs.where(col("doc_id") < 91), "source", col("n_chars"),
      targetTokens = 60000L, maxRate = 4.0)
      .where(col("source") === "tiny").collect().head
    assert(capped.getDouble(4) === 4.0) // 30000/1000 = 30 → capped
    assert(capped.getLong(5) === 4000L)
  }

  test("temperature mixing: alpha=1 keeps natural shares, low alpha lifts " +
      "the tail") {
    import spark.implicits._
    val docs = Seq.tabulate(100)(i =>
      (i.toLong, if (i < 90) "big" else "tiny", 1000L))
      .toDF("doc_id", "source", "n_chars")
    def shares(alpha: Double): Map[String, Double] =
      Mixing.temperatureRates(docs, "source", col("n_chars"),
        targetTokens = 60000L, alpha = alpha)
        .select("source", "target_share").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val natural = shares(1.0)
    assert(natural("big") === 0.9 && natural("tiny") === 0.1)
    val tempered = shares(0.5)
    assert(tempered("tiny") > 0.1 && tempered("big") < 0.9)
    // p^0.5 normalized: 0.9487.., 0.3162.. → tiny 0.25
    assert(tempered("tiny") === 0.25)
  }

  test("applyMixture: whole epochs + deterministic fractional keep") {
    import spark.implicits._
    val docs = Seq.tabulate(200)(i => (i.toLong, "s"))
      .toDF("doc_id", "source")
    val rates = Seq(("s", 2.5)).toDF("source", "rate")
    val out = Mixing.applyMixture(docs, "doc_id", "source", rates)
      .groupBy("doc_id").agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("epoch"))).as("epochs"))
      .collect()
    assert(out.length === 200) // every doc keeps at least floor(2.5)=2
    assert(out.forall { r =>
      val n = r.getLong(1)
      (n == 2 || n == 3) &&
        r.getSeq[Int](2) == (0 until n.toInt) // epochs are 0..copies-1
    })
    // the fractional half keeps ~50% (hash-uniform), exactly reproducibly
    val n3 = out.count(_.getLong(1) == 3L)
    assert(n3 > 60 && n3 < 140, s"fractional keep wildly off: $n3/200")
    val again = Mixing.applyMixture(docs, "doc_id", "source", rates)
      .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap === again)
    // sources without a rate row are dropped entirely
    val dropped = Mixing.applyMixture(
      docs.withColumn("source", lit("unknown")), "doc_id", "source", rates)
    assert(dropped.count() === 0)
  }

  test("repeatedSpans: shared windows flagged with position + global df") {
    import spark.implicits._
    val boiler = "copyright notice all rights reserved do not redistribute"
    val corpus = Seq(
      (1L, s"$boiler unique tail one"),
      (2L, s"leading words here $boiler"),
      (3L, "completely unrelated text with eight distinct tokens inside"),
      (4L, "too short")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(corpus, "doc_id", "text",
      windowTokens = 8, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    // the 8-token boilerplate matches at 0-based token offset 0 in doc 1
    // and offset 3 in doc 2 — and nothing else repeats
    assert(spans.toSet === Set((1L, 0, 2L), (2L, 3, 2L)))
    val cov = Dedup.repeatedSpanCoverage(corpus, "doc_id", "text",
      windowTokens = 8, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(cov(1L) === ((4L, 1L, 0.25)))  // 11 tokens → 4 windows, 1 hot
    assert(cov(2L) === ((4L, 1L, 0.25)))
    assert(cov(3L) === ((1L, 0L, 0.0)))   // 8 tokens → 1 window, not hot
    assert(cov(4L) === ((0L, 0L, 0.0)))   // shorter than the window
  }

  test("prototypicality: cosine to assigned centroid, cells match dedup") {
    import spark.implicits._
    val seeds = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val rows = Seq(
      (10L, Seq(1.0f, 0.0f)),   // exactly the cell-0 prototype → 1.0
      (11L, Seq(0.6f, 0.8f)),   // nearer cell 1; cos to [0,1] = 0.8
      (12L, Seq(0.0f, 0.0f)))   // zero vector → score 0
      .toDF("vec_id", "embedding")
    val out = Similarity.prototypicality(rows, "vec_id", "embedding",
      seeds, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(out === Map(10L -> (0, 1.0), 11L -> (1, 0.8), 12L -> (0, 0.0)))
    // on the fixture, cell assignment must agree with semanticDedup's
    val e = fixtureEmbeddings.getOrElse(cancel("no embeddings fixture"))
    val cellsA = Similarity.prototypicality(e, "vec_id", "embedding",
      e.where(col("vec_id") < 16), "vec_id", "embedding")
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cellsB = Similarity.semanticDedup(e, "vec_id", "embedding",
      e.where(col("vec_id") < 16), "vec_id", "embedding", threshold = 0.3)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellsA === cellsB)
  }

  test("corpusReport: per-source volume, langs, pii, mean quality") {
    import spark.implicits._
    val corpus = Seq(
      ("s1", "en", "the quick brown fox jumps over the lazy dog today"),
      ("s1", "fr", "contact me at someone@example.org for more details ok"),
      ("s2", "en", "")).toDF("source", "lang", "text")
    val rep = TextAnalysis.corpusReport(corpus, "text", "source", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // s1: 2 docs, 10+8 tokens, 2 langs, 1 pii doc; s2: 1 empty doc
    assert(rep("s1") === ((2L, 18L, 2L, 1L)))
    assert(rep("s2") === ((1L, 0L, 1L, 0L)))
    val q = TextAnalysis.corpusReport(corpus, "text", "source", "lang")
      .where(col("source") === "s2").select("mean_quality")
      .collect().head.getDouble(0)
    // empty text: length component 0, punct/stopword/case defaults
    // contribute 0.2 + 0.1 + 0.2
    assert(q === 0.5)
  }

  test("asOfJoin: latest at-or-before match per key, inclusive, null miss") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val left = Seq(
      (1L, 7L, ts(100)), // after r@50 and r@100 → inclusive match r@100
      (2L, 7L, ts(99)),  // between r@50 and r@100 → r@50
      (3L, 7L, ts(10)),  // before every right row → no match
      (4L, 8L, ts(500))) // key with no right rows at all → no match
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts(50), 1.5), (7L, ts(100), 2.5), (9L, ts(1), 9.9))
      .toDF("user_id", "ts", "value")
    val out = AsOf.asOfJoin(left, "user_id", "ts",
      right, "user_id", "ts", Seq("value"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[Any]("asof_value")).map(_.toString),
          Option(r.getAs[Timestamp]("asof_ts"))))
      .toMap
    assert(out(1L)._1 === Some("2.5") && out(1L)._2 === Some(ts(100)))
    assert(out(2L)._1 === Some("1.5"))
    assert(out(3L) === ((None, None)))
    assert(out(4L) === ((None, None)))
    // left columns pass through untouched
    val cols = AsOf.asOfJoin(left, "user_id", "ts",
      right, "user_id", "ts", Seq("value")).columns.toSeq
    assert(cols === Seq("event_id", "user_id", "ts", "asof_ts",
      "asof_value"))
  }

  test("rangeJoin: exact containment, bin-crossing intervals, no dupes") {
    import spark.implicits._
    val points = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 99L))
      .toDF("pid", "p")
    val intervals = Seq(
      (100L, 0L, 10L),   // catches p=5 and p=10 (inclusive end)
      (200L, 8L, 27L),   // crosses 3 bins at width 10; catches 10 and 25
      (300L, 26L, 24L),  // inverted → dropped
      (400L, 90L, 90L))  // zero-length; misses 99
      .toDF("iid", "s", "e")
    val out = RangeJoin.pointInInterval(points, "pid", "p",
      intervals, "iid", "s", "e", binWidth = 10L)
      .select("point_id", "interval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly once per true pair — a bin-crossing interval must not
    // duplicate matches
    assert(out.length === out.toSet.size)
    assert(out.toSet === Set((1L, 100L), (2L, 100L), (2L, 200L),
      (3L, 200L)))
  }

  test("intervalOverlap: each overlapping pair exactly once") {
    import spark.implicits._
    val a = Seq((1L, 0L, 25L), (2L, 40L, 45L), (3L, 60L, 60L))
      .toDF("id", "s", "e")
    val b = Seq(
      (10L, 5L, 100L),  // overlaps all three, spans many shared bins
      (20L, 26L, 39L),  // gap between 1 and 2 → overlaps nothing
      (30L, 60L, 70L))  // touches 3 at a point (inclusive)
      .toDF("id", "s", "e")
    val out = RangeJoin.intervalOverlap(a, "id", "s", "e",
      b, "id", "s", "e", binWidth = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === out.toSet.size,
      "a pair crossed bins and was emitted twice")
    assert(out.toSet === Set((1L, 10L), (2L, 10L), (3L, 10L), (3L, 30L)))
  }

  test("autoBinWidth: scale-adaptive, result-invariant, safe fallbacks") {
    import spark.implicits._
    // dense data → narrower bins than sparse data over the same span
    // fixed 1e7 span so 10x the rows means 10x the density
    def mk(n: Int) = {
      val pts = (0 until n).map(i => (i.toLong, (i.toLong * 99989) % 10000000L))
        .toDF("pid", "p")
      val ivs = (0 until n).map { i =>
        val s = (i.toLong * 99991) % 10000000L; (i.toLong, s, s + 50000L)
      }.toDF("iid", "s", "e")
      (pts, ivs)
    }
    val (p1, i1) = mk(100)
    val (p2, i2) = mk(1000)
    val wSparse = RangeJoin.autoBinWidth(p1, "p", i1, "s", "e",
      maxFanout = 1024)
    val wDense = RangeJoin.autoBinWidth(p2, "p", i2, "s", "e",
      maxFanout = 1024)
    assert(wSparse > 0 && wDense > 0)
    assert(wDense < wSparse,
      s"10x denser data must pick a narrower bin ($wDense !< $wSparse)")
    // dense regime anchors at the mean interval length (never narrower:
    // exploded rows cost far more than candidate-probe rows — measured
    // in the SCALE_r10 width sweep), sparse regime widens past it
    assert(wDense === 50000L, s"dense width should anchor at L, got $wDense")
    assert(wSparse > 50000L)
    // any width gives the SAME result set (exact residual filter)
    def pairs(w: Long) = RangeJoin.pointInInterval(p1, "pid", "p",
      i1, "iid", "s", "e", binWidth = w)
      .select("point_id", "interval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(wSparse) === pairs(3600L * 1000000L))
    // empty side → fallback, never a crash or zero width
    val empty = Seq.empty[(Long, Long)].toDF("pid", "p")
    assert(RangeJoin.autoBinWidth(empty, "p", i1, "s", "e",
      fallback = 777L) === 777L)
    val emptyIv = Seq.empty[(Long, Long, Long)].toDF("iid", "s", "e")
    assert(RangeJoin.autoBinWidthIntervals(emptyIv, "s", "e",
      emptyIv, "s", "e", fallback = 42L) === 42L)
  }

  test("chunkText: overlapping windows, short tail, empty doc dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens
      (2L, "x y"),                 // shorter than the window
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkText(docs, "doc_id", "text",
      windowTokens = 4, strideTokens = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getString(3))).toMap
    // doc 1: starts 0,2,4,6,8 → last two chunks shorten
    assert(out((1L, 0)) === ((4, "a b c d")))
    assert(out((1L, 1)) === ((4, "c d e f")))
    assert(out((1L, 3)) === ((4, "g h i j")))
    assert(out((1L, 4)) === ((2, "i j")))
    assert(out((2L, 0)) === ((2, "x y")))
    assert(!out.keySet.exists(_._1 == 3L)) // empty doc → no chunks
    assert(out.size === 6)
  }

  test("multimodal: synthetic assets → features, frames, resize") {
    import spark.implicits._
    val ids = (0L until 30L).toDF("id")
    val assets = Multimodal.syntheticAssets(spark, ids, "id")
    assert(assets.schema("payload").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(spark, assets).collect()
    assert(feats.length === 30)
    assert(feats.forall(_.getAs[scala.collection.Seq[Float]]("feature")
      .length === 8))
    val frames = Multimodal.sampleFrames(assets, everyMs = 10000)
    assert(frames.where(col("frame_ts_ms") % 10000 =!= 0).count() === 0)
    val resized = Multimodal.resize(assets, maxDim = 256)
    val metas = resized.select("meta.width", "meta.height").collect()
    assert(metas.forall(r => r.getInt(0) <= 256 && r.getInt(1) <= 256))
  }

  test("removeDuplicateLines: strips corpus-frequent lines, keeps blanks " +
      "and order") {
    import spark.implicits._
    val footer = "unsubscribe here"
    val in = Seq(
      (1L, s"alpha body one\n\n$footer"),
      (2L, s"beta body two\n$footer"),
      (3L, s"$footer\ngamma body three\n$footer"),
      (4L, footer), // nothing survives
      (5L, "")). // single blank line, untouched
      toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateLines(in, "doc_id", "text",
      minCount = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // footer appears 4x (docs 1,2,3x2) >= 3 → removed everywhere
    assert(out(1L) === ((3L, 1L, "alpha body one\n"))) // blank line kept
    assert(out(2L) === ((2L, 1L, "beta body two")))
    assert(out(3L) === ((3L, 2L, "gamma body three"))) // order preserved
    assert(out(4L) === ((1L, 1L, "")))
    assert(out(5L) === ((1L, 0L, "")))
  }

  test("removeDuplicateLines: below-threshold lines survive") {
    import spark.implicits._
    val in = Seq((1L, "shared\na"), (2L, "shared\nb")).toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateLines(in, "doc_id", "text",
      minCount = 3).where(col("n_removed") > 0).count()
    assert(out === 0)
  }

  test("frequentNgrams: counts, doc counts, deterministic tie order") {
    import spark.implicits._
    val in = Seq(
      (1L, "a b c a b c"), // "a b c" x2, "b c a" x1, "c a b" x1
      (2L, "a b c d"),     // "a b c" x1, "b c d" x1
      (3L, "x y")).        // short doc → single gram "x y"
      toDF("doc_id", "text")
    val rows = TextAnalysis.frequentNgrams(in, "doc_id", "text", n = 3,
      k = 3).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows(0) === ((1, "a b c", 3L, 2L)))
    // count-1 ties break by gram ascending
    assert(rows(1) === ((2, "b c a", 1L, 1L)))
    assert(rows(2) === ((3, "b c d", 1L, 1L)))
  }

  test("incrementalExactDedup: index hits, within-batch keepers, new") {
    import spark.implicits._
    val index = Dedup.exactFingerprints(
      Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text"),
      "doc_id", "text")
    val batch = Dedup.exactFingerprints(Seq(
      (10L, "seen before"),   // index_dup
      (11L, "brand new"),     // new (keeper of its batch group)
      (12L, "brand new"),     // batch_dup of 11
      (13L, "alone")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Dedup.incrementalExactDedup(index, batch)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out === Map(10L -> "index_dup", 11L -> "new",
      12L -> "batch_dup", 13L -> "new"))
  }

  test("funnel: ordered stages, within-bound, greedy earliest anchor") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts(1000000L), "view"), (1L, ts(2000000L), "click"),
      (1L, ts(3000000L), "purchase"),
      // user 2: purchase BEFORE click → stage 2 only
      (2L, ts(1000000L), "view"), (2L, ts(5000000L), "click"),
      (2L, ts(4000000L), "purchase"),
      // user 3: click outside the within-bound → stage 1
      (3L, ts(1000000L), "view"), (3L, ts(100000000L), "click"),
      // user 4: never views → absent even though they click
      (4L, ts(1000000L), "click"),
      // user 5: greedy anchor — earliest view at 1s, click at 2s counts
      // even though a later view (9s) also precedes a click
      (5L, ts(9000000L), "view"), (5L, ts(1000000L), "view"),
      (5L, ts(2000000L), "click")).toDF("user_id", "ts", "event_type")
    val out = Sessions.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), withinSeconds = Some(10))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out(1L) === ((3, 1000000L, 2000000L, 3000000L)))
    assert(out(2L) === ((2, 1000000L, 5000000L, -1L)))
    assert(out(3L) === ((1, 1000000L, -1L, -1L)))
    assert(!out.contains(4L))
    assert(out(5L) === ((2, 1000000L, 2000000L, -1L)))
  }

  test("cohortRetention: cohort by first anchor, any-event activity") {
    import spark.implicits._
    val week = 7L * 24 * 3600 * 1000000L
    def ts(w: Long, off: Long = 0) = new java.sql.Timestamp(
      (w * week + off) / 1000)
    val ev = Seq(
      // users 1,2 sign up week 0; user 3 signs up week 1
      (1L, ts(0), "signup"), (2L, ts(0, 5000000L), "signup"),
      (3L, ts(1), "signup"),
      // week 1: only user 1 active; week 2: users 1 and 3
      (1L, ts(1), "click"), (1L, ts(2), "view"), (3L, ts(2), "click"),
      // user 4 never signs up → excluded entirely
      (4L, ts(0), "click"), (4L, ts(1), "click"))
      .toDF("user_id", "ts", "event_type")
    val out = Sessions.cohortRetention(ev, "user_id", "ts", "event_type",
      "signup", periodSeconds = 7L * 24 * 3600)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val w0 = ts(0).getTime * 1000 / week // absolute epoch week of "week 0"
    assert(out((w0, 0L)) === ((2L, 2L, 1.0))) // signup week itself
    assert(out((w0, 1L)) === ((1L, 2L, 0.5))) // only user 1
    assert(out((w0, 2L)) === ((1L, 2L, 0.5)))
    assert(out((w0 + 1, 0L)) === ((1L, 1L, 1.0))) // user 3's cohort
    assert(out((w0 + 1, 1L)) === ((1L, 1L, 1.0)))
    assert(!out.keys.exists(_._2 < 0)) // nothing before the cohort week
  }

  test("ngramNovelty: unique-gram fraction, shared grams, empty doc") {
    import spark.implicits._
    val in = Seq(
      (1L, "a b c d"),   // grams: "a b c","b c d" — "a b c" shared with 2
      (2L, "a b c x"),   // grams: "a b c","b c x"
      (3L, "p q r"),     // single gram "p q r", unique
      (4L, "")).         // no grams
      toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(in, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((1L, 1L, 1.0)))
    assert(out(4L) === ((0L, 0L, 0.0)))
  }

  test("keySkew: counts, shares, over-representation ratio, tie order") {
    import spark.implicits._
    // key 1: 6 rows, key 2: 2 rows, keys 3/4: 1 row each → 10 rows, 4 keys
    val in = (Seq.fill(6)(1L) ++ Seq.fill(2)(2L) ++ Seq(3L, 4L))
      .toDF("k")
    val rows = Profiling.keySkew(in, "k", k = 3).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows(0) === ((1, 1L, 6L, 0.6, 2.4))) // 0.6 share x 4 keys
    assert(rows(1) === ((2, 2L, 2L, 0.2, 0.8)))
    assert(rows(2) === ((3, 3L, 1L, 0.1, 0.4))) // count-1 tie → key asc
  }

  test("interEventGaps: exact gaps, interpolated quantiles, singletons") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val ev = Seq(
      (1L, 10L, ts(0)), (2L, 10L, ts(10)), (3L, 10L, ts(30)),
      (4L, 10L, ts(100)), // gaps: 10, 20, 70
      (5L, 20L, ts(5)))   // singleton: no gaps
      .toDF("event_id", "user_id", "ts")
    val out = Sessions.interEventGaps(ev, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3),
          if (r.isNullAt(4)) -1.0 else r.getDouble(4)))).toMap
    // median of (10,20,70) = 20; p90 interpolated = 20+0.8*50 = 60
    assert(out(10L) === ((3L, 33.3333, 20.0, 60.0)))
    assert(out(20L) === ((0L, -1.0, -1.0, -1.0)))
  }

  test("groupPercentile: 0 at min, 1 at max, ties share ranks") {
    import spark.implicits._
    val in = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 20L),
      (4L, "a", 40L), (5L, "b", 9L)).toDF("id", "g", "v")
    val out = Profiling.groupPercentile(in, "g", "id", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) === 0.0)
    assert(out(2L) === out(3L))
    assert(out(2L) === round4(1.0 / 3.0, 6))
    assert(out(4L) === 1.0)
    assert(out(5L) === 0.0) // singleton group
  }

  private def round4(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  test("transitionMatrix: per-user ordered pairs with start state") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val ev = Seq(
      (1L, 10L, ts(1), "view"), (2L, 10L, ts(2), "click"),
      (3L, 10L, ts(3), "click"),
      (4L, 20L, ts(1), "view"), (5L, 20L, ts(2), "buy"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = Sessions.transitionMatrix(ev, "user_id", "ts", "event_id",
      "event_type").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("^", "view") -> 2L, ("view", "click") -> 1L,
      ("click", "click") -> 1L, ("view", "buy") -> 1L))
  }

  test("hashedFeatures: same token same bucket, counts sum to tokens") {
    import spark.implicits._
    val in = Seq((1L, "a b a"), (2L, "a"), (3L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.hashedFeatures(in, "doc_id", "text", dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.filter(_._1 == 1L).map(_._3).sum === 3L)
    val aBucket1 = rows.filter(t => t._1 == 1L && t._3 == 2L).map(_._2)
    val aBucket2 = rows.filter(_._1 == 2L).map(_._2)
    assert(aBucket1.toSeq === aBucket2.toSeq) // "a" lands identically
    assert(!rows.exists(_._1 == 3L)) // empty doc → no features
    assert(rows.forall(t => t._2 >= 0 && t._2 < 8))
  }

  test("groupZScore: exact moments, zero-variance group scores 0") {
    import spark.implicits._
    val in = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "b", 7L), (5L, "b", 7L)).toDF("id", "g", "v")
    val out = Profiling.groupZScore(in, "g", "id", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // group a: mean 20, pop std sqrt(200/3)≈8.1650
    assert(out(1L) === -1.2247 && out(3L) === 1.2247)
    assert(out(2L) === 0.0)
    // zero variance group
    assert(out(4L) === 0.0 && out(5L) === 0.0)
  }

  test("rollingUserMean: trailing window per user, ties symmetric") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val ev = Seq(
      (1L, 10L, ts(0), 2.0), (2L, 10L, ts(30), 4.0),
      (3L, 10L, ts(100), 6.0),  // event 1 fell out of the 60s window
      (4L, 20L, ts(0), 8.0),    // other user unaffected
      (5L, 10L, ts(100), 10.0)) // tie with event 3: both include both
      .toDF("event_id", "user_id", "ts", "value")
    val out = Sessions.rollingUserMean(ev, "user_id", "ts", "event_id",
      "value", windowSeconds = 60)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) === ((1L, 2.0)))
    assert(out(2L) === ((2L, 3.0)))  // (2+4)/2
    assert(out(3L) === ((2L, 8.0)))  // window [40,100]: (6+10)/2, tie in
    assert(out(5L) === ((2L, 8.0)))
    assert(out(4L) === ((1L, 8.0)))
  }

  test("trendReport: conditional period counters and smoothed rise") {
    import spark.implicits._
    def ts(d: Int) = new java.sql.Timestamp(d * 86400000L)
    val ev = Seq(
      ("a", ts(1)), ("a", ts(2)), ("a", ts(8)), // 2 prior, 1 recent
      ("b", ts(9)), ("b", ts(9)),               // 0 prior, 2 recent
      ("c", ts(1))).                             // 1 prior, 0 recent
      toDF("k", "ts")
    val out = Profiling.trendReport(ev, col("k"), col("ts"),
      lit(ts(7))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out("a") === ((2L, 1L, round2(2.0 / 3.0))))
    assert(out("b") === ((0L, 2L, 3.0)))
    assert(out("c") === ((1L, 0L, 0.5)))
  }

  private def round2(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("corpusDiff: added/removed/changed/unchanged per id") {
    import spark.implicits._
    val prev = Seq((1L, "same"), (2L, "old"), (3L, "gone"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "same"), (2L, "new"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val out = Profiling.corpusDiff(prev, cur, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("keySkew: null-key group surfaces as rank 0, not silently dropped") {
    import spark.implicits._
    // half the table has a null key — the classic join-skew culprit
    val in = (Seq.fill(10)(Option.empty[Long]) ++
      (1L to 10L).map(Option(_))).toDF("k")
    val rows = Profiling.keySkew(in, "k", k = 3).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2)))
    val nullRow = rows.find(_._1 === 0)
    assert(nullRow === Some((0, -1L, 10L)))
    assert(rows.count(_._1 > 0) === 3) // top-k of the non-null keys
  }

  test("keySkew: uniform keys profile at ratio 1.0") {
    import spark.implicits._
    val in = (0L until 40L).map(i => i % 8).toDF("k")
    val rows = Profiling.keySkew(in, "k", k = 8).collect()
    assert(rows.length === 8)
    assert(rows.forall(_.getDouble(4) === 1.0))
  }

  test("bigramLmScore: hand-computed smoothed log-probs; short docs " +
    "get null score") {
    import spark.implicits._
    // corpus: "a a a" (bigrams "a a","a a"), "a b" ("a b"), "c" (none)
    // → c("a a")=2, c("a b")=1, c(a,·)=3, V=3 (a,b,c)
    // doc1 term: ln((2+1)/(3+3)) = ln(0.5); doc2: ln((1+1)/(3+3)) = ln(1/3)
    val docs = Seq((1L, "a a a"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    def term(x: Double) = math.rint(math.log(x) * 1e6) / 1e6
    def score(ts: Double*) =
      math.rint(ts.sum / ts.size * 1e4) / 1e4
    assert(out(1L) === ((2L, Some(score(term(0.5), term(0.5))))))
    assert(out(2L) === ((1L, Some(score(term(1.0 / 3))))))
    assert(out(3L) === ((0L, None)))
  }

  test("decayedUserActivity: power-of-two decay buckets, asOf filter, " +
    "far-past events decay to exactly zero") {
    import spark.implicits._
    val asOf = "2024-03-01 00:00:00"
    val hl = 7L * 24 * 3600 // one week
    val ts = (weeksBack: Double) => new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(asOf).getTime -
        (weeksBack * hl * 1000).toLong)
    val events = Seq(
      (1L, ts(0.5), 8.0),   // k=0 → weight 1
      (1L, ts(1.5), 8.0),   // k=1 → 1/2
      (1L, ts(2.5), 8.0),   // k=2 → 1/4
      (1L, ts(-1.0), 99.0), // AFTER asOf → excluded
      (2L, ts(200.0), 5.0)) // k caps at 20 → term ≈5e-6 → score 0.0000
      .toDF("user_id", "ts", "value")
    val out = Sessions.decayedUserActivity(events, "user_id", "ts",
      "value", asOf, hl)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out(1L) === ((3L, 8.0 + 4.0 + 2.0)))
    assert(out(2L) === ((1L, 0.0)))
  }

  test("powerOfTwoHistogram: bit-length buckets, shares sum to 1, " +
    "non-positives in bucket -1") {
    import spark.implicits._
    val vals = Seq(0L, 1L, 2L, 3L, 4L, 1023L, 1024L).toDF("v")
    val out = Profiling.powerOfTwoHistogram(vals, "v")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out === Map(-1 -> (1L, 1L), 0 -> (1L, 1L), 1 -> (2L, 2L),
      2 -> (4L, 1L), 9 -> (512L, 1L), 10 -> (1024L, 1L)))
    val shares = Profiling.powerOfTwoHistogram(vals, "v")
      .agg(sum(col("share"))).head().getDouble(0)
    assert(math.abs(shares - 1.0) < 1e-6)
  }

  test("precisionThreshold: lowest qualifying threshold per target; " +
    "unachievable targets emit nothing") {
    import spark.implicits._
    // scores desc: 10(+), 9(+), 8(-), 7(+), 6(-), 5(-)
    // cum prec: 1e6, 1e6, 666666, 750000, 600000, 500000
    val df = Seq((10, 1), (9, 1), (8, 0), (7, 1), (6, 0), (5, 0))
      .toDF("score", "pos")
    val out = Profiling.precisionThreshold(df, "score",
        col("pos") === 1, Seq(700000L, 990000L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // 700000: threshold 7 qualifies (750000) and is lowest; 6 doesn't
    assert(out(700000L) === ((7L, 4L, 3L, 750000L)))
    // 990000: only 9 and 10 qualify -> lowest is 9
    assert(out(990000L) === ((9L, 2L, 2L, 1000000L)))
    // a target no prefix reaches emits no row
    val none = Profiling.precisionThreshold(
      Seq((10, 0), (9, 1)).toDF("score", "pos"), "score",
      col("pos") === 1, Seq(600000L))
    assert(none.count() === 0L)
  }

  test("partitionAgreement: identical partitions -> RI 1e6; " +
    "hand-computed mixed case") {
    import spark.implicits._
    val same = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val r1 = Profiling.partitionAgreement(same, "a", "b").head()
    assert(r1.getAs[Long]("rand_ppm") === 1000000L)
    assert(r1.getAs[Long]("purity_ppm") === 1000000L)
    // A = {1,2},{3,4}; B = {1,2,3},{4}: n=4, C(4,2)=6 pairs.
    // together-both: (1,2) -> a=1; together-A: 2; together-B: 3+0=3...
    // doubled: a2=2, r2=4, c2=6+0=6, n(n-1)=12
    // RI = (12 + 4 - 4 - 6)/12 = 6/12 -> 500000 ppm
    // purity: cluster {1,2} max overlap 2, {3,4} max 1+... max(1,1)=1
    //   -> wait {3,4}: 3->B1, 4->B2 -> max 1; (2+1)/4 = 750000
    val mixed = Seq((1, "a1", "b1"), (2, "a1", "b1"), (3, "a2", "b1"),
      (4, "a2", "b2")).toDF("id", "a", "b")
    val r2 = Profiling.partitionAgreement(mixed, "a", "b").head()
    assert(r2.getAs[Long]("n_rows") === 4L)
    assert(r2.getAs[Long]("rand_ppm") === 500000L)
    assert(r2.getAs[Long]("purity_ppm") === 750000L)
  }

  test("quantizationRecall: coarse scale collapses near-ties -> " +
    "measurable recall loss; identical scales give 1e6") {
    import spark.implicits._
    // q = (1, 0). Fine x1000: c1 = .9 (900), c2 = .899 (899) ->
    // c1 before c2. Coarse x10: both 9 -> tie -> id order keeps c1,c2
    // same set; recall@2 = 1e6. But top-1: fine picks c1, coarse ties
    // c1 (id asc) -> still 1e6. Plant a real inversion for k=1:
    // c3 = (.86, .5), c4 = (.94, -.5): fine dots 860 vs 940 -> c4;
    // coarse x2: round(.86*2)=2, round(.94*2)=2, second dim 0 -> tie
    // -> id asc picks c3: recall@1 = 0.
    val corpus = Seq((3L, Seq(0.86f, 0.5f)), (4L, Seq(0.94f, -0.5f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val r = Similarity.quantizationRecall(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 1, hiScale = 1000, loScale = 2)
      .head()
    assert(r.getAs[Int]("n_hi") === 1 && r.getAs[Int]("n_lo") === 1)
    assert(r.getAs[Int]("n_common") === 0)
    assert(r.getAs[Long]("recall_ppm") === 0L)
    val full = Similarity.quantizationRecall(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", k = 2,
      hiScale = 1000, loScale = 2).head()
    assert(full.getAs[Long]("recall_ppm") === 1000000L)
  }

  test("bitemporalAsOf: tx rollback hides late corrections; valid " +
    "rollback hides future state") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // key 1: original value at Jan 10 (tx Jan 10), corrected on Jan 25
    // (tx Jan 25, same valid_from), future state Jan 22.
    val ch = Seq(
      (1L, ts("2024-01-10 00:00:00"), ts("2024-01-10 00:00:00"), 1L, 100.0),
      (1L, ts("2024-01-10 00:00:00"), ts("2024-01-25 00:00:00"), 2L, 999.0),
      (1L, ts("2024-01-22 00:00:00"), ts("2024-01-22 00:00:00"), 3L, 50.0),
      (2L, ts("2024-01-05 00:00:00"), ts("2024-01-06 00:00:00"), 4L, 7.0))
      .toDF("k", "valid_from", "tx_time", "id", "v")
    // As known Jan 21 about Jan 20: key 1 sees the ORIGINAL 100.0
    val asOf = Sessions.bitemporalAsOf(ch, "k", "valid_from", "tx_time",
        "id", "v", "2024-01-20 00:00:00", "2024-01-21 00:00:00")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    assert(asOf === Map(1L -> (1L, 100.0), 2L -> (4L, 7.0)))
    // As known TODAY about Jan 20: the correction wins, same valid row
    val now = Sessions.bitemporalAsOf(ch, "k", "valid_from", "tx_time",
        "id", "v", "2024-01-20 00:00:00", "2024-12-31 00:00:00")
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    assert(now(1L) === ((2L, 999.0)))
  }

  test("ksDistance: hand-computed sup gap, identical across partition " +
    "widths; one-sided input returns empty") {
    import spark.implicits._
    // A = {1,2,3,4}, B = {3,4,5,6}: at v=2 cumA=2/4, cumB=0/4 ->
    // D = 1/2 (ppm 500000); also at v=4 gap is 4/4-2/4=1/2: tie ->
    // largest value wins, ks_at = 4.
    val rows = Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4),
      ("b", 3), ("b", 4), ("b", 5), ("b", 6))
    val df = rows.toDF("s", "v")
    val r = Profiling.ksDistance(df, "s", "v", "a", "b").head()
    assert(r.getAs[Long]("n_a") === 4L)
    assert(r.getAs[Long]("n_b") === 4L)
    assert(r.getAs[Long]("n_values") === 6L)
    assert(r.getAs[Long]("ks_at") === 4L)
    assert(r.getAs[Long]("ks_ppm") === 500000L)
    val wide = Profiling.ksDistance(df.repartition(7), "s", "v", "a", "b")
      .head()
    assert(wide === r)
    assert(Profiling.ksDistance(df.where(col("s") === "a"), "s", "v",
      "a", "b").count() === 0L)
  }

  test("joinSizeEstimate: hot keys exact (incl. worst single key), " +
    "small uniform tail exact below kmvK") {
    import spark.implicits._
    // Side A: key "hot" x100, tail t1..t50 x2. Side B: "hot" x80,
    // tail t1..t40 x1. hhK=10: hot iff cnt*10 > N (A: N=200, hot=100
    // qualifies, tails at 2 don't; B: N=120, hot=80 qualifies).
    val a = (Seq.fill(100)("hot") ++
      (1 to 50).flatMap(i => Seq(s"t$i", s"t$i"))).toDF("k")
    val b = (Seq.fill(80)("hot") ++ (1 to 40).map(i => s"t$i")).toDF("k")
    val r = Profiling.joinSizeEstimate(a, "k", b, "k", "a~b",
      hhK = 10, kmvK = 256).head()
    assert(r.getAs[Long]("n_hot_keys") === 1L)
    assert(r.getAs[Long]("hot_pairs") === 8000L)
    assert(r.getAs[Long]("worst_hot_pairs") === 8000L)
    assert(r.getAs[Long]("rest_a") === 100L)
    assert(r.getAs[Long]("rest_b") === 40L)
    // tails below kmvK -> ndv exact -> est_rest = 100*40 div 50 = 80;
    // true tail join size = 40 keys * 2 * 1 = 80 — exact here.
    assert(r.getAs[Long]("ndv_rest_a") === 50L)
    assert(r.getAs[Long]("ndv_rest_b") === 40L)
    assert(r.getAs[Long]("est_rest") === 80L)
    assert(r.getAs[Long]("est_total") === 8080L)
  }

  test("benfordAudit: digit from decimal integral part, exact ppm, " +
    "sub-1 values excluded") {
    import spark.implicits._
    // 1x first-digit-1, 2x first-digit-2 (one via rounding 19.996->20.00),
    // 1x first-digit-9; 0.5 excluded.
    val vals = Seq(0.5, 1.23, 19.996, 250.0, 900.01).toDF("v")
    val out = Profiling.benfordAudit(vals, col("v"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet === Set("1", "2", "9"))
    assert(out("1") === ((1L, 250000L, 301030L, -51030L)))
    assert(out("2") === ((2L, 500000L, 176091L, 323909L)))
    assert(out("9") === ((1L, 250000L, 45757L, 204243L)))
  }

  test("mixDiversity: single-category 0, exact ppm for a planted mix") {
    import spark.implicits._
    val df = Seq(("bot", "click"), ("bot", "click"), ("bot", "click"),
      ("u1", "click"), ("u1", "view"), ("u1", "view"), ("u1", "buy"))
      .toDF("u", "e")
    val out = Profiling.mixDiversity(df, "u", col("e"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out("bot") === ((1L, 3L, 0L)))
    // u1: counts 1,2,1 over 4 -> 1e6 - 6*1e6 div 16 = 625000
    assert(out("u1") === ((3L, 4L, 625000L)))
  }

  test("countAutocorrelation: planted alternating series -> r = -1 at " +
    "lag 1, +1 at lag 2; unobserved hours break pairs") {
    import spark.implicits._
    // Hours 0..5 and 7 alternating 1 and 3 events; hour 6 missing, so
    // lag-1 pairs (5,6)/(6,7) don't exist while lag-2 keeps (5,7).
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 to 7).filter(_ != 6).flatMap { h =>
      val n = if (h % 2 == 0) 1 else 3
      (1 to n).map(i => (h * 6 + i,
        new java.sql.Timestamp(base + h * 3600000L + i * 1000L)))
    }
    val ev = rows.toDF("event_id", "ts")
    val out = Sessions.countAutocorrelation(ev, "ts", Seq(1, 2))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1)._1 === 5L) // pairs (0,1)..(4,5); 5->6 and 6->7 missing
    assert(math.abs(out(1)._2.get - (-1.0)) < 1e-9)
    assert(out(2)._1 === 5L) // (0,2),(1,3),(2,4),(3,5),(5,7)
    assert(math.abs(out(2)._2.get - 1.0) < 1e-9)
  }

  test("bigram LM held-out scoring: unseen bigrams and contexts hit the " +
    "smoothed floor, never drop") {
    import spark.implicits._
    val model = TextAnalysis.trainBigramLm(
      Seq((0L, "a b")).toDF("doc_id", "text"), "text")
    // V=2 (a,b); cw(a)=1; cb("a b")=1
    val out = TextAnalysis.scoreWithBigramLm(model,
      Seq((1L, "a b"), (2L, "a z"), (3L, "q r"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def s(x: Double) = math.rint(
      (math.rint(math.log(x) * 1e6) / 1e6) * 1e4) / 1e4
    assert(out(1L) === s(2.0 / 3)) // seen: (1+1)/(1+2)
    assert(out(2L) === s(1.0 / 3)) // unseen bigram, seen context: 1/(1+2)
    assert(out(3L) === s(1.0 / 2)) // unseen context: 1/(0+2)
    // ordering sanity: fully in-model text scores at least as high
    assert(out(1L) >= out(2L))
  }

  test("sourceOverlap: exact pairwise Jaccard of distinct gram sets, " +
    "zero-overlap pairs included") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a b c d"),   // grams: "a b c", "b c d"
      ("s2", "a b c x"),   // grams: "a b c", "b c x"  → ∩ s1 = 1, ∪ = 3
      ("s3", "z z z q")).toDF("source", "text")
    val out = TextAnalysis.sourceOverlap(docs, "source", "text", n = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getDouble(5))).toMap
    assert(out(("s1", "s2")) === ((1L, 1.0 / 3)))
    assert(out(("s1", "s3")) === ((0L, 0.0)))
    assert(out(("s2", "s3")) === ((0L, 0.0)))
    assert(out.size === 3)
  }

  test("winsorize: values clip to exact per-group percentiles; " +
    "in-range values untouched") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, "g", i))
      .toDF("doc_id", "source", "n_chars")
    val out = Profiling.winsorize(docs, "source", "doc_id", "n_chars",
      lo = 0.05, hi = 0.95)
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    // exact interpolated percentiles of 1..100: p05 = 5.95, p95 = 95.05
    assert(out(1L) === 5.95)
    assert(out(3L) === 5.95)
    assert(out(50L) === 50.0)
    assert(out(100L) === 95.05)
  }

  test("frequentNgrams equals sort-limit reference on the fixture") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val fast = TextAnalysis.frequentNgrams(d, "doc_id", "text", 2, 25)
    val grams = d.select(col("doc_id"),
      explode(Dedup.wordShingles(col("text"), 2)).as("gram"))
    val ref = grams.groupBy("gram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram")).limit(25)
    assert(fast.orderBy("rank").drop("rank").collect().toSeq ===
      ref.collect().toSeq)
  }

  test("paretoFrontier2D equals brute-force NOT EXISTS, with ties and " +
      "duplicates, across band counts") {
    import spark.implicits._
    // deterministic scatter + planted structure: a dominant point, an
    // exact duplicate pair on the frontier, same-x and same-y ties
    val pts = (1L to 400L).map { i =>
      (i, (i * 37 % 101).toDouble, ((i * 53 + 11) % 97).toDouble)
    } ++ Seq((401L, 101.0, 97.0), (402L, 100.0, 96.5), (403L, 100.0, 96.5))
    val df = pts.toDF("id", "x", "y")
    val brute = {
      val all = pts
      all.filter { case (_, x, y) =>
        !all.exists { case (_, qx, qy) =>
          qx >= x && qy >= y && (qx > x || qy > y)
        }
      }.map(_._1).toSet
    }
    for (bands <- Seq(2, 5, 16)) {
      val got = Profiling.paretoFrontier2D(df, "id", "x", "y", bands)
        .select("id").as[Long].collect().toSet
      assert(got === brute, s"bands=$bands")
    }
  }

  test("zipfSlope: exact OLS over integer bit-length logs") {
    import spark.implicits._
    // one group, token frequencies 8,4,2,1 at ranks 1..4:
    // x = ilog2(rank) = 0,1,1,2 ; y = ilog2(freq) = 3,2,1,0
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c")
      ++ Seq("d")).mkString(" ")
    val out = TextAnalysis.zipfSlope(Seq(("g", text)).toDF("src", "text"),
      "src", "text").as[(String, Long, Long, Option[Double])].head()
    // n=4 sx=4 sy=6 sxy=0*3+1*2+1*1+2*0=3 sxx=6 ->
    // slope = (12-24)/(24-16) = -1.5
    assert(out === (("g", 4L, 15L, Some(-1.5))))
    // degenerate vocabulary (single token): denominator 0 -> null slope
    val degen = TextAnalysis.zipfSlope(
      Seq(("g", "a a a")).toDF("src", "text"), "src", "text")
      .as[(String, Long, Long, Option[Double])].head()
    assert(degen === (("g", 1L, 3L, None)))
  }

  test("cdc applyLog: upsert, delete, insert, pass-through, " +
      "last-writer-wins ordering") {
    import spark.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val log = Seq(
      // key 1: two upserts -> latest (ts 5) wins
      (1L, "U", 11.0, 4L, 100L), (1L, "U", 12.0, 5L, 101L),
      // key 2: upsert then delete -> dropped
      (2L, "U", 21.0, 4L, 102L), (2L, "D", 0.0, 5L, 103L),
      // key 9: delete then upsert (insert) -> appears
      (9L, "D", 0.0, 4L, 104L), (9L, "U", 99.0, 5L, 105L),
      // key 8: same ts, tie-break on higher tie id
      (8L, "U", 1.0, 7L, 200L), (8L, "U", 2.0, 7L, 201L)
    ).toDF("k", "op", "v", "ts", "tie")
    val got = Cdc.applyLog(base, "k", "v", log, "k", "op", "v", "ts",
      "tie").as[(Long, Double, String)].collect().toSet
    assert(got === Set((1L, 12.0, "upsert"), (3L, 30.0, "base"),
      (9L, 99.0, "upsert"), (8L, 2.0, "upsert")))
  }

  test("linearAttribution: equal ppm split, lookback and ordering " +
      "respected, untouched conversions absent") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: clicks on ch0 and ch1 inside the window, then purchase
      (1L, 10L, "click", ts("2024-01-10 10:00:00")),
      (1L, 13L, "click", ts("2024-01-10 11:00:00")),
      (1L, 20L, "purchase", ts("2024-01-10 12:00:00")),
      // user 1: click AFTER the purchase -> no credit
      (1L, 14L, "click", ts("2024-01-10 13:00:00")),
      // user 2: click outside the 7-day lookback, purchase untouched
      (2L, 30L, "click", ts("2024-01-01 00:00:00")),
      (2L, 40L, "purchase", ts("2024-01-09 00:00:01"))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val got = Sessions.linearAttribution(ev, "user_id", "ts", "event_id",
      col("event_type") === "click", col("event_type") === "purchase",
      concat(lit("ch"), pmod(col("event_id"), lit(2)).cast("string")),
      lookbackSeconds = 7L * 24 * 3600)
      .as[(String, Long, Long, Long)].collect().toSet
    // event 10 -> ch0, event 13 -> ch1, each 1000000 div 2
    assert(got === Set(("ch0", 1L, 1L, 500000L),
      ("ch1", 1L, 1L, 500000L)))
  }

  test("negativeSample: k per user, disjoint from positives, " +
      "deterministic under repartitioning") {
    import spark.implicits._
    val pos = (for (u <- 1L to 20L; j <- 0L to 4L)
      yield (u, (u * 3 + j) % 50)).toDF("u", "item")
    val domain = (0L until 50L).map(Tuple1(_)).toDF("p")
    def run(parts: Int) =
      Splits.negativeSample(pos.repartition(parts), "u", "item",
        domain, "p", k = 3)
        .as[(Long, Int, Long)].collect().toSet
    val a = run(1)
    assert(a === run(13))
    val posSet = pos.as[(Long, Long)].collect().toSet
    assert(a.forall { case (u, _, item) => !posSet((u, item)) })
    val perUser = a.groupBy(_._1).view.mapValues(_.size)
    assert(perUser.values.forall(_ <= 3))
    assert(perUser.size === 20)
    // ranks are 1..n contiguous per user
    a.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).toSeq.sorted === (1 to rows.size))
    }
  }

  test("weightedJaccardPairs: repetition mass counted, set-identical " +
      "docs separate, disjoint docs zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"), // tf: a=3 b=1
      (2L, "a b"), // set-identical to 1, multiset not
      (3L, "a a a b"), // exact copy of 1
      (4L, "c d")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.weightedJaccardPairs(docs, "doc_id", "text", pairs)
      .select("id_a", "id_b", "inter_tf", "union_tf", "wj_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // (1,2): min a=1,b=1 -> 2; max a=3,b=1 -> 4 -> 500000 ppm
    // (1,3): identical multisets -> 4/4 -> 1000000
    // (1,4): disjoint -> 0/6 -> 0
    assert(got === Set((1L, 2L, 2L, 4L, 500000L),
      (1L, 3L, 4L, 4L, 1000000L), (1L, 4L, 0L, 6L, 0L)))
  }

  test("inclusionDependency: containment holds and fails as planted") {
    import spark.implicits._
    val a = Seq(1L, 2L, 3L, 3L).toDF("x")
    val b = Seq(1L, 2L, 3L, 4L).toDF("y")
    val hold = Profiling.inclusionDependency(a, "x", b, "y", "a<=b")
      .as[(String, Long, Long, Boolean)].head()
    assert(hold === (("a<=b", 3L, 0L, true)))
    val fail = Profiling.inclusionDependency(b, "y", a, "x", "b<=a")
      .as[(String, Long, Long, Boolean)].head()
    assert(fail === (("b<=a", 4L, 1L, false)))
  }

  test("quantileTransform: ties share ranks, min->0, max->1e6, " +
      "singleton group -> 0") {
    import spark.implicits._
    val rows = Seq(("g", 1L, 10.0), ("g", 2L, 20.0), ("g", 3L, 20.0),
      ("g", 4L, 30.0), ("h", 9L, 5.0)).toDF("src", "id", "v")
    val got = Profiling.quantileTransform(rows, "src", "id", "v")
      .select("id", "pct_ppm").as[(Long, Long)].collect().toMap
    // g: n=4; ranks-1: 10.0->0, 20.0->1 (ties), 30.0->3
    assert(got === Map(1L -> 0L, 2L -> 333333L, 3L -> 333333L,
      4L -> 1000000L, 9L -> 0L))
  }

  test("targetEncodeLoo: leave-one-out means in exact 1e-4 units; " +
      "singleton category is null") {
    import spark.implicits._
    val rows = Seq(("a", 1L, 1.5), ("a", 2L, 2.5), ("a", 3L, 5.0),
      ("b", 4L, 9.99)).toDF("cat", "id", "v")
    val got = Profiling.targetEncodeLoo(rows, "cat", "id", "v")
      .select("id", "loo_enc_e4").as[(Long, Option[Long])]
      .collect().toMap
    // a-sums in 1e-4 units: 15000+25000+50000 = 90000
    assert(got === Map(1L -> Some((90000L - 15000L) / 2),
      2L -> Some((90000L - 25000L) / 2),
      3L -> Some((90000L - 50000L) / 2), 4L -> None))
  }

  test("madOutliers: exact median/MAD on odd and even groups; one " +
      "extreme value cannot drag the gate open") {
    import spark.implicits._
    // odd group: values 1..9 plus outlier 1000 (n=10, even):
    // median = 5.5, deviations {4.5,3.5,...,0.5,994.5} -> MAD = 2.5
    // threshold = 3*1.4826*2.5 = 11.1195 -> only 1000 is out
    val g1 = (1 to 9).map(i => ("a", i.toDouble)) :+ (("a", 1000.0))
    // odd group b: 10,20,30 -> median 20, MAD 10, no outliers
    val g2 = Seq(("b", 10.0), ("b", 20.0), ("b", 30.0))
    val out = Profiling.madOutliers((g1 ++ g2).toDF("g", "v"), "g", "v")
      .orderBy("g")
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(out === Seq(("a", 10L, 5.5, 2.5, 1L),
      ("b", 3L, 20.0, 10.0, 0L)))
  }

  test("peakConcurrency: overlap, half-open touching, cross-hour " +
      "carry, drain-only hour") {
    import spark.implicits._
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    // sessions are 10 min: three overlapping at :00/:05/:08 (peak 3);
    // a back-to-back pair :30 and :40 never overlaps (half-open);
    // one at :55 spans into hour 1, where nothing starts (peak from
    // carry alone), then one at 02:05
    val ev = Seq(0, 5, 8, 30, 40, 55, 125).map(m => Tuple1(ts(m)))
      .toDF("ts")
    val got = Sessions.peakConcurrency(ev, "ts", sessionSeconds = 600L)
      .orderBy("hour")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("2024-01-01 00:00:00", 6L, 3L),
      ("2024-01-01 01:00:00", 0L, 1L),
      ("2024-01-01 02:00:00", 1L, 1L)))
  }

  test("phraseLift: planted collocation outranks independent pairs " +
      "and lift is the exact integer formula") {
    import spark.implicits._
    // "aa bb" always adjacent (perfect collocation); "cc" and "dd"
    // frequent but never adjacent to each other
    val docs = ((1 to 10).map(i => (i.toLong, "aa bb cc dd")) ++
      (11 to 15).map(i => (i.toLong, "cc aa bb dd"))).toDF("id", "text")
    val out = TextAnalysis.phraseLift(docs, "text", k = 10, minCount = 5L)
      .orderBy("rank")
      .as[(Int, String, Long, Long, Long, Long)].collect()
    val byGram = out.map(r => r._2 -> r).toMap
    // aa bb: n_ab=15, na=nb=15, N=60 -> lift = 15*60*1e6/225 = 4e6
    assert(byGram("aa bb")._6 === 4000000L)
    assert(out.head._2 === "aa bb")
    // adjacent-but-independent "bb cc" (10 occurrences):
    // 10*60*1e6/(15*15) = 2666666
    assert(byGram("bb cc")._6 === 2666666L)
    assert(byGram("bb cc")._3 === 10L)
  }

  test("driftReport: exact counts, smoothed ppm, empty-bin rows, " +
      "identical slices give uniform chi") {
    import spark.implicits._
    // group g: ref = 4 rows in bin 0, 4 in bin 1; cur = identical
    val rows = (for (b <- 0 to 1; _ <- 1 to 4; ref <- Seq(true, false))
      yield ("g", b * 10.0 + 1.0, ref)).toDF("grp", "v", "is_ref")
    val out = Profiling.driftReport(rows, "grp", "v", col("is_ref"),
      binWidth = 10.0, nBins = 4)
      .orderBy("bin")
      .as[(String, Int, Long, Long, Long, Long, Double)].collect()
    assert(out.length === 4) // all 4 bins materialized, 2 empty
    assert(out.map(_._3).toSeq === Seq(4L, 4L, 0L, 0L)) // ref_n
    assert(out.map(_._4).toSeq === Seq(4L, 4L, 0L, 0L)) // cur_n
    // smoothed shares: (4+1)/(8+4) and (0+1)/(8+4) in exact ppm
    assert(out.map(_._5).toSeq ===
      Seq(5000000L / 12, 5000000L / 12, 1000000L / 12, 1000000L / 12))
    // identical slices -> numerator c1*nr1 - r1*nc1 = 0 in every bin
    assert(out.forall(_._7 === 0.0))
  }

  test("sortedNeighborhoodPairs equals the single-window reference " +
      "across band counts, with duplicate keys") {
    import spark.implicits._
    val rows = ((1L to 300L).map(i => (i, f"key${(i * 7) % 100}%03d")) ++
      Seq((900L, "key001"), (901L, ""), (902L, "zz"))).toDF("id", "k")
    val w = 3
    val ref = {
      val sorted = rows.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy { case (id, k) => (k, id) }
      (for {
        i <- sorted.indices; j <- (i + 1) to math.min(i + w, sorted.size - 1)
      } yield (sorted(i)._1, sorted(j)._1, (j - i).toLong)).toSet
    }
    for (bands <- Seq(2, 4, 16)) {
      val got = Dedup.sortedNeighborhoodPairs(rows, "id", "k", w, bands)
        .select("id_a", "id_b", "rank_dist")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === ref, s"bands=$bands")
    }
  }

  test("editOneJoin finds exactly the edit-distance<=1 pairs: " +
      "substitution, deletion, insertion, duplicate; excludes dist 2") {
    import spark.implicits._
    val rows = Seq(
      (1L, "abcd"), (2L, "abxd"), // substitution: dist 1
      (3L, "abd"), // deletion vs abcd: dist 1; vs abxd: dist 1 (drop x)
      (4L, "zabcd"), // insertion vs abcd: dist 1
      (5L, "abcd"), // exact duplicate of 1: dist 0
      (6L, "axyd"), // dist 2 from abcd -> excluded
      (7L, ""), (8L, "q") // empty vs 1-char: dist 1
    ).toDF("id", "s")
    val got = Dedup.editOneJoin(rows, "id", "s")
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)]
      .collect().toSet
    val want = Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1), (1L, 4L, 1),
      (1L, 5L, 0), (4L, 5L, 1), (2L, 5L, 1) /* via 1==5 */,
      (3L, 5L, 1), (7L, 8L, 1))
    assert(got === want)
  }

  test("editOneJoin equals brute-force levenshtein<=1 on the fixture") {
    import spark.implicits._
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .limit(400).localCheckpoint()
    val got = Dedup.editOneJoin(c, "c_custkey", "c_name")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val a = c.select(col("c_custkey").as("ia"), col("c_name").as("na"))
    val b = c.select(col("c_custkey").as("ib"), col("c_name").as("nb"))
    // the naive plan: the session's edit-distance join rewrite off
    val want = graft.ConfScope.withConf(spark,
      graft.plans.EditDistanceJoinRewrite.EnabledKey, "false") {
      a.join(b, col("ia") < col("ib"))
        .where(levenshtein(col("na"), col("nb")) <= 1)
        .select("ia", "ib").as[(Long, Long)].collect().toSet
    }
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("slidingDistinct: island merge and boundary sweep equal the " +
    "brute-force per-hour recount, including gap = window edge") {
    import spark.implicits._
    // user 10: hours 0, 23 (one island: 23 - 0 <= 24), then 50
    // (gap 27 > 24: new island). user 20: hour 24 only. user 30:
    // hours 5 and 29 — gap EXACTLY 24, must merge into one island.
    val ev = Seq((10L, 0L), (10L, 23L), (10L, 50L), (20L, 24L),
        (30L, 5L), (30L, 29L))
      .toDF("user_id", "h")
      .select(col("user_id"),
        timestamp_micros(col("h") * 3600000000L).as("ts"))
    val got = Sessions.slidingDistinct(ev, "ts", "user_id", 24)
      .as[(Long, Long)].collect().toMap
    val hours = Seq(0L, 5L, 23L, 24L, 29L, 50L)
    val events = Seq((10L, 0L), (10L, 23L), (10L, 50L), (20L, 24L),
      (30L, 5L), (30L, 29L))
    val want = hours.map(h => h -> events.collect {
      case (u, eh) if eh >= h - 23 && eh <= h => u
    }.distinct.size.toLong).toMap
    assert(got === want)
    // the edge cases explicitly: hour 24 sees users 10 (h=23 in
    // window), 20, 30; hour 29's window [6,29] still holds all three
    // (10@23, 20@24, 30@29); hour 50's [27,50] drops user 30's h=5
    // island start but keeps its h=29 event
    assert(got(24L) === 3L)
    assert(got(29L) === 3L)
    assert(got(50L) === 2L)
  }

  test("goldenRecord: precedence beats recency, recency breaks " +
    "within precedence, tie-id breaks exact ties, nulls excluded") {
    import spark.implicits._
    val ups = Seq(
      // key 1, attr a: prec 2 OLD beats prec 1 NEW
      (1L, "a", "old-high", 2, 100L, 1L),
      (1L, "a", "new-low", 1, 900L, 2L),
      // key 1, attr b: same prec — later ts wins
      (1L, "b", "stale", 1, 100L, 3L),
      (1L, "b", "fresh", 1, 200L, 4L),
      // key 2, attr a: same prec+ts — larger tie id wins
      (2L, "a", "tie-lo", 1, 500L, 10L),
      (2L, "a", "tie-hi", 1, 500L, 11L),
      // key 2, attr b: null value must not survive nor count
      (2L, "b", null, 9, 999L, 12L),
      (2L, "b", "real", 1, 1L, 13L))
      .toDF("k", "a", "v", "p", "tu", "tie")
      .select(col("k"), col("a"), col("v"), col("p"),
        timestamp_micros(col("tu")).as("uts"), col("tie"))
    val got = Profiling.goldenRecord(ups, "k", "a", "v", "p", "uts",
        "tie")
      .select("key", "attr", "value", "n_candidates")
      .as[(Long, String, String, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got === Map(
      (1L, "a") -> ("old-high", 2L), (1L, "b") -> ("fresh", 2L),
      (2L, "a") -> ("tie-hi", 2L), (2L, "b") -> ("real", 1L)))
  }

  test("rfmSegments: equal metric values share a bucket and the grid " +
    "counts every customer once") {
    import spark.implicits._
    // 10 customers, one order each on distinct days, price = rank —
    // quintiles must be 2 customers per bucket on every axis; equal
    // values (single order each -> f identical) all share ONE f bucket
    val orders = (1 to 10).map { i =>
      (i.toLong, i.toLong, 100.0 * i,
        java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00"))
    }.toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val segs = Profiling.rfmSegments(orders, "o_custkey", "o_orderdate",
      "o_totalprice", buckets = 5)
    val rows = segs.collect()
    assert(rows.map(_.getAs[Long]("n_customers")).sum === 10L)
    // frequency is 1 for everyone: min-rank 0 -> bucket 1 everywhere
    assert(rows.forall(_.getAs[Int]("f_q") === 1))
    // recency and monetary rank together (both increase with i):
    // buckets 1..5, 2 customers each
    val byRq = rows.groupBy(_.getAs[Int]("r_q"))
      .view.mapValues(_.map(_.getAs[Long]("n_customers")).sum).toMap
    assert(byRq === Map(1 -> 2L, 2 -> 2L, 3 -> 2L, 4 -> 2L, 5 -> 2L))
    assert(rows.forall(r =>
      r.getAs[Int]("r_q") === r.getAs[Int]("m_q")))
    // exact cents: bucket 5 = customers 9,10 -> (900+1000)*100
    val top = rows.find(_.getAs[Int]("r_q") === 5).get
    assert(top.getAs[Long]("sum_monetary_cents") === 190000L)
  }

  test("associationRules: planted pair dominates lift, apriori prune " +
    "drops singletons, both directions emitted") {
    import spark.implicits._
    // items 1,2 co-occur in 4 of 8 baskets; item 3 appears with 1
    // once (below minPairCount=2); item 4 everywhere (high support,
    // lift ~1 with everything)
    val bi = Seq(
      (1L, 1L), (1L, 2L), (1L, 4L), (2L, 1L), (2L, 2L), (2L, 4L),
      (3L, 1L), (3L, 2L), (3L, 4L), (4L, 1L), (4L, 2L), (4L, 4L),
      (5L, 1L), (5L, 3L), (5L, 4L), (6L, 4L), (7L, 4L), (8L, 4L))
      .toDF("b", "i")
    val got = Profiling.associationRules(bi, "b", "i",
      minPairCount = 2, topK = 10).collect()
    val keys = got.map(r => (r.getAs[Long]("ante"),
      r.getAs[Long]("cons"))).toSet
    assert(keys.contains((1L, 2L)) && keys.contains((2L, 1L)))
    assert(!keys.exists { case (a, c) => a == 3L || c == 3L })
    val r12 = got.find(r => r.getAs[Long]("ante") == 1L &&
      r.getAs[Long]("cons") == 2L).get
    // support 4, c(1)=5, c(2)=4, n=8: conf = 4/5, lift = 4*8/(5*4)=1.6
    assert(r12.getAs[Long]("pair_count") === 4L)
    assert(r12.getAs[Long]("conf_ppm") === 800000L)
    assert(r12.getAs[Long]("lift_ppm") === 1600000L)
    // the planted pair outranks the ubiquitous item's rules
    assert(got.head.getAs[Long]("lift_ppm") ===
      got.map(_.getAs[Long]("lift_ppm")).max)
  }

  test("cusumChangepoint: planted mean shift found at the last " +
    "before-regime hour with the exact scaled statistic") {
    import spark.implicits._
    // type A: hours 0-9 one event each, hours 10-19 five each ->
    // m=20, C=60; S at j=10 (hour 9) = 20*10 - 10*60 = -400 (the
    // peak); type B: flat, |S| peaks small
    val rows =
      (0 until 10).map(h => ("A", h.toLong)) ++
      (10 until 20).flatMap(h => Seq.fill(5)(("A", h.toLong))) ++
      (0 until 4).map(h => ("B", h.toLong))
    val ev = rows.toDF("event_type", "h")
      .select(col("event_type"),
        timestamp_micros(col("h") * 3600000000L).as("ts"))
    val got = Sessions.cusumChangepoint(ev, "event_type", "ts")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("A")
    assert(a.getAs[Long]("n_hours") === 20L)
    assert(a.getAs[Long]("n_events") === 60L)
    assert(a.getAs[Long]("cp_hour") === 9L)
    assert(a.getAs[Long]("s_scaled") === -400L)
    // flat series: every S_j = 4*j - j*4 = 0, earliest hour wins
    val b = got("B")
    assert(b.getAs[Long]("s_scaled") === 0L)
    assert(b.getAs[Long]("cp_hour") === 0L)
  }

  test("businessDaysBetween: closed form equals day-walk counting " +
    "across weekends, exclusive-start/inclusive-end") {
    import spark.implicits._
    // epoch day 0 = Thursday 1970-01-01
    def walk(s: Long, e: Long): Long =
      (s + 1 to e).count(d => (d + 3) % 7 < 5).toLong
    val pairs = for (s <- 0L to 20L; e <- s to s + 20L) yield (s, e)
    val got = pairs.toDF("s", "e")
      .select(col("s"), col("e"),
        Profiling.businessDaysBetween(col("s"), col("e")).as("bd"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    pairs.foreach { case (s, e) =>
      assert(got((s, e)) === walk(s, e), s"($s,$e)")
    }
    // spot pins: Thu->Fri = 1, Thu->Sat = 1, Thu->next Mon = 2
    assert(got((0L, 1L)) === 1L)
    assert(got((0L, 2L)) === 1L)
    assert(got((0L, 4L)) === 2L)
  }

  test("mmrRerank: diversity beats redundancy — the near-duplicate of " +
    "the seed is deferred behind the orthogonal candidate") {
    import spark.implicits._
    // q=(.7,.7); A=(1,.2) seed; B=(.99,.19) near-copy of A; C=(.2,.9)
    // diverse. rel: A 8.4e7 > B 8.26e7 > C 7.7e7 — pure relevance
    // would rank B second; MMR must defer it: sim(B,A)=1.028e8 dwarfs
    // sim(C,A)=3.8e7, so mmr(C)=4.25e8 > mmr(B)=2.698e8.
    val corpus = Seq(
      (10L, Array(1.0f, 0.2f)),
      (11L, Array(0.99f, 0.19f)),
      (12L, Array(0.2f, 0.9f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", candidateK = 3, selectK = 3)
      .orderBy("mmr_rank").collect()
    assert(got.map(_.getAs[Long]("corpus_id")).toSeq ===
      Seq(10L, 12L, 11L))
    // exact integer bookkeeping end to end
    assert(got(0).getAs[Long]("rel_dot") === 84000000L)
    assert(got(0).isNullAt(got(0).fieldIndex("max_sim")))
    assert(got(1).getAs[Long]("rel_dot") === 77000000L)
    assert(got(1).getAs[Long]("max_sim") === 38000000L)
    assert(got(1).getAs[Long]("mmr_score") ===
      7L * 77000000L - 3L * 38000000L)
    // rank 3 = the near-dup; its max_sim vs {A, C} is its sim to A
    assert(got(2).getAs[Long]("max_sim") === 102800000L)
    assert(got(2).getAs[Long]("mmr_score") ===
      7L * 82600000L - 3L * 102800000L)
  }

  test("asOfNearest: picks the closer side, equal-ts is a backward " +
    "zero-distance match, equal distances prefer backward, tolerance " +
    "excludes, keys isolated") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 1000L),  // nearest: right at 990 (d10) vs 1050 (d50) -> b
      (2L, 10L, 2000L),  // equal distance: 1950 vs 2050 -> backward
      (3L, 10L, 3000L),  // only forward in tolerance: 2050 (d950,
                         // out of 500 tol) vs 3400 (d400) -> f
      (4L, 10L, 5000L),  // nothing within 500 -> null
      (5L, 10L, 6000L),  // exact equal ts -> b, d=0
      (6L, 99L, 1000L))  // different key, no rights -> null
      .toDF("event_id", "user_id", "tu")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("tu")).as("ts"))
    val right = Seq((10L, 990L, 100L), (10L, 1050L, 101L),
      (10L, 1950L, 102L), (10L, 2050L, 103L), (10L, 3400L, 104L),
      (10L, 6000L, 105L))
      .toDF("user_id", "tu", "click_id")
      .select(col("user_id"), timestamp_micros(col("tu")).as("ts"),
        col("click_id"))
    val got = AsOf.asOfNearest(left, "user_id", "ts", right, "user_id",
        "ts", Seq("click_id"), toleranceMicros = 500L)
      .select("event_id", "asof_dir", "asof_dist_micros",
        "asof_click_id")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(1)), Option(r.get(2)), Option(r.get(3))))
      .toMap
    assert(got(1L) === ((Some("b"), Some(10L), Some(100L))))
    assert(got(2L) === ((Some("b"), Some(50L), Some(102L))))
    assert(got(3L) === ((Some("f"), Some(400L), Some(104L))))
    assert(got(4L) === ((None, None, None)))
    assert(got(5L) === ((Some("b"), Some(0L), Some(105L))))
    assert(got(6L) === ((None, None, None)))
  }

  test("abcClassification: boundary entity lands in A, ties split " +
    "deterministically by key, shares exact") {
    import spark.implicits._
    // values (cents): 80, 10, 5, 5 -> S = 100. desc order: 80 (before
    // 0 -> A), 10 (before 80 -> B since 80*100 >= 80*100 is false...
    // 8000 < 8000 fails -> B), 5 (before 90 -> B), 5 (before 95 -> C;
    // tie with the other 5 split by key: smaller key classifies B)
    val df = Seq((1L, 80L), (2L, 10L), (3L, 5L), (4L, 5L))
      .toDF("k", "vc")
    val got = Profiling.abcClassification(df, "k", col("vc"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_entities"), r.getAs[Long]("mass_cents"),
          r.getAs[Long]("share_ppm"))).toMap
    assert(got("A") === ((1L, 80L, 800000L)))
    assert(got("B") === ((2L, 15L, 150000L)))
    assert(got("C") === ((1L, 5L, 50000L)))
  }

  test("rateAlerts: arms only after 2 consecutive high hours, " +
    "disarms at first low hour, hovering inside the band holds state") {
    import spark.implicits._
    // counts per hour for one type; mean = 10 -> hi = 15, lo = 5.
    // series: 10, 20(1st hi), 20(2nd hi -> ON), 10(hold), 4(OFF),
    // 20(1st hi, still off), 6(hold off)
    val counts = Seq(10, 20, 20, 10, 4, 20, 6)
    val rows = counts.zipWithIndex.flatMap { case (c, h) =>
      Seq.fill(c)(h.toLong) }
    val ev = rows.toDF("h").select(lit("t").as("g"),
      timestamp_micros(col("h") * 3600000000L).as("ts"))
    val got = graft.ops.Sessions.rateAlerts(ev, "g", "ts",
        hiPct = 150, loPct = 50)
      .orderBy("hour").collect()
      .map(r => r.getAs[Long]("hour") -> r.getAs[Boolean]("alert_active"))
    // mean = 90/7 = 12.857 -> hi = 19.28 (c >= requires c*7*100 >=
    // 150*90 i.e. c >= 19.28 -> 20 qualifies), lo: c*700 < 45*100
    // i.e. c < 6.43 -> 4 and 6 qualify as low!
    // recompute: signals: h1 hi(no prev), h2 hi+prev -> ON, h3 hold,
    // h4 c=4 low -> OFF, h5 hi(prev not hi), h6 c=6 low -> OFF
    assert(got.toMap === Map(0L -> false, 1L -> false, 2L -> true,
      3L -> true, 4L -> false, 5L -> false, 6L -> false))
  }

  test("embeddingDrift: identical cohorts give cosine exactly 1, " +
    "orthogonal cohorts give 0, exact integer sums") {
    import spark.implicits._
    val same = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val g1 = Similarity.embeddingDrift(same, "vec_id", "embedding",
      pmod(col("vec_id"), lit(2)) === 0).collect().head
    assert(g1.getAs[Long]("n_a") === 2L && g1.getAs[Long]("n_b") === 1L)
    // sa = (2e4, 0), sb = (1e4, 0): dot 2e8, cos exactly 1.0
    assert(g1.getAs[Long]("dot_ab") === 200000000L)
    assert(g1.getAs[Double]("cos_centroids") === 1.0)
    val orth = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val g2 = Similarity.embeddingDrift(orth, "vec_id", "embedding",
      pmod(col("vec_id"), lit(2)) === 0).collect().head
    assert(g2.getAs[Long]("dot_ab") === 0L)
    assert(g2.getAs[Double]("cos_centroids") === 0.0)
  }

  test("chiSquareIndependence: independent grid scores 0 everywhere, " +
    "absent cell carries full expected mass") {
    import spark.implicits._
    // perfectly independent 2x2: a1/a2 x b1/b2 with counts 2,4,1,2?
    // use exact independence: rows (a1,b1)x6, (a1,b2)x2, (a2,b1)x3,
    // (a2,b2)x1 -> r=(8,4), c=(9,3), N=12: expected a1b1=6 etc -> 0
    val ind = (Seq.fill(6)(("a1", "b1")) ++ Seq.fill(2)(("a1", "b2")) ++
      Seq.fill(3)(("a2", "b1")) ++ Seq.fill(1)(("a2", "b2")))
      .toDF("a", "b")
    val gi = Profiling.chiSquareIndependence(ind, "a", "b").collect()
    assert(gi.length === 4)
    assert(gi.forall(_.getAs[Long]("contrib_e6") === 0L))
    // absent cell: (a2,b2) never occurs -> n_ab 0, expected = r*c/N
    val dep = (Seq.fill(4)(("a1", "b1")) ++ Seq.fill(4)(("a1", "b2")) ++
      Seq.fill(4)(("a2", "b1"))).toDF("a", "b")
    val gd = Profiling.chiSquareIndependence(dep, "a", "b").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val absent = gd(("a2", "b2"))
    assert(absent.getAs[Long]("n_ab") === 0L)
    // expected = 4*4/12 = 1.3333 -> 13333 e4
    assert(absent.getAs[Long]("expected_e4") === 13333L)
    // contrib = (0*12 - 16)^2 * 1e6 / (12*16) = 256e6/192 = 1333333
    assert(absent.getAs[Long]("contrib_e6") === 1333333L)
  }

  test("markovAccuracy: temporal split trains argmax successor with " +
    "name tie-break; test scores exactly") {
    import spark.implicits._
    def ts(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // ALL consecutive events pair (not just same-day chains):
    // train pairs = a->b x3, b->a x3, a->c x1, b->c x1
    //   -> model: a predicts b, b predicts a
    // test pairs (user 3) = a->b OK, b->a OK, a->c wrong,
    //   c->b (state c unmodeled, dropped), b->a OK
    val ev = Seq(
      (1L, 1L, "a", ts(1, 1)), (1L, 2L, "b", ts(1, 2)),
      (1L, 3L, "a", ts(2, 1)), (1L, 4L, "b", ts(2, 2)),
      (1L, 5L, "a", ts(3, 1)), (1L, 6L, "c", ts(3, 2)),
      (2L, 7L, "b", ts(4, 1)), (2L, 8L, "a", ts(4, 2)),
      (2L, 9L, "b", ts(5, 1)), (2L, 10L, "c", ts(5, 2)),
      // test half: user 3 fresh chains
      (3L, 11L, "a", ts(20, 1)), (3L, 12L, "b", ts(20, 2)),
      (3L, 13L, "a", ts(21, 1)), (3L, 14L, "c", ts(21, 2)),
      (3L, 15L, "b", ts(22, 1)), (3L, 16L, "a", ts(22, 2)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = graft.ops.Sessions.markovAccuracy(ev, "user_id", "ts",
        "event_id", "event_type", "2024-01-16 00:00:00")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getAs[String]("predicted") === "b")
    assert(got("b").getAs[String]("predicted") === "a")
    assert(got("a").getAs[Long]("n_test") === 2L)
    assert(got("a").getAs[Long]("n_correct") === 1L)
    assert(got("a").getAs[Long]("acc_ppm") === 500000L)
    assert(got("__overall").getAs[Long]("n_test") === 4L)
  }

  test("cupedAdjust: perfectly predictive covariate zeroes the " +
    "adjusted diff down to the arm-mean identity") {
    import spark.implicits._
    // users with y == x (pre value repeats post): theta = 1 exactly,
    // adj diff = raw diff - (xbarA - xbarB) = 0
    def ts(d: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val users = (1L to 40L)
    val ev = users.flatMap { u =>
      val v = (u % 7).toDouble * 10 + 5
      Seq((u, ts(2), v), (u, ts(20), v))
    }.toDF("user_id", "ts", "value")
      .withColumn("event_id", col("user_id"))
    val got = Profiling.cupedAdjust(ev, "user_id", "ts", "value",
      "2024-01-16 00:00:00").collect().head
    assert(got.getAs[Double]("theta") === 1.0)
    assert(math.abs(got.getAs[Double]("adj_diff_e4")) < 1e-9)
    assert(got.getAs[Long]("n_a") + got.getAs[Long]("n_b") === 40L)
  }

  test("burstDedup: chained gaps merge transitively, keys independent, " +
    "exact suppressed counts") {
    import spark.implicits._
    // user 1 type a: 0s, 4s, 8s chain (one burst under 5s gap even
    // though 8s > 5s from the FIRST), then 20s (new burst);
    // user 1 type b at 1s: separate key, untouched
    val ev = Seq((1L, "a", 10L, 0L), (1L, "a", 11L, 4L),
      (1L, "a", 12L, 8L), (1L, "a", 13L, 20L), (1L, "b", 14L, 1L))
      .toDF("user_id", "event_type", "event_id", "sec")
      .select(col("user_id"), col("event_type"), col("event_id"),
        timestamp_micros(col("sec") * 1000000L).as("ts"))
    val got = Sessions.burstDedup(ev, "user_id", "event_type", "ts",
        "event_id", gapSeconds = 5)
      .select("event_id", "n_suppressed")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 2L, 13L -> 0L, 14L -> 0L))
  }

  test("multiSourceBfs: exact first-visit depth counts on a planted " +
    "graph, unreachable nodes absent") {
    import spark.implicits._
    // path 1-2-3-4-5 plus branch 2-10; node 99 isolated
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graphs.multiSourceBfs(spark, edges, seeds = Seq(1L, 4L),
        maxDepth = 3)
      .as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // seed 1: d0={1} d1={2} d2={3,10} d3={4}
    assert(got === Map((1L, 0) -> 1L, (1L, 1) -> 1L, (1L, 2) -> 2L,
      (1L, 3) -> 1L,
      // seed 4: d0={4} d1={3,5} d2={2} d3={1,10}
      (4L, 0) -> 1L, (4L, 1) -> 2L, (4L, 2) -> 1L, (4L, 3) -> 2L))
  }

  test("concentrationReport: hand-computed Gini and tie-exact top " +
    "shares") {
    import spark.implicits._
    val got = Profiling.concentrationReport(
      Seq(1.0, 1.0, 1.0, 1.0, 6.0).toDF("v"), "v")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("ppm"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("total_cents"))).toMap
    // sorted cents 100x4, 600: 2*sum(i*x)=8000_00, G=(8000-6*1000)/5000
    assert(got("gini") === ((400000L, 5L, 1000L)))
    // top1 and top10 both take ceil(5%) = 1 row -> 600/1000
    assert(got("top1") === ((600000L, 5L, 1000L)))
    assert(got("top10") === ((600000L, 5L, 1000L)))
    // all-equal values: gini exactly 0; top-1-of-4 = exactly 1/4 even
    // though the boundary splits a tie group
    val eq = Profiling.concentrationReport(
      Seq(2.0, 2.0, 2.0, 2.0).toDF("v"), "v")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("ppm")).toMap
    assert(eq("gini") === 0L)
    assert(eq("top1") === 250000L)
  }

  test("tCloseness: mirrored group scores 0 ppm, fully skewed group " +
    "scores the exact complement mass, absent values counted") {
    import spark.implicits._
    // two groups with slightly different X:Y mixes vs the 7:2 global;
    // the exact-ppm TVD distinguishes them (hand-computed below)
    val df = (Seq.fill(3)(("g1", "X")) ++ Seq(("g1", "Y")) ++
      Seq.fill(3)(("g2", "X")) ++ Seq(("g2", "X"), ("g2", "Y")))
      .toDF("q", "s")
    val got = Profiling.tCloseness(df, "q", "s").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("k_size"), r.getAs[Long]("l_diversity"),
          r.getAs[Long]("tvd_ppm"))).toMap
    // rows: g1 = 3X+1Y (n=4), g2 = 4X+1Y (n=5), global = 7X+2Y (N=9)
    // g1: |3*9-7*4| + |1*9-2*4| = 2 -> 2*1e6/(2*4*9) = 27777
    assert(got("g1") === ((4L, 2L, 27777L)))
    // g2: |4*9-7*5| + |1*9-2*5| = |36-35| + |9-10| = 2 ->
    // 2*1e6/(2*5*9) = 22222
    assert(got("g2") === ((5L, 2L, 22222L)))
  }

  test("seasonalAnomalies: planted spike flagged against its " +
    "hour-of-week baseline, quiet cells stay quiet") {
    import spark.implicits._
    // hour-of-week cell 10 across 5 weeks: counts 4,4,4,4,20 (spike in
    // week 5); cell 20: constant 3s. med2(cell10)=8, mad4=0 -> spike
    // |40-8|*2e4 > 44478*0 flags; weeks with c=4 have dev 0 -> quiet.
    val rows =
      (0 until 5).flatMap { wk =>
        val h10 = wk * 168L + 10L
        val n = if (wk == 4) 20 else 4
        Seq.fill(n)(h10)
      } ++ (0 until 5).flatMap { wk => Seq.fill(3)(wk * 168L + 20L) }
    val ev = rows.toDF("h")
      .select(lit("t").as("g"),
        timestamp_micros(col("h") * 3600000000L).as("ts"))
    val got = graft.ops.Sessions.seasonalAnomalies(ev, "g", "ts")
      .collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("hour") === 4 * 168L + 10L)
    assert(got.head.getAs[Long]("n") === 20L)
    assert(got.head.getAs[Long]("med2") === 8L)
    assert(got.head.getAs[Long]("mad4") === 0L)
  }

  test("interpolateHourly: exact interior interpolation, boundary obs " +
    "self-interpolates, empty-hour carry, exterior hours excluded") {
    import spark.implicits._
    val H = 3600000000L
    // group g: obs at 0:30 (y=10), exactly 3:00 (y=40), 5:45 (y=100);
    // interior grid hours 1,2,3,4,5
    val ev = Seq(
      (1L, H / 2, 10.0), (2L, 3 * H, 40.0),
      (3L, 5 * H + 45 * 60000000L, 100.0))
      .toDF("event_id", "tu", "value")
      .select(lit("g").as("g"), col("event_id"),
        timestamp_micros(col("tu")).as("ts"), col("value"))
    val got = Sessions.interpolateHourly(ev, "g", "ts", "event_id",
        "value")
      .orderBy("hour").collect()
      .map(r => r.getAs[Long]("hour") ->
        (r.getAs[Long]("prev_micros"), r.getAs[Long]("next_micros"),
          r.getAs[Long]("interp_e4"))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // hour 1: between (0:30, 1e5) and (3:00, 4e5): t=1:00 ->
    // (1e5*(2h) + 4e5*(0.5h)) / 2.5h = (2e5+2e5)/2.5 = 160000
    assert(got(1L) === ((H / 2, 3 * H, 160000L)))
    // hour 3: grid instant ON the observation -> next = itself,
    // zero-width weight gives exactly its value
    assert(got(3L) === ((H / 2, 3 * H, 400000L)))
    // hour 4: between 3:00 (4e5) and 5:45 (1e6): 1h of 2.75h ->
    // (4e5*1.75 + 1e6*1.0)/2.75 = 1700000/2.75 = 618181 (floor)
    assert(got(4L) === ((3 * H, 5 * H + 45 * 60000000L, 618181L)))
  }

  test("topPaths: truncation at maxLen, gap split, deterministic " +
    "count-then-path ordering") {
    import spark.implicits._
    val ev = Seq(
      // user 1: a>b then (gap) c  — two sessions
      (1L, 1L, "a", 0L), (1L, 2L, "b", 60L), (1L, 3L, "c", 10000L),
      // user 2: a>b in one session
      (2L, 4L, "a", 0L), (2L, 5L, "b", 30L),
      // user 3: 4 events, maxLen 3 keeps a>b>c
      (3L, 6L, "a", 0L), (3L, 7L, "b", 1L), (3L, 8L, "c", 2L),
      (3L, 9L, "d", 3L))
      .toDF("user_id", "event_id", "event_type", "sec")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("sec") * 1000000L).as("ts"))
    val got = graft.ops.Sessions.topPaths(ev, "user_id", "ts",
        "event_id", "event_type", gapSeconds = 1800, maxLen = 3,
        topK = 10)
      .as[(String, Long)].collect().toList
    assert(got === List(("a>b", 2L), ("a>b>c", 1L), ("c", 1L)))
  }

  test("correlationMatrix: exact +1/-1 on linear columns, one row per " +
      "pair, zero-variance denominator yields NaN not a crash") {
    import spark.implicits._
    val df = Seq((1L, 2L, -1L, 5L), (2L, 4L, -2L, 5L), (3L, 6L, -3L, 5L))
      .toDF("a", "b", "c", "d")
    val got = Profiling.correlationMatrix(df, Seq(
        "a" -> col("a"), "b" -> col("b"), "c" -> col("c"),
        "d" -> col("d")))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size === 6) // 4 choose 2
    // b = 2a, c = -a: |corr| = 1 up to one ulp of sqrt(v)*sqrt(4v)
    assert(got(("a", "b"))._1 === 3L)
    assert(math.abs(got(("a", "b"))._2 - 1.0) < 1e-12)
    assert(math.abs(got(("a", "c"))._2 + 1.0) < 1e-12)
    // d is constant: zero variance -> 0/0 -> NaN (flagged, not wrong)
    assert(got(("a", "d"))._2.isNaN)
  }

  test("dpNoisyCounts: deterministic across runs, suppression drops " +
      "small cells, released counts never negative") {
    import spark.implicits._
    val rows = (1 to 400).map(i => ("big", s"r$i")) ++
      (1 to 3).map(i => ("tiny", s"t$i"))
    val df = rows.toDF("k", "payload")
    def run() = Profiling.dpNoisyCounts(df, Seq("k"), sigma = 8.0,
      suppressBelow = 10L, salt = "spec-salt")
      .as[(String, Long)].collect().toMap
    val a = run()
    assert(a === run()) // pure function of (key, salt): reruns identical
    // big cell survives with count within a few sigma of the truth
    assert(a.contains("big") && math.abs(a("big") - 400L) <= 48L)
    // 3-row cell: even +6 sigma of noise stays under the threshold
    assert(!a.contains("tiny"))
    assert(a.values.forall(_ >= 0L))
  }

  test("dpNoisyCounts: noise actually perturbs (not an identity) and " +
      "differs across salts") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (s"g${i % 7}", i)).toDF("k", "v")
    val rel1 = Profiling.dpNoisyCounts(df, Seq("k"), sigma = 8.0,
      suppressBelow = 0L, salt = "s1").as[(String, Long)].collect().toMap
    val rel2 = Profiling.dpNoisyCounts(df, Seq("k"), sigma = 8.0,
      suppressBelow = 0L, salt = "s2").as[(String, Long)].collect().toMap
    assert(rel1.keySet === rel2.keySet)
    assert(rel1 !== rel2) // different salt, different noise stream
  }

  test("bpePairStats: hand-counted weighted pairs, vocab weighting not " +
      "corpus explosion, single-char words ignored") {
    import spark.implicits._
    // corpus: "ab ab cd x" -> vocab ab:2 cd:1 x:1
    // pairs: ab(freq 2), cd(freq 1); x has no pair
    val docs = Seq("ab ab cd x").toDF("text")
    val got = TextAnalysis.bpePairStats(docs, "text", topK = 10)
      .as[(String, Long)].collect().toList
    assert(got === List(("ab", 2L), ("cd", 1L)))
    // ties at the boundary cut by pair asc: "aa" before "bb"
    val tied = TextAnalysis.bpePairStats(
      Seq("aa bb").toDF("text"), "text", topK = 1)
      .as[(String, Long)].collect().toList
    assert(tied === List(("aa", 1L)))
  }

  test("calibrationReport: hand-counted bins, boundary clamp to the top " +
      "bin, exact integer gap") {
    import spark.implicits._
    // scores in micro-units; bins of width 100000
    val rows = Seq(
      (50000L, 0L),   // bin 0, y=0: gap = |0*1e6-50000|/1 = 50000
      (150000L, 1L),  // bin 1
      (160000L, 0L),  // bin 1: n=2, pos=1, sum=310000,
                      //   gap = |1000000-310000|/2 = 345000
      (1000000L, 1L), // su=1e6 -> raw bin 10, clamps to 9
      (999999L, 1L))  // bin 9: n=2, pos=2, sum=1999999,
                      //   gap = |2000000-1999999|/2 = 0
      .toDF("su", "y")
    val got = Profiling.calibrationReport(rows, col("su"), col("y"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === Map(
      0L -> (1L, 0L, 50000L, 50000L),
      1L -> (2L, 1L, 310000L, 345000L),
      9L -> (2L, 2L, 1999999L, 0L)))
  }

  test("qualityRulesAudit: each rule trips on its designed violator, " +
      "clean doc passes all five") {
    import spark.implicits._
    val clean = "the quick brown fox jumps over the lazy dog and " +
      "then it runs back home to rest for a while in the sun"
    val tooShort = "the of and"                        // r1 (3 words) + r4? has 3 stopwords -> only r1
    val symbols = "the cat ### *** ### *** sat on a mat " +
      "#### **** #### is that it was for on"           // r3 symbol-heavy
    val numeric = "the 1 2 3 4 5 6 7 8 9 10 11 is a doc"  // r5 digit words
    val docs = Seq(
      ("s1", clean), ("s1", tooShort),
      ("s2", symbols), ("s2", numeric)).toDF("source", "text")
    val got = TextAnalysis.qualityRulesAudit(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // s1: 2 docs; tooShort violates wordcount only -> 1 pass
    val (n1, w1, _, _, st1, _, p1) = got("s1")
    assert(n1 === 2L && w1 === 1L && p1 === 1L && st1 === 0L)
    // s2: symbols doc violates symbol ratio; numeric doc violates
    // numeric-word ratio; neither passes
    val (n2, _, _, sy2, _, dg2, p2) = got("s2")
    assert(n2 === 2L && sy2 >= 1L && dg2 >= 1L && p2 === 0L)
  }

  test("wordSubsampleAudit: sub-threshold tokens always kept, a " +
      "dominant token is thinned but survives, deterministic") {
    import spark.implicits._
    // source A: "hot" 1000 times (f*tDen >> N*tNum -> thinned);
    // source B: 1000 distinct rare tokens (f=1 -> f*tDen <= N*tNum
    // would need N >= 10000... make N large via A) — rare tokens keep
    // iff u30^2 < N*2^60/(f*tDen); with N=2000, f=1, tDen=1e4 the
    // keep probability is sqrt(N/(f*tDen)) = sqrt(0.2) ~ 45% — so use
    // tDen=1 (t=1): every token has f <= N -> ALL kept exactly.
    val a = Seq(("a", (1 to 1000).map(_ => "hot").mkString(" ")))
    val b = Seq(("b", (1 to 1000).map(i => s"w$i").mkString(" ")))
    val all = (a ++ b).zipWithIndex
      .map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    // t = 1 (tNum=1, tDen=1): sqrt(t*N/f) >= 1 for every token -> all kept
    val keepAll = graft.ops.Mixing.wordSubsampleAudit(all, "doc_id",
        "source", "text", tNum = 1L, tDen = 1L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(keepAll("a") === ((1000L, 1000L)))
    assert(keepAll("b") === ((1000L, 1000L)))
    // t = 1e-4: "hot" (f=1000, N=2000) thinned to ~sqrt(2e-4*2) ~ 1.4%;
    // rare tokens (f=1) keep with p ~ sqrt(0.2) ~ 45%
    val thinned = graft.ops.Mixing.wordSubsampleAudit(all, "doc_id",
        "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(thinned("a")._2 < 100L) // dominant token heavily thinned
    assert(thinned("b")._2 > thinned("a")._2) // rare tokens kept more
    // deterministic
    assert(graft.ops.Mixing.wordSubsampleAudit(all, "doc_id", "source",
      "text").collect().map(_.toSeq).toSet ===
      graft.ops.Mixing.wordSubsampleAudit(all, "doc_id", "source",
        "text").collect().map(_.toSeq).toSet)
  }

  test("bloomFprAudit: members filtered out of the probe set, a " +
      "saturated filter fires on every probe, a roomy filter on few, " +
      "bit load bounded by k*members") {
    import spark.implicits._
    val mem = (1 to 30).map(i => s"m$i").toDF("x")
    val prbWithMembers = ((1 to 20).map(i => s"p$i") ++ Seq("m1", "m2"))
      .toDF("x")
    // m=8: 30 members x 4 hashes saturate all 8 bits -> every probe FP
    val sat = Sketches.bloomFprAudit(mem, col("x"), prbWithMembers,
      col("x"), mBits = 8, k = 4).head()
    assert(sat.getLong(0) === 30L)
    assert(sat.getLong(1) === 8L)
    assert(sat.getLong(2) === 20L) // m1/m2 removed from probes
    assert(sat.getLong(3) === 20L)
    assert(sat.getLong(4) === 1000000L)
    // m=65536: bit load <= k*members, few-to-zero FPs
    val big = Sketches.bloomFprAudit(mem, col("x"), prbWithMembers,
      col("x"), mBits = 65536, k = 4).head()
    assert(big.getLong(1) <= 120L && big.getLong(1) > 100L)
    assert(big.getLong(3) <= 1L)
  }

  test("pqAssignmentReport: seed rows assign to themselves with zero " +
      "error, a near-seed vector assigns per subspace with the exact " +
      "block SSE, dist ties break to the lowest code id") {
    import spark.implicits._
    // 4-dim vectors, 2 subspaces of 2; seeds 0 and 1
    val s0 = Seq(0.0f, 0.0f, 0.0f, 0.0f)
    val s1 = Seq(1.0f, 1.0f, 1.0f, 1.0f)
    // v2: first block nearer s0 (0.1,0.1), second nearer s1 (0.9,0.9)
    val v2 = Seq(0.1f, 0.1f, 0.9f, 0.9f)
    // v3: exactly BETWEEN the seeds in both blocks (0.5 everywhere):
    // equal distance -> must tie-break to code 0
    val v3 = Seq(0.5f, 0.5f, 0.5f, 0.5f)
    val df = Seq((0L, s0), (1L, s1), (2L, v2), (3L, v3))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqAssignmentReport(df, "vec_id", "embedding",
        inDims = 4, nSub = 2, seedIds = Seq(0L, 1L), quantScale = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // quantScale 10: v2 block errors = 1+1 = 2 per block; v3 -> 25+25
    // sub 0: code 0 gets s0, v2, v3 (n=3, sse=0+2+50); code 1 gets s1
    assert(got((0, 0L)) === ((3L, 52L)))
    assert(got((0, 1L)) === ((1L, 0L)))
    // sub 1: code 0 gets s0, v3 (sse 50); code 1 gets s1, v2 (sse 2)
    assert(got((1, 0L)) === ((2L, 50L)))
    assert(got((1, 1L)) === ((2L, 2L)))
  }

  test("vocabGrowthCurve: hand-built corpus — vocab counts distinct " +
      "tokens first seen below each boundary, occurrences cumulative") {
    import spark.implicits._
    val docs = Seq((0L, "a b a"), (1L, "b c"), (2L, "c d e"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowthCurve(docs, "doc_id", "text",
        boundaries = Seq(1L, 2L, 4L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === Map(1L -> (3L, 2L), 2L -> (5L, 3L), 4L -> (8L, 5L)))
  }

  test("canonicalizeUrl: host-case/default-port/utm/fragment variants " +
      "collapse; real params, non-default ports, and paths survive") {
    import spark.implicits._
    val urls = Seq(
      "https://www.Ex.com/p/1",
      "HTTPS://WWW.EX.COM:443/p/1",
      "https://www.ex.com/p/1?utm_source=a&utm_campaign=b#frag",
      "https://www.ex.com/p/1?q=1",          // real param survives
      "http://ex.com:8080/x",                 // non-default port kept
      "https://ex.com/",                      // bare slash collapses
      "not a url at all")
      .toDF("u")
      .select(TextAnalysis.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect()
    assert(urls(0) === "https://www.ex.com/p/1")
    assert(urls(1) === "https://www.ex.com/p/1")
    assert(urls(2) === "https://www.ex.com/p/1")
    assert(urls(3) === "https://www.ex.com/p/1?q=1")
    assert(urls(4) === "http://ex.com:8080/x")
    assert(urls(5) === "https://ex.com")
    assert(urls(6) === "not a url at all")
  }

  test("rendezvousReshardAudit: shards partition the keys, growing " +
      "n -> n+1 moves keys ONLY to the new shard, assignment is " +
      "deterministic") {
    import spark.implicits._
    val keys = (1 to 400).map(i => s"user$i").toDF("k")
    val got = Bucketing.rendezvousReshardAudit(keys, col("k"), shards = 8)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet === (0 to 8).toSet)
    assert(got.values.map(_._1).sum === 400L) // before partitions keys
    assert(got.values.map(_._2).sum === 400L) // after partitions keys
    assert(got(8)._1 === 0L)                  // new shard empty before
    // THE rendezvous contract: every moved key lands on the new shard
    (0 to 7).foreach(s => assert(got(s)._3 === 0L, s"churn into shard $s"))
    assert(got(8)._3 === got(8)._2)
    // expected movement ~ 1/9 of keys; allow wide slack, must be > 0
    assert(got(8)._2 > 10L && got(8)._2 < 100L)
    // determinism across invocations
    val again = Bucketing.rendezvousReshardAudit(keys, col("k"), 8)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again === got)
  }

  test("embeddingHealthReport: each designed pathology lands in its " +
      "state, ok norms exact, nonfinite rows don't crash ANSI " +
      "quantization") {
    import spark.implicits._
    val ok1 = Seq(1.0f, 0.0f)           // norm2 = 1e8
    val ok2 = Seq(0.0f, 2.0f)           // norm2 = 4e8
    val zero = Seq(0.0f, 0.0f)
    val short = Seq(1.0f)
    val nan = Seq(Float.NaN, 1.0f)
    val inf = Seq(Float.PositiveInfinity, 1.0f)
    val df = Seq((1L, Some(ok1)), (2L, Some(ok2)), (3L, Some(zero)),
      (4L, Some(short)), (5L, Some(nan)), (6L, Some(inf)),
      (7L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingHealthReport(df, "vec_id",
        "embedding", expectedDims = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(got("ok") === ((2L, 100000000L, 400000000L, 500000000L)))
    assert(got("zero_vector")._1 === 1L)
    assert(got("wrong_dims")._1 === 1L)
    assert(got("nonfinite")._1 === 2L)
    assert(got("null_vector")._1 === 1L)
  }

  test("missingnessMatrix: hand-built null patterns — exact pair " +
      "contingencies, derived n_neither, one row per ordered pair") {
    import spark.implicits._
    // rows: (a,b) = (1,1), (1,null), (null,null), (null,2)
    val df = Seq(
      (Some(1), Some(1), Some("x")),
      (Some(1), None, None),
      (None, None, Some("y")),
      (None, Some(2), None)).toDF("a", "b", "c")
    val got = Profiling.missingnessMatrix(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(got.size === 3)
    assert(got(("a", "b")) === ((4L, 2L, 2L, 1L, 1L)))
    assert(got(("a", "c")) === ((4L, 2L, 2L, 1L, 1L)))
    assert(got(("b", "c")) === ((4L, 2L, 2L, 1L, 1L)))
  }

  test("quantileMatch: hand-built distributions — min-rank ppm, exact " +
      "rank containment into the reference, duplicates weighted") {
    import spark.implicits._
    // ref R: 10,20,30,40 (ranks 0..3); target A: 5,5,7 (n=3)
    // v=5: min-rank 0 -> pct 0 -> k=0 -> matched 10
    // v=7: min-rank 2 -> pct 1e6 -> k=3 -> matched 40
    val df = (Seq(("R", 10.0), ("R", 20.0), ("R", 30.0), ("R", 40.0)) ++
      Seq(("A", 5.0), ("A", 5.0), ("A", 7.0))).toDF("g", "x")
    val got = Profiling.quantileMatch(df, "g", "x", refGroup = "R")
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(("A", 5.0)) === ((2L, 0L, 10.0)))
    assert(got(("A", 7.0)) === ((1L, 1000000L, 40.0)))
  }

  test("cadenceAudit: modal gap share exact, count ties break to the " +
      "larger gap, single-event users excluded") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    // u1 gaps: 10,10,20 -> modal 10s (2/3); u2 gaps: 10,20 -> tie,
    // modal = 20s (1/2); u3 single event -> no row
    val df = Seq(
      ("u1", t(0), 1L), ("u1", t(10), 2L), ("u1", t(20), 3L),
      ("u1", t(40), 4L),
      ("u2", t(0), 5L), ("u2", t(10), 6L), ("u2", t(30), 7L),
      ("u3", t(0), 8L)).toDF("u", "ts", "id")
    val got = graft.ops.Sessions.cadenceAudit(df, "u", "ts", "id")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got === Map(
      "u1" -> (4L, 3L, 2L, 10000000L, 666666L),
      "u2" -> (3L, 2L, 2L, 20000000L, 500000L)))
  }

  test("lifeTable: hand-built cohort — censoring at the frontier, " +
      "descending-cumulative n_risk, exact ppm hazard") {
    import spark.implicits._
    // periods observed: u1 {0,5} dur 5 churn; u2 {0,9} dur 9 CENSORED
    // (active in the final period); u3 {9} dur 0 censored; u4 {2,4}
    // dur 2 churn
    val df = Seq(("u1", 0L), ("u1", 5L), ("u2", 0L), ("u2", 9L),
      ("u3", 9L), ("u4", 2L), ("u4", 4L)).toDF("k", "p")
    val got = graft.ops.Sessions.lifeTable(df, "k", col("p"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // durations: 5(churn), 9(cens), 0(cens), 2(churn)
    // n_risk(t) = #durations >= t: t=0 ->4, t=2 ->3, t=5 ->2, t=9 ->1
    assert(got === Map(
      0L -> (4L, 0L, 1L, 0L),
      2L -> (3L, 1L, 0L, 333333L),
      5L -> (2L, 1L, 0L, 500000L),
      9L -> (1L, 0L, 1L, 0L)))
  }

  test("jlProjectDistortion: single-axis difference projects to exactly " +
      "outDims x the squared distance (ppm 1e6); identical pair yields " +
      "null ppm; sign matrix is deterministic across calls") {
    import spark.implicits._
    // pair (0,1): differs only in dim 0 by 0.5 -> qdelta 5000,
    // d2_orig = 25e6, each dy_j = ±5000 so d2_proj = 8*25e6 exactly
    // pair (2,3): identical vectors -> d2_orig 0, ppm null
    val v0 = Array.fill(16)(0.0f); val v1 = v0.clone(); v1(0) = 0.5f
    val vc = Array.tabulate(16)(i => i * 0.1f)
    val df = Seq((0L, v0.toSeq), (1L, v1.toSeq), (2L, vc.toSeq),
      (3L, vc.toSeq)).toDF("vec_id", "embedding")
    val got = Similarity.jlProjectDistortion(df, "vec_id", "embedding",
      inDims = 16).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(got(0L) === ((25000000L, 200000000L, 1000000L)))
    assert(got(2L) === ((0L, 0L, -1L)))
    // determinism: a second invocation produces identical rows
    val again = Similarity.jlProjectDistortion(df, "vec_id", "embedding",
      inDims = 16).collect().map(_.toSeq).toSet
    assert(again === Similarity.jlProjectDistortion(df, "vec_id",
      "embedding", inDims = 16).collect().map(_.toSeq).toSet)
  }

  test("bucketDropReport: exact drop accounting over a planted " +
    "hot bucket; empty input is all zeros") {
    import spark.implicits._
    // buckets: 10 -> 3 members (hot at cap 2), 20 -> 2, 30 -> 1
    val bucketed = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 30L)).toDF("id", "bucket")
    val r = Dedup.bucketDropReport(bucketed, maxBucketSize = 2)
      .collect().head
    assert(r.getAs[Long]("n_rows") === 6L)
    assert(r.getAs[Long]("n_buckets") === 3L)
    assert(r.getAs[Long]("n_buckets_dropped") === 1L)
    assert(r.getAs[Long]("n_rows_in_dropped_buckets") === 3L)
    assert(r.getAs[Long]("dropped_row_share_ppm") === 500000L)
    val e = Dedup.bucketDropReport(
      bucketed.where(col("id") < 0), maxBucketSize = 2).collect().head
    assert(e.getAs[Long]("n_rows") === 0L)
    assert(e.getAs[Long]("n_buckets_dropped") === 0L)
    assert(e.getAs[Long]("dropped_row_share_ppm") === 0L)
  }

  test("minhashCandidatePairsRefined: a planted hot-bucket corpus " +
    "retains its true dup pair through refinement where the flat cap " +
    "loses it") {
    import spark.implicits._
    // Two identical docs (true dups — they collide on EVERY band) buried
    // under 900 fillers that each contain the pair's full token set plus
    // one unique junk token: per band a filler joins the pair's bucket
    // when its junk shingle does not win either of the band's 2 minhash
    // functions (measured fraction 0.40–0.96 per band for this family —
    // the functions h1 + i·h2 are correlated within a band), so every
    // band's pair-bucket holds 360+ members — over the 200 cap, and the
    // flat path drops the pair on all 8 bands. Refinement re-bands those
    // members on fresh (token-salted) families, scoped per parent
    // bucket: the pair still collides on every fresh band while fillers
    // thin multiplicatively per round, so within two rounds some
    // (parent, fresh, fresh) chain is under cap and the pair surfaces.
    val pairDocs = Seq((100001L, "alpha beta gamma"),
      (100002L, "alpha beta gamma"))
    val fillers = (1 to 900).map(i =>
      (i.toLong, s"alpha beta gamma junk$i"))
    val docs = (pairDocs ++ fillers).toDF("doc_id", "text")
    def planted(df: org.apache.spark.sql.DataFrame) = df
      .where(col("id_a") === 100001L && col("id_b") === 100002L).count()
    val flat = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleSize = 1, numHashes = 16, bands = 8)
    assert(planted(flat) === 0L,
      "fixture broke: the flat cap path found the planted pair (a " +
        "sub-cap bucket slipped through) — grow the filler count")
    // and the drop report SEES the loss: every row sits in some dropped
    // bucket
    val rep = Dedup.bucketDropReport(Dedup.minhashBandBuckets(docs,
      "doc_id", "text", shingleSize = 1, numHashes = 16, bands = 8))
      .collect().head
    assert(rep.getAs[Long]("n_buckets_dropped") >= 8L)
    // most band rows sit in dropped buckets (the rest are the fillers'
    // singleton junk-token buckets on bands where the junk shingle wins)
    assert(rep.getAs[Long]("dropped_row_share_ppm") > 500000L)
    val refined = Dedup.minhashCandidatePairsRefined(docs, "doc_id",
      "text", shingleSize = 1, numHashes = 16, bands = 8,
      refineRounds = 2)
    assert(planted(refined) === 1L,
      "refinement failed to recover the planted true-dup pair")
    // refinement is a superset path: it never invents a pair outside
    // some (possibly refined) shared bucket — the planted pair plus
    // filler-filler accidents only, all with id_a < id_b
    assert(refined.where(col("id_a") >= col("id_b")).count() === 0L)
  }

  test("minhashFidelitySampled: truthSample=1 equals the full q217 " +
    "composition; sampling restricts both sides to the same population") {
    import spark.implicits._
    val docs = ((1 to 40).map(i => (i.toLong,
      s"unique text body number $i with its own words $i$i")) ++
      Seq((101L, "the quick brown fox jumps over the lazy dog tonight"),
        (102L, "the quick brown fox jumps over the lazy dog tonight"),
        (103L, "an entirely different near dup pair sentence here now"),
        (104L, "an entirely different near dup pair sentence here now")))
      .toDF("doc_id", "text")
    def row(df: DataFrame) = df.collect().head
    val full = row(Dedup.minhashFidelitySampled(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.5, truthSample = 1.0))
    val q217 = row(Dedup.pairFidelity(
      Dedup.jaccardNearDupsExact(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5).select("id_a", "id_b"),
      Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, portable = true)
        .select("id_a", "id_b")))
    assert(full === q217)
    assert(full.getAs[Long]("n_exact") >= 2L) // both planted pairs seen
    // sampled: the truth and candidate sides see the SAME population —
    // counts can only shrink, and recall stays a valid ratio
    val s = row(Dedup.minhashFidelitySampled(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.5, truthSample = 0.5))
    assert(s.getAs[Long]("n_exact") <= full.getAs[Long]("n_exact"))
    assert(s.getAs[Long]("n_candidates") <=
      full.getAs[Long]("n_candidates"))
    assert(s.getAs[Long]("n_hits") <= s.getAs[Long]("n_exact") ||
      s.getAs[Long]("n_exact") === 0L)
    // jaccardNearDupsExact default truthSample=1.0 is byte-identical to
    // the pre-sampling operator on the same input
    val j = Dedup.jaccardNearDupsExact(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.5, truthSample = 0.5)
    val sampleIds = docs.where(
      graft.ops.Splits.splitBucket(col("doc_id"), "truth") < 5000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(j.collect().forall(r => sampleIds.contains(r.getLong(0)) &&
      sampleIds.contains(r.getLong(1))))
  }

  test("refinedCandidatePairs: refineRounds = 0 equals the flat capped " +
    "path; a still-hot clique after all rounds is dropped") {
    import spark.implicits._
    val bucketed = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L)).toDF("id", "bucket")
    val sameFamily = (members: org.apache.spark.sql.DataFrame, _: Int) =>
      members.select(col("id"), lit(99L).as("bucket"))
    val r0 = Dedup.refinedCandidatePairs(bucketed, sameFamily,
      maxBucketSize = 2, refineRounds = 0)
      .as[(Long, Long)].collect().toSet
    assert(r0 === Set((4L, 5L))) // bucket 10 over cap, dropped
    // a refresh that keeps the clique together (a genuine clique stays
    // hot under every family) → still dropped after the final round
    val r2 = Dedup.refinedCandidatePairs(bucketed, sameFamily,
      maxBucketSize = 2, refineRounds = 2)
      .as[(Long, Long)].collect().toSet
    assert(r2 === Set((4L, 5L)))
    // a refresh that disperses the clique rescues its pairs
    val disperse = (members: org.apache.spark.sql.DataFrame, _: Int) =>
      members.select(col("id"),
        when(col("id") <= 2L, lit(1L)).otherwise(lit(2L)).as("bucket"))
    val r1 = Dedup.refinedCandidatePairs(bucketed, disperse,
      maxBucketSize = 2, refineRounds = 1)
      .as[(Long, Long)].collect().toSet
    assert(r1 === Set((4L, 5L), (1L, 2L)))
  }

  test("readabilityReport: hand-counted words/sentences/vowel-run " +
      "syllables/complex words") {
    import spark.implicits._
    // "the cat sat." -> 3 words, 1 sentence, syllables: e,a,a = 3
    // "amazing elephants communicate quietly!?" -> 4 words, 1 sentence
    //   (runs of [.!?]+ count once); vowel runs: a,a,i (amazing) +
    //   e,e,a (elephants) + o,u,i,a,e (communicate) + uie,y (quietly)
    //   = 3+3+5+2 = 13; complex words (>=3 runs): all 4... quietly has
    //   runs 'uie','y' = 2 -> NOT complex => 3 complex
    val docs = Seq(
      ("s", "the cat sat."),
      ("s", "amazing elephants communicate quietly!?")).toDF("src", "text")
    val r = TextAnalysis.readabilityReport(docs, "text", "src").head()
    assert(r.getString(0) === "s")
    assert(r.getLong(1) === 2L)       // n_docs
    assert(r.getLong(2) === 7L)       // n_words
    assert(r.getLong(3) === 2L)       // n_sentences
    assert(r.getLong(4) === 16L)      // n_syllables
    assert(r.getLong(5) === 3L)       // n_complex
  }
}
