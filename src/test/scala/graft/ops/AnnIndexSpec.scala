package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Persisted IVF index lifecycle (q286): build/write/append/read/probe,
  * the frozen-centroid append contract, and the scale property the
  * family exists for — probes dynamically prune unprobed cell
  * directories of the parquet-partitioned postings table. */
class AnnIndexSpec extends SparkSuite {

  import org.apache.spark.sql.DataFrame

  private val dims = 8

  private def vec(seed: Long): Seq[Float] =
    (0 until dims).map { i =>
      val h = ((seed * 2654435761L + i * 40503L) % 1000L + 1000L) % 1000L
      (h.toFloat - 500f) / 250f
    }

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  private def tmpDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"annidx_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def probeRows(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select(col("query_id").cast("long"), col("corpus_id").cast("long"),
        col("rank").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sortBy(t => (t._1, t._3))

  test("probe over a built index equals ivfTopKSeeded on the same seeds") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      seeds, "sid", "svec")
    val queries = corpus.where(col("vec_id") < 3)
    val viaIndex = probeRows(Similarity.probeIvfIndex(idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 3))
    val direct = probeRows(Similarity.ivfTopKSeeded(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding",
      seeds, "sid", "svec", k = 5, nprobe = 3))
    val reference = probeRows(InQueryIvfReference.ivfTopKSeeded(corpus,
      "vec_id", "embedding", queries, "vec_id", "embedding",
      seeds, "sid", "svec", k = 5, nprobe = 3))
    assert(viaIndex === direct)
    assert(direct === reference)
    assert(viaIndex.nonEmpty)
  }

  test("write/read round trip preserves postings and probe results") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      seeds, "sid", "svec")
    val path = tmpDir("roundtrip")
    Similarity.writeIvfIndex(idx, path)
    val back = Similarity.readIvfIndex(spark, path)
    assert(back.centroids.count() === 8L)
    assert(back.postings.count() === 200L)
    // postings identical (cell column survives the partitioned write)
    val a = idx.postings.select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    val b = back.postings.select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(a === b)
    val queries = corpus.where(col("vec_id") < 3)
    val mem = probeRows(Similarity.probeIvfIndex(idx, queries,
      "vec_id", "embedding", k = 5, nprobe = 3))
    val disk = probeRows(Similarity.probeIvfIndex(back, queries,
      "vec_id", "embedding", k = 5, nprobe = 3))
    assert(mem === disk)
  }

  test("append assigns the delta under FROZEN centroids and leaves " +
    "existing postings untouched") {
    val base = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
    val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 8)
    val path = tmpDir("append")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    val centsBefore = spark.read.parquet(path + "/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toList))
      .sortBy(_._1)
    Similarity.appendToIvfIndex(spark, path, delta, "vec_id", "embedding")
    val back = Similarity.readIvfIndex(spark, path)
    val centsAfter = back.centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toList))
      .sortBy(_._1)
    assert(centsBefore === centsAfter) // no retrain on append
    assert(back.postings.count() === 200L)
    // delta rows got the same cells a from-scratch assignment under the
    // SAME (base-drawn) seeds gives — i.e. append == build(base+delta)
    // with frozen centroids
    val full = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      seeds, "sid", "svec")
    val a = back.postings.select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    val b = full.postings.select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(a === b)
  }

  test("probing a persisted index prunes unprobed cell partitions " +
    "(dynamic partition pruning in the physical plan)") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("dpp")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    val back = Similarity.readIvfIndex(spark, path)
    val probe = Similarity.probeIvfIndex(back,
      corpus.where(col("vec_id") < 2), "vec_id", "embedding",
      k = 5, nprobe = 2)
    val physical = probe.queryExecution.executedPlan.toString
    assert(physical.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic-partition-pruning filter on the postings " +
        s"scan; plan was:\n$physical")
    assert(probe.count() > 0)
  }

  test("streaming probe over micro-batches equals one batch probe " +
    "(frozen index => batch-composition invariance)") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val root = tmpDir("stream")
    val (in, idxp, outp, chk) =
      (s"$root/in", s"$root/index", s"$root/out", s"$root/chk")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), idxp)
    val qset = corpus.where(col("vec_id") < 6)
    qset.where(pmod(col("vec_id"), lit(2)) === 0)
      .coalesce(1).write.mode("overwrite").parquet(in)
    qset.where(pmod(col("vec_id"), lit(2)) === 1)
      .coalesce(1).write.mode("append").parquet(in)
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", "1").parquet(in)
    graft.streaming.Streams.annProbeStream(stream, "vec_id", "embedding",
      idxp, outp, chk, k = 5, nprobe = 3).awaitTermination()
    val streamed = probeRows(spark.read.parquet(outp))
    val batch = probeRows(Similarity.probeIvfIndex(
      Similarity.readIvfIndex(spark, idxp), qset, "vec_id", "embedding",
      k = 5, nprobe = 3))
    assert(streamed === batch)
    assert(streamed.map(_._1).distinct.size === 6)
  }

  test("two-level assignment (forced by threshold) routes build and " +
    "append identically and keeps every corpus row") {
    val base = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
    val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 8)
    val path = tmpDir("twolevel")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec", twoLevelThreshold = 1), path)
    // no explicit routing params: the meta written by writeIvfIndex
    // must round-trip twoLevelThreshold = 1 into the append
    Similarity.appendToIvfIndex(spark, path, delta, "vec_id",
      "embedding")
    val appended = Similarity.readIvfIndex(spark, path).postings
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    // append under frozen centroids == one two-level build of base+delta
    val full = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      seeds, "sid", "svec", twoLevelThreshold = 1).postings
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(appended === full)
    assert(appended.length === 200)
    assert(appended.map(_._2).distinct.length === 200)
    // real spread, not everything collapsing into one super's members
    // (the two-level route is an approximation of flat argmax — its
    // assignment MATH is oracle-pinned by q284; this spec pins the
    // build/append plumbing: identical routing, no rows lost)
    assert(appended.map(_._1).distinct.length > 2)
  }

  test("incremental ANN dedup pairs planted copies with their " +
    "originals, cross-batch only") {
    import spark.implicits._
    // batch 1: ids 0..99; batch 2: ids 100..149 are EXACT copies of
    // 0..49 (cosine 1 — survives any threshold), 150..199 fresh
    val batch1 = (0L until 100L).map(i => (i, vec(i)))
    val batch2 = (100L until 150L).map(i => (i, vec(i - 100L))) ++
      (150L until 200L).map(i => (i, vec(i)))
    val all = (batch1 ++ batch2).toDF("vec_id", "embedding")
    val seeds = Similarity.hashSeeds(all, "vec_id", "embedding", 8)
    val root = tmpDir("anndedup")
    val (in, idxp, pairs, chk) =
      (s"$root/in", s"$root/index", s"$root/pairs", s"$root/chk")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      all.where(lit(false)), "vec_id", "embedding", seeds, "sid",
      "svec"), idxp)
    batch1.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(in)
    batch2.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(in)
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", "1").parquet(in)
    graft.streaming.Streams.incrementalAnnDedupStream(stream, "vec_id",
      "embedding", idxp, pairs, chk, thresholdPpm = 990000L, nprobe = 2)
      .awaitTermination()
    val got = spark.read.parquet(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted copy found its original (the copy's top probe cell
    // IS the original's assigned cell — identical vectors)
    val planted = (0L until 50L).map(i => (i + 100L, i)).toSet
    assert(planted.subsetOf(got),
      s"missing planted pairs: ${(planted -- got).take(5)}")
    // cross-batch only: new side always from batch 2, existing from
    // batch 1 (a batch never pairs with itself)
    assert(got.forall { case (nw, ex) => nw >= 100L && ex < 100L })
    // index now holds both batches
    assert(Similarity.readIvfIndex(spark, idxp).postings.count() === 200L)
  }

  test("dual-index dedup stream emits the same pairs as single-index " +
    "mode and keeps both roots row-aligned") {
    import spark.implicits._
    val batch1 = (0L until 100L).map(i => (i, vec(i)))
    val batch2 = (100L until 150L).map(i => (i, vec(i - 100L))) ++
      (150L until 200L).map(i => (i, vec(i)))
    val all = (batch1 ++ batch2).toDF("vec_id", "embedding")
    val seeds = Similarity.hashSeeds(all, "vec_id", "embedding", 8)
    def run(pqRoot: Option[String], tag: String): Set[(Long, Long)] = {
      val root = tmpDir(s"dualdedup$tag")
      val (in, idxp, pairs, chk) =
        (s"$root/in", s"$root/index", s"$root/pairs", s"$root/chk")
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        all.where(lit(false)), "vec_id", "embedding", seeds, "sid",
        "svec"), idxp)
      pqRoot.foreach { pqp =>
        // PQ quantizer + codebook pre-trained from the same seed
        // frame; bootstrap codes dropped before the write
        val pq0 = Similarity.buildIvfPqIndex(
          all.where(col("vec_id") < 4), "vec_id", "embedding", seeds,
          "sid", "svec", codebookIds = Seq(0L, 1L, 2L, 3L),
          inDims = dims, nSub = 2)
        Similarity.writeIvfPqIndex(
          pq0.copy(codes = pq0.codes.where(lit(false))), pqp)
      }
      batch1.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(in)
      batch2.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(in)
      val stream = spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.incrementalAnnDedupStream(stream,
        "vec_id", "embedding", idxp, pairs, chk,
        thresholdPpm = 990000L, nprobe = 2,
        pqIndexPath = pqRoot.orNull)
        .awaitTermination()
      pqRoot.foreach { pqp =>
        // both roots row-aligned after the cadence, margin columns on
        val pqBack = Similarity.readIvfPqIndex(spark, pqp)
        assert(pqBack.codes.count() === 200L)
        assert(pqBack.codes.columns.contains("e2"))
        assert(Similarity.readIvfIndex(spark, idxp).postings.count()
          === 200L)
      }
      spark.read.parquet(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val pqRoot = tmpDir("dualdeduppq") + "/pq"
    val viaDual = run(Some(pqRoot), "pq")
    val viaRaw = run(None, "raw")
    assert(viaDual === viaRaw)
    assert(viaDual.nonEmpty)
  }

  test("exact rerank over an all-pairs candidate set reproduces brute " +
    "force, and never invents candidates") {
    import spark.implicits._
    val queries = corpus.where(col("vec_id") < 3)
    // candidate set = full cross product → rerank must equal brute force
    val allCand = queries.select(col("vec_id").as("query_id"))
      .crossJoin(corpus.select(col("vec_id").as("corpus_id")))
    val rr = probeRows(Similarity.rerankExactTopK(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", allCand, k = 5))
    val bf = probeRows(Similarity.bruteForceTopK(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", k = 5))
    assert(rr === bf)
    // a restricted candidate set bounds the output: only listed pairs
    // can appear, ranked within the restriction
    val narrow = Seq((0L, 7L), (0L, 9L), (1L, 3L))
      .toDF("query_id", "corpus_id")
    val got = probeRows(Similarity.rerankExactTopK(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", narrow, k = 5))
    assert(got.map(t => (t._1, t._2)).toSet ===
      Set((0L, 7L), (0L, 9L), (1L, 3L)))
  }

  test("persisted PQ index: probe equals the in-query ivfPqTopK, " +
    "append encodes under the frozen codebook, codes scan prunes") {
    val base = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
    val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 8)
    val cbIds = Seq(1L, 2L, 3L, 4L)
    val path = tmpDir("pqidx")
    val idx = Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
      seeds, "sid", "svec", cbIds, inDims = dims, nSub = 2)
    Similarity.writeIvfPqIndex(idx, path)
    Similarity.appendToIvfPqIndex(spark, path, delta, "vec_id",
      "embedding")
    val back = Similarity.readIvfPqIndex(spark, path)
    assert((back.inDims, back.nSub, back.quantScale) ===
      (dims, 2, 10000))
    assert(back.codes.count() === 200L)
    // codebook frozen: append did not change it
    val cbBack = back.codebook.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toList)).sortBy(_._1)
    val cbBuilt = idx.codebook.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toList)).sortBy(_._1)
    assert(cbBack === cbBuilt)
    val queries = corpus.where(col("vec_id") < 3)
    def pqRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id").cast("long"),
          col("corpus_id").cast("long"), col("approx_d2").cast("long"),
          col("rank").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
        .toSeq.sortBy(t => (t._1, t._4))
    val persisted = pqRows(Similarity.probeIvfPqIndex(back, queries,
      "vec_id", "embedding", k = 5, nprobe = 3))
    // equivalent single-query path over the SAME full corpus and seeds
    val direct = pqRows(Similarity.ivfPqTopK(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", seeds, "sid", "svec",
      cbIds, inDims = dims, nSub = 2, k = 5, nProbe = 3))
    val reference = pqRows(InQueryIvfReference.ivfPqTopK(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", seeds, "sid", "svec",
      cbIds, inDims = dims, nSub = 2, k = 5, nProbe = 3))
    assert(persisted === direct)
    assert(direct === reference)
    assert(persisted.nonEmpty)
    // the probe's codes scan dynamically prunes unprobed cells
    val probe = Similarity.probeIvfPqIndex(back,
      corpus.where(col("vec_id") < 2), "vec_id", "embedding", k = 5,
      nprobe = 2)
    val physical = probe.queryExecution.executedPlan.toString
    assert(physical.toLowerCase.contains("dynamicpruning"),
      s"expected DPP on the codes scan; plan:\n$physical")
  }

  test("compaction collapses each cell to one file and changes neither " +
    "postings nor probe results") {
    val base = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
    val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 8)
    val path = tmpDir("compact")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    Similarity.appendToIvfIndex(spark, path, delta, "vec_id", "embedding")
    def cellDirs(): Seq[java.io.File] =
      new java.io.File(path + "/postings").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell=")).toSeq
    def parquetFiles(d: java.io.File): Int =
      d.listFiles().count(_.getName.endsWith(".parquet"))
    assert(cellDirs().exists(parquetFiles(_) > 1),
      "append should have left at least one multi-file cell")
    val queries = corpus.where(col("vec_id") < 3)
    val before = probeRows(Similarity.probeIvfIndex(
      Similarity.readIvfIndex(spark, path), queries, "vec_id",
      "embedding", k = 5, nprobe = 3))
    val postingsBefore = spark.read.parquet(path + "/postings")
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    Similarity.compactIvfIndex(spark, path)
    assert(cellDirs().nonEmpty)
    assert(cellDirs().forall(parquetFiles(_) === 1),
      "every cell should hold exactly one file after compaction")
    val postingsAfter = spark.read.parquet(path + "/postings")
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(postingsBefore === postingsAfter)
    val after = probeRows(Similarity.probeIvfIndex(
      Similarity.readIvfIndex(spark, path), queries, "vec_id",
      "embedding", k = 5, nprobe = 3))
    assert(before === after)
  }

  test("index is self-describing: meta round-trips non-default params " +
    "and a mismatched legacy append fails loudly") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("meta")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec", quantScale = 5000,
      twoLevelThreshold = 1), path)
    val back = Similarity.readIvfIndex(spark, path)
    assert((back.quantScale, back.twoLevelThreshold) === (5000, 1))
    // parameterless append must route under the persisted (5000, 1)
    val delta = corpus.where(col("vec_id") < 3)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(spark, path, delta, "vec_id", "embedding")
    val cells = Similarity.readIvfIndex(spark, path).postings
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0L until 3L).foreach(i => assert(cells(i + 1000L) === cells(i),
      s"delta row $i must land in its base row's cell"))
    // a caller re-supplying DIFFERENT quantization must not silently
    // corrupt assignment — loud failure instead
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, path, delta, "vec_id",
        "embedding", quantScale = 10000, twoLevelThreshold = 1)
    }
    assert(ex.getMessage.contains("persisted meta"))
  }

  test("tombstone deletes: probe-after-delete equals rebuild-without-" +
    "deleted, compaction folds physically and clears tombstones, " +
    "appends resurrect") {
    import spark.implicits._
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("tomb")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    val doomed = corpus.where(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"))
    Similarity.deleteFromIvfIndex(spark, path, doomed, "vec_id")
    // idempotent double delete
    Similarity.deleteFromIvfIndex(spark, path, doomed, "vec_id")
    val queries = corpus.where(col("vec_id") < 3)
    def probe(p: String) = probeRows(Similarity.probeIvfIndex(
      Similarity.readIvfIndex(spark, p), queries, "vec_id", "embedding",
      k = 5, nprobe = 8))
    // ground truth: a fresh build over the corpus minus the deleted
    // rows, under the SAME seeds (drawn from the full corpus)
    val path2 = tmpDir("tombtruth")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      corpus.where(pmod(col("vec_id"), lit(10)) =!= 0), "vec_id",
      "embedding", seeds, "sid", "svec"), path2)
    assert(probe(path) === probe(path2))
    // logical now, physical at compaction: raw files still hold 200
    assert(spark.read.parquet(path + "/postings").count() === 200L)
    assert(Similarity.readIvfIndex(spark, path).postings.count() ===
      180L)
    Similarity.compactIvfIndex(spark, path)
    assert(spark.read.parquet(path + "/postings").count() === 180L)
    // folded tombstone files cleared
    val tombFiles = new java.io.File(path + "/tombstones").listFiles()
    assert(tombFiles == null ||
      !tombFiles.exists(_.getName.endsWith(".parquet")))
    assert(probe(path) === probe(path2))
    // resurrection: delete 0, then append a delta containing 0 — the
    // append clears its ids from the tombstone set before landing
    Similarity.deleteFromIvfIndex(spark, path,
      Seq(0L).toDF("vec_id"), "vec_id")
    assert(Similarity.readIvfIndex(spark, path).postings
      .where(col("corpus_id") === 0L).count() === 0L)
    Similarity.appendToIvfIndex(spark, path,
      corpus.where(col("vec_id") === 0L), "vec_id", "embedding")
    assert(Similarity.readIvfIndex(spark, path).postings
      .where(col("corpus_id") === 0L).count() === 1L)
    // PQ twin: the tombstone layer is shared
    val pqPath = tmpDir("tombpq")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = Seq(1L, 2L, 3L, 4L), inDims = dims, nSub = 2),
      pqPath)
    Similarity.deleteFromIvfPqIndex(spark, pqPath,
      Seq(7L).toDF("vec_id"), "vec_id")
    assert(Similarity.readIvfPqIndex(spark, pqPath).codes
      .where(col("corpus_id") === 7L).count() === 0L)
    Similarity.compactIvfPqIndex(spark, pqPath)
    assert(spark.read.parquet(pqPath + "/codes")
      .where(col("corpus_id") === 7L).count() === 0L)
  }

  test("attribute-filtered probe: k survivors all satisfy the " +
    "predicate, nprobe=all recovers filtered brute force, appends " +
    "carry payloads, and the filter is PUSHED into the postings scan " +
    "alongside DPP") {
    val labeled = corpus.withColumn("label",
      pmod(col("vec_id"), lit(4)).cast("int"))
    val base = labeled.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = labeled.where(pmod(col("vec_id"), lit(5)) === 0)
    val seeds = Similarity.hashSeeds(labeled, "vec_id", "embedding", 8)
    val path = tmpDir("filteredprobe")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec", payloadCols = Seq("label")),
      path)
    // the append derives the payload set from the existing postings
    Similarity.appendToIvfIndex(spark, path, delta, "vec_id",
      "embedding")
    val back = Similarity.readIvfIndex(spark, path)
    assert(back.postings.columns.contains("label"))
    val queries = labeled.where(col("vec_id") < 3)
    val filtered = Similarity.probeIvfIndexFiltered(back, queries,
      "vec_id", "embedding", k = 5, predicate = col("label") === 1,
      nprobe = 8)
    val rows = filtered.join(labeled.select(
        col("vec_id").as("corpus_id"), col("label")), Seq("corpus_id"))
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("label") == 1))
    // nprobe = all cells ⇒ exactly filtered brute force
    val viaProbe = probeRows(filtered)
    val truth = probeRows(Similarity.bruteForceTopK(
      labeled.where(col("label") === 1), "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5))
    assert(viaProbe === truth)
    // plan: payload predicate pushed into the postings scan, DPP intact
    val narrow = Similarity.probeIvfIndexFiltered(back, queries,
      "vec_id", "embedding", k = 5, predicate = col("label") === 1,
      nprobe = 2)
    val physical = narrow.queryExecution.executedPlan.toString
    assert(physical.toLowerCase.contains("dynamicpruning"),
      s"DPP lost under the payload filter; plan:\n$physical")
    assert(physical.contains("EqualTo(label,1)") ||
      physical.contains("label = 1"),
      s"payload predicate not pushed into the postings scan; " +
        s"plan:\n$physical")
    // PQ twin: payload columns ride the codes; filtering the codes of
    // a full build equals building from the filtered corpus (encode is
    // per-row under the shared quantizer/codebook), append carries the
    // payload set, and the filter is pushed into the codes scan
    val pqPath = tmpDir("pqfilteredprobe")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(base,
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = Seq(1L, 2L, 3L, 4L), inDims = dims, nSub = 2,
      payloadCols = Seq("label")), pqPath)
    Similarity.appendToIvfPqIndex(spark, pqPath, delta, "vec_id",
      "embedding")
    val pqBack = Similarity.readIvfPqIndex(spark, pqPath)
    assert(pqBack.codes.columns.contains("label"))
    def pqRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id").cast("long"),
          col("corpus_id").cast("long"), col("approx_d2").cast("long"),
          col("rank").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq.sortBy(t => (t._1, t._4))
    val viaFiltered = pqRows(Similarity.probeIvfPqIndexFiltered(pqBack,
      queries, "vec_id", "embedding", k = 5,
      predicate = col("label") === 1, nprobe = 8))
    // reference: build from the filtered corpus UNDER THE SAME
    // codebook — the codebook rows ride in via the q300 shared-
    // codebook pattern and their foreign-label codes are dropped after
    val refIdx0 = Similarity.buildIvfPqIndex(
      labeled.where(col("label") === 1 ||
        col("vec_id").isin(1L, 2L, 3L, 4L)),
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = Seq(1L, 2L, 3L, 4L), inDims = dims, nSub = 2)
    val refIdx = refIdx0.copy(codes =
      refIdx0.codes.where(pmod(col("corpus_id"), lit(4)) === 1))
    val viaRef = pqRows(Similarity.probeIvfPqIndex(refIdx, queries,
      "vec_id", "embedding", k = 5, nprobe = 8))
    assert(viaFiltered === viaRef)
    assert(viaFiltered.nonEmpty)
    val pqPlan = Similarity.probeIvfPqIndexFiltered(pqBack, queries,
      "vec_id", "embedding", k = 5, predicate = col("label") === 1,
      nprobe = 2).queryExecution.executedPlan.toString
    assert(pqPlan.contains("EqualTo(label,1)") ||
      pqPlan.contains("label = 1"),
      s"payload predicate not pushed into the codes scan; " +
        s"plan:\n$pqPlan")
  }

  test("consuming merge is pure file moves: names preserved, pending " +
    "tombstones ride along, sources deleted, probe equals the " +
    "rewrite merge") {
    import spark.implicits._
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    def buildHalves(root: String): (String, String) = {
      val (pa, pb) = (s"$root/even", s"$root/odd")
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        corpus.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
        "embedding", seeds, "sid", "svec"), pa)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        corpus.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id",
        "embedding", seeds, "sid", "svec"), pb)
      (pa, pb)
    }
    def dataFileNames(dir: String): Set[String] = {
      def walk(f: java.io.File): Seq[String] = {
        val kids = f.listFiles()
        if (kids == null) Seq.empty
        else kids.flatMap(k => if (k.isDirectory) walk(k)
          else if (k.getName.endsWith(".parquet")) Seq(k.getName)
          else Seq.empty).toSeq
      }
      walk(new java.io.File(dir)).toSet
    }
    val rootA = tmpDir("movemerge")
    val (pa, pb) = buildHalves(rootA)
    Similarity.deleteFromIvfIndex(spark, pa, Seq(10L).toDF("vec_id"),
      "vec_id")
    val srcNames = dataFileNames(pa + "/postings") ++
      dataFileNames(pb + "/postings")
    val pm = s"$rootA/merged"
    Similarity.mergeIvfIndexes(spark, Seq(pa, pb), pm,
      consumeSources = true)
    // sources consumed, every posting file MOVED (same names — no
    // rewrite happened), the pending tombstone still filters
    assert(!new java.io.File(pa).exists() &&
      !new java.io.File(pb).exists())
    assert(dataFileNames(pm + "/postings") === srcNames)
    val merged = Similarity.readIvfIndex(spark, pm)
    assert(merged.postings.where(col("corpus_id") === 10L).count() ===
      0L, "source tombstone rode along")
    assert(merged.postings.count() === 199L)
    // probe parity with the rewrite merge over fresh halves
    val rootB = tmpDir("movemergeref")
    val (qa, qb) = buildHalves(rootB)
    Similarity.deleteFromIvfIndex(spark, qa, Seq(10L).toDF("vec_id"),
      "vec_id")
    val pm2 = s"$rootB/merged"
    Similarity.mergeIvfIndexes(spark, Seq(qa, qb), pm2)
    val queries = corpus.where(col("vec_id") < 3)
    def probe(p: String) = probeRows(Similarity.probeIvfIndex(
      Similarity.readIvfIndex(spark, p), queries, "vec_id",
      "embedding", k = 5, nprobe = 3))
    assert(probe(pm) === probe(pm2))
  }

  test("writer lease: a second writer fails loudly with the lease on " +
    "and proceeds (documented-unsafe) with it off; stale leases are " +
    "taken over; a mid-flight takeover aborts compaction before the " +
    "swap") {
    import org.apache.hadoop.fs.Path
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("lease")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    val delta = corpus.where(col("vec_id") < 2)
      .select((col("vec_id") + 500L).as("vec_id"), col("embedding"))
    val marker = new Path(path + "/_writer")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plantMarker(token: String): Unit = {
      val out = fs.create(marker, true)
      try out.write(token.getBytes("UTF-8")) finally out.close()
    }
    // lease OFF (default): a foreign marker is ignored — the
    // documented-unsafe single-writer-by-contract mode
    plantMarker("someone-else")
    Similarity.appendToIvfIndex(spark, path, delta, "vec_id",
      "embedding")
    graft.ConfScope.withConf(spark, "spark.graft.annIndexWriterLease",
      "true") {
      // a FRESH foreign marker = a live concurrent writer → loud
      val ex = intercept[IllegalStateException] {
        Similarity.appendToIvfIndex(spark, path,
          delta.select((col("vec_id") + 500L).as("vec_id"),
            col("embedding")), "vec_id", "embedding")
      }
      assert(ex.getMessage.contains("holds the lease"))
      // a STALE marker (older than the threshold) is taken over
      fs.setTimes(marker, System.currentTimeMillis() - 7200000L, -1)
      Similarity.appendToIvfIndex(spark, path,
        delta.select((col("vec_id") + 1000L).as("vec_id"),
          col("embedding")), "vec_id", "embedding")
      assert(!fs.exists(marker), "lease released after the append")
      // a takeover DURING compaction aborts before the commit rename,
      // live postings intact
      val before = spark.read.parquet(path + "/postings").count()
      val ex2 = intercept[IllegalStateException] {
        Similarity.compactCellDirHooked(spark, path, "postings",
          () => plantMarker("usurper"))
      }
      assert(ex2.getMessage.contains("taken over"))
      assert(spark.read.parquet(path + "/postings").count() === before)
      fs.delete(marker, false)
      // and a clean run under the lease completes + releases
      Similarity.compactIvfIndex(spark, path)
      assert(!fs.exists(marker))
    }
  }

  test("tombstone crash windows: a delete landing mid-compaction " +
    "survives the fold-clear, and a half-swapped resurrection " +
    "recovers to the committed state") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("tombrace")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    Similarity.deleteFromIvfIndex(spark, path,
      Seq(10L).toDF("vec_id"), "vec_id")
    // a second delete lands DURING compaction (after the staged
    // rewrite): its tombstone file was not folded, so the fold-clear
    // must leave it pending — still filtering reads, physically
    // removed by the NEXT compaction
    Similarity.compactCellDirHooked(spark, path, "postings", () =>
      Similarity.deleteFromIvfIndex(spark, path,
        Seq(20L).toDF("vec_id"), "vec_id"))
    assert(spark.read.parquet(path + "/postings")
      .where(col("corpus_id") === 10L).count() === 0L, "folded delete")
    assert(spark.read.parquet(path + "/postings")
      .where(col("corpus_id") === 20L).count() === 1L,
      "late delete not yet physical")
    assert(Similarity.readIvfIndex(spark, path).postings
      .where(col("corpus_id") === 20L).count() === 0L,
      "late delete still filters reads")
    Similarity.compactIvfIndex(spark, path)
    assert(spark.read.parquet(path + "/postings")
      .where(col("corpus_id") === 20L).count() === 0L,
      "late delete folded by the next compaction")
    // half-swapped resurrection recovery: staged (complete, _SUCCESS)
    // + retired present, live missing → staged is the committed state
    Similarity.deleteFromIvfIndex(spark, path,
      Seq(30L, 40L).toDF("vec_id"), "vec_id")
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // construct the mid-swap state by hand: the committed (staged) set
    // holds only 40
    Seq(40L).toDF("corpus_id").coalesce(1).write
      .parquet(path + "/tombstones_staged")
    assert(fs.rename(new Path(path + "/tombstones"),
      new Path(path + "/tombstones_retired")))
    val back = Similarity.readIvfIndex(spark, path)
    assert(back.postings.where(col("corpus_id") === 30L).count() === 1L,
      "30 was resurrected in the committed staged set")
    assert(back.postings.where(col("corpus_id") === 40L).count() === 0L,
      "40 stays tombstoned after recovery")
    assert(!fs.exists(new Path(path + "/tombstones_staged")) &&
      !fs.exists(new Path(path + "/tombstones_retired")))
  }

  test("ADC-prefiltered dedup equals the raw kernel exactly (capped " +
    "and uncapped), the prefilter actually prunes, and broken " +
    "preconditions fail loudly") {
    val evens = corpus.where(pmod(col("vec_id"), lit(2)) === 0)
    val odds = corpus.where(pmod(col("vec_id"), lit(2)) === 1)
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val raw = Similarity.buildIvfIndex(evens, "vec_id", "embedding",
      seeds, "sid", "svec")
    // a 4-entry codebook over 8 dims / 2 subspaces: coarse enough that
    // the per-posting distortion e2 is large and the margin matters
    val pq = Similarity.buildIvfPqIndex(evens, "vec_id", "embedding",
      seeds, "sid", "svec", codebookIds = Seq(0L, 2L, 4L, 6L),
      inDims = dims, nSub = 2)
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(col("id_new").cast("long"),
          col("id_existing").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    for (cap <- Seq(0, 2)) {
      val viaRaw = pairs(Similarity.annNearDupPairs(raw, odds,
        "vec_id", "embedding", thresholdPpm = 200000L, nprobe = 3,
        maxPairsPerNew = cap))
      val viaPq = pairs(Similarity.annNearDupPairsPq(pq, raw, odds,
        "vec_id", "embedding", thresholdPpm = 200000L, nprobe = 3,
        maxPairsPerNew = cap))
      assert(viaPq === viaRaw, s"cap=$cap")
      assert(viaPq.nonEmpty, s"cap=$cap fixture must produce pairs")
    }
    // both …AndDropReport calls under an exclude set: the same pairs
    // and the same report row
    val exclude = evens.where(pmod(col("vec_id"), lit(3)) === 0)
      .select(col("vec_id"))
    def emitted(viaPqRoute: Boolean): (Seq[(Long, Long)], Seq[Any]) = {
      var out: (Seq[(Long, Long)], Seq[Any]) = null
      val emit = (p: org.apache.spark.sql.DataFrame,
          d: org.apache.spark.sql.DataFrame) =>
        out = (pairs(p), d.collect().head.toSeq)
      if (viaPqRoute)
        Similarity.annNearDupPairsPqAndDropReport(pq, raw, odds, "vec_id",
          "embedding", thresholdPpm = 200000L, maxPairsPerNew = 2,
          nprobe = 3, excludeIds = exclude)(emit)
      else
        Similarity.annNearDupPairsAndDropReport(raw, odds, "vec_id",
          "embedding", thresholdPpm = 200000L, maxPairsPerNew = 2,
          nprobe = 3, excludeIds = exclude)(emit)
      out
    }
    val (rawPairs, rawReport) = emitted(viaPqRoute = false)
    assert(emitted(viaPqRoute = true) === ((rawPairs, rawReport)))
    assert(rawPairs.nonEmpty && rawPairs.forall(p => p._2 % 3 != 0))
    assert(rawReport(3).asInstanceOf[Long] > 0L, s"nothing dropped: $rawReport")
    // the accounting row: candidates ≥ prefilter-kept ≥ exact pairs,
    // and with a 4-point codebook the prefilter must still prune SOME
    // candidates (otherwise the test exercises nothing)
    val rep = Similarity.annNearDupAdcPrefilterReport(pq, raw, odds,
      "vec_id", "embedding", thresholdPpm = 200000L, nprobe = 3)
      .collect().head
    val (nCand, nKept, nPairs) =
      (rep.getLong(0), rep.getLong(1), rep.getLong(2))
    val nRawPairs = Similarity.annNearDupPairs(raw, odds, "vec_id",
      "embedding", thresholdPpm = 200000L, nprobe = 3).count()
    assert(nCand >= nKept && nKept >= nPairs)
    assert(nPairs === nRawPairs)
    assert(nKept < nCand, "prefilter pruned nothing — margin too loose")
    // a pre-margin index (no e2/nb2) must fail loudly, not drop pairs
    val legacy = pq.copy(codes = pq.codes.drop("e2", "nb2"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.annNearDupPairsPq(legacy, raw, odds, "vec_id",
        "embedding", thresholdPpm = 200000L, nprobe = 3)
    }
    assert(ex.getMessage.contains("margin columns"))
    // mismatched geometry (different seed set) must fail loudly
    val otherSeeds = Similarity.hashSeeds(corpus, "vec_id", "embedding",
      8, salt = "other")
    val otherRaw = Similarity.buildIvfIndex(evens, "vec_id", "embedding",
      otherSeeds, "sid", "svec")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.annNearDupPairsPq(pq, otherRaw, odds, "vec_id",
        "embedding", thresholdPpm = 200000L, nprobe = 3)
    }
    assert(ex2.getMessage.contains("DIFFERENT"))
  }

  test("PQ index meta round-trips two_level_threshold, the legacy " +
    "append validates it, and an ambiguous meta dir fails loudly") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("pqmeta")
    // non-default routing switch: assignment-affecting, so it is part
    // of the persisted quantizer definition
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = Seq(1L, 2L, 3L, 4L), inDims = dims, nSub = 2,
      twoLevelThreshold = 2), path)
    val back = Similarity.readIvfPqIndex(spark, path)
    assert(back.twoLevelThreshold === 2)
    // the parameterless append routes under the persisted threshold:
    // shifted copies of base rows must land in their base rows' cells
    val delta = corpus.where(col("vec_id") < 3)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(spark, path, delta, "vec_id",
      "embedding")
    val cells = Similarity.readIvfPqIndex(spark, path).codes
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0L until 3L).foreach(i => assert(cells(i + 1000L) === cells(i),
      s"PQ delta row $i must land in its base row's cell"))
    // a legacy caller re-supplying a DIFFERENT threshold fails loudly
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(spark, path, delta, "vec_id",
        "embedding", twoLevelThreshold = 4096)
    }
    assert(ex.getMessage.contains("persisted meta"))
    // a meta dir holding TWO data files (external copy / partial
    // overwrite) is ambiguous — reading it must fail, not route under
    // an arbitrary row
    import org.apache.hadoop.fs.Path
    val metaDir = new Path(path + "/meta")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orig = fs.listStatus(metaDir).map(_.getPath).find(p =>
      p.getName.endsWith(".parquet") && !p.getName.startsWith("_")).get
    val copy = new Path(metaDir, "part-copy-stale.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, orig, fs, copy, false,
      spark.sparkContext.hadoopConfiguration)
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.readIvfPqIndex(spark, path)
    }
    assert(ex2.getMessage.contains("exactly one"))
  }

  test("a file landing mid-compaction aborts the swap with the live " +
    "set intact") {
    import org.apache.spark.sql.SaveMode
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("concurrent")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    val before = spark.read.parquet(path + "/postings")
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    // the "concurrent appender": lands a delta between the staged
    // rewrite and the swap — the single-writer-contract violation
    val delta = corpus.where(col("vec_id") < 2)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    val ex = intercept[IllegalStateException] {
      Similarity.compactCellDirHooked(spark, path, "postings", () =>
        Similarity.appendToIvfIndex(spark, path, delta, "vec_id",
          "embedding"))
    }
    assert(ex.getMessage.contains("single-writer"))
    // live postings intact: the original set PLUS the concurrent
    // append — nothing deleted, nothing swapped
    val after = spark.read.parquet(path + "/postings")
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(after.size === before.size + 2)
    assert(before.subsetOf(after))
    assert(!new java.io.File(path + "/postings_compacting").exists)
    // the root is still healthy: a retried compaction (no interference)
    // succeeds and preserves the full set
    Similarity.compactIvfIndex(spark, path)
    val compacted = spark.read.parquet(path + "/postings")
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(compacted === after)
  }

  test("mid-swap crash recovery: a retired-only root restores instead " +
    "of serving an empty index; a broken root fails loudly") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("crash")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    val full = spark.read.parquet(path + "/postings").count()
    // simulate a crash between rename(live→retired) and
    // rename(staged→live): live gone, retired holds the only copy
    val live = new java.io.File(path + "/postings")
    val retired = new java.io.File(path + "/postings_retired")
    val staged = new java.io.File(path + "/postings_compacting")
    assert(live.renameTo(retired))
    staged.mkdirs() // a partial stage may or may not exist; both legal
    val recovered = Similarity.readIvfIndex(spark, path)
    assert(recovered.postings.count() === full)
    assert(live.exists && !retired.exists && !staged.exists)
    // a compaction started on the crashed root must also recover, not
    // blind-delete the retired copy
    assert(live.renameTo(retired))
    Similarity.compactIvfIndex(spark, path)
    assert(spark.read.parquet(path + "/postings").count() === full)
    // broken root (live AND retired both gone, stage leftover) must
    // fail loudly, never read back as an empty index
    val path2 = tmpDir("broken")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path2)
    val live2 = new java.io.File(path2 + "/postings")
    def rmr(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmr)
      f.delete(); ()
    }
    rmr(live2)
    new java.io.File(path2 + "/postings_compacting").mkdirs()
    val ex = intercept[IllegalStateException] {
      Similarity.readIvfIndex(spark, path2)
    }
    assert(ex.getMessage.contains("refusing to serve"))
  }

  test("quantization is float32-consistent: double-precision seeds " +
    "route build and append identically") {
    import spark.implicits._
    // seed0 differs from seed1 ONLY by a component that rounds to 1 when
    // quantized from double (0.00005·10⁴ = 0.5 → 1) but to 0 when
    // quantized from its float32 cast (≈0.49999998 → 0): quantizing the
    // build table from raw doubles while append/probe re-quantize the
    // persisted float32 centroids would flip this corpus row's argmax
    val seeds = Seq(
      (0, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.00005)),
      (1, Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
      .toDF("sid", "svec")
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Seq(0.5f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0.2f)))
      .toDF("vec_id", "embedding")
    val path = tmpDir("floatseeds")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(rows, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    val delta = rows.select((col("vec_id") + 100L).as("vec_id"),
      col("embedding"))
    Similarity.appendToIvfIndex(spark, path, delta, "vec_id", "embedding")
    val cells = Similarity.readIvfIndex(spark, path).postings
      .select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0L until 2L).foreach(i => assert(cells(i + 100L) === cells(i),
      s"build and append disagree on row $i's cell"))
  }

  test("annNearDupPairs: exact decision survives the large-dotq domain " +
    "and the cap keeps the top-c by quantized cosine with exact drops") {
    import spark.implicits._
    // dotq = 8·10¹⁴ for the identical pair: the naive dotq²·10¹²
    // comparison (≈6.4·10⁴¹) overflows decimal(38,0); the split
    // evaluation must still decide it exactly
    val big = Seq.fill(8)(1000f)
    val bigOff = Seq(1000f, 1000f, 1000f, 1000f, 1000f, 1000f, 1000f,
      -1000f) // cosine 0.75 vs big
    val base = Seq((10L, big), (11L, bigOff)).toDF("vec_id", "embedding")
    val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 1)
    val idx = Similarity.buildIvfIndex(base, "vec_id", "embedding",
      seeds, "sid", "svec")
    val newRows = Seq((1L, big)).toDF("vec_id", "embedding")
    val pairs = Similarity.annNearDupPairs(idx, newRows, "vec_id",
      "embedding", thresholdPpm = 990000L, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 10L)),
      "identical large-magnitude pair must survive; cosine-0.75 must not")
    // cap + accounting: 4 partners above τ=0.5, keep top-2 by
    // dotq² div nb2 (monotone in cosine here), exact drop counts
    val graded = Seq(
      (20L, Seq(1000f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (21L, Seq(1000f, 100f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (22L, Seq(1000f, 200f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (23L, Seq(1000f, 300f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val gseeds = Similarity.hashSeeds(graded, "vec_id", "embedding", 1)
    val gidx = Similarity.buildIvfIndex(graded, "vec_id", "embedding",
      gseeds, "sid", "svec")
    val q = Seq((2L, Seq(1000f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.annNearDupPairs(gidx, q, "vec_id",
      "embedding", thresholdPpm = 500000L, nprobe = 1,
      maxPairsPerNew = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((2L, 20L), (2L, 21L)),
      "cap must keep the two highest-cosine partners")
    val rep = Similarity.annNearDupDropReport(gidx, q, "vec_id",
      "embedding", thresholdPpm = 500000L, maxPairsPerNew = 2,
      nprobe = 1).collect().head
    assert(rep.getAs[Long]("n_new_rows_paired") === 1L)
    assert(rep.getAs[Long]("n_pairs") === 4L)
    assert(rep.getAs[Long]("n_pairs_kept") === 2L)
    assert(rep.getAs[Long]("n_pairs_dropped") === 2L)
    assert(rep.getAs[Long]("dropped_pair_share_ppm") === 500000L)
    // retry-safety hook: excluding the batch's own ids removes
    // self/intra-batch pairs a replayed append would otherwise create
    val replayIdx = Similarity.readIvfIndex(spark, {
      val p = tmpDir("replay")
      Similarity.writeIvfIndex(gidx, p)
      Similarity.appendToIvfIndex(spark, p, q, "vec_id", "embedding")
      p
    })
    val replayPairs = Similarity.annNearDupPairs(replayIdx, q, "vec_id",
      "embedding", thresholdPpm = 500000L, nprobe = 1,
      excludeIds = q.select("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayPairs === Set((2L, 20L), (2L, 21L), (2L, 22L),
      (2L, 23L)), "replay must emit cross-batch pairs only, no self-pair")
  }

  test("PQ compaction collapses each cell's codes to one file and " +
    "changes neither codes nor probe results; crash recovery restores " +
    "a half-swapped codes dir") {
    val base = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
    val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", 4)
    val path = tmpDir("pqcompact")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec", codebookIds = Seq(1L, 2L, 3L, 4L),
      inDims = dims, nSub = 2), path)
    Similarity.appendToIvfPqIndex(spark, path, delta, "vec_id",
      "embedding")
    val queries = corpus.where(col("vec_id") < 3)
    def pqProbe() = Similarity.probeIvfPqIndex(
      Similarity.readIvfPqIndex(spark, path), queries, "vec_id",
      "embedding", k = 5, nprobe = 2)
      .select(col("query_id"), col("corpus_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(t => (t._1, t._3))
    val codesBefore = spark.read.parquet(path + "/codes")
      .select("cell", "corpus_id", "codes").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList))
      .sortBy(t => (t._1, t._2))
    val probeBefore = pqProbe()
    Similarity.compactIvfPqIndex(spark, path)
    val cellDirs = new java.io.File(path + "/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"${d.getName} has $n files after compaction")
    }
    val codesAfter = spark.read.parquet(path + "/codes")
      .select("cell", "corpus_id", "codes").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList))
      .sortBy(t => (t._1, t._2))
    assert(codesBefore === codesAfter)
    assert(probeBefore === pqProbe())
    // stats read the same counts the raw assignment gives
    val stats = Similarity.ivfPqIndexStats(
      Similarity.readIvfPqIndex(spark, path))
      .agg(sum(col("n_postings"))).collect().head.getLong(0)
    assert(stats === 200L)
    // mid-swap crash on the codes dir recovers on the next read
    val live = new java.io.File(path + "/codes")
    val retired = new java.io.File(path + "/codes_retired")
    assert(live.renameTo(retired))
    assert(Similarity.readIvfPqIndex(spark, path).codes.count() === 200L)
    assert(live.exists && !retired.exists)
  }

  test("incrementalAnnDedupStream: pair cap + exact per-batch drop " +
    "accounting land in the drops sink") {
    import spark.implicits._
    val graded = Seq(
      (20L, Seq(1000f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (21L, Seq(1000f, 100f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (22L, Seq(1000f, 200f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (23L, Seq(1000f, 300f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((2L, Seq(1000f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val seeds = Similarity.hashSeeds(graded, "vec_id", "embedding", 1)
    val root = tmpDir("dedupcap")
    val (in, idxp, pairsP, dropsP, chk) = (s"$root/in", s"$root/index",
      s"$root/pairs", s"$root/drops", s"$root/chk")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      graded.where(lit(false)), "vec_id", "embedding", seeds, "sid",
      "svec"), idxp)
    graded.coalesce(1).write.mode("overwrite").parquet(in)
    q.coalesce(1).write.mode("append").parquet(in)
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", "1").parquet(in)
    graft.streaming.Streams.incrementalAnnDedupStream(stream, "vec_id",
      "embedding", idxp, pairsP, chk, thresholdPpm = 500000L, nprobe = 1,
      maxPairsPerNew = 2, dropsPath = dropsP).awaitTermination()
    // batch 0 (the graded four) probed an empty index; batch 1 (the
    // query) admitted all four partners, kept the top-2 by quantized
    // cosine, dropped the other two — and the drops sink says exactly
    // that, one accounting row per batch
    val got = spark.read.parquet(pairsP).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((2L, 20L), (2L, 21L)))
    val dr = spark.read.parquet(dropsP)
      .select("batch_id", "n_pairs", "n_pairs_kept", "n_pairs_dropped",
        "dropped_pair_share_ppm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(dr === Set((0L, 0L, 0L, 0L, 0L), (1L, 4L, 2L, 2L, 500000L)))
  }

  private def vecStreamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))

  test("a FORCED foreachBatch replay appends nothing and emits no " +
    "duplicate pairs (single and dual-index modes)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val batch1 = (0L until 100L).map(i => (i, vec(i)))
    val batch2 = (100L until 150L).map(i => (i, vec(i - 100L))) ++
      (150L until 200L).map(i => (i, vec(i)))
    val all = (batch1 ++ batch2).toDF("vec_id", "embedding")
    val seeds = Similarity.hashSeeds(all, "vec_id", "embedding", 8)
    def run(withPq: Boolean): Unit = {
      val tag = if (withPq) "pq" else "raw"
      val root = tmpDir(s"replay$tag")
      val (in, idxp, pairsP, chk) =
        (s"$root/in", s"$root/index", s"$root/pairs", s"$root/chk")
      val pqp = if (withPq) s"$root/pqindex" else null
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        all.where(lit(false)), "vec_id", "embedding", seeds, "sid",
        "svec"), idxp)
      if (withPq) {
        val pq0 = Similarity.buildIvfPqIndex(
          all.where(col("vec_id") < 4), "vec_id", "embedding", seeds,
          "sid", "svec", codebookIds = Seq(0L, 1L, 2L, 3L),
          inDims = dims, nSub = 2)
        Similarity.writeIvfPqIndex(
          pq0.copy(codes = pq0.codes.where(lit(false))), pqp)
      }
      batch1.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(in)
      batch2.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(in)
      def stream() = spark.readStream.schema(vecStreamSchema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.Streams.incrementalAnnDedupStream(stream(),
        "vec_id", "embedding", idxp, pairsP, chk,
        thresholdPpm = 990000L, nprobe = 2, pqIndexPath = pqp)
        .awaitTermination()
      def counts(): (Long, Long, Long) = (
        spark.read.parquet(pairsP).count(),
        spark.read.parquet(idxp + "/postings").count(),
        if (withPq) spark.read.parquet(pqp + "/codes").count() else 0L)
      val before = counts()
      assert(before._2 === 200L)
      if (withPq) assert(before._3 === 200L)
      // force a genuine replay: drop the LAST batch's checkpoint
      // commit — on restart Spark re-runs that batch id with the same
      // data (offsets survive), which is exactly the crash-after-
      // foreachBatch-before-commit window
      val fs = new Path(chk).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val commits = fs.listStatus(new Path(chk + "/commits"))
        .map(_.getPath).filter(!_.getName.startsWith("."))
      val last = commits.map(_.getName.toLong).max
      assert(fs.delete(new Path(chk + s"/commits/$last"), false))
      graft.streaming.Streams.incrementalAnnDedupStream(stream(),
        "vec_id", "embedding", idxp, pairsP, chk,
        thresholdPpm = 990000L, nprobe = 2, pqIndexPath = pqp)
        .awaitTermination()
      // POSTING COUNTS unchanged — not just the pair set (r16
      // directive #1's acceptance bar)
      assert(counts() === before, s"replay changed counts in $tag mode")
    }
    run(withPq = false)
    run(withPq = true)
  }

  test("maintenance streams hold the writer lease for their lifetime: " +
    "a concurrent second stream fails loudly at start with no conf " +
    "set, and the lease releases on termination") {
    import org.apache.hadoop.fs.Path
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val root = tmpDir("maintlease")
    val (in, idxp, chk, chk2) =
      (s"$root/in", s"$root/index", s"$root/chk", s"$root/chk2")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      corpus.where(lit(false)), "vec_id", "embedding", seeds, "sid",
      "svec"), idxp)
    corpus.coalesce(1).write.mode("overwrite").parquet(in)
    def stream() = spark.readStream.schema(vecStreamSchema).parquet(in)
    // first stream: long-running trigger, holds the lease
    val q1 = graft.streaming.Streams.indexMaintenanceStream(stream(),
      "vec_id", "embedding", idxp, chk,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
    try {
      val marker = new Path(idxp + "/_writer")
      val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(marker), "stream must hold the root's lease")
      // the second maintenance stream on the SAME root fails loudly
      // BEFORE its first batch — no conf required
      val ex = intercept[IllegalStateException] {
        graft.streaming.Streams.indexMaintenanceStream(stream(),
          "vec_id", "embedding", idxp, chk2)
      }
      assert(ex.getMessage.contains("holds the lease"))
      // …and so does the PQ maintenance twin against the held root
      val ex2 = intercept[IllegalStateException] {
        graft.streaming.Streams.pqIndexMaintenanceStream(stream(),
          "vec_id", "embedding", idxp, chk2)
      }
      assert(ex2.getMessage.contains("holds the lease"))
      // wait for batch 0's append AND its high-water mark before
      // stopping, so the stop can't land in the documented
      // append-vs-mark crash window and flake the count below
      val dl = System.currentTimeMillis() + 30000
      while (Similarity.readAppendHwm(spark, idxp) < 0L &&
          System.currentTimeMillis() < dl)
        Thread.sleep(100)
      assert(Similarity.readAppendHwm(spark, idxp) === 0L)
    } finally q1.stop()
    // release lands when the stream terminates (async waiter)
    val marker = new java.io.File(idxp + "/_writer")
    val deadline = System.currentTimeMillis() + 20000
    while (marker.exists() && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(!marker.exists(), "lease must release on stream stop")
    // a back-to-back restart on the same root must not trip over its
    // own released (or releasing) lease, and the appends land
    graft.streaming.Streams.indexMaintenanceStream(stream(), "vec_id",
      "embedding", idxp, chk).awaitTermination()
    assert(Similarity.readIvfIndex(spark, idxp).postings.count() ===
      200L)
  }

  test("mergeIvfIndexes: merged halves equal one full build; different " +
    "geometry or meta fails loudly") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val root = tmpDir("merge")
    val (pa, pb, pm) = (s"$root/a", s"$root/b", s"$root/m")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      corpus.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
      "embedding", seeds, "sid", "svec"), pa)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      corpus.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id",
      "embedding", seeds, "sid", "svec"), pb)
    Similarity.mergeIvfIndexes(spark, Seq(pa, pb), pm)
    val merged = Similarity.readIvfIndex(spark, pm)
    val a = merged.postings.select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    val full = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      seeds, "sid", "svec")
    val b = full.postings.select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(a === b)
    assert((merged.quantScale, merged.twoLevelThreshold) === (10000, 4096))
    // the merged root has the compacted one-file-per-cell layout
    val cellDirs = new java.io.File(pm + "/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach(d => assert(
      d.listFiles().count(_.getName.endsWith(".parquet")) === 1))
    // different centroids → loud refusal
    val otherSeeds = Similarity.hashSeeds(
      corpus.where(col("vec_id") >= 100), "vec_id", "embedding", 8)
    val pc = s"$root/c"
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", otherSeeds, "sid", "svec"), pc)
    val ex = intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndexes(spark, Seq(pa, pc), s"$root/x")
    }
    assert(ex.getMessage.contains("DIFFERENT centroids"))
    // different meta → loud refusal
    val pd = s"$root/d"
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      corpus.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id",
      "embedding", seeds, "sid", "svec", quantScale = 5000), pd)
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndexes(spark, Seq(pa, pd), s"$root/y")
    }
    assert(ex2.getMessage.contains("meta"))
    // dest must be a new root
    intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndexes(spark, Seq(pa, pb), pa)
    }
  }

  test("ivfRecallAudit: probing every cell recovers brute-force truth " +
    "exactly; recall is monotone in nprobe") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("recall")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    val idx = Similarity.readIvfIndex(spark, path)
    val queries = corpus.where(col("vec_id") < 4)
    val audit = Similarity.ivfRecallAudit(idx, corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", k = 5,
      nprobes = Seq(1, 2, 8))
      .collect().map(r => r.getAs[Int]("nprobe") ->
        (r.getAs[Long]("n_truth"), r.getAs[Long]("n_probe_rows"),
          r.getAs[Long]("n_hits"), r.getAs[Long]("recall_ppm"))).toMap
    assert(audit.keySet === Set(1, 2, 8))
    // nprobe = all cells ⇒ the probe IS brute force (same tie rule)
    assert(audit(8) === ((20L, 20L, 20L, 1000000L)))
    assert(audit(1)._4 <= audit(2)._4 && audit(2)._4 <= audit(8)._4,
      s"recall must be monotone in nprobe: $audit")
    audit.values.foreach { case (t, _, _, _) => assert(t === 20L) }
  }

  test("ivfPqRecallAudit: full-probe row isolates PQ/rerank loss and a " +
    "corpus-wide rerank window recovers truth exactly") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 4)
    val path = tmpDir("pqrecall")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = 0L until 16L, inDims = dims, nSub = 2), path)
    val idx = Similarity.readIvfPqIndex(spark, path)
    val queries = corpus.where(col("vec_id") < 4)
    // rerank window = the whole corpus at nprobe=all: the ADC stage can
    // drop nothing the rerank needs, so recall must be exactly 10^6
    val audit = Similarity.ivfPqRecallAudit(idx, corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", k = 5,
      rerankK = 200, nprobes = Seq(1, 4))
      .collect().map(r => r.getAs[Int]("nprobe") ->
        (r.getAs[Long]("n_truth"), r.getAs[Long]("n_hits"),
          r.getAs[Long]("recall_ppm"))).toMap
    assert(audit(4) === ((20L, 20L, 1000000L)))
    assert(audit(1)._3 <= 1000000L && audit(1)._1 === 20L)
    // the rerank window can only narrow the candidate set
    intercept[IllegalArgumentException] {
      Similarity.ivfPqRecallAudit(idx, corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, rerankK = 3,
        nprobes = Seq(1))
    }
  }

  test("exactly-once append wrapper: a replayed batch id appends " +
    "nothing, the mark survives compaction, and a rebuild clears it") {
    val base = corpus.where(col("vec_id") < 100)
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val path = tmpDir("hwm")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    assert(Similarity.readAppendHwm(spark, path) === -1L)
    val d0 = corpus.where(col("vec_id") >= 100 && col("vec_id") < 150)
    val d1 = corpus.where(col("vec_id") >= 150)
    assert(Similarity.appendToIvfIndexOnce(spark, path, d0, "vec_id",
      "embedding", batchId = 0L))
    assert(spark.read.parquet(path + "/postings").count() === 150L)
    // the exactly-once core: a full foreachBatch replay of batch 0
    // lands ZERO duplicate postings (count, not just pair, equality)
    assert(!Similarity.appendToIvfIndexOnce(spark, path, d0, "vec_id",
      "embedding", batchId = 0L))
    assert(spark.read.parquet(path + "/postings").count() === 150L)
    assert(Similarity.readAppendHwm(spark, path) === 0L)
    assert(Similarity.appendToIvfIndexOnce(spark, path, d1, "vec_id",
      "embedding", batchId = 1L))
    assert(spark.read.parquet(path + "/postings").count() === 200L)
    assert(Similarity.readAppendHwm(spark, path) === 1L)
    // compaction rewrites postings but not the root-level mark
    Similarity.compactIvfIndex(spark, path)
    assert(Similarity.readAppendHwm(spark, path) === 1L)
    // a rebuild starts a NEW append history (a fresh checkpoint
    // restarts batch ids at 0 — a stale mark would swallow them)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", seeds, "sid", "svec"), path)
    assert(Similarity.readAppendHwm(spark, path) === -1L)
    // PQ twin carries an independent mark on its own root
    val pqPath = tmpDir("hwmpq")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(base,
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = Seq(1L, 2L, 3L, 4L), inDims = dims, nSub = 2),
      pqPath)
    assert(Similarity.appendToIvfPqIndexOnce(spark, pqPath, d0,
      "vec_id", "embedding", batchId = 0L))
    assert(!Similarity.appendToIvfPqIndexOnce(spark, pqPath, d0,
      "vec_id", "embedding", batchId = 0L))
    assert(spark.read.parquet(pqPath + "/codes").count() === 150L)
  }

  test("consuming merge resumes a mid-move crash to completion; a " +
    "foreign or mismatched half-state fails loudly") {
    import org.apache.hadoop.fs.Path
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    def buildHalves(root: String): (String, String) = {
      val (pa, pb) = (s"$root/even", s"$root/odd")
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        corpus.where(pmod(col("vec_id"), lit(2)) === 0), "vec_id",
        "embedding", seeds, "sid", "svec"), pa)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        corpus.where(pmod(col("vec_id"), lit(2)) === 1), "vec_id",
        "embedding", seeds, "sid", "svec"), pb)
      (pa, pb)
    }
    val root = tmpDir("mergeresume")
    val (pa, pb) = buildHalves(root)
    val pm = s"$root/merged"
    val fs = new Path(pm).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // hand-craft exactly the half-state a crash mid-moveMergeRoots
    // leaves: intent marker down, first source's small dirs moved,
    // ONE cell dir of the first source moved, everything else pending
    fs.mkdirs(new Path(pm))
    val out = fs.create(new Path(pm + "/_merge_intent"), false)
    try out.write(Seq(pa, pb).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    assert(fs.rename(new Path(pa + "/centroids"),
      new Path(pm + "/centroids")))
    assert(fs.rename(new Path(pa + "/meta"), new Path(pm + "/meta")))
    fs.mkdirs(new Path(pm + "/postings"))
    val firstCell = fs.listStatus(new Path(pa + "/postings"))
      .filter(_.isDirectory).head.getPath
    assert(fs.rename(firstCell,
      new Path(pm + "/postings/" + firstCell.getName)))
    // the re-run completes the merge (pre-r17 this threw from
    // readIvfIndex on the drained first source)
    Similarity.mergeIvfIndexes(spark, Seq(pa, pb), pm,
      consumeSources = true)
    assert(!new java.io.File(pa).exists() &&
      !new java.io.File(pb).exists())
    assert(!fs.exists(new Path(pm + "/_merge_intent")))
    // merged result identical to a fresh rewrite merge
    val rootB = tmpDir("mergeresumeref")
    val (qa, qb) = buildHalves(rootB)
    val pm2 = s"$rootB/merged"
    Similarity.mergeIvfIndexes(spark, Seq(qa, qb), pm2)
    val queries = corpus.where(col("vec_id") < 3)
    def probe(p: String) = probeRows(Similarity.probeIvfIndex(
      Similarity.readIvfIndex(spark, p), queries, "vec_id",
      "embedding", k = 5, nprobe = 3))
    assert(probe(pm) === probe(pm2))
    // a dest holding postings WITHOUT an intent marker is NOT a
    // resumable half-state — loud refusal, not a silent interleave
    val rootC = tmpDir("mergeresumec")
    val (ca, cb) = buildHalves(rootC)
    val ex = intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndexes(spark, Seq(ca, cb), ca + "x", {
        fs.mkdirs(new Path(ca + "x/postings")); true
      })
    }
    assert(ex.getMessage.contains("fresh destination"))
    // an intent marker recording DIFFERENT sources refuses loudly
    val pmOther = s"$rootC/merged"
    fs.mkdirs(new Path(pmOther))
    val out2 = fs.create(new Path(pmOther + "/_merge_intent"), false)
    try out2.write("someone/else".getBytes("UTF-8")) finally out2.close()
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndexes(spark, Seq(ca, cb), pmOther,
        consumeSources = true)
    }
    assert(ex2.getMessage.contains("_merge_intent"))
  }

  test("PQ compaction folds tombstones physically: surviving codes " +
    "equal a re-encode of the surviving rows, folded files cleared") {
    import spark.implicits._
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val cbIds = Seq(1L, 2L, 3L, 4L)
    val pqPath = tmpDir("pqfold")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec", cbIds,
      inDims = dims, nSub = 2), pqPath)
    Similarity.deleteFromIvfPqIndex(spark, pqPath,
      corpus.where(pmod(col("vec_id"), lit(10)) === 0)
        .select(col("vec_id")), "vec_id")
    Similarity.compactIvfPqIndex(spark, pqPath)
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cell").cast("int"), col("corpus_id"), col("codes"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2).toList))
        .sortBy(t => (t._1, t._2))
    // the RAW codes dir (not the tombstone-filtering reader) holds
    // exactly the survivors…
    val folded = codeRows(spark.read.parquet(pqPath + "/codes"))
    assert(folded.length === 180)
    assert(folded.forall(_._2 % 10 != 0))
    // …bit-identical to a from-scratch encode of the surviving rows
    // under the same quantizer and codebook (encode is per-row, so the
    // fold must not have touched any surviving code)
    val ref = Similarity.buildIvfPqIndex(
      corpus.where(pmod(col("vec_id"), lit(10)) =!= 0 ||
        col("vec_id").isin(cbIds: _*)),
      "vec_id", "embedding", seeds, "sid", "svec", cbIds,
      inDims = dims, nSub = 2)
    assert(folded === codeRows(
      ref.codes.where(pmod(col("corpus_id"), lit(10)) =!= 0)))
    // folded tombstone files cleared (a delete is folded exactly once)
    val tombFiles = new java.io.File(pqPath + "/tombstones").listFiles()
    assert(tombFiles == null ||
      !tombFiles.exists(_.getName.endsWith(".parquet")))
  }

  test("a double-typed corpus routes to the SAME cells in the raw and " +
    "PQ indexes (one float32 rounding rule on both paths)") {
    import spark.implicits._
    // component 0.00005 quantizes to 1 from double (0.5 rounds up) but
    // to 0 from its float32 cast (≈0.49999998 rounds down): if either
    // path skipped the float32 cast, rows near a centroid boundary
    // would route differently between the two indexes
    val dcorpus = (0L until 20L).map { i =>
      (i, (0 until dims).map(j =>
        if (j == dims - 1) 0.00005 * (i % 3)
        else vec(i)(j).toDouble))
    }.toDF("vec_id", "embedding")
    val seeds = Similarity.hashSeeds(dcorpus, "vec_id", "embedding", 4)
    val raw = Similarity.buildIvfIndex(dcorpus, "vec_id", "embedding",
      seeds, "sid", "svec")
    val pq = Similarity.buildIvfPqIndex(dcorpus, "vec_id", "embedding",
      seeds, "sid", "svec", codebookIds = Seq(1L, 2L, 3L, 4L),
      inDims = dims, nSub = 2)
    val rawCells = raw.postings.select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pqCells = pq.codes.select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rawCells.size === 20)
    assert(pqCells === rawCells)
  }

  test("filtered probe on a core-schema index returns a typed empty " +
    "frame; a typo over payload-carrying postings stays loud even " +
    "when fully tombstoned") {
    import spark.implicits._
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    // a NON-EMPTY index without payload columns: a payload predicate
    // can never resolve — legitimately empty, with the probe's schema
    val plainPath = tmpDir("fallbackplain")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), plainPath)
    val plain = Similarity.readIvfIndex(spark, plainPath)
    val queries = corpus.where(col("vec_id") < 3)
    val empty = Similarity.probeIvfIndexFiltered(plain, queries,
      "vec_id", "embedding", k = 5, predicate = col("label") === 1)
    assert(empty.columns.toSeq ===
      Seq("query_id", "corpus_id", "score", "rank"))
    assert(empty.count() === 0L)
    // payload-carrying index, EVERY row tombstoned: row-empty, but a
    // typo'd predicate must stay a loud resolution error (the pre-r17
    // isEmpty detection silently returned nothing here)
    val labeled = corpus.withColumn("label",
      pmod(col("vec_id"), lit(4)).cast("int"))
    val labeledPath = tmpDir("fallbacklabeled")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(labeled, "vec_id",
      "embedding", seeds, "sid", "svec", payloadCols = Seq("label")),
      labeledPath)
    Similarity.deleteFromIvfIndex(spark, labeledPath,
      corpus.select(col("vec_id")), "vec_id")
    val tombstoned = Similarity.readIvfIndex(spark, labeledPath)
    assert(tombstoned.postings.isEmpty)
    intercept[org.apache.spark.sql.AnalysisException] {
      Similarity.probeIvfIndexFiltered(tombstoned, queries, "vec_id",
        "embedding", k = 5, predicate = col("no_such_column") === 1)
        .count()
    }
    // PQ twin: core-schema fallback carries the probe's full schema
    // (query_id, corpus_id, approx_d2, rank)
    val pqPath = tmpDir("fallbackpq")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = Seq(1L, 2L, 3L, 4L), inDims = dims, nSub = 2),
      pqPath)
    val pqEmpty = Similarity.probeIvfPqIndexFiltered(
      Similarity.readIvfPqIndex(spark, pqPath), queries, "vec_id",
      "embedding", k = 5, predicate = col("label") === 1)
    assert(pqEmpty.columns.toSeq ===
      Seq("query_id", "corpus_id", "approx_d2", "rank"))
    assert(pqEmpty.count() === 0L)
  }

  test("auto-routed dedup: density picks the PQ path on a dense index " +
    "and the raw path on a sparse one, with identical pairs") {
    import spark.implicits._
    // dense: every row in ONE cell → 400 postings/cell ≥ the 350
    // routing threshold
    val dense = (0L until 400L).map(i => (i, vec(i % 50L)))
      .toDF("vec_id", "embedding")
    val dseeds = Similarity.hashSeeds(dense, "vec_id", "embedding", 1)
    val densePath = tmpDir("routedense")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(dense, "vec_id",
      "embedding", dseeds, "sid", "svec"), densePath)
    assert(Similarity.annNearDupRoutesToPq(spark, densePath))
    // sparse: 200 rows over 8 cells → 25/cell → raw
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val sparsePath = tmpDir("routesparse")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), sparsePath)
    assert(!Similarity.annNearDupRoutesToPq(spark, sparsePath))
    // a fresh root (quantizer written, no postings) routes raw
    val freshPath = tmpDir("routefresh")
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      dense.where(lit(false)), "vec_id", "embedding", dseeds, "sid",
      "svec"), freshPath)
    assert(!Similarity.annNearDupRoutesToPq(spark, freshPath))
    // the decision reads parquet footers on the driver: no Spark job
    Seq(densePath, sparsePath, freshPath).foreach { p =>
      assert(org.apache.spark.TestJobs.of(spark)(
        Similarity.annNearDupRoutesToPq(spark, p))._1 === 0, p)
    }
    // the wrapper emits the raw kernel's exact pairs on BOTH routes
    val densePqPath = tmpDir("routedensepq")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(dense,
      "vec_id", "embedding", dseeds, "sid", "svec",
      codebookIds = Seq(0L, 1L, 2L, 3L), inDims = dims, nSub = 2),
      densePqPath)
    val batch = (1000L until 1005L).map(i => (i, vec(i % 50L)))
      .toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_new").cast("long"),
          col("id_existing").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val viaAuto = pairs(Similarity.annNearDupPairsAuto(spark, densePath,
      densePqPath, batch, "vec_id", "embedding",
      thresholdPpm = 990000L, nprobe = 1))
    val viaRaw = pairs(Similarity.annNearDupPairs(
      Similarity.readIvfIndex(spark, densePath), batch, "vec_id",
      "embedding", thresholdPpm = 990000L, nprobe = 1))
    assert(viaAuto === viaRaw)
    assert(viaAuto.nonEmpty)
    // no PQ root supplied → raw route regardless of density
    assert(pairs(Similarity.annNearDupPairsAuto(spark, densePath, null,
      batch, "vec_id", "embedding", thresholdPpm = 990000L,
      nprobe = 1)) === viaRaw)
  }

  test("indexMaintenanceStream: append+compact per micro-batch cadence " +
    "equals a batch build over the union, one file per cell after " +
    "compaction") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val root = tmpDir("maint")
    val (in, idxp, chk) = (s"$root/in", s"$root/index", s"$root/chk")
    // pre-trained quantizer, empty postings — the firehose starts cold
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(
      corpus.where(lit(false)), "vec_id", "embedding", seeds, "sid",
      "svec"), idxp)
    // four single-file micro-batches covering the whole corpus
    (0 until 4).foreach { m =>
      corpus.where(pmod(col("vec_id"), lit(4)) === m)
        .coalesce(1).write.mode("append").parquet(in)
    }
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", "1").parquet(in)
    graft.streaming.Streams.indexMaintenanceStream(stream, "vec_id",
      "embedding", idxp, chk, compactEvery = 2).awaitTermination()
    // contents: exactly a batch build over the union
    val streamed = Similarity.readIvfIndex(spark, idxp).postings
      .select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    val batchIdx = Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec")
    val direct = batchIdx.postings.select("cell", "corpus_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(streamed === direct)
    // probes served from the maintained index match the batch index
    val queries = corpus.where(col("vec_id") < 3)
    val a = probeRows(Similarity.probeIvfIndex(
      Similarity.readIvfIndex(spark, idxp), queries, "vec_id",
      "embedding", k = 5, nprobe = 3))
    val b = probeRows(Similarity.probeIvfIndex(batchIdx, queries,
      "vec_id", "embedding", k = 5, nprobe = 3))
    assert(a === b)
    // compaction ran after batch 4 (batchId 3): every cell is one file
    val cellDirs = new java.io.File(idxp + "/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"${d.getName} has $files files after compact")
    }
  }

  // ----- per-row probe routing (IvfTopCells) -----

  /** Bounded top-k per query id, as [[Similarity]]'s own reduction. */
  private def topKRows(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKByScore(col("score"),
        col("corpus_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("corpus_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rank"))

  /** probeIvfIndex as planned before per-row routing, kept as the
    * reference: cells ranked per query id through the bounded aggregate
    * and joined back onto the queries. */
  private def aggregateRankedIvfProbe(idx: Similarity.IvfIndexFrames,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val (cents, cn) = Similarity.collectSeedTable(idx.centroids, "cell",
      "cvec", idx.quantScale)
    val q0 = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qvec"),
      Similarity.norm(col("embedding")).as("qnorm"),
      transform(col("embedding"),
        x => round(x.cast("double") * idx.quantScale)).as("__qn"))
    val probes = graft.functions.AggregateCellRanking
      .cells(q0, "query_id", "__qn", cents, cn, nprobe)
      .select(col("query_id"), explode(col("cells")).as("cell"))
      .join(q0.select("query_id", "qvec", "qnorm"), Seq("query_id"))
    val nn = col("cnorm") * col("qnorm")
    topKRows(idx.postings.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("corpus_id"),
        when(nn === 0, lit(0.0))
          .otherwise(Similarity.dot(col("cvec"), col("qvec")) / nn)
          .as("score")), k)
  }

  /** probeIvfPqIndex as planned before per-row routing (the reference):
    * per-id cells, LUTs joined back on query id. */
  private def aggregateRankedPqProbe(idx: Similarity.IvfPqIndexFrames,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val (cents, cn) = Similarity.collectSeedTable(idx.centroids, "cell",
      "cvec", idx.quantScale)
    val (cbBlock, csq) = idx.pqKernelTables
    val q0 = queries.select(col("vec_id").cast("long").as("query_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * idx.quantScale)).as("qv"))
      .where(col("qv").isNotNull && size(col("qv")) === idx.inDims)
    val probes = graft.functions.AggregateCellRanking
      .cells(q0, "query_id", "qv", cents, cn, nprobe)
      .select(col("query_id"), explode(col("cells")).as("cell"))
      .join(q0.select(col("query_id"), graft.functions.GraftFunctions
        .pqQueryLut(col("qv"), cbBlock, csq).as("lut")), Seq("query_id"))
    val d2 = (0 until idx.nSub).map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    topKRows(idx.codes.join(broadcast(probes), Seq("cell"))
        .select(col("query_id"), col("corpus_id"), (-d2).as("score")), k)
      .select(col("query_id"), col("corpus_id"),
        (-col("score")).cast("long").as("approx_d2"),
        col("rank").cast("long").as("rank"))
  }

  /** Every output column, rows ordered by (query_id, rank). */
  private def fullRows(df: DataFrame): Seq[Seq[Any]] =
    df.select(col("query_id").cast("long"), col("corpus_id").cast("long"),
        col(df.columns(2)).cast("double"), col("rank").cast("long"))
      .collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(3).asInstanceOf[Long]))

  /** A persisted IVF and IVF-PQ index over the fixture corpus, read back. */
  private def persistedPair(tag: String, cells: Int = 8)
      : (Similarity.IvfIndexFrames, Similarity.IvfPqIndexFrames) = {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", cells)
    val path = tmpDir(tag)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec"), path + "/ivf")
    Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(corpus,
      "vec_id", "embedding", seeds, "sid", "svec",
      codebookIds = 0L until 16L, inDims = dims, nSub = 2), path + "/pq")
    (Similarity.readIvfIndex(spark, path + "/ivf"),
      Similarity.readIvfPqIndex(spark, path + "/pq"))
  }

  test("per-row routed probes equal the aggregate-ranked plan row for " +
    "row when query ids are unique (IVF and PQ)") {
    import spark.implicits._
    val (ivf, pq) = persistedPair("rankparity")
    // a folded local query set and a scanned one
    val local = corpus.where(col("vec_id") < 12)
    val scanned = spark.createDataFrame(
      local.rdd, local.schema).repartition(3)
    val dup = Seq((900L, vec(7)), (901L, vec(7))).toDF("vec_id",
      "embedding")
    for (queries <- Seq(local, scanned, dup); nprobe <- Seq(1, 4, 8)) {
      val gotIvf = fullRows(Similarity.probeIvfIndex(ivf, queries,
        "vec_id", "embedding", k = 5, nprobe = nprobe))
      assert(gotIvf === fullRows(aggregateRankedIvfProbe(ivf, queries, 5, nprobe)))
      assert(gotIvf.nonEmpty)
      val gotPq = fullRows(Similarity.probeIvfPqIndex(pq, queries,
        "vec_id", "embedding", k = 5, nprobe = nprobe))
      assert(gotPq === fullRows(aggregateRankedPqProbe(pq, queries, 5, nprobe)))
      assert(gotPq.nonEmpty)
    }
  }

  test("a driver-local query set keeps dynamic partition pruning on the " +
    "postings and codes scans") {
    import spark.implicits._
    val (ivf, pq) = persistedPair("localdpp")
    // no filter anywhere on the query side: the shape a serving caller
    // (and the benchmark) builds with Seq(...).toDF
    val q = Seq((5L, vec(5)), (9L, vec(9))).toDF("vec_id", "embedding")
    for (probe <- Seq(
        Similarity.probeIvfIndex(ivf, q, "vec_id", "embedding", 5, 2),
        Similarity.probeIvfPqIndex(pq, q, "vec_id", "embedding", 5, 2))) {
      val planned = probe.queryExecution.executedPlan.toString
      assert(planned.toLowerCase.contains("dynamicpruning"),
        s"DPP lost for a driver-local query set; plan:\n$planned")
      assert(probe.collect().length === 10)
      // the final adaptive plan still prunes: AQE replaces a pruning
      // filter it cannot serve from the broadcast with `true`
      val last = probe.queryExecution.executedPlan.toString
      assert(last.contains("dynamicpruningexpression(cell") &&
        !last.contains("dynamicpruningexpression(true)"),
        s"the executed plan scans every cell:\n$last")
    }
  }

  private def jobsOf(body: => Unit): (Int, Seq[String]) =
    org.apache.spark.TestJobs.of(spark)(body)

  test("a warm probe on read-back frames runs at most 3 jobs and " +
    "collects no centroid or codebook table") {
    import spark.implicits._
    val (ivf, pq) = persistedPair("budget")
    val q = Seq((3L, vec(3)), (11L, vec(11))).toDF("vec_id", "embedding")
    def readsTables(plans: Seq[String]): Boolean =
      plans.exists(p => p.contains("/centroids") || p.contains("/codebook"))
    for ((name, probe) <- Seq[(String, () => Unit)](
        "ivf" -> (() => Similarity.probeIvfIndex(ivf, q, "vec_id",
          "embedding", 5, 3).collect()),
        "pq" -> (() => Similarity.probeIvfPqIndex(pq, q, "vec_id",
          "embedding", 5, 3).collect()))) {
      val (coldJobs, coldPlans) = jobsOf(probe())
      // the first probe on a frames value collects its tables — the
      // detector sees it
      assert(readsTables(coldPlans), s"$name: cold plans $coldPlans")
      val (warmJobs, warmPlans) = jobsOf(probe())
      assert(warmJobs <= 3, s"$name: $warmJobs jobs; plans:\n$warmPlans")
      assert(warmJobs < coldJobs)
      assert(!readsTables(warmPlans), s"$name re-read its tables")
    }
    // the filtered variant shares the frames' tables too
    val (fJobs, fPlans) = jobsOf(Similarity.probeIvfIndexFiltered(ivf, q,
      "vec_id", "embedding", 5, col("corpus_id") > 10L, 3).collect())
    assert(fJobs <= 3 && !readsTables(fPlans), s"$fJobs jobs: $fPlans")
  }

  test("re-opening an index rebuilt under different seeds routes under " +
    "the new centroids") {
    val path = tmpDir("reopen")
    val q = corpus.where(col("vec_id") < 6)
    def build(seedRows: DataFrame) = Similarity.buildIvfIndex(corpus,
      "vec_id", "embedding", Similarity.hashSeeds(seedRows, "vec_id",
        "embedding", 8), "sid", "svec")
    Similarity.writeIvfIndex(build(corpus.where(col("vec_id") < 100)),
      path)
    val before = Similarity.readIvfIndex(spark, path)
    probeRows(Similarity.probeIvfIndex(before, q, "vec_id", "embedding",
      k = 5, nprobe = 2)) // tables collected for the old root
    val rebuilt = build(corpus.where(col("vec_id") >= 100))
    Similarity.writeIvfIndex(rebuilt, path)
    val after = Similarity.readIvfIndex(spark, path)
    def table(i: Similarity.IvfIndexFrames) = i.cellTable._1.map(_.toSeq).toSeq
    assert(table(after) !== table(before))
    assert(probeRows(Similarity.probeIvfIndex(after, q, "vec_id",
      "embedding", k = 5, nprobe = 2)) ===
      probeRows(Similarity.probeIvfIndex(rebuilt, q, "vec_id",
        "embedding", k = 5, nprobe = 2)))
  }

  test("a query id carried by several rows: each row probes its own " +
    "cells and the rows' candidates merge into one top-k per id") {
    import spark.implicits._
    val (ivf, pq) = persistedPair("repeatedid")
    val rowsA = Seq((1L, vec(3))).toDF("vec_id", "embedding")
    val rowsB = Seq((1L, vec(150))).toDF("vec_id", "embedding")
    val both = rowsA.unionAll(rowsB)
    // (corpus_id, score) best first: score desc (IVF cosine; PQ −d²),
    // corpus_id asc
    def merged(parts: Seq[Seq[Seq[Any]]], sign: Double): Seq[(Long, Double)] =
      parts.flatten.map(r => (r(1).asInstanceOf[Long],
          sign * r(2).asInstanceOf[Double]))
        .sortBy { case (id, s) => (-s, id) }.take(5)
    def pairs(rows: Seq[Seq[Any]], sign: Double): Seq[(Long, Double)] =
      rows.map(r => (r(1).asInstanceOf[Long],
        sign * r(2).asInstanceOf[Double]))
    for (nprobe <- Seq(1, 2)) {
      def ivfProbe(q: DataFrame) = fullRows(Similarity.probeIvfIndex(ivf,
        q, "vec_id", "embedding", k = 5, nprobe = nprobe))
      def pqProbe(q: DataFrame) = fullRows(Similarity.probeIvfPqIndex(pq,
        q, "vec_id", "embedding", k = 5, nprobe = nprobe))
      val gotIvf = ivfProbe(both)
      assert(gotIvf.map(_(3)) === (1L to 5L))
      assert(pairs(gotIvf, 1.0) ===
        merged(Seq(ivfProbe(rowsA), ivfProbe(rowsB)), 1.0))
      val gotPq = pqProbe(both)
      assert(gotPq.map(_(3)) === (1L to 5L))
      assert(pairs(gotPq, -1.0) ===
        merged(Seq(pqProbe(rowsA), pqProbe(rowsB)), -1.0))
    }
  }

  test("mergeIvfPqIndexes: merged halves carry the codes of one full " +
    "build; different centroids, codebook or meta fail loudly; an " +
    "interrupted consuming merge resumes to the same result") {
    import org.apache.hadoop.fs.Path
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val cbIds = 1L to 4L
    // the codebook rows ride into both halves, so both encode under the
    // same reconstruction points; each half keeps its own parity's codes
    def half(m: Int, path: String, seedSet: DataFrame = seeds,
        ids: Seq[Long] = cbIds, quantScale: Int = 10000): Unit = {
      val idx = Similarity.buildIvfPqIndex(
        corpus.where(pmod(col("vec_id"), lit(2)) === m ||
          col("vec_id").isin(ids: _*)),
        "vec_id", "embedding", seedSet, "sid", "svec", codebookIds = ids,
        inDims = dims, nSub = 2, quantScale = quantScale)
      Similarity.writeIvfPqIndex(idx.copy(codes =
        idx.codes.where(pmod(col("corpus_id"), lit(2)) === m)), path)
    }
    def codeRows(codes: DataFrame): Seq[(Long, Int, Seq[Int])] =
      codes.select("corpus_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSeq
        .sortBy(_._1)
    def codesAt(path: String) =
      codeRows(Similarity.readIvfPqIndex(spark, path).codes)
    val full = codeRows(Similarity.buildIvfPqIndex(corpus, "vec_id",
      "embedding", seeds, "sid", "svec", codebookIds = cbIds,
      inDims = dims, nSub = 2).codes)
    assert(full.size === 200)
    val root = tmpDir("pqmerge")
    val (pa, pb, pm) = (s"$root/a", s"$root/b", s"$root/m")
    half(0, pa)
    half(1, pb)
    Similarity.mergeIvfPqIndexes(spark, Seq(pa, pb), pm)
    assert(codesAt(pm) === full)
    val merged = Similarity.readIvfPqIndex(spark, pm)
    assert((merged.inDims, merged.nSub, merged.quantScale,
      merged.twoLevelThreshold) === ((dims, 2, 10000, 4096)))
    // the merged root has the one-file-per-cell layout
    val cellDirs = new java.io.File(pm + "/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach(d => assert(
      d.listFiles().count(_.getName.endsWith(".parquet")) === 1))
    // different centroids, codebook or meta → loud refusal
    val (pc, pd, pe) = (s"$root/c", s"$root/d", s"$root/e")
    half(1, pc, seedSet = Similarity.hashSeeds(
      corpus.where(col("vec_id") >= 100), "vec_id", "embedding", 8))
    half(1, pd, ids = 5L to 8L)
    half(1, pe, quantScale = 5000)
    for ((other, msg) <- Seq(pc -> "DIFFERENT centroids",
        pd -> "DIFFERENT codebook", pe -> "meta")) {
      val ex = intercept[IllegalArgumentException] {
        Similarity.mergeIvfPqIndexes(spark, Seq(pa, other), s"$root/x")
      }
      assert(ex.getMessage.contains(msg), ex.getMessage)
    }
    // dest must be a new root
    intercept[IllegalArgumentException] {
      Similarity.mergeIvfPqIndexes(spark, Seq(pa, pb), pa)
    }
    // a consuming merge that crashed after writing its intent marker and
    // moving the first source's quantizer and one cell resumes to the
    // result of the rewrite merge
    val rootR = tmpDir("pqmergeresume")
    val (ra, rb, rm) = (s"$rootR/a", s"$rootR/b", s"$rootR/m")
    half(0, ra)
    half(1, rb)
    val fs = new Path(rm).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(rm))
    val out = fs.create(new Path(rm + "/_merge_intent"), false)
    try out.write(Seq(ra, rb).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    Seq("centroids", "codebook", "meta").foreach(d =>
      assert(fs.rename(new Path(s"$ra/$d"), new Path(s"$rm/$d"))))
    fs.mkdirs(new Path(rm + "/codes"))
    val firstCell = fs.listStatus(new Path(ra + "/codes"))
      .filter(_.isDirectory).head.getPath
    assert(fs.rename(firstCell,
      new Path(rm + "/codes/" + firstCell.getName)))
    Similarity.mergeIvfPqIndexes(spark, Seq(ra, rb), rm,
      consumeSources = true)
    assert(!new java.io.File(ra).exists() && !new java.io.File(rb).exists())
    assert(!fs.exists(new Path(rm + "/_merge_intent")))
    assert(codesAt(rm) === full)
  }

  test("merges refuse sources whose payload columns differ in names or " +
    "order, for both index kinds and both merge paths") {
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    val cbIds = 1L to 4L
    val tagged = corpus
      .withColumn("label",
        concat(lit("l"), (col("vec_id") % 3).cast("string")))
      .withColumn("lang",
        when(col("vec_id") % 2 === 0, "en").otherwise("de"))
    def ivf(path: String, m: Int, payload: Seq[String]): Unit =
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(
        tagged.where(pmod(col("vec_id"), lit(2)) === m), "vec_id",
        "embedding", seeds, "sid", "svec", payloadCols = payload), path)
    def pq(path: String, m: Int, payload: Seq[String]): Unit = {
      val idx = Similarity.buildIvfPqIndex(
        tagged.where(pmod(col("vec_id"), lit(2)) === m ||
          col("vec_id").isin(cbIds: _*)),
        "vec_id", "embedding", seeds, "sid", "svec", codebookIds = cbIds,
        inDims = dims, nSub = 2, payloadCols = payload)
      Similarity.writeIvfPqIndex(idx.copy(codes =
        idx.codes.where(pmod(col("corpus_id"), lit(2)) === m)), path)
    }
    val root = tmpDir("payloadmerge")
    val kinds: Seq[(String, (String, Int, Seq[String]) => Unit,
        (Seq[String], String, Boolean) => Unit)] = Seq(
      ("ivf", ivf, Similarity.mergeIvfIndexes(spark, _, _, _)),
      ("pq", pq, Similarity.mergeIvfPqIndexes(spark, _, _, _)))
    for ((kind, build, merge) <- kinds;
         (what, payA, payB) <- Seq(("names", Seq("label"), Seq("lang")),
           ("order", Seq("label", "lang"), Seq("lang", "label")))) {
      val (a, b) = (s"$root/$kind-$what-a", s"$root/$kind-$what-b")
      build(a, 0, payA)
      build(b, 1, payB)
      for (consume <- Seq(false, true)) {
        val dest = s"$root/$kind-$what-$consume"
        val ex = intercept[IllegalArgumentException] {
          merge(Seq(a, b), dest, consume)
        }
        assert(ex.getMessage.contains("payload columns"), ex.getMessage)
        // refused before anything moved or was written
        assert(new java.io.File(a).exists && new java.io.File(b).exists)
        assert(!new java.io.File(dest).exists)
      }
    }
    // the same payload columns merge, each value under its own name
    val (sa, sb, sm) = (s"$root/sa", s"$root/sb", s"$root/sm")
    ivf(sa, 0, Seq("label", "lang"))
    ivf(sb, 1, Seq("label", "lang"))
    Similarity.mergeIvfIndexes(spark, Seq(sa, sb), sm,
      consumeSources = true)
    def rows(df: DataFrame) = df.select("corpus_id", "label", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_._1)
    assert(rows(Similarity.readIvfIndex(spark, sm).postings) ===
      rows(tagged.withColumn("corpus_id", col("vec_id"))))
  }

  /** The jobs `body` runs on this thread that infer a parquet schema
    * (Spark labels them `parallelize > mapPartitions`). */
  private def inferenceJobs(body: => Unit): Seq[String] =
    org.apache.spark.TestJobs.record(spark)(body).grouped.jobs
      .map(_.scopes).filter(_ == "parallelize > mapPartitions")

  test("an index read states its schema: raw and PQ roots, with and " +
    "without payload columns, fresh and fully tombstoned, read as a " +
    "schema-inferring read of the data dir reports it, with no " +
    "inference job") {
    val labeled = corpus.withColumn("label",
      pmod(col("vec_id"), lit(4)).cast("int"))
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", 8)
    for (pq <- Seq(false, true); payload <- Seq(Nil, Seq("label"));
        state <- Seq("built", "fresh", "tombstoned")) {
      val what = s"${if (pq) "PQ" else "raw"} $payload $state"
      val path = tmpDir("statedschema")
      // a fresh root: the quantizer written, no data file yet
      def rows(df: DataFrame) = if (state == "fresh") df.where(lit(false))
        else df
      if (pq) {
        val idx = Similarity.buildIvfPqIndex(labeled, "vec_id",
          "embedding", seeds, "sid", "svec", codebookIds = Seq(1L, 2L, 3L,
          4L), inDims = dims, nSub = 2, payloadCols = payload)
        Similarity.writeIvfPqIndex(idx.copy(codes = rows(idx.codes)), path)
      } else {
        val idx = Similarity.buildIvfIndex(labeled, "vec_id", "embedding",
          seeds, "sid", "svec", payloadCols = payload)
        Similarity.writeIvfIndex(idx.copy(postings = rows(idx.postings)),
          path)
      }
      if (state == "tombstoned") Similarity.deleteFromIvfIndex(spark, path,
        corpus.select(col("vec_id")), "vec_id")
      var data: DataFrame = null
      assert(inferenceJobs {
        data = if (pq) Similarity.readIvfPqIndex(spark, path).codes
          else Similarity.readIvfIndex(spark, path).postings
      }.isEmpty, what)
      val kind = if (pq) Similarity.PqKind else Similarity.IvfKind
      val want =
        if (state == "fresh") kind.coreSchema
        else spark.read.parquet(s"$path/${kind.dataDir}").schema
      assert(data.schema === want, what)
      assert(data.columns.contains("label") === (payload.nonEmpty &&
        state != "fresh"), what)
      assert(data.count() === (if (state == "built") 200L else 0L), what)
    }
  }

  test("incrementalAnnDedupStream carries one view per root: after batch " +
    "0 no batch scans centroids/ or codebook/, and no batch runs more " +
    "jobs than before (single, dual routing raw, dual routing PQ)") {
    import spark.implicits._
    // dense: 400 rows in ONE cell routes the dual mode through the PQ
    // codes; sparse: the same rows over 8 cells routes it raw
    val base = (0L until 400L).map(i => (i, vec(i % 50L)))
      .toDF("vec_id", "embedding")
    val batches = (0 until 3).map(b =>
      (1000L + 20 * b until 1020L + 20 * b).map(i => (i, vec(i % 60L)))
        .toDF("vec_id", "embedding"))
    // (mode, cells, dual, the jobs of each batch now that every read
    // states its schema; 18, 21 and 36 when every batch re-read its root
    // and inferred it)
    for ((mode, cells, dual, maxJobs) <- Seq(
        ("single", 8, false, 13), ("dual raw", 8, true, 16),
        ("dual PQ", 1, true, 20))) {
      val seeds = Similarity.hashSeeds(base, "vec_id", "embedding", cells)
      val root = tmpDir("dedupview")
      val (idxp, pqp) = (s"$root/index", if (dual) s"$root/pq" else null)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
        "embedding", seeds, "sid", "svec"), idxp)
      if (dual) Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(base,
        "vec_id", "embedding", seeds, "sid", "svec",
        codebookIds = Seq(0L, 1L, 2L, 3L), inDims = dims, nSub = 2), pqp)
      assert(Similarity.annNearDupRoutesToPq(spark, idxp) === (cells == 1))
      batches.foreach(
        _.coalesce(1).write.mode("append").parquet(s"$root/in"))
      // each batch's jobs, with the plan of the SQL execution of each
      val jobs = org.apache.spark.TestJobs.perBatchWithPlans(spark) {
        graft.streaming.Streams.incrementalAnnDedupStream(
          spark.readStream.schema(vecStreamSchema)
            .option("maxFilesPerTrigger", "1").parquet(s"$root/in"),
          "vec_id", "embedding", idxp, s"$root/pairs", s"$root/chk",
          thresholdPpm = 900000L, nprobe = 2, maxPairsPerNew = 2,
          dropsPath = s"$root/drops", pqIndexPath = pqp)
          .awaitTermination()
      }.map { case ((_, b), js) => b -> js }
      assert(jobs.keySet === Set(0L, 1L, 2L), s"$mode: $jobs")
      jobs.foreach { case (b, js) =>
        assert(js.size <= maxJobs, s"$mode batch $b: ${js.map(_._1)}")
        if (b > 0) assert(!js.exists { case (_, plan) =>
          plan.contains("/centroids") || plan.contains("/codebook")
        }, s"$mode batch $b scans a quantizer table")
        if (b > 0) assert(!js.exists(_._1 == "parallelize > mapPartitions"),
          s"$mode batch $b infers a schema: ${js.map(_._1)}")
      }
      assert(spark.read.parquet(s"$root/drops").count() === 3L)
    }
  }

  test("a root rebuilt under other seeds between two batches of a " +
    "running dedup stream: the next batch pairs under the new centroids") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir("dedupstale")
    val (in, idxp) = (s"$root/in", s"$root/index")
    def seedsOf(rows: DataFrame) =
      Similarity.hashSeeds(rows, "vec_id", "embedding", 8)
    val (oldSeeds, newSeeds) = (seedsOf(corpus.where(col("vec_id") < 100)),
      seedsOf(corpus.where(col("vec_id") >= 100)))
    val base = corpus.where(col("vec_id") < 150)
    val batch0 = corpus.where(col("vec_id").between(150, 174))
    val batch1 = corpus.where(col("vec_id") >= 175)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
      "embedding", oldSeeds, "sid", "svec"), idxp)
    new java.io.File(in).mkdirs()
    val q = graft.streaming.Streams.incrementalAnnDedupStream(
      spark.readStream.schema(vecStreamSchema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      "vec_id", "embedding", idxp, s"$root/pairs", s"$root/chk",
      thresholdPpm = 300000L, nprobe = 1,
      trigger = Trigger.ProcessingTime(100))
    try {
      batch0.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
      // another writer rebuilds the root under other seeds (a rebuild
      // also starts a new append history)
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(base, "vec_id",
        "embedding", newSeeds, "sid", "svec"), idxp)
      batch1.coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("id_new").cast("long"), col("id_existing").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = Similarity.buildIvfIndex(base, "vec_id", "embedding",
      newSeeds, "sid", "svec")
    val want = pairs(Similarity.annNearDupPairs(rebuilt, batch1, "vec_id",
      "embedding", 300000L, nprobe = 1))
    // the same postings probed under the OLD centroids pair differently
    val stale = pairs(Similarity.annNearDupPairs(
      Similarity.IvfIndexFrames(Similarity.buildIvfIndex(base, "vec_id",
        "embedding", oldSeeds, "sid", "svec").centroids, rebuilt.postings),
      batch1, "vec_id", "embedding", 300000L, nprobe = 1))
    assert(want.nonEmpty && stale != want)
    val got = pairs(spark.read.parquet(s"$root/pairs"))
      .filter(_._1 >= 175L)
    assert(got === want)
  }
}
