package graft.ops

import org.apache.spark.TestJobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The in-query IVF and IVF-PQ top-k entry points are a build followed
  * by a probe over the unpersisted index frames: on float32 input they
  * return the rows of the independent in-query plans
  * ([[InQueryIvfReference]]), on double input the rows of a persisted
  * build → probe (the index's one-float32-rounding rule), and each runs
  * within the Spark jobs the independent plans needed. */
class InQueryIvfSpec extends SparkSuite {
  import spark.implicits._

  private val dims = 8

  private def vec(seed: Long): Seq[Float] =
    (0 until dims).map { i =>
      val h = ((seed * 2654435761L + i * 40503L) % 1000L + 1000L) % 1000L
      (h.toFloat - 500f) / 250f
    }

  private lazy val corpus: DataFrame =
    (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def tmpDir(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"inquery_$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** Every result row, sorted: (query_id, corpus_id, score or approx_d2
    * as a string, rank). */
  private def rows(df: DataFrame): Seq[(Long, Long, String, Long)] =
    df.select(col("query_id").cast("long"), col("corpus_id").cast("long"),
        col(df.columns(2)).cast("string"), col("rank").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
      .toSeq.sortBy(t => (t._1, t._4))

  private val cbIds = Seq(1L, 2L, 3L, 4L)

  test("ivfPqTopKTwoLevel equals the independent two-level plan where " +
    "flat and two-level routing assign rows to different cells") {
    val cells = 24
    val seeds = Similarity.hashSeeds(corpus, "vec_id", "embedding", cells)
    def assigned(threshold: Int): Map[Long, Int] =
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", seeds, "sid",
          "svec", twoLevelThreshold = threshold)
        .postings.select("corpus_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = assigned(Int.MaxValue)
    val twoLevel = assigned(0)
    assert(flat.keySet === twoLevel.keySet)
    assert(flat.exists { case (id, c) => twoLevel(id) != c },
      "the fixture must route some row differently on the two routes")
    val queries = corpus.where(col("vec_id") < 20)
    val got = rows(Similarity.ivfPqTopKTwoLevel(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", cbIds, dims, 2, k = 5,
      numCells = Some(cells), nProbe = Some(3)))
    val want = rows(InQueryIvfReference.ivfPqTopKTwoLevel(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", cbIds, dims, 2, k = 5,
      numCells = Some(cells), nProbe = Some(3)))
    assert(got === want)
    assert(got.nonEmpty)
    // the route shows in the result: the flat call ranks differently
    val flatRows = rows(Similarity.ivfPqTopKScaled(corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", cbIds, dims, 2, k = 5,
      numCells = Some(cells), nProbe = Some(3), trainer = "hash"))
    assert(got !== flatRows)
  }

  test("on a double-typed corpus each in-query entry point returns the " +
    "rows of a persisted build → probe (one float32 rounding)") {
    // 0.00005 at quantScale 10⁴ quantizes to 1 from a double and to 0
    // from its float32 cast; every component here is k/250 + 0.00005,
    // half a quantization step off the grid, where the two can disagree
    val doubles = (0L until 200L).map(i =>
      (i, vec(i).map(x => x.toDouble + 0.00005))).toDF("vec_id", "embedding")
    val queries = doubles.where(col("vec_id") < 5)
    def persistedIvf(seeds: DataFrame, nprobe: Int): Seq[(Long, Long,
        String, Long)] = {
      val path = tmpDir("ivf")
      Similarity.writeIvfIndex(Similarity.buildIvfIndex(doubles, "vec_id",
        "embedding", seeds, "sid", "svec"), path)
      rows(Similarity.probeIvfIndex(Similarity.readIvfIndex(spark, path),
        queries, "vec_id", "embedding", k = 5, nprobe = nprobe))
    }
    def persistedPq(seeds: DataFrame, threshold: Int,
        nprobe: Int): Seq[(Long, Long, String, Long)] = {
      val path = tmpDir("pq")
      Similarity.writeIvfPqIndex(Similarity.buildIvfPqIndex(doubles,
        "vec_id", "embedding", seeds, "sid", "svec", cbIds, dims, 2,
        twoLevelThreshold = threshold), path)
      rows(Similarity.probeIvfPqIndex(Similarity.readIvfPqIndex(spark,
        path), queries, "vec_id", "embedding", k = 5, nprobe = nprobe))
    }
    val seeds = Similarity.hashSeeds(doubles, "vec_id", "embedding", 8)
    val seeded = rows(Similarity.ivfTopKSeeded(doubles, "vec_id",
      "embedding", queries, "vec_id", "embedding", seeds, "sid", "svec",
      k = 5, nprobe = 3))
    assert(seeded === persistedIvf(seeds, 3))
    assert(seeded.nonEmpty)
    val pq = rows(Similarity.ivfPqTopK(doubles, "vec_id", "embedding",
      queries, "vec_id", "embedding", seeds, "sid", "svec", cbIds, dims, 2,
      k = 5, nProbe = 3))
    assert(pq === persistedPq(seeds, Int.MaxValue, 3))
    // the N-scaled calls: ⌈√200⌉ = 15 hash seeds, 4 probes
    val cells = Similarity.defaultIvfCells(200L)
    val nprobe = Similarity.defaultIvfProbes(cells)
    val scaledSeeds = Similarity.hashSeeds(doubles, "vec_id", "embedding",
      cells)
    val scaled = rows(Similarity.ivfPqTopKScaled(doubles, "vec_id",
      "embedding", queries, "vec_id", "embedding", cbIds, dims, 2, k = 5,
      trainer = "hash"))
    assert(scaled === persistedPq(scaledSeeds, Int.MaxValue, nprobe))
    val twoLevel = rows(Similarity.ivfPqTopKTwoLevel(doubles, "vec_id",
      "embedding", queries, "vec_id", "embedding", cbIds, dims, 2, k = 5))
    assert(twoLevel === persistedPq(scaledSeeds, 0, nprobe))
  }

  test("each in-query entry point runs within the jobs of the " +
    "independent in-query plans") {
    val queries = corpus.where(col("vec_id") < 5)
    val seeds = corpus.where(col("vec_id") < 16)
    def jobs(call: () => DataFrame): Int =
      TestJobs.of(spark)(graft.Lineage.scoped(call())(_.collect()))._1
    val budgets = Seq(
      "ivfTopKSeeded" -> (() => Similarity.ivfTopKSeeded(corpus, "vec_id",
        "embedding", queries, "vec_id", "embedding", seeds, "vec_id",
        "embedding", k = 10, nprobe = 4)) -> 6,
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(corpus, "vec_id",
        "embedding", queries, "vec_id", "embedding", seeds, "vec_id",
        "embedding", codebookIds = 16L to 23L, inDims = dims, nSub = 2,
        k = 10, nProbe = 4)) -> 6,
      "ivfPqTopKScaled" -> (() => Similarity.ivfPqTopKScaled(corpus,
        "vec_id", "embedding", queries, "vec_id", "embedding",
        codebookIds = 16L to 23L, inDims = dims, nSub = 2, k = 10,
        trainer = "hash")) -> 6,
      "ivfPqTopKScaled kmeans" -> (() => Similarity.ivfPqTopKScaled(corpus,
        "vec_id", "embedding", queries, "vec_id", "embedding",
        codebookIds = 16L to 23L, inDims = dims, nSub = 2, k = 10)) -> 27,
      "ivfPqTopKTwoLevel" -> (() => Similarity.ivfPqTopKTwoLevel(corpus,
        "vec_id", "embedding", queries, "vec_id", "embedding",
        codebookIds = 16L to 23L, inDims = dims, nSub = 2, k = 10)) -> 6)
    budgets.foreach { case ((name, call), budget) =>
      jobs(call) // warm-up
      val n = jobs(call)
      info(s"$name: $n jobs (budget $budget)")
      assert(n <= budget, name)
    }
  }
}
